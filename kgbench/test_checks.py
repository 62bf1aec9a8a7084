"""The benchmark's own tests: every check rejects a deliberately wrong
result and accepts the right one. No Spark needed.

    python3 -m pytest kgbench/test_checks.py -q
"""

from __future__ import annotations

import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402


def test_digest_catches_wrong_value_row_and_column():
    con = duckdb.connect()
    want = checks.duck_digest(con, "SELECT * FROM (VALUES (1, 'a'), (2, 'b')) t(k, v)")
    right = checks.digest([(2, "b"), (1, "a")], ["k", "v"])  # order does not matter
    assert checks.check_digest(right, want) == []
    assert checks.check_digest(checks.digest([(1, "a"), (2, "c")], ["k", "v"]), want)
    assert checks.check_digest(checks.digest([(1, "a")], ["k", "v"]), want)
    assert checks.check_digest(checks.digest([(1, "a"), (2, "b")], ["k", "w"]), want)
    assert checks.check_digest(checks.digest([(1, None), (2, "b")], ["k", "v"]), want)


def _kg_case():
    truth = {(f"s{i}", "p", f"o{i}") for i in range(100)}
    manifests = [{"rows_in": 60, "triples_out": 45}, {"rows_in": 40, "triples_out": 30}]
    return truth, manifests


def test_kg_pass_accepts_truth_and_rejects_wrong_triples():
    truth, manifests = _kg_case()
    assert checks.check_kg_pass(set(truth), manifests, truth, 100, 75) == []
    low_recall = set(list(truth)[:90])
    assert checks.check_kg_pass(low_recall, manifests, truth, 100, 75)
    low_precision = set(truth) | {(f"x{i}", "p", "o") for i in range(10)}
    assert checks.check_kg_pass(low_precision, manifests, truth, 100, 75)


def test_kg_pass_rejects_lost_turns_and_rows():
    truth, manifests = _kg_case()
    assert checks.check_kg_pass(set(truth), manifests, truth, 101, 75)
    assert checks.check_kg_pass(set(truth), manifests, truth, 100, 74)


def test_components_properties():
    good = [(1, 1), (2, 1), (3, 3)]
    assert checks.check_components(good, [1, 2, 3]) == []
    assert checks.check_components(good + [(2, 3)], [1, 2, 3])  # node twice
    assert checks.check_components(good[:2], [1, 2, 3])  # node missing
    assert checks.check_components([(1, 1), (2, 1), (3, 7)], [1, 2, 3])  # id not a member


def test_unchanged_and_unbound():
    assert checks.check_unchanged(5, 5, "x") == []
    assert checks.check_unchanged(5, 6, "x")
    rows = [("n1", None), ("n2", None)]
    assert checks.check_unbound(rows, ["x", "h"], "h", 2) == []
    assert checks.check_unbound([("n1", "abc"), ("n2", None)], ["x", "h"], "h", 2)
    assert checks.check_unbound(rows[:1], ["x", "h"], "h", 2)


def test_benchmark_json_lists_every_layer_metric():
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from workloads import layer_metric_specs

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    listed = [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]]
    assert listed == layer_metric_specs()
