"""North-star pipeline tests: transcripts -> extract -> link -> canonicalize
-> materialize, with the input_hint invariants and the P/R >= 0.95 gate."""

import pytest
from pyspark.sql import functions as F

from kr_spark.pipeline.extract import (
    extract_relations_expr,
    mentions_from_extractions,
)
from kr_spark.pipeline.link import (
    canonical_surface_mapping,
    link_entities,
    lsh_candidate_pairs,
    normalize_surface,
    score_candidates_expr,
)
from kr_spark.pipeline.materialize import precision_recall, run_pipeline
from kr_spark.pipeline.transcripts import (
    TURNS_PER_CONV,
    check_text_equality_invariant,
    check_turn_ordering_invariant,
    generate_ground_truth,
    generate_transcripts,
)

N_CONVS = 60


@pytest.fixture(scope="module")
def transcripts(spark):
    return generate_transcripts(spark, N_CONVS).cache()


def test_generator_shape_and_determinism(spark, transcripts):
    assert transcripts.count() == N_CONVS * TURNS_PER_CONV
    assert transcripts.columns == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    # deterministic: re-generation is identical per turn
    again = generate_transcripts(spark, N_CONVS)
    assert check_text_equality_invariant(transcripts, again) == 0


def test_turn_ordering_invariant(transcripts):
    assert check_turn_ordering_invariant(transcripts) == 0


def test_extraction_provenance(transcripts):
    ex = extract_relations_expr(transcripts)
    row = ex.orderBy("conv_id", "turn_idx").first()
    assert row.conv_id.startswith("c") and row.turn_idx >= 0
    assert row.pred.startswith("http://kg.example.org/rel/")


def test_linking_blocks_and_scores(spark, transcripts):
    mentions = mentions_from_extractions(extract_relations_expr(transcripts))
    cand = lsh_candidate_pairs(mentions)
    scored = score_candidates_expr(cand)
    edges = scored.collect()
    assert len(edges) > 0
    # every surviving edge links surfaces with the same normalized form
    # (the alias families are designed to be unambiguous at threshold 0.4)
    norm = mentions.select(
        F.col("surface"), normalize_surface(F.col("surface")).alias("n")
    )
    nmap = {r.surface: r.n for r in norm.collect()}
    bad = [e for e in edges if nmap[e.surface_a] != nmap[e.surface_b]]
    assert len(bad) / len(edges) < 0.05


def test_canonical_mapping_merges_aliases(spark, transcripts):
    mentions = mentions_from_extractions(extract_relations_expr(transcripts))
    edges = link_entities(mentions)
    mapping = canonical_surface_mapping(mentions, edges)
    rows = mapping.collect()
    by_surface = {r.surface: r.canonical for r in rows}
    # every mention got a canonical id
    assert len(by_surface) == mentions.count()
    # alias forms of one entity map to one canonical id
    trio = [s for s in by_surface if s.endswith(" esq")]
    assert trio, "expected title-alias surfaces in the fixture"
    for s in trio[:10]:
        base = s[: -len(" esq")]
        if base in by_surface:
            assert by_surface[s] == by_surface[base]


def test_end_to_end_pipeline_pr(spark, transcripts, tmp_path):
    out = str(tmp_path / "kg")
    triples = run_pipeline(spark, transcripts, out, n_buckets=4)
    truth = generate_ground_truth(spark, N_CONVS)
    p, r = precision_recall(triples, truth)
    assert p >= 0.95, f"precision {p} < 0.95"
    assert r >= 0.95, f"recall {r} < 0.95"
    # provenance carried through
    assert triples.filter(F.col("conv_id").isNull()).count() == 0
    # pred-bucket partitioning present
    assert "p_bucket" in triples.columns


def test_extract_stage_manifests(spark, transcripts, tmp_path):
    from kr_spark.pipeline.materialize import (
        completed_buckets,
        read_manifests,
        run_extract_stage,
    )

    out = str(tmp_path / "kg2")
    ran = run_extract_stage(spark, transcripts, out, n_buckets=4)
    assert ran == 4
    assert completed_buckets(out) == {0, 1, 2, 3}
    mans = read_manifests(out)
    assert len(mans) == 4
    assert all(m["triples_out"] > 0 and m["wall_s"] >= 0 for m in mans)
    assert all(m["lineage"]["stage"] == "extract" for m in mans)
    # idempotent: second run does nothing
    assert run_extract_stage(spark, transcripts, out, n_buckets=4) == 0


def test_pipeline_pr_without_broadcast(spark, transcripts, tmp_path, monkeypatch):
    # Forced large-mapping path (VERDICT r1 #6 done-criterion): auto
    # broadcast off AND the size gate forced past its cap -> the canonical
    # mapping joins as a shuffle join; P/R must hold unchanged.
    import kr_spark.operators.canon as canon

    real = canon.maybe_broadcast
    monkeypatch.setattr(canon, "maybe_broadcast", lambda df, max_rows=0: real(df, 0))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = str(tmp_path / "kg_nobc")
        triples = run_pipeline(spark, transcripts, out, n_buckets=4)
        truth = generate_ground_truth(spark, N_CONVS)
        p, r = precision_recall(triples, truth)
        assert p >= 0.95 and r >= 0.95, (p, r)
    finally:
        if old is not None:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_scorer_matches_python_trigram_jaccard(spark, transcripts):
    # the Catalyst scorer == a plain-Python set-Jaccard of char-3-grams
    # (whitespace dropped, lowercased; a string shorter than 3 is its own
    # one gram) over every candidate pair, threshold applied the same way
    mentions = mentions_from_extractions(extract_relations_expr(transcripts))
    cand = lsh_candidate_pairs(mentions).cache()

    def grams(s):
        s = "".join(s.lower().split())
        return {s[i : i + 3] for i in range(max(len(s) - 2, 1))}

    want = {}
    for r in cand.collect():
        ga, gb = grams(r.surface_a), grams(r.surface_b)
        score = len(ga & gb) / len(ga | gb)
        if score >= 0.55:
            want[(r.surface_a, r.surface_b)] = round(score, 9)
    got = {
        (r.surface_a, r.surface_b): round(r.score, 9)
        for r in score_candidates_expr(cand).collect()
    }
    assert want and got == want


def test_run_py_input_table_launch_shape(spark, tmp_path):
    # north-star launch shape: spark-submit --py-files kr_spark.zip
    # kr_spark/pipeline/run.py --input <transcripts table> --out <dir>
    # (here driven in-process for speed: the CLI reads a real parquet
    # transcripts table instead of generating; n_turns reports the input)
    import json
    import subprocess
    import sys

    from kr_spark.pipeline.transcripts import generate_transcripts

    inp = str(tmp_path / "transcripts")
    generate_transcripts(spark, 300).write.parquet(inp)
    out = str(tmp_path / "kg")
    zip_path = str(tmp_path / "kr_spark.zip")
    subprocess.run(
        [sys.executable, "tools/package_pyfiles.py", zip_path], check=True
    )
    r = subprocess.run(
        [
            "spark-submit",
            "--master",
            "local[4]",
            "--py-files",
            zip_path,
            "kr_spark/pipeline/run.py",
            "--input",
            inp,
            "--out",
            out,
            "--buckets",
            "2",
        ],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    line = [l for l in r.stdout.splitlines() if l.startswith("{")][-1]
    d = json.loads(line)
    assert d["n_turns"] == 2400 and d["n_triples"] > 0
