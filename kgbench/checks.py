"""Result checks. Pure Python over collected rows, so the benchmark's own
tests can feed each check a wrong result without starting Spark.

Every check returns a list of error strings; an empty list means the result
is correct. Expected values come from DuckDB (`duck_digest`, `kg_truth`),
i.e. from work done outside the program, or from properties the method must
have (`check_components`, `check_unchanged`).
"""

from __future__ import annotations

import hashlib


def _norm(v) -> str:
    if v is None:
        return "\x00"
    if isinstance(v, float):
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def value_hash(rows, columns) -> str:
    """Order-insensitive hash of a result: columns by sorted name, rows
    sorted — the same digest tools/verify_oracles.py compares."""
    cols = sorted(columns)
    lines = []
    for row in rows:
        d = dict(zip(columns, row))
        lines.append("\x1f".join(_norm(d[c]) for c in cols))
    lines.sort()
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def digest(rows, columns) -> dict:
    rows = [tuple(r) for r in rows]
    return {"rows": len(rows), "cols": sorted(columns), "hash": value_hash(rows, columns)}


def duck_digest(con, sql: str) -> dict:
    cur = con.execute(sql)
    return digest(cur.fetchall(), [d[0] for d in cur.description])


def check_digest(got: dict, want: dict) -> list[str]:
    errs = []
    if got["rows"] != want["rows"]:
        errs.append(f"rows {got['rows']} != {want['rows']}")
    if got["cols"] != want["cols"]:
        errs.append(f"columns {got['cols']} != {want['cols']}")
    if got["hash"] != want["hash"]:
        errs.append("value hash differs")
    return errs


def precision_recall(emitted: set, truth: set) -> tuple[float, float]:
    common = len(emitted & truth)
    p = common / len(emitted) if emitted else 0.0
    r = common / len(truth) if truth else 0.0
    return p, r


def check_kg_pass(
    triples: set,
    manifests: list[dict],
    truth: set,
    turns: int,
    relation_turns: int,
    min_pr: float = 0.95,
) -> list[str]:
    """One pipeline pass: P and R against the planted truth, every input
    turn counted by the extract manifests, and one extracted row per
    relation turn."""
    errs = []
    p, r = precision_recall(triples, truth)
    if p < min_pr or r < min_pr:
        errs.append(f"P={p:.4f} R={r:.4f} below {min_pr}")
    rows_in = sum(m["rows_in"] for m in manifests)
    if rows_in != turns:
        errs.append(f"manifest rows_in {rows_in} != turns {turns}")
    out = sum(m["triples_out"] for m in manifests)
    if out != relation_turns:
        errs.append(f"manifest triples_out {out} != relation turns {relation_turns}")
    return errs


def check_components(pairs, nodes) -> list[str]:
    """Connected components: every node appears in exactly one component,
    no other node appears, and each component id is one of its members."""
    errs = []
    seen: dict = {}
    for node, comp in pairs:
        if node in seen:
            errs.append(f"node {node} in more than one component")
            break
        seen[node] = comp
    want = set(nodes)
    if set(seen) != want:
        errs.append(f"{len(set(seen) ^ want)} nodes missing or extra")
    members: dict = {}
    for node, comp in seen.items():
        members.setdefault(comp, set()).add(node)
    if any(c not in m for c, m in members.items()):
        errs.append("a component id is not one of its members")
    return errs


def check_unchanged(before: int, after: int, what: str) -> list[str]:
    return [] if before == after else [f"{what}: {before} -> {after}"]


def check_unbound(rows, columns, var: str, n: int) -> list[str]:
    """Expected result of a BIND whose expression is a type error: `n`
    solutions, `var` unbound in each."""
    errs = [] if len(rows) == n else [f"rows {len(rows)} != {n}"]
    i = list(columns).index(var)
    if any(r[i] is not None for r in rows):
        errs.append(f"?{var} bound in some row")
    return errs
