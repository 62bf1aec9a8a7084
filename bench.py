"""Benchmark harness — one JSON line on stdout.

Headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] (default: the CPUs this process may run on) with a
$SPARK_GRAFT_MEM driver heap (default: half the machine's physical memory):
  * kg_pipeline   — the north-star transcript->KG pipeline (extract -> LSH
                    link -> CC canonicalize -> pred-bucketed materialize),
                    sized from the sf's documents row count
  * BGP/path/rule queries over the derived triple table
  * dedup / similarity / text ops over documents + embeddings

`--scaling` mode runs the pipeline at two core counts (--scale-pair N,4N;
default 8,32) on identical input and prints throughput at both + efficiency
= (tps@4N / tps@N) / 4 — the sandbox proxy for the N vs 4N executor cluster
requirement. Protocol details + measured results: BENCH/BASELINE.md
(loadavg quiesce between sessions, warm-up pass, best-of-2; this box is
memory-bandwidth-bound at ~12 effective cores, so the 2,8 pair is the
meaningful 4x reading).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
DEFAULT_MEM = os.environ.get(
    "SPARK_GRAFT_MEM",
    f"{max(1, os.sysconf('SC_PHYS_PAGES') * os.sysconf('SC_PAGE_SIZE') // 2**31)}g",
)


def make_spark(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("kr_spark_bench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", DEFAULT_MEM)
        # shuffle/spill on tmpfs: the sandbox's virtual disk serializes
        # concurrent writers, which inverts scaling measurements; a real
        # cluster has fast local SSDs for shuffle
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark_local"),
        )
        .getOrCreate()
    )


def _cpu_idle_frac(sample_s: float = 2.0) -> float:
    """Fraction of CPU time spent idle over a short sample window."""

    def snap():
        parts = open("/proc/stat").readline().split()
        vals = [int(x) for x in parts[1:]]
        return vals[3], sum(vals)

    i0, t0 = snap()
    time.sleep(sample_s)
    i1, t1 = snap()
    return (i1 - i0) / max(1, t1 - t0)


def _wait_quiesce(idle_frac: float = 0.92, max_wait_s: int = 90) -> None:
    """Wait until the machine is actually idle — a dying JVM's shutdown/GC
    threads from the previous measurement otherwise pollute the next timed
    run (observed 5x wall-time swings on this box). Loadavg is useless here
    (D-state artifacts keep it high on an idle box); measure real idle time
    from /proc/stat instead."""
    t0 = time.time()
    while time.time() - t0 < max_wait_s:
        try:
            if _cpu_idle_frac() >= idle_frac:
                return
        except OSError:
            return


def _consume(df) -> int:
    """Evaluate the full plan without driver materialization cost."""
    return df.count()


def _health_work(_n):
    # module-level: multiprocessing pickles the function by reference
    import hashlib

    h = b"x"
    t0 = time.time()
    for _ in range(1_000_000):
        h = hashlib.md5(h).digest()
    return time.time() - t0


def _sampler_main(q, stop, cadence_s: float, iters: int):
    # module-level: multiprocessing pickles by reference
    import hashlib

    t_start = time.time()
    while not stop.is_set():
        h = b"x"
        t0 = time.time()
        for _ in range(iters):
            h = hashlib.md5(h).digest()
        dt = time.time() - t0
        q.put((round(time.time() - t_start, 1), round(iters / dt / 1e6, 3)))
        stop.wait(max(0.0, cadence_s - dt))


class _HealthSampler:
    """Sidecar process sampling single-thread md5 Mops DURING a timed leg
    (VERDICT r4 'what's wrong #3'): the virtualized host drifts MID-leg, so
    a pre-leg gate alone can bless a leg that degraded halfway through.
    One extra process at ~10 s cadence doing 0.2 Mops of hashing steals a
    negligible slice of a 32-core box and is identical tax on both legs.
    NOTE: the absolute level of these samples is depressed ~60% by the
    co-running Spark JVM itself (GC/service-thread contention on this
    virtualized box), so validity uses the mid-leg min/median RATIO (cliff
    detector) plus idle pre/post probes — see `_timed_leg`."""

    def __init__(self, cadence_s: float = 10.0, iters: int = 200_000):
        from multiprocessing import Event, Process, Queue

        self.q = Queue()
        self.stop = Event()
        self.p = Process(
            target=_sampler_main, args=(self.q, self.stop, cadence_s, iters),
            daemon=True,
        )
        self.p.start()

    def finish(self) -> list:
        self.stop.set()
        self.p.join(timeout=15)
        samples = []
        try:
            while not self.q.empty():
                samples.append(self.q.get_nowait())
        except Exception:
            pass
        return samples


def _host_health(n_procs: int = 8) -> dict:
    """Raw CPU capacity probe (no Spark): single-thread and n-proc md5
    rates. The virtualized host's effective capacity FLUCTUATES (observed:
    identical pipeline runs 179 s vs 1153 s an hour apart while /proc/stat
    reads idle and steal stays <5%) — a scaling-efficiency reading is only
    meaningful when the probe reads comparably before both configs, so the
    probe rides along in the scaling JSON."""
    from multiprocessing import Pool

    t_single = _health_work(0)
    with Pool(n_procs) as p:
        t0 = time.time()
        p.map(_health_work, range(n_procs))
        wall = time.time() - t0
    return {
        "md5_mops_single": round(1.0 / t_single, 2),
        f"md5_mops_{n_procs}proc": round(n_procs / wall, 2),
        "parallel_eff": round((n_procs / wall) / (n_procs / t_single), 2),
    }


def bench_kg_pipeline(spark, sf_dir: str, n_convs: int | None = None) -> tuple[float, int, int]:
    """-> (seconds, n_turns, n_triples). Input sized from documents rows
    unless n_convs is given explicitly (scaling runs use a fixed larger
    input so compute dominates fixed per-job overheads)."""
    from pyspark.sql import functions as F

    from kr_spark.pipeline.materialize import run_pipeline
    from kr_spark.pipeline.transcripts import TURNS_PER_CONV, generate_transcripts

    if n_convs is None:
        n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
        n_convs = max(200, n_docs)
    out = tempfile.mkdtemp(prefix="kr_bench_kg_")
    try:
        t0 = time.time()
        transcripts = generate_transcripts(spark, n_convs)
        triples = run_pipeline(spark, transcripts, out, n_buckets=8)
        n_triples = triples.count()
        dt = time.time() - t0
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return dt, n_convs * TURNS_PER_CONV, n_triples


def run_stress(spark) -> dict:
    """Adversarial-skew fixtures (VERDICT r2 #5): prove the guards actually
    ENGAGE — salted CC on a hub graph stays correct and bounded, the LSH
    `max_bucket` guard drops a degenerate all-identical bucket instead of
    joining it quadratically, and the n-gram prefix filter keeps a
    hot-shingle corpus's candidate count linear-ish, not O(n^2). Row
    metrics ride in the JSON; BENCH/BASELINE.md records the readings."""
    from pyspark.sql import functions as F

    from kr_spark.operators.dedup import minhash_lsh_candidates, ngram_jaccard_pairs
    from kr_spark.plans.fixpoint import connected_components

    out: dict = {}

    # ---- 1. hub-node CC: one node with 200k neighbors + 100 chains ----
    n_spokes, n_chain = 200_000, 100
    spokes = spark.range(n_spokes).select(
        F.lit("hub").alias("src"), F.concat(F.lit("s"), F.col("id")).alias("dst")
    )
    chains = spark.range(n_chain * 50).select(
        F.concat(F.lit("c"), (F.col("id") % n_chain), F.lit("_"), (F.col("id") / n_chain).cast("long")).alias("src"),
        F.concat(F.lit("c"), (F.col("id") % n_chain), F.lit("_"), ((F.col("id") / n_chain).cast("long") + 1)).alias("dst"),
    )
    edges = spokes.union(chains)
    t0 = time.time()
    cc0 = connected_components(edges, driver_threshold=0, salt=0)
    h0, n0 = cc0.agg(
        F.sum(F.xxhash64("node", "component").cast("decimal(38,0)")).alias("h"), F.count("*").alias("n")
    ).collect()[0]
    out["cc_hub_unsalted_s"] = round(time.time() - t0, 3)
    t0 = time.time()
    cc8 = connected_components(edges, driver_threshold=0, salt=8)
    h8, n8 = cc8.agg(
        F.sum(F.xxhash64("node", "component").cast("decimal(38,0)")).alias("h"), F.count("*").alias("n")
    ).collect()[0]
    out["cc_hub_salted8_s"] = round(time.time() - t0, 3)
    out["cc_hub_nodes"] = n0
    out["cc_salted_identical"] = bool(h0 == h8 and n0 == n8)
    assert out["cc_salted_identical"], "salted CC diverged from unsalted"

    # ---- 2. degenerate LSH corpus: 50k identical docs + distinct tail ----
    n_same, n_tail = 50_000, 1_000
    same = spark.range(n_same).select(
        F.col("id").alias("doc_id"),
        F.lit("the exact same document text repeated everywhere").alias("text"),
    )
    tail = spark.range(n_tail).select(
        (F.col("id") + n_same).alias("doc_id"),
        F.concat(F.lit("unique doc number "), F.col("id"), F.lit(" with words")).alias("text"),
    )
    corpus = same.union(tail)
    t0 = time.time()
    n_pairs = minhash_lsh_candidates(corpus, max_bucket=1000).count()
    out["lsh_degenerate_s"] = round(time.time() - t0, 3)
    out["lsh_degenerate_pairs"] = n_pairs
    # unguarded, the identical bucket alone is ~1.25e9 pairs; the guard
    # drops buckets > max_bucket, so candidates stay near zero
    assert n_pairs < 10_000, f"max_bucket guard failed to engage ({n_pairs})"

    # ---- 3. hot-shingle corpus: every doc shares one leading shingle ----
    n_hot = 20_000
    hot = spark.range(n_hot).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("common leading phrase here doc "),
            F.col("id"),
            F.lit(" body "),
            F.col("id"),
        ).alias("text"),
    )
    # plant one exact-dup pair so the result is non-trivially correct
    dup = spark.range(1).select(
        F.lit(n_hot + 1).alias("doc_id"),
        F.lit("common leading phrase here doc 7 body 7").alias("text"),
    )
    t0 = time.time()
    pairs = ngram_jaccard_pairs(hot.union(dup), threshold=0.8).collect()
    out["ngram_hot_shingle_s"] = round(time.time() - t0, 3)
    out["ngram_hot_pairs"] = len(pairs)
    assert len(pairs) == 1 and {int(pairs[0].id_a), int(pairs[0].id_b)} == {7, n_hot + 1}
    return out


def run_queries(spark, sf_dir: str, names: list[str]) -> dict[str, float]:
    from kr_spark.entry_queries import QUERIES

    out = {}
    for name in names:
        t0 = time.time()
        _consume(QUERIES[name](spark, sf_dir))
        out[name] = round(time.time() - t0, 3)
    return out


BENCH_QUERIES = [
    "q_bgp_2hop",
    "q_count_pattern",
    "q_optional",
    "q_union",
    "q_filter_numeric",
    "q_construct",
    "q_path_seq",
    "q_path_transitive",
    "q_forward_rule_md5",
    "q_canon_cc",
    "q_dedup_exact",
    "q_ngram_jaccard",
    "q_minhash_lsh_pairs",
    "q_simhash",
    "q_textstats",
    "q_cosine_topk",
    "q_kg_pipeline",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ap.add_argument("--cpus", type=int, default=DEFAULT_CPUS)
    ap.add_argument("--scaling", action="store_true", help="N vs 4N cores efficiency run")
    ap.add_argument(
        "--scale-pair",
        default="8,32",
        help="comma-separated core counts for the scaling run (N,4N)",
    )
    ap.add_argument(
        "--health-gate",
        type=float,
        default=0.0,
        help="scaling mode: require md5_mops_8proc >= this before each timed "
        "pass (retry up to --health-wait-s); 0 disables. The host's capacity "
        "swings 2x between windows — gating makes the two configs comparable",
    )
    ap.add_argument(
        "--health-wait-s",
        type=int,
        default=900,
        help="max seconds to wait for a healthy window per measurement",
    )
    ap.add_argument(
        "--passes",
        type=int,
        default=2,
        help="measurement passes per query in default mode; min is reported",
    )
    ap.add_argument(
        "--n-convs",
        type=int,
        default=None,
        help="fixed conversation count (scaling mode defaults to 400000; "
        "normal mode sizes from the sf documents table)",
    )
    ap.add_argument(
        "--stress",
        action="store_true",
        help="adversarial-skew fixtures: hub-node CC (salted == unsalted), "
        "degenerate LSH bucket guard, hot-shingle prefix filter",
    )
    args = ap.parse_args()

    sf = args.sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    if args.stress:
        _wait_quiesce()
        spark = make_spark(args.cpus)
        spark.sparkContext.setLogLevel("ERROR")
        res = run_stress(spark)
        print(json.dumps({"metric": "stress_guards", "cpus": args.cpus, **res}))
        spark.stop()
        return

    if args.scaling:
        n_convs = args.n_convs or 400000
        lo, hi = (int(x) for x in args.scale_pair.split(","))
        # interleaved rounds (lo, hi, lo, hi), best wall per config: robust
        # to the box's slow drift; fresh session per measurement with a
        # real-idle quiesce gate + warm-up pass per session (JVM/codegen/
        # Python-worker startup)
        best: dict[int, tuple] = {}
        health: dict[str, dict] = {}

        def _gated_health(tag: str) -> dict:
            t0 = time.time()
            h = _host_health()
            while (
                args.health_gate
                and h["md5_mops_8proc"] < args.health_gate
                and time.time() - t0 < args.health_wait_s
            ):
                time.sleep(45)
                h = _host_health()
            h["gate_waited_s"] = round(time.time() - t0, 1)
            health[tag] = h
            return h

        legs: list[dict] = []

        def _timed_leg(tag: str, cpus: int, attempts: int = 3):
            """One gated+sampled measurement (VERDICT r4 #3 — mechanical
            leg validity, no post-hoc judgment calls). Calibration on this
            box showed the sidecar's single-thread md5 rate reads ~60%
            LOWER while a Spark JVM is merely RUNNING (GC + netty/service
            threads contend for the same vCPU even with 30 cores idle), so
            comparing mid-leg samples against the IDLE pre-leg reading
            invalidates every leg by construction. A leg is valid when:
              (a) the idle POST-leg probe stays within 15% of the idle
                  pre-leg probe — absolute host drift across the leg; and
              (b) no mid-leg cliff: min(samples) >= 0.6*median(samples) —
                  a transient capacity dip that recovered before the post
                  probe. Spark's own steady interference cancels in the
                  ratio because it hits min and median alike.
            Invalid legs re-run; if drift never relents the best invalid
            attempt is returned flagged valid=false."""
            fallback = None
            for attempt in range(attempts):
                _wait_quiesce()
                pre = _gated_health(f"{tag}_attempt{attempt}")
                spark = make_spark(cpus)
                spark.sparkContext.setLogLevel("ERROR")
                bench_kg_pipeline(
                    spark, args.sf_dir, n_convs=max(2000, n_convs // 50)
                )
                sampler = _HealthSampler()
                dt, n_turns, n_triples = bench_kg_pipeline(
                    spark, args.sf_dir, n_convs=n_convs
                )
                samples = sampler.finish()
                spark.stop()
                _wait_quiesce()
                post = _host_health()
                health[f"{tag}_attempt{attempt}_post"] = post
                mids = sorted(m for _, m in samples)
                min_mid = mids[0] if mids else None
                med_mid = mids[len(mids) // 2] if mids else None
                valid = (
                    post["md5_mops_single"] >= 0.85 * pre["md5_mops_single"]
                    and min_mid is not None
                    and min_mid >= 0.6 * med_mid
                )
                leg = {
                    "tag": tag,
                    "cpus": cpus,
                    "attempt": attempt,
                    "wall_s": round(dt, 3),
                    "valid": valid,
                    "pre_leg_single_mops": pre["md5_mops_single"],
                    "post_leg_single_mops": post["md5_mops_single"],
                    "mid_leg_min_mops": min_mid,
                    "mid_leg_median_mops": med_mid,
                    "mid_leg_samples": samples,
                }
                legs.append(leg)
                if valid:
                    return dt, n_turns, n_triples, True
                fallback = (dt, n_turns, n_triples, False)
                print(
                    f"# leg {tag} attempt {attempt} invalid: post-leg "
                    f"{post['md5_mops_single']} vs pre-leg "
                    f"{pre['md5_mops_single']} Mops, mid-leg min/median "
                    f"{min_mid}/{med_mid} — re-running",
                    file=sys.stderr,
                )
            return fallback

        for _round in range(2):
            for cpus in (lo, hi):
                dt, n_turns, n_triples, valid = _timed_leg(
                    f"round{_round}_local{cpus}", cpus
                )
                # a valid leg always beats an invalid one; otherwise best wall
                cur = best.get(cpus)
                if (
                    cur is None
                    or (valid and not cur[3])
                    or (valid == cur[3] and dt < cur[0])
                ):
                    best[cpus] = (dt, n_turns, n_triples, valid)
        results = {}
        for cpus, (dt, n_turns, n_triples, valid) in best.items():
            results[cpus] = {
                "wall_s": round(dt, 3),
                "turns_per_sec": round(n_turns / dt, 1),
                "triples_per_sec": round(n_triples / dt, 1),
                "n_triples": n_triples,
                "leg_valid": valid,
            }
        eff = (results[hi]["turns_per_sec"] / results[lo]["turns_per_sec"]) / (hi / lo)
        print(
            json.dumps(
                {
                    "metric": "kg_pipeline_scaling",
                    "value": round(eff, 3),
                    "unit": "efficiency",
                    "n_turns": n_convs * 8,
                    f"local{lo}": results[lo],
                    f"local{hi}": results[hi],
                    "host_health": health,
                    "legs": legs,
                    "sf": sf,
                }
            )
        )
        return

    _wait_quiesce()
    spark = make_spark(args.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # Warm-up (same protocol as --scaling, and now the default — BASELINE.md
    # figures are measured with this exact path): a miniature pipeline pass
    # plus one derived-triple query absorb JVM startup, janino codegen and
    # Python-worker forks, so the timed section measures plan cost instead of
    # session bring-up. Without this a cold run reads ~1.5-2x slower and is
    # not comparable across rounds.
    bench_kg_pipeline(spark, args.sf_dir, n_convs=400)
    run_queries(spark, args.sf_dir, ["q_count_pattern", "q_textstats"])

    # Best-of-N per query (default 2 passes): single readings on this box
    # swing up to 3x from GC/fork/virtio noise even on an idle machine —
    # the min of two passes is the reproducible plan-cost figure and is the
    # number BASELINE.md records. Each pass also records the raw md5 host
    # probe (VERDICT r3 #7) so a driver-vs-builder per-query delta can be
    # attributed to host capacity mechanically (see BENCH/BASELINE.md
    # 'Host normalization') instead of by worktree re-measurement.
    queries: dict[str, float] = {}
    kg_best = None
    pass_health: list[dict] = []
    for _ in range(max(1, args.passes)):
        pass_health.append(_host_health())
        dt, n_turns, n_triples = bench_kg_pipeline(spark, args.sf_dir)
        if kg_best is None or dt < kg_best[0]:
            kg_best = (dt, n_turns, n_triples)
        for name, sec in run_queries(
            spark, args.sf_dir, [q for q in BENCH_QUERIES if q != "q_kg_pipeline"]
        ).items():
            if name not in queries or sec < queries[name]:
                queries[name] = sec
    dt, n_turns, n_triples = kg_best
    queries["kg_pipeline"] = round(dt, 3)
    tps = round(n_triples / dt, 1)
    host_health = {
        "md5_mops_single": max(h["md5_mops_single"] for h in pass_health),
        "md5_mops_8proc": max(h["md5_mops_8proc"] for h in pass_health),
        "passes": pass_health,
    }

    total = round(sum(queries.values()), 3)
    print(
        json.dumps(
            {
                "metric": "e2e_bench_total",
                "value": total,
                "unit": "sec",
                "queries": queries,
                "sf": sf,
                "kg_triples_per_sec": tps,
                "kg_turns": n_turns,
                "kg_triples": n_triples,
                "cpus": args.cpus,
                "host_health": host_health,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
