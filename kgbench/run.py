"""kr_spark benchmark: build a KG, read it, reason over it.

    python3 kgbench/run.py --workload {kg_build,kb_read_reason} \
        --seed N --seconds S --trace {0,1}

One workload per process, one `local[nproc]` Spark session. The run sets
up its fixture (timed as `setup_s`, from process start), runs one untimed
warm-up round, then whole rounds of the workload's operations until
`--seconds` have passed. Every timed operation's result is checked. The
last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones from the spans
(written to .kgbench_work/spans-<workload>-<seed>.jsonl).

Run from the root of a checkout of the repository: the program under test
is the `kr_spark` package there. See kgbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import logging  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".kgbench_work")

# untimed rounds before the timed ones: the first execution of each
# operation pays class loading, code generation and lazy imports
WARM_ROUNDS = 1


def make_spark(work: str):
    from pyspark.sql import SparkSession

    cpus = os.cpu_count() or 1
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # keep every temp file (gateway handshake, Python workers) in the run's
    # work dir
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # spark-submit's launcher JVM
    tempfile.tempdir = None
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("kgbench")
        .config("spark.driver.memory", "3g")
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    # the failing operation's AnalysisException is expected; keep it quiet
    logging.getLogger("DataFrameQueryContextLogger").setLevel(logging.CRITICAL)
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_round(wl, timed: bool = True) -> list[dict]:
    out = []
    for name, op in wl.ops:
        try:
            r = op()
        except Exception as ex:  # noqa: BLE001 - a failed operation is a result
            r = {"name": name, "failed": f"{type(ex).__name__}: {str(ex)[:200]}"}
        r.setdefault("name", name)
        if timed and "failed" not in r and hasattr(wl, "properties"):
            r["errors"] = r.get("errors", []) + wl.properties(r)
        out.append(r)
    return out


def round_time(results) -> float:
    return sum(r["latency"] for r in results if "failed" not in r)


def warm_up(wl) -> None:
    for i in range(WARM_ROUNDS):
        print(f"#   warm round {i}: {round_time(run_round(wl, timed=False)):.3f}", file=sys.stderr)


def end_to_end(wl, results, setup_s: float) -> dict:
    """setup_s, and mix_s: the sum over the round's operations of each
    one's median latency (excluded operations left out)."""
    by_op: dict[str, list[float]] = {}
    for r in results:
        if r["name"] not in wl.excluded:
            by_op.setdefault(r["name"], []).append(r["latency"])
    mix_s = sum(statistics.median(xs) for xs in by_op.values())
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "mix_s": {"value": mix_s, "unit": "s"},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    # fails here, before any work, when the program is not next to the
    # benchmark
    import kr_spark  # noqa: F401

    from spans import Tracer
    from workloads import WORKLOADS, layer_metric_specs

    wl_cls = WORKLOADS[args.workload]
    run_id = f"{args.workload}-{args.seed}"
    work = os.path.join(WORK_ROOT, f"{run_id}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    spark = None
    try:
        spark = make_spark(work)
        tracer = Tracer(bool(args.trace), run_id, spark.sparkContext)
        wl = wl_cls(spark, work, args.seed, tracer)
        wl.setup()
        setup_s = time.perf_counter() - T_START

        warm_lo = len(tracer.spans)
        warm_up(wl)
        # per-layer numbers come from set-up and the timed rounds only
        warm_hi = len(tracer.spans)

        results: list[dict] = []
        deadline = time.perf_counter() + args.seconds
        rounds = 0
        while rounds == 0 or time.perf_counter() < deadline:
            rr = run_round(wl)
            print(f"#   timed round {rounds}: {round_time(rr):.3f}", file=sys.stderr)
            results += rr
            rounds += 1
        tracer.spans = tracer.spans[:warm_lo] + tracer.spans[warm_hi:]
        ok = [r for r in results if "failed" not in r]
        errors = wl.check(ok)
        errors += [f"{r['name']}: {e}" for r in ok for e in r.get("errors", [])]
        for e in errors[:20]:
            print("CHECK FAILED:", e, file=sys.stderr)
        if args.trace:
            # every per-layer metric of every workload: a layer this
            # workload never calls reads 0 (no calls, no time, no rows)
            got = wl.layer_metrics(ok)
            metrics = {
                name: {"value": float(got.get(name, 0.0)), "unit": unit}
                for name, unit, _ in layer_metric_specs()
            }
            tracer.dump(os.path.join(WORK_ROOT, f"spans-{run_id}.jsonl"))
        else:
            metrics = end_to_end(wl, ok, setup_s)
        result = {
            "correct": not errors,
            "attempted": len(results),
            "failed": len(results) - len(ok),
            "metrics": metrics,
        }
        print(
            f"# {args.workload} seed={args.seed} setup_s={setup_s:.2f} "
            f"rounds={rounds}",
            file=sys.stderr,
        )
        for name, _ in wl.ops:
            lat = [r["latency"] for r in ok if r["name"] == name]
            fails = {r["failed"] for r in results if r["name"] == name and "failed" in r}
            print(f"#   {name}: n={len(lat)} median_s="
                  f"{statistics.median(lat) if lat else 0:.3f} {' '.join(fails)[:120]}",
                  file=sys.stderr)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
