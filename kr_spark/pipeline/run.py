"""spark-submit entry point for the full KG-construction pipeline.

Usage (north_rule launch shape):
  spark-submit --py-files kr_spark.zip kr_spark/pipeline/run.py \
      --n-convs 100000 --out /data/kg --buckets 64

On a real cluster the transcripts come from the Iceberg transcripts table;
here they are generated deterministically (same generator the tests and
bench use). The job prints one JSON line with throughput metrics —
triples/sec is the headline number (BASELINE.json metric).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# allow `spark-submit kr_spark/pipeline/run.py` straight from a checkout;
# on a cluster, ship the package with --py-files kr_spark.zip instead
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-convs", type=int, default=10000)
    ap.add_argument(
        "--input",
        default=None,
        help="transcripts table to read instead of generating: an Iceberg "
        "table identifier (catalog.db.table — needs the Iceberg runtime on "
        "the classpath) or a parquet path; schema per BASELINE.json "
        "input_hint (conv_id, turn_idx, role, text, tool, ts). "
        "--n-convs is ignored when set",
    )
    ap.add_argument(
        "--no-snapshot",
        action="store_true",
        help="skip the ingest snapshot and bucket the input virtually — use "
        "when --input is already a durable immutable table (Iceberg "
        "snapshot / committed parquet); avoids rewriting the corpus at the "
        "cost of per-bucket scan amplification on unpartitioned sources",
    )
    ap.add_argument("--out", required=True)
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--cores", type=int, default=None, help="local[N]; default local[*]")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.appName("kr_spark_pipeline")
        .config("spark.sql.shuffle.partitions", str((args.cores or 32)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    if args.cores:
        builder = builder.master(f"local[{args.cores}]")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from kr_spark.pipeline.materialize import run_pipeline
    from kr_spark.pipeline.transcripts import generate_transcripts

    t0 = time.time()
    if args.input:
        # a real transcripts table: path-looking inputs (contain a slash or
        # exist on disk) read as parquet; everything else resolves as a
        # catalog table identifier (Iceberg), so catalog errors surface
        # instead of degrading into a confusing parquet-path failure
        if "/" in args.input or os.path.exists(args.input):
            transcripts = spark.read.parquet(args.input)
        else:
            transcripts = spark.table(args.input)
        # input row count comes from the per-bucket extract manifests AFTER
        # the run (each bucket's rows_in rides the write job via
        # Observation) — a transcripts.count() here would add a whole extra
        # corpus scan inside the timed window (ADVICE r3)
        n_turns_in = None
        n_convs_reported = None
    else:
        transcripts = generate_transcripts(spark, args.n_convs)
        n_turns_in = args.n_convs * 8
        n_convs_reported = args.n_convs
    triples = run_pipeline(
        spark,
        transcripts,
        args.out,
        n_buckets=args.buckets,
        snapshot_input=not args.no_snapshot,
    )
    n_triples = triples.count()
    wall = time.time() - t0
    if n_turns_in is None:
        from kr_spark.pipeline.materialize import read_manifests

        n_turns_in = sum(m.get("rows_in", 0) for m in read_manifests(args.out))
    print(
        json.dumps(
            {
                "n_convs": n_convs_reported,
                "n_turns": n_turns_in,
                "n_triples": n_triples,
                "wall_s": round(wall, 3),
                "triples_per_sec": round(n_triples / wall, 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
