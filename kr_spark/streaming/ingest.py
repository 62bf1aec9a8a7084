"""Structured-Streaming ingest of transcript turns -> extracted triples.

The reference has no streaming surface (SURVEY §2.12); its closest analogs
are the push-visitor API and the write-only writer-KB sink. Here the batch
extraction stage is reused verbatim inside a streaming query: the same
deterministic extractor runs per micro-batch via foreachBatch, appending to
the triple store — so batch and streaming emit identical triples by
construction (tested).

Streaming design at scale: readStream from the transcripts source
(files/Kafka), watermark on ts for late turns, per-conversation ordering is
guaranteed only within a micro-batch — the canonical-id/link stages stay in
the periodic batch compaction (lambda-style), because connected-components
is not incrementally maintainable without a stateful operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def stream_extract_to_parquet(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """File-source streaming: watch input_dir for transcript parquet,
    extract relations per micro-batch, append parquet. Returns the query."""
    from kr_spark.pipeline.extract import extract_relations_expr

    stream = (
        spark.readStream.schema(TRANSCRIPT_DDL)
        .parquet(input_dir)
        .withWatermark("ts", "10 minutes")
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        extracted = extract_relations_expr(batch_df).withColumn("epoch", F.lit(epoch_id))
        extracted.write.mode("append").parquet(out_dir)

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


ASSEMBLED_SCHEMA = "conv_id string, n_turns int, first_ts long, last_ts long, text string"
_STATE_SCHEMA = "idxs array<int>, texts array<string>, first_ts long, last_ts long"


def assemble_conversations_stateful(
    transcript_stream: DataFrame,
    turns_per_conv: int = 8,
    idle_timeout_ms: int | None = None,
):
    """Custom stateful streaming operator (applyInPandasWithState): a
    conversation assembler. Turns for one conv_id may arrive across many
    micro-batches; per-key state accumulates (turn_idx, text, ts) pairs and
    emits ONE assembled-conversation row (turns sorted by turn_idx, text
    newline-joined) when the conversation completes — `turns_per_conv`
    reached — or, with `idle_timeout_ms`, when the key goes idle.

    This is the streaming front half of the KG pipeline: assembled rows feed
    the same extractor the batch path uses. State is bounded per key
    (one array of turns) and dropped at emission; completion-based emission
    is deterministic under replay, so the operator is exactly-once under
    checkpointing.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdf_iter, state: GroupState):
        import pandas as pd

        conv_id = key[0]
        if state.hasTimedOut:
            idxs, texts, first_ts, last_ts = state.get
            state.remove()
            yield _assembled(pd, conv_id, idxs, texts, first_ts, last_ts)
            return
        idxs, texts, first_ts, last_ts = (
            state.get if state.exists else ([], [], None, None)
        )
        idxs, texts = list(idxs), list(texts)
        for pdf in pdf_iter:
            for _, row in pdf.iterrows():
                idxs.append(int(row["turn_idx"]))
                texts.append(str(row["text"]))
                ts_ms = int(pd.Timestamp(row["ts"]).value // 1_000_000)
                first_ts = ts_ms if first_ts is None else min(first_ts, ts_ms)
                last_ts = ts_ms if last_ts is None else max(last_ts, ts_ms)
        if len(idxs) >= turns_per_conv:
            state.remove()
            yield _assembled(pd, conv_id, idxs, texts, first_ts, last_ts)
            return
        state.update((idxs, texts, first_ts, last_ts))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            columns=["conv_id", "n_turns", "first_ts", "last_ts", "text"]
        )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return transcript_stream.groupBy("conv_id").applyInPandasWithState(
        fn, ASSEMBLED_SCHEMA, _STATE_SCHEMA, "append", timeout
    )


def _assembled(pd, conv_id, idxs, texts, first_ts, last_ts):
    order = sorted(range(len(idxs)), key=lambda i: idxs[i])
    return pd.DataFrame(
        {
            "conv_id": [conv_id],
            "n_turns": [len(idxs)],
            "first_ts": [first_ts],
            "last_ts": [last_ts],
            "text": ["\n".join(texts[i] for i in order)],
        }
    )


def stream_dedup_exact(doc_stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup: drop re-arrivals of byte-identical text within
    the watermark horizon. The streaming twin of the batch exact dedup
    (operators/dedup.py) for a continuously-ingested document feed.

    Scale notes: dropDuplicatesWithinWatermark keeps per-key state only
    until the event-time watermark passes (bounded state), unlike
    dropDuplicates whose keys accumulate forever; the key is a compact
    content hash, not the text, so state stays small per doc. Near-dup
    (MinHash/LSH) stays in the periodic batch compaction — banding needs a
    corpus-wide bucket join that streaming state cannot express
    incrementally, same lambda split as connected components.

    Key design (ADVICE r4): the hash is md5 over the SAME normalized_text
    as the batch exact dedup (operators/dedup.py), so the two surfaces
    agree on what counts as an exact duplicate; and because a streaming
    collision silently DROPS a distinct document (worse than the batch
    path, where it only mislabels canonical_id), the key is the 128-bit
    md5 PLUS the normalized length — collision odds become negligible
    (~2^-128 per pair, and the lengths must also collide)."""
    from kr_spark.operators.dedup import normalized_text

    norm = normalized_text(F.col("text"))
    hashed = (
        doc_stream.withWatermark("ts", watermark)
        .withColumn("content_hash", F.md5(norm))
        .withColumn("content_len", F.length(norm))
    )
    return hashed.dropDuplicatesWithinWatermark(["content_hash", "content_len"])


def windowed_turn_counts(transcript_stream: DataFrame) -> DataFrame:
    """Per-5-minute windowed turn counts by role with late-data watermark —
    the standard streaming aggregation shape over this source."""
    return (
        transcript_stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"), F.col("role"))
        .agg(F.count("*").alias("n_turns"))
    )
