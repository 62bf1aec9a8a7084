"""Mention detection + relation extraction over transcript turns.

One implementation: `extract_relations_expr`, pure Catalyst column
expressions that stay inside whole-stage codegen. It is the pipeline path,
the streaming path and the oracle-parity path (the DuckDB oracle runs the
same closed-form logic in SQL). Splitting on a fixed trigger phrase is
string work Catalyst expresses directly, so no Python process sits on the
extract path. The engine's remaining pandas seams for model code are
`operators/multimodal.py` and `operators/rules.py::apply_post_processing_rule`
(mapInPandas) and `streaming/ingest.py` (applyInPandasWithState).

The extractor is the *reference* extractor for P/R purposes: deterministic
rules keyed on relation trigger phrases (" works at ", " knows ",
" emailed "), emitting surface-form triples with (conv_id, turn_idx)
provenance (FIXTURES.md §D). Emitted surfaces are linked/canonicalized
downstream. It is map-only (no shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kr_spark.pipeline.transcripts import EMAILED, KNOWS, WORKS_AT

_TRIGGERS = [(" works at ", WORKS_AT), (" knows ", KNOWS), (" emailed ", EMAILED)]


def extract_relations_expr(transcripts: DataFrame) -> DataFrame:
    """Catalyst implementation: split on the trigger phrase, strip ' .'.

    Single-scan shape: one array<struct<pred, parts>> per row (one split per
    trigger), exploded, then filtered on the exploded attribute. Two scale
    properties fall out of this:

      * ONE pass over the input instead of one filtered scan per trigger
        (contains() isn't a parquet-pushable predicate, so the 3-branch
        union really did read the table 3x);
      * the match filter references the Generate output, which predicate
        pushdown cannot move below the explode — so when the input is
        itself an expression-generated DataFrame (transcripts_from_ids),
        the generator's big CASE/char tree is NOT re-inlined into a filter
        condition. The pushed-down form blew past janino's 64KB method
        limit and silently dropped the whole fused stage to interpreted
        eval (observed: 25k-line processNext, 3x per trigger).
    """
    matches = F.array(
        *[
            F.struct(
                F.lit(pred).alias("pred"),
                F.split(F.col("text"), phrase).alias("parts"),
            )
            for phrase, pred in _TRIGGERS
        ]
    )
    exploded = transcripts.select(
        F.col("conv_id"), F.col("turn_idx"), F.explode(matches).alias("m")
    )
    return exploded.filter(F.size("m.parts") > 1).select(
        F.col("m.parts").getItem(0).alias("subj_surface"),
        F.col("m.pred").alias("pred"),
        F.regexp_replace(F.col("m.parts").getItem(1), r" \.$", "").alias(
            "obj_surface"
        ),
        F.col("conv_id"),
        F.col("turn_idx"),
    )


def mentions_from_extractions(extracted: DataFrame) -> DataFrame:
    """Distinct entity surface forms (mention detection output)."""
    return (
        extracted.select(F.col("subj_surface").alias("surface"))
        .union(extracted.select(F.col("obj_surface").alias("surface")))
        .distinct()
    )
