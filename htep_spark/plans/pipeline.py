"""End-to-end extraction plan + per-conversation grouped stages.

Physical design for 10^12 turns (SURVEY.md §4):

- The per-turn hot path is **narrow**: scan → one Arrow-vectorized
  projection → sink. No shuffle, no driver collection; Catalyst prunes the
  scan to the referenced columns.
- The shuffles in the job are the per-conversation stages: this module's
  metrics pass and ``operators/conversation.conversation_rollup``.
  Conversation skew (one conversation with 10^6 turns) is a *group* skew
  AQE's skew-join splitting does not fix. Both stages are one
  ``groupBy("conv_id")`` of partial-aggregable aggregates, so a
  mega-conversation reaches its final task as at most one pre-reduced row
  per input partition. The metrics pass also counts *distinct* turn
  indices; Catalyst plans ``countDistinct`` as a pre-reduce by
  ``(conv_id, turn_idx)`` under partial aggregates and then a merge by
  ``conv_id`` — two exchanges, each with ``partial_*`` map-side combines
  below it, so no salt stage is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.extract import extract_transcripts

__all__ = [
    "run_extraction",
    "per_conversation_metrics",
    "per_conversation_order",
]


def run_extraction(transcripts: DataFrame) -> DataFrame:
    """transcripts → per-turn extraction output (narrow, shuffle-free)."""
    return extract_transcripts(transcripts)


def per_conversation_metrics(extracted: DataFrame) -> DataFrame:
    """Per-conversation rollup in one ``groupBy("conv_id")``.

    Emits one row per conversation:
    ``(conv_id, n_turns, n_distinct_turns, min_turn, max_turn, ordered_ok,
    n_failed, n_corrections, blocks_kept, blocks_dropped, n_drug_turns)``.

    ``ordered_ok`` is the stable-(conv_id, turn_idx)-ordering invariant of
    the north_star: turn indices are exactly ``0..n-1`` with no duplicates.
    """
    merged = extracted.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.countDistinct("turn_idx").alias("n_distinct_turns"),
        F.min("turn_idx").alias("min_turn"),
        F.max("turn_idx").alias("max_turn"),
        F.sum(F.col("result.metrics.failed").cast("int")).alias("n_failed"),
        F.sum("result.metrics.n_corrections").alias("n_corrections"),
        F.sum("result.metrics.blocks_kept").alias("blocks_kept"),
        F.sum("result.metrics.blocks_dropped").alias("blocks_dropped"),
        F.sum((F.size("result.matched_drugs") > 0).cast("int")).alias(
            "n_drug_turns"
        ),
    )
    return merged.withColumn(
        "ordered_ok",
        (F.col("min_turn") == 0)
        & (F.col("max_turn") == F.col("n_distinct_turns") - 1)
        & (F.col("n_distinct_turns") == F.col("n_turns")),
    )


def per_conversation_order(transcripts: DataFrame) -> DataFrame:
    """The kernel-free slice of ``per_conversation_metrics``: the
    ordering/contiguity rollup over raw ``(conv_id, turn_idx)``.

    This is the north_star's stable-turn-ordering invariant itself —
    ``ordered_ok = 1`` iff turn indices are exactly ``0..n-1`` with no
    duplicates — computed with the same one-``groupBy`` plan.
    Because no Python kernel is involved, the whole thing is
    SQL-expressible and DuckDB hash-checked by the driver
    (``conv_metrics_order``). All columns are BIGINT for canonicalizer
    parity."""
    merged = transcripts.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.countDistinct("turn_idx").alias("n_distinct_turns"),
        F.min("turn_idx").alias("min_turn"),
        F.max("turn_idx").alias("max_turn"),
    )
    return merged.select(
        "conv_id",
        F.col("n_turns").cast("long").alias("n_turns"),
        F.col("n_distinct_turns").cast("long").alias("n_distinct_turns"),
        F.col("min_turn").cast("long").alias("min_turn"),
        F.col("max_turn").cast("long").alias("max_turn"),
        (
            (F.col("min_turn") == 0)
            & (F.col("max_turn") == F.col("n_distinct_turns") - 1)
            & (F.col("n_distinct_turns") == F.col("n_turns"))
        )
        .cast("long")
        .alias("ordered_ok"),
    )
