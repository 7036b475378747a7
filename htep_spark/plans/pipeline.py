"""End-to-end extraction plan + per-conversation grouped stages.

Physical design for 10^12 turns (SURVEY.md §4):

- The per-turn hot path is **narrow**: scan → one Arrow-vectorized
  projection → sink. No shuffle, no driver collection; Catalyst prunes the
  scan to the referenced columns.
- The shuffles in the job are the per-conversation stages: this module's
  metrics/validation pass and ``operators/conversation.conversation_rollup``.
  Conversation skew (one conversation with 10^6 turns) is a *group* skew
  AQE's skew-join splitting does not fix. The rollup's aggregates are all
  partial-aggregable, so a mega-conversation reaches its final task as one
  pre-reduced row per input partition. The metrics pass also counts
  *distinct* turn indices; it bounds its groups explicitly by **salting**:
  first aggregate by ``(conv_id, salt)`` where
  ``salt = turn_idx div bucket_size`` (bounding any single group), then a
  second lightweight merge by ``conv_id``. Because salt buckets partition
  the turn-index range, per-bucket distinct counts add up exactly — the
  merge can validate global contiguity (min=0, max=n-1, n distinct = n)
  without ever materializing a mega-group.
- Both stages are plain hash aggregations → map-side partial aggregation
  (partial_count/partial_min/...) comes free from Catalyst.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.extract import extract_transcripts

__all__ = [
    "run_extraction",
    "per_conversation_metrics",
    "per_conversation_order",
    "validate_turn_order",
]

DEFAULT_SALT_BUCKET = 10_000


def run_extraction(transcripts: DataFrame) -> DataFrame:
    """transcripts → per-turn extraction output (narrow, shuffle-free)."""
    return extract_transcripts(transcripts)


def per_conversation_metrics(
    extracted: DataFrame, bucket_size: int = DEFAULT_SALT_BUCKET
) -> DataFrame:
    """Salted two-stage per-conversation rollup.

    Emits one row per conversation:
    ``(conv_id, n_turns, n_distinct_turns, min_turn, max_turn, ordered_ok,
    n_failed, n_corrections, blocks_kept, blocks_dropped, n_drug_turns)``.

    ``ordered_ok`` is the stable-(conv_id, turn_idx)-ordering invariant of
    the north_star: turn indices are exactly ``0..n-1`` with no duplicates.
    """
    light = extracted.select(
        "conv_id",
        "turn_idx",
        (F.col("turn_idx") / F.lit(bucket_size)).cast("int").alias("salt"),
        F.col("result.metrics.failed").cast("int").alias("failed"),
        F.col("result.metrics.n_corrections").alias("n_corrections"),
        F.col("result.metrics.blocks_kept").alias("blocks_kept"),
        F.col("result.metrics.blocks_dropped").alias("blocks_dropped"),
        (F.size("result.matched_drugs") > 0).cast("int").alias("has_drug"),
    )
    # Stage 1: bounded groups — any conversation contributes ceil(n/B) rows.
    bucketed = light.groupBy("conv_id", "salt").agg(
        F.count("*").alias("n"),
        F.countDistinct("turn_idx").alias("n_distinct"),
        F.min("turn_idx").alias("min_turn"),
        F.max("turn_idx").alias("max_turn"),
        F.sum("failed").alias("n_failed"),
        F.sum("n_corrections").alias("n_corrections"),
        F.sum("blocks_kept").alias("blocks_kept"),
        F.sum("blocks_dropped").alias("blocks_dropped"),
        F.sum("has_drug").alias("n_drug_turns"),
    )
    # Stage 2: tiny merge (≤ a few rows per conversation).
    merged = bucketed.groupBy("conv_id").agg(
        F.sum("n").alias("n_turns"),
        F.sum("n_distinct").alias("n_distinct_turns"),
        F.min("min_turn").alias("min_turn"),
        F.max("max_turn").alias("max_turn"),
        F.sum("n_failed").alias("n_failed"),
        F.sum("n_corrections").alias("n_corrections"),
        F.sum("blocks_kept").alias("blocks_kept"),
        F.sum("blocks_dropped").alias("blocks_dropped"),
        F.sum("n_drug_turns").alias("n_drug_turns"),
    )
    return merged.withColumn(
        "ordered_ok",
        (F.col("min_turn") == 0)
        & (F.col("max_turn") == F.col("n_distinct_turns") - 1)
        & (F.col("n_distinct_turns") == F.col("n_turns")),
    )


def per_conversation_order(
    transcripts: DataFrame, bucket_size: int = DEFAULT_SALT_BUCKET
) -> DataFrame:
    """The kernel-free slice of ``per_conversation_metrics``: the salted
    two-stage ordering/contiguity rollup over raw ``(conv_id, turn_idx)``.

    This is the north_star's stable-turn-ordering invariant itself —
    ``ordered_ok = 1`` iff turn indices are exactly ``0..n-1`` with no
    duplicates — computed with the identical two-stage salted plan (stage 1
    bounded by ``salt = turn_idx div bucket_size``; per-bucket distinct
    counts add up exactly because salt buckets partition the index range).
    Because no Python kernel is involved, the whole thing is
    SQL-expressible and DuckDB hash-checked by the driver
    (``conv_metrics_order``). All columns are BIGINT for canonicalizer
    parity."""
    light = transcripts.select(
        "conv_id",
        "turn_idx",
        (F.col("turn_idx") / F.lit(bucket_size)).cast("int").alias("salt"),
    )
    bucketed = light.groupBy("conv_id", "salt").agg(
        F.count("*").alias("n"),
        F.countDistinct("turn_idx").alias("n_distinct"),
        F.min("turn_idx").alias("min_turn"),
        F.max("turn_idx").alias("max_turn"),
    )
    merged = bucketed.groupBy("conv_id").agg(
        F.sum("n").alias("n_turns"),
        F.sum("n_distinct").alias("n_distinct_turns"),
        F.min("min_turn").alias("min_turn"),
        F.max("max_turn").alias("max_turn"),
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


def validate_turn_order(extracted: DataFrame, bucket_size: int = DEFAULT_SALT_BUCKET) -> bool:
    """True iff every conversation's turn indices are exactly 0..n-1."""
    bad = (
        per_conversation_metrics(extracted, bucket_size)
        .filter(~F.col("ordered_ok"))
        .limit(1)
        .count()
    )
    return bad == 0
