"""Structured Streaming variant of the extraction pipeline.

The reference has no streaming (SURVEY.md §2.7) — this is the Spark-native
extension for continuously-arriving transcript turns, and the streaming half
of the batch/streaming parity: the same stage UDFs and per-stage fallback as
the batch trunk (``stream_extraction``), an exact ``(conv_id, turn_idx)``
dedup guard bounded by the watermark (``stream_dedup_turns``), running
per-conversation progress in a ``GroupState`` (``stream_conversation_state``)
and a watermarked tumbling-window rollup of extraction metrics
(``stream_windowed_metrics``; late turns tolerated up to the watermark).

The per-turn operator chain is stateless, so the hot path needs no state
store; dedup, conversation progress and the windowed metrics keep only
watermark-bounded or per-live-conversation state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.extract import extract_transcripts

__all__ = [
    "stream_extraction",
    "stream_dedup_turns",
    "stream_conversation_state",
    "stream_windowed_metrics",
]


def stream_extraction(stream_df: DataFrame) -> DataFrame:
    """streaming transcripts → streaming extraction results (stateless),
    through the batch trunk: same stage UDFs, same per-stage fallback."""
    return extract_transcripts(stream_df).select("conv_id", "turn_idx", "ts", "result")


def stream_dedup_turns(
    stream_df: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming exact dedup on ``(conv_id, turn_idx)`` — the ingestion
    guard for at-least-once transcript feeds (replayed turns must not
    double-count downstream metrics or re-run extraction).

    Uses ``dropDuplicatesWithinWatermark``: state is bounded by the
    watermark horizon (keys older than the event-time watermark are
    evicted), so state size is O(keys per watermark window), not O(stream)
    — the only dedup state policy that survives a 10^12-turn stream.
    Placed BEFORE the extraction UDF so duplicate payloads never reach the
    expensive kernel."""
    return stream_df.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["conv_id", "turn_idx"]
    )


def stream_conversation_state(
    stream_df: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Custom stateful operator: per-conversation running progress via
    ``applyInPandasWithState`` (GroupState).

    State per ``conv_id``: turns seen, max turn_idx, distinct turns and
    drug-turn count, from which each row derives contiguity-so-far (the
    streaming form of the batch ``ordered_ok`` invariant). Emits one
    updated row per conversation per micro-batch; state size is O(live
    conversations), not O(turns)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    output_schema = (
        "conv_id string, n_turns long, max_turn long, distinct_turns long, "
        "contiguous boolean, n_drug_turns long"
    )
    state_schema = "n_turns long, max_turn long, distinct_turns long, n_drug_turns long"

    out_cols = [
        "conv_id", "n_turns", "max_turn", "distinct_turns", "contiguous", "n_drug_turns",
    ]

    def update(key, pdfs, state: GroupState):
        (conv_id,) = key
        n, mx, dstn, drugs = state.get if state.exists else (0, -1, 0, 0)
        seen = set()
        for pdf in pdfs:
            for turn_idx, drug_hits in zip(pdf["turn_idx"], pdf["n_drug"]):
                n += 1
                ti = int(turn_idx)
                if ti > mx:
                    mx = ti
                seen.add(ti)
                drugs += int(drug_hits)
        # distinct count approximation across batches: exact within batch,
        # cross-batch via max-turn bound (state stores no per-turn set —
        # bounded state); contiguity check is (distinct == max+1 == total)
        dstn += len(seen)
        state.update((n, mx, dstn, drugs))
        yield pd.DataFrame(
            [[conv_id, n, mx, dstn, dstn == mx + 1 == n, drugs]], columns=out_cols
        )

    extracted = stream_extraction(stream_df).select(
        "conv_id",
        "turn_idx",
        "ts",
        (F.size("result.matched_drugs") > 0).cast("long").alias("n_drug"),
    )
    return (
        extracted.withWatermark("ts", watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            update,
            outputStructType=output_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_windowed_metrics(
    stream_df: DataFrame,
    window_duration: str = "10 minutes",
    watermark: str = "5 minutes",
) -> DataFrame:
    """Watermarked tumbling-window rollup of extraction metrics."""
    extracted = stream_extraction(stream_df)
    return (
        extracted.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("win"))
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.col("result.metrics.failed").cast("int")).alias("n_failed"),
            F.sum("result.metrics.n_corrections").alias("n_corrections"),
            F.sum(
                (F.size("result.matched_drugs") > 0).cast("int")
            ).alias("n_drug_turns"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "n_turns",
            "n_failed",
            "n_corrections",
            "n_drug_turns",
        )
    )
