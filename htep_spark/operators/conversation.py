"""Per-conversation rollup as one aggregation of built-in expressions.

The cross-turn operator of SURVEY.md §1.3: assemble one clinical record per
conversation from its turns in ``turn_idx`` order — first non-empty patient
fields win (earliest mention), drug/disease mentions union across turns,
urgency escalates to the maximum level seen (ties to the earliest turn).
Every rule is associative, so turn order travels inside the aggregated
values (``min(struct(turn_idx, v))``) instead of sorting rows, and no
Python worker runs.

Scale note: every aggregate is partial-aggregable, so Catalyst plans a
map-side partial aggregate → one ``Exchange`` on conv_id → the final
aggregate. A mega-conversation reaches its final task as at most one
pre-reduced row per input partition, so no salt stage is needed. The
exchange is eliminated when the rollup reads an extraction table bucketed
by conv_id (see ``sources/io.write_bucketed_transcripts``), but not over
``run_extraction`` of a bucketed transcript table: its ArrowEvalPython
nodes drop the scan's partitioning. The projection below drops the text
columns before the exchange.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["conversation_rollup"]


def _first_non_empty(col: str) -> Column:
    """The value of ``col`` at the earliest turn where it is a non-empty
    string (NULL fails the ``!=`` test and is skipped like "")."""
    return F.min(F.when(F.col(col) != "", F.struct("turn_idx", col)))[col]


def _sorted_union(col: str) -> Column:
    """Sorted distinct union of the turns' arrays; NULL arrays are skipped."""
    return F.array_sort(F.array_distinct(F.flatten(F.collect_set(col))))


def conversation_rollup(extracted: DataFrame) -> DataFrame:
    """extraction output → one record per conversation.

    Projects to the light columns *before* the conv_id shuffle — the text
    payloads never move."""
    light = extracted.select(
        "conv_id",
        "turn_idx",
        F.col("result.extracted.patient_name").alias("patient_name"),
        F.col("result.extracted.doctor_name").alias("doctor_name"),
        F.col("result.extracted.hospital").alias("hospital"),
        F.col("result.matched_drugs").alias("matched_drugs"),
        F.col("result.matched_diseases").alias("matched_diseases"),
        F.col("result.urgency").alias("urgency"),
        F.col("result.document_type").alias("document_type"),
    )
    # routine < high < urgent; anything else (NULL included) ranks -1
    urgency = F.col("urgency")
    rank = (
        F.when(urgency == "urgent", 2)
        .when(urgency == "high", 1)
        .when(urgency == "routine", 0)
        .otherwise(-1)
    )
    return light.groupBy("conv_id").agg(
        F.count("*").cast("int").alias("n_turns"),
        _first_non_empty("patient_name").alias("patient_name"),
        _first_non_empty("doctor_name").alias("doctor_name"),
        _first_non_empty("hospital").alias("hospital"),
        _sorted_union("matched_drugs").alias("all_drugs"),
        _sorted_union("matched_diseases").alias("all_diseases"),
        F.min(F.struct((-rank).alias("neg_rank"), "turn_idx", "urgency"))[
            "urgency"
        ].alias("max_urgency"),
        F.array_sort(F.collect_set("document_type")).alias("document_types"),
    )
