"""Golden-corpus regression gate (FIXTURES.md §4).

``tests/fixtures/golden.json`` holds the reference ground-truth texts
(ported from the reference's 7-document golden corpus) plus HTML /
PDF-layout / markdown payload variants and edge cases, with the committed
expected output of ``reference.extract_turn`` for each. Any semantic drift
in any operator breaks this test.
"""

from __future__ import annotations

import json
import os

import pytest

from htep_spark.reference import extract_turn

_GOLDEN = json.load(
    open(os.path.join(os.path.dirname(__file__), "fixtures", "golden.json"))
)


@pytest.mark.parametrize("case", _GOLDEN, ids=[g["case_id"] for g in _GOLDEN])
def test_golden_case(case):
    assert extract_turn(case["text"]) == case["expected"]


def test_golden_corpus_matches_reference_ground_truth():
    """Spot-check parity with the reference's own expected extractions
    (tests/ground_truth.json item 1 semantics, SURVEY.md §5)."""
    gt0 = next(g for g in _GOLDEN if g["case_id"] == "gt-0")
    rec = gt0["expected"]["extracted"]
    assert rec["patient_name"] == "Vikas Reddy"
    assert rec["age"] == "45"
    assert rec["gender"] == "Male"
    assert rec["date"] == "02/08/2025"
    assert "Type 2 Diabetes Mellitus (controlled)" in rec["diagnosis"]
    meds = {m["name"]: m for m in rec["medicines"]}
    assert meds["Metformin"]["dosage"] == "500mg"
    assert meds["Metformin"]["frequency"] == "twice daily"
    assert meds["Amlodipine"]["dosage"] == "5mg"


def test_payload_variants_extract_same_fields():
    """HTML/PDF/markdown wrappings of the same note must yield the same
    structured record as the plain form (payload decode is lossless for
    main content)."""
    by_id = {g["case_id"]: g["expected"] for g in _GOLDEN}
    plain = by_id["gt-0"]["extracted"]
    for variant in ("gt-0-html", "gt-0-pdf", "gt-0-md"):
        got = by_id[variant]["extracted"]
        assert got["patient_name"] == plain["patient_name"]
        assert got["age"] == plain["age"]
        assert {m["name"] for m in got["medicines"]} == {
            m["name"] for m in plain["medicines"]
        }


def _via_run_extraction(df):
    from pyspark.sql import functions as F

    from htep_spark.plans.pipeline import run_extraction

    transcripts = df.select(
        F.col("case_id").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("user").alias("role"),
        "text",
        F.lit(None).cast("timestamp").alias("ts"),
    )
    return run_extraction(transcripts).select(
        F.col("conv_id").alias("case_id"), "result"
    )


@pytest.mark.parametrize(
    "path",
    [_via_run_extraction],
    ids=["run_extraction"],
)
def test_golden_corpus_through_spark(spark, path):
    """Every golden case must round-trip identically through Spark (not
    just the oracle function) — payload variants included — on the
    stage-split production path."""
    df = spark.createDataFrame(
        [(g["case_id"], g["text"]) for g in _GOLDEN], ["case_id", "text"]
    )
    rows = {r["case_id"]: r["result"] for r in path(df).collect()}

    import math

    def norm(v):
        if hasattr(v, "asDict"):
            return {k: norm(x) for k, x in v.asDict().items()}
        if isinstance(v, list):
            return [norm(x) for x in v]
        if isinstance(v, dict):
            return {k: norm(x) for k, x in v.items()}
        if isinstance(v, float) and math.isnan(v):
            return None
        return v

    for g in _GOLDEN:
        assert norm(rows[g["case_id"]]) == norm(g["expected"]), g["case_id"]
