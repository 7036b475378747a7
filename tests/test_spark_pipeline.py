"""The load-bearing invariant (SURVEY.md §5, north_star):

``spark_pipeline(turns) == [reference(t) for t in turns]`` byte-for-byte per
turn under stable ``(conv_id, turn_idx)`` ordering — plus the per-
conversation grouped stages (metrics, order validation) and the
checkpoint/resume protocol.
"""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from htep_spark.plans.checkpoint import run_with_checkpoint
from htep_spark.plans.pipeline import per_conversation_metrics, run_extraction
from htep_spark.reference import extract_turn
from htep_spark.schema import TRANSCRIPT_SCHEMA
from htep_spark.sources.io import synthesize_transcripts, synthesize_transcripts_pdf

N_TURNS = 240


@pytest.fixture(scope="module")
def transcripts_pdf():
    return synthesize_transcripts_pdf(N_TURNS, n_convs=12)


@pytest.fixture(scope="module")
def transcripts(spark, transcripts_pdf):
    return spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPT_SCHEMA).cache()


def _normalize(value):
    """Recursively convert Spark Rows/arrays to plain Python for equality."""
    if hasattr(value, "asDict"):
        return {k: _normalize(v) for k, v in value.asDict().items()}
    if isinstance(value, list):
        return [_normalize(v) for v in value]
    if isinstance(value, dict):
        return {k: _normalize(v) for k, v in value.items()}
    if isinstance(value, float) and math.isnan(value):
        return None
    return value


def test_spark_equals_oracle_byte_for_byte(spark, transcripts, transcripts_pdf):
    result = (
        run_extraction(transcripts)
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    expected = transcripts_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert len(result) == len(expected)
    for row, (_, exp) in zip(result, expected.iterrows()):
        assert row["conv_id"] == exp["conv_id"]
        assert row["turn_idx"] == exp["turn_idx"]
        oracle = extract_turn(exp["text"])
        got = _normalize(row["result"])
        # struct-wise comparison with exact string equality per field
        assert got == _normalize(oracle), (
            f"mismatch at {row['conv_id']}/{row['turn_idx']}"
        )


def test_distributed_synthesis_matches_driver_synthesis(spark, transcripts_pdf):
    dist = (
        synthesize_transcripts(spark, N_TURNS, n_convs=12, partitions=7)
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    exp = transcripts_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert dist["text"].tolist() == exp["text"].tolist()
    assert dist["conv_id"].tolist() == exp["conv_id"].tolist()


def test_per_conversation_metrics_and_salting(spark, transcripts):
    extracted = run_extraction(transcripts)
    metrics = per_conversation_metrics(extracted).collect()
    by_conv = {m["conv_id"]: m for m in metrics}
    # conv-000000 is the mega conversation (~20% of turns)
    assert by_conv["conv-000000"]["n_turns"] == 48
    assert all(m["ordered_ok"] for m in metrics)
    total = sum(m["n_turns"] for m in metrics)
    assert total == N_TURNS


def test_order_validation_catches_gaps(spark, transcripts):
    from pyspark.sql import functions as F

    broken = transcripts.filter(
        ~((F.col("conv_id") == "conv-000001") & (F.col("turn_idx") == 3))
    )
    ordered = {
        m["conv_id"]: m["ordered_ok"]
        for m in per_conversation_metrics(run_extraction(broken)).collect()
    }
    assert ordered.pop("conv-000001") is False
    assert all(ordered.values())


def test_checkpoint_resume(spark, transcripts_pdf, tmp_path):
    input_dir = str(tmp_path / "input")
    out_dir = str(tmp_path / "out")
    manifest_dir = str(tmp_path / "manifest")
    # write input as several parquet files (work units)
    df = spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPT_SCHEMA)
    df.repartition(4).write.mode("overwrite").parquet(input_dir)

    first = run_with_checkpoint(spark, input_dir, out_dir, manifest_dir, "run-a")
    assert first["processed"] >= 4
    assert first["skipped"] == 0

    # resume: everything already done → nothing reprocessed
    second = run_with_checkpoint(spark, input_dir, out_dir, manifest_dir, "run-b")
    assert second["processed"] == 0
    assert second["skipped"] == first["processed"]

    # output completeness: all turns present exactly once
    out = spark.read.parquet(out_dir + "/part-*")
    assert out.count() == len(transcripts_pdf)
    manifest = spark.read.parquet(manifest_dir)
    assert manifest.filter("status = 'done'").count() == first["processed"]
    assert manifest.agg({"n_turns": "sum"}).collect()[0][0] == len(transcripts_pdf)


def test_extraction_plan_is_narrow(spark, transcripts):
    """The hot path must stay shuffle-free with pruned input columns."""
    plan = (
        run_extraction(transcripts.select("*"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" in plan


def test_conv_metrics_plan_has_two_exchanges(spark, transcripts):
    """The per-conversation metrics are one groupBy: Catalyst's
    countDistinct plan shuffles on (conv_id, turn_idx) and then on conv_id,
    each exchange above partial aggregates."""
    plan = (
        per_conversation_metrics(run_extraction(transcripts))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "partial_count" in plan, plan


def test_job_entrypoint_checkpoint_and_resume(spark, transcripts_pdf, tmp_path):
    import job

    input_dir = str(tmp_path / "jin")
    out_dir = str(tmp_path / "jout")
    spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPT_SCHEMA).repartition(
        3
    ).write.parquet(input_dir)
    rc = job.main(
        ["--input", input_dir, "--output", out_dir, "--conv-metrics"]
    )
    assert rc == 0
    out = spark.read.parquet(out_dir + "/part-*")
    assert out.count() == len(transcripts_pdf)
    metrics = spark.read.parquet(out_dir + "_conv_metrics")
    assert metrics.filter("NOT ordered_ok").count() == 0
    # second invocation resumes: nothing reprocessed
    rc = job.main(["--input", input_dir, "--output", out_dir])
    assert rc == 0
    from htep_spark.plans.checkpoint import plan_units

    manifest = spark.read.parquet(out_dir + "_manifest")
    assert manifest.count() == len(plan_units(input_dir))  # each unit once


def test_conversation_rollup(spark, transcripts):
    from htep_spark.operators.conversation import conversation_rollup

    records = {
        r["conv_id"]: r
        for r in conversation_rollup(run_extraction(transcripts)).collect()
    }
    assert len(records) == 12
    mega = records["conv-000000"]
    assert mega["n_turns"] == 48
    assert mega["all_drugs"]  # clinical payloads guarantee drug mentions
    assert mega["max_urgency"] in ("routine", "high", "urgent")
    assert mega["patient_name"]  # earliest non-null patient wins
    # determinism across runs
    again = {
        r["conv_id"]: r
        for r in conversation_rollup(run_extraction(transcripts)).collect()
    }
    assert {k: v.asDict() for k, v in records.items()} == {
        k: v.asDict() for k, v in again.items()
    }


def test_checkpoint_crash_between_data_and_manifest(spark, transcripts_pdf, tmp_path):
    """Crash simulation: a unit whose output was written but whose manifest
    row never committed must be re-processed idempotently on resume."""
    import shutil

    from htep_spark.plans.checkpoint import plan_units, run_with_checkpoint

    input_dir = str(tmp_path / "cin")
    out_dir = str(tmp_path / "cout")
    manifest_dir = str(tmp_path / "cmanifest")
    df = spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPT_SCHEMA)
    df.repartition(3).write.parquet(input_dir)

    first = run_with_checkpoint(spark, input_dir, out_dir, manifest_dir, "run-a")
    total = spark.read.parquet(out_dir + "/part-*").count()

    # simulate the crash window: drop ONE manifest row (rewrite without it)
    units = plan_units(input_dir)
    victim = units[0]["partition_id"]
    manifest = spark.read.parquet(manifest_dir)
    kept = manifest.filter(manifest.partition_id != victim).collect()
    shutil.rmtree(manifest_dir)
    if kept:
        spark.createDataFrame(kept, manifest.schema).write.parquet(manifest_dir)

    second = run_with_checkpoint(spark, input_dir, out_dir, manifest_dir, "run-b")
    assert second["processed"] == 1  # only the victim re-ran
    # idempotent: same totals, no duplicates
    assert spark.read.parquet(out_dir + "/part-*").count() == total
    assert (
        spark.read.parquet(manifest_dir).filter("status='done'").count()
        == first["processed"]
    )


def test_checkpoint_corrupt_manifest_raises(spark, transcripts_pdf, tmp_path):
    """A manifest that exists but cannot be read stops the run: read as
    "no manifest" it would re-run every unit and grow the broken table."""
    input_dir = str(tmp_path / "xin")
    out_dir = str(tmp_path / "xout")
    manifest_dir = tmp_path / "xmanifest"
    df = spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPT_SCHEMA)
    df.repartition(2).write.parquet(input_dir)
    manifest_dir.mkdir()
    (manifest_dir / "part-00000.parquet").write_bytes(b"PAR1\x00truncated")

    with pytest.raises(Exception):
        run_with_checkpoint(spark, input_dir, out_dir, str(manifest_dir), "run-a")
    assert not os.path.exists(out_dir)
    assert os.listdir(manifest_dir) == ["part-00000.parquet"]


def test_null_turn_inside_arrow_batch(spark, transcripts_pdf):
    """A null text inside one Arrow batch takes the empty turn's row, and
    its neighbours in the batch — enough ASCII turns for the RE2 pass to
    run — equal ``extract_turn``."""
    pdf = transcripts_pdf.head(100).copy()
    pdf.loc[[3, 67], "text"] = None
    df = spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA).coalesce(1)
    rows = run_extraction(df).orderBy("conv_id", "turn_idx").collect()
    expected = pdf.sort_values(["conv_id", "turn_idx"])["text"].tolist()
    assert len(rows) == len(expected) == 100
    assert sum(t is None for t in expected) == 2
    for row, text in zip(rows, expected):
        assert _normalize(row["result"]) == _normalize(extract_turn(text))
    assert _normalize(extract_turn(None)) == _normalize(extract_turn(""))
    # the batch the fields stage sees is one the RE2 pass answers
    from htep_spark.functions import batch_regex
    from htep_spark.functions.extract_fields import FIELD_RE2

    finals = [row["result"]["final_text"] for row in rows]
    assert all(a is not None for a in batch_regex.extracts(finals, FIELD_RE2))


# stage → the kernel its ``run`` calls through the ``reference`` module
_STAGE_KERNELS = {
    "core": "postprocess_batch",
    "segments": "segment_document",
    "fields": "extract_record",
    "classify": "classify_document",
    "entities": "extract_medical_entities",
    "deid": "deidentify",
}


@pytest.mark.parametrize("failing", list(_STAGE_KERNELS))
def test_stage_failure_parity(monkeypatch, failing):
    """One failure model: with one stage's kernel raising on one turn of a
    three-turn batch, ``extract_turns`` over the batch equals the rows
    assembled from the stage UDFs run over the same batch (their Python
    functions, called in-process the way ``extract_transcripts`` chains
    them) and equals ``extract_turn`` per turn. The raising turn's failed
    stage alone takes its default, only a core failure sets
    ``metrics.failed``, and the neighbouring turns equal their clean
    rows."""
    import json

    import pandas as pd

    from htep_spark import reference
    from htep_spark.operators import extract as ops

    golden = {
        g["case_id"]: g["text"]
        for g in json.load(
            open(os.path.join(os.path.dirname(__file__), "fixtures", "golden.json"))
        )
    }
    # a discharge summary every stage has work on (fields, entities, PII),
    # between two other notes
    text = golden["gt-0"]
    batch = [golden["gt-1"], text, golden["gt-2"]]
    clean_rows = [reference.extract_turn(t) for t in batch]
    clean = clean_rows[1]

    stage = next(s for s in reference.STAGES if s.name == failing)
    # the value the kernel sees for the failing turn: the core kernel gets
    # the batch of stripped decoded texts, the others one stage input each
    bad = clean["final_text"] if failing == "core" else clean[stage.source]
    kernel = getattr(reference, _STAGE_KERNELS[failing])

    def boom(arg, *args, **kwargs):
        if (bad in arg) if isinstance(arg, list) else (arg == bad):
            raise RuntimeError("injected")
        return kernel(arg, *args, **kwargs)

    monkeypatch.setattr(reference, _STAGE_KERNELS[failing], boom)
    got_rows = reference.extract_turns(batch)
    assert [_normalize(r) for r in got_rows] == [
        _normalize(reference.extract_turn(t)) for t in batch
    ]
    got = got_rows[1]

    udfs = {
        "core": ops.extract_core_udf,
        "segments": ops.segments_udf,
        "fields": ops.fields_udf,
        "classify": ops.classify_udf,
        "entities": ops.entities_udf,
        "deid": ops.deid_udf,
    }

    def stage_rows(stage, values):
        frame = udfs[stage.name].func(pd.Series(values))
        return [frame.iloc[i].to_dict() for i in range(len(values))]

    core = stage_rows(reference.STAGES[0], batch)
    later = [
        stage_rows(s, [c[s.source] for c in core]) for s in reference.STAGES[1:]
    ]
    assert [_normalize(reference.assemble(o)) for o in zip(core, *later)] == [
        _normalize(r) for r in got_rows
    ]

    def flat(row):
        return {**{k: v for k, v in row.items() if k != "metrics"}, **row["metrics"]}

    def owned(stage, row):
        if isinstance(stage.fields, str):
            return row[stage.fields]
        return {name: flat(row)[name] for name in stage.fields}

    value = text if failing == "core" else clean[stage.source]
    default = stage.default(value, RuntimeError("injected"))
    assert owned(stage, got) == default
    assert owned(stage, clean) != default  # the injected kernel had work
    assert got["metrics"]["failed"] is (failing == "core")
    if failing == "core":
        assert got["metrics"]["error"] == "RuntimeError: injected"
    else:
        # every other stage is untouched
        for other in reference.STAGES:
            if other is not stage:
                assert owned(other, got) == owned(other, clean), other.name
    # the neighbours in the batch are untouched
    assert _normalize(got_rows[0]) == _normalize(clean_rows[0])
    assert _normalize(got_rows[2]) == _normalize(clean_rows[2])
