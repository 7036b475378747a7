"""Arrow-vectorized extraction operators: the one extraction UDF surface.

Design (SURVEY.md §2.7 "UDF/UDAF/UDTF surface"): every per-turn operator is
a scalar Arrow UDF (``F.arrow_udf``) — the Arrow batch is the unit of
vectorization, generalizing the reference's own batching fix
(``BlockICREngine._batch_predict_chars``,
``src/recognition/icr_block_engine.py:162-195``, which exists precisely
because per-item dispatch was too slow). No row-at-a-time Python UDF
anywhere (BASELINE.json ``input_hint``: "no per-row Python"). An Arrow UDF
takes a ``pa.Array`` and returns one built straight from the kernel's
output dicts (``pa.array(outputs, type=to_arrow_type(return_type))``), so
no pandas frame stands between the kernel and the Arrow batch Spark ships.

One trunk: each stage of ``reference.STAGES`` (core decode + dictionary
correction, segmentation, field extraction, classification, entity scan,
de-identification) becomes one Arrow UDF through ``_stage_udf``, which
runs ``reference.run_batch`` over the whole Arrow batch — the same batch
kernel and the same per-stage fallback ``reference.extract_turn`` uses —
and takes its return type from ``schema.EXTRACTION_RESULT_TYPE``. The core
kernel scores the T7 memo misses of every turn in the batch together; the
fields, classify, entities and deid kernels run each lookaround-free
regex once over the batch in RE2 (``functions/batch_regex.py``).
This module calls no kernel and defines no fallback value of its own.

``extract_transcripts`` recomposes the stage outputs into the
``EXTRACTION_RESULT_TYPE`` struct with plain column references (optimization
guide §4.1 "pass only the columns the function needs"), so Catalyst's
``SimplifyExtractValueOps`` + column pruning DROP the stage UDFs a
downstream query never reads (e.g. ``per_conversation_metrics`` consumes
only core fields → the fields/classify/entities/deid kernels — ~60% of
per-turn CPU — are never evaluated; verified by
``tests/test_plan_quality.py::test_stage_udf_pruning``). Equal UDF
expressions are deduplicated by ``ExtractPythonUDFs`` (evaluated once), and
the full-struct query runs every stage exactly once in two ArrowEvalPython
nodes. The recomposition equals ``extract_turn`` per turn
(``tests/test_spark_pipeline.py::test_spark_equals_oracle_byte_for_byte``,
``tests/test_golden.py``), including a turn where a stage raises
(``tests/test_spark_pipeline.py::test_stage_failure_parity``).

The per-worker memo tables (module-level in ``reference``/``textops``)
amortize across every batch the worker ever sees. Per-turn extraction is
embarrassingly parallel — the plan stays narrow (scan → project), no
shuffle in the hot path.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import StructType

from ..reference import STAGES, Stage, run_batch
from ..schema import EXTRACTION_RESULT_TYPE, METRICS_TYPE

__all__ = [
    "extract_transcripts",
    "extract_core_udf",
    "segments_udf",
    "fields_udf",
    "classify_udf",
    "entities_udf",
    "deid_udf",
]


_RESULT_FIELDS = {f.name: f for f in EXTRACTION_RESULT_TYPE.fields + METRICS_TYPE.fields}


def _stage_udf(stage: Stage, name: str):
    """The scalar Arrow UDF of one stage: an Arrow array of stage inputs in,
    an Arrow array of stage outputs out, built straight from the kernel's
    dicts with no pandas frame between. Scalar (non-iterator) form:
    independent scalar UDFs combine into ONE ArrowEvalPython node (one
    Python worker, one row queue per task) — iterator-form UDFs each get
    their own node, and six chained nodes cost ~45% extra wall on the
    full-struct path (BENCH/r07 notes). Called in-process with a pandas
    Series, it returns the same rows as a frame of Python values."""
    if isinstance(stage.fields, str):
        return_type = _RESULT_FIELDS[stage.fields].dataType
    else:
        return_type = StructType([_RESULT_FIELDS[f] for f in stage.fields])
    arrow_type = to_arrow_type(return_type)

    def udf(values: pa.Array) -> pa.Array:
        out = pa.array(run_batch(stage, values.tolist()), type=arrow_type)
        return out if isinstance(values, pa.Array) else pd.DataFrame(out.to_pylist())

    udf.__name__ = udf.__qualname__ = name  # the name the plan shows
    return F.arrow_udf(udf, return_type)


_STAGE_UDFS = [
    _stage_udf(stage, name)
    for stage, name in zip(
        STAGES,
        (
            "extract_core_udf",
            "segments_udf",
            "fields_udf",
            "classify_udf",
            "entities_udf",
            "deid_udf",
        ),
    )
]
extract_core_udf, segments_udf, fields_udf, classify_udf, entities_udf, deid_udf = (
    _STAGE_UDFS
)


def extract_transcripts(df: DataFrame) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) → extraction
    output. Narrow projection — zero shuffle; Catalyst prunes unused input
    columns down to the parquet scan AND unused stage UDFs out of the plan
    (module docstring)."""
    # Every UDF is bound to a plain column in its own projection, and the
    # result struct is composed from ATTRIBUTE REFERENCES ONLY: struct
    # creation is then cheap enough for CollapseProject to inline into
    # downstream field extractions, SimplifyExtractValueOps rewrites
    # result.<field> to the underlying column, and ColumnPruning drops the
    # stage UDFs no consumer reads (an expensive expression referenced
    # several times — e.g. a UDF inside the struct — would block the
    # collapse and defeat the pruning).
    keys = ("conv_id", "turn_idx", "role", "ts")
    (core_stage, core_udf), *later = zip(STAGES, _STAGE_UDFS)
    core = f"_{core_stage.name}"
    base = df.select(*keys, core_udf(F.col(core_stage.source)).alias(core))
    stage2 = base.select(
        *keys,
        core,
        *[
            udf(F.col(core).getField(stage.source)).alias(f"_{stage.name}")
            for stage, udf in later
        ],
    )
    # the same layout as reference.assemble, in schema order
    cols = {}
    for stage in STAGES:
        out = F.col(f"_{stage.name}")
        if isinstance(stage.fields, str):
            cols[stage.fields] = out
        else:
            cols.update((name, out.getField(name)) for name in stage.fields)
    cols["metrics"] = F.struct(*[cols.pop(f.name).alias(f.name) for f in METRICS_TYPE])
    result = F.struct(*[cols[f.name].alias(f.name) for f in EXTRACTION_RESULT_TYPE])
    return stage2.select(*keys, result.alias("result"))
