"""Spark schemas: transcript input and canonical per-turn extraction output.

Input shape is authoritative from BASELINE.json ``input_hint``:
``(conv_id:string, turn_idx:int32, role:string, text:string, tool:string,
ts:timestamp)``. The output struct is the Spark-typed form of the
reference's API response (``app/api.py:295-321``) plus the north_star span
and metrics extensions.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("role", StringType(), True),
        StructField("text", StringType(), True),
        StructField("tool", StringType(), True),
        StructField("ts", TimestampType(), True),
    ]
)

CORRECTION_TYPE = StructType(
    [
        StructField("from", StringType(), True),
        StructField("to", StringType(), True),
        StructField("type", StringType(), True),
        StructField("score", IntegerType(), True),
    ]
)

SEGMENT_TYPE = StructType(
    [
        StructField("segment_type", StringType(), True),
        StructField("content", StringType(), True),
        StructField("confidence", DoubleType(), True),
        StructField("start_line", IntegerType(), True),
        StructField("end_line", IntegerType(), True),
        StructField("start_char", IntegerType(), True),
        StructField("end_char", IntegerType(), True),
    ]
)

MEDICINE_TYPE = StructType(
    [
        StructField("name", StringType(), True),
        StructField("dosage", StringType(), True),
        StructField("frequency", StringType(), True),
    ]
)

EXTRACTED_TYPE = StructType(
    [
        StructField("patient_name", StringType(), True),
        StructField("age", StringType(), True),
        StructField("gender", StringType(), True),
        StructField("date", StringType(), True),
        StructField("doctor_name", StringType(), True),
        StructField("hospital", StringType(), True),
        StructField("diagnosis", ArrayType(StringType()), True),
        StructField("medicines", ArrayType(MEDICINE_TYPE), True),
        StructField(
            "vitals",
            StructType(
                [
                    StructField("bp", StringType(), True),
                    StructField("temp", StringType(), True),
                    StructField("pulse", StringType(), True),
                ]
            ),
            True,
        ),
        StructField("instructions", ArrayType(StringType()), True),
    ]
)

SECONDARY_TYPE = StructType(
    [
        StructField("document_type", StringType(), True),
        StructField("confidence", DoubleType(), True),
    ]
)

ENTITIES_TYPE = StructType(
    [
        StructField("medications", ArrayType(StringType()), True),
        StructField("conditions", ArrayType(StringType()), True),
        StructField("procedures", ArrayType(StringType()), True),
        StructField("measurements", ArrayType(StringType()), True),
    ]
)

DEID_TYPE = StructType(
    [
        StructField("masked_text", StringType(), True),
        StructField(
            "spans",
            ArrayType(
                StructType(
                    [
                        StructField("start_char", IntegerType(), True),
                        StructField("end_char", IntegerType(), True),
                        StructField("kind", StringType(), True),
                    ]
                )
            ),
            True,
        ),
    ]
)

METRICS_TYPE = StructType(
    [
        StructField("blocks_kept", IntegerType(), True),
        StructField("blocks_dropped", IntegerType(), True),
        StructField("n_segments", IntegerType(), True),
        StructField("n_corrections", IntegerType(), True),
        StructField("content_chars", IntegerType(), True),
        StructField("failed", BooleanType(), True),
        StructField("error", StringType(), True),
    ]
)

EXTRACTION_RESULT_TYPE = StructType(
    [
        StructField("payload_kind", StringType(), True),
        StructField("content", StringType(), True),
        StructField("final_text", StringType(), True),
        StructField("corrected_text", StringType(), True),
        StructField("corrections", ArrayType(CORRECTION_TYPE), True),
        StructField("matched_drugs", ArrayType(StringType()), True),
        StructField("matched_diseases", ArrayType(StringType()), True),
        StructField("segments", ArrayType(SEGMENT_TYPE), True),
        StructField("extracted", EXTRACTED_TYPE, True),
        StructField("document_type", StringType(), True),
        StructField("doc_confidence", DoubleType(), True),
        StructField("keywords_found", ArrayType(StringType()), True),
        StructField("secondary_types", ArrayType(SECONDARY_TYPE), True),
        StructField("urgency", StringType(), True),
        StructField("urgency_confidence", DoubleType(), True),
        StructField("entities", ENTITIES_TYPE, True),
        StructField("deid", DEID_TYPE, True),
        StructField("metrics", METRICS_TYPE, True),
    ]
)
