"""``conversation_rollup`` against a pure-Python reference of its merge rules.

The reference sorts each conversation's turns by ``turn_idx`` and applies
the rules one turn at a time; the operator must give the same record from
built-in aggregates over rows that arrive in any order and from any number
of partitions.
"""

from __future__ import annotations

import random

from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_URGENCY_RANK = {"routine": 0, "high": 1, "urgent": 2}


def _rank(urgency):
    return _URGENCY_RANK.get(urgency, -1)


NAMES = [None, "", "Alice Smith", "Bob Jones", "Cara Line"]
DRUG_SETS = [None, [], ["aspirin"], ["metformin", "aspirin"], ["warfarin"]]
DISEASE_SETS = [None, [], ["diabetes"], ["hypertension", "diabetes"]]
UNKNOWN_URGENCIES = [None, "", "mystery", "unclear"]
URGENCIES = ["routine", "high", "urgent"] + UNKNOWN_URGENCIES
DOCTYPES = ["consultation", "prescription", "lab_report"]

_STR_ARR = ArrayType(StringType())
TURN_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", LongType()),
        StructField(
            "result",
            StructType(
                [
                    StructField(
                        "extracted",
                        StructType(
                            [
                                StructField("patient_name", StringType()),
                                StructField("doctor_name", StringType()),
                                StructField("hospital", StringType()),
                            ]
                        ),
                    ),
                    StructField("matched_drugs", _STR_ARR),
                    StructField("matched_diseases", _STR_ARR),
                    StructField("urgency", StringType()),
                    StructField("document_type", StringType()),
                ]
            ),
        ),
    ]
)

RECORD_TYPE = (
    "struct<conv_id:string,n_turns:int,patient_name:string,"
    "doctor_name:string,hospital:string,all_drugs:array<string>,"
    "all_diseases:array<string>,max_urgency:string,"
    "document_types:array<string>>"
)


def reference_rollup(conv_id: str, turns: list[dict]) -> dict:
    """One conversation's record: the turns in ``turn_idx`` order, the first
    non-empty string per name field, the sorted union of the drug and
    disease arrays (NULL arrays skipped), the highest-ranked urgency with
    ties to the earliest turn, and the sorted distinct document types."""
    turns = sorted(turns, key=lambda t: t["turn_idx"])

    def first(field):
        return next((t[field] for t in turns if isinstance(t[field], str) and t[field]), None)

    def union(field):
        return sorted({x for t in turns if t[field] is not None for x in t[field]})

    return {
        "conv_id": conv_id,
        "n_turns": len(turns),
        "patient_name": first("patient_name"),
        "doctor_name": first("doctor_name"),
        "hospital": first("hospital"),
        "all_drugs": union("matched_drugs"),
        "all_diseases": union("matched_diseases"),
        # max() keeps the first of equal keys, so the earliest turn wins a tie
        "max_urgency": max((t["urgency"] for t in turns), key=_rank, default=None),
        "document_types": sorted({t["document_type"] for t in turns}),
    }


def _synthetic_turns(rng: random.Random) -> dict[str, list[dict]]:
    """Conversations of 1-6 turns, one all-unknown-urgency conversation and
    one mega-conversation, keyed by 64-bit turn indices above 2^32."""
    sizes = {f"c{i:03d}": rng.randint(1, 6) for i in range(80)}
    sizes["mega"] = 1500
    convs: dict[str, list[dict]] = {}
    for conv_id, n in sizes.items():
        base = rng.randrange(1, 64) << 33
        idx = sorted(rng.sample(range(10 * n), n))
        convs[conv_id] = [
            {
                "turn_idx": base + i,
                "patient_name": rng.choice(NAMES),
                "doctor_name": rng.choice(NAMES),
                "hospital": rng.choice(NAMES),
                "matched_drugs": rng.choice(DRUG_SETS),
                "matched_diseases": rng.choice(DISEASE_SETS),
                "urgency": rng.choice(URGENCIES),
                "document_type": rng.choice(DOCTYPES),
            }
            for i in idx
        ]
    # every urgency unknown, and the earliest and latest turns disagree
    convs["all_unknown"] = [
        dict(convs["c000"][0], turn_idx=(5 << 33) + i, urgency=u)
        for i, u in enumerate(["mystery", None, "", "unclear", "mystery"])
    ]
    return convs


def test_conversation_rollup_equals_reference(spark):
    from pyspark.sql import functions as F

    from htep_spark.operators.conversation import conversation_rollup

    rng = random.Random(20261018)
    convs = _synthetic_turns(rng)
    rows = [
        (
            conv_id,
            t["turn_idx"],
            (
                (t["patient_name"], t["doctor_name"], t["hospital"]),
                t["matched_drugs"],
                t["matched_diseases"],
                t["urgency"],
                t["document_type"],
            ),
        )
        for conv_id, turns in convs.items()
        for t in turns
    ]
    rng.shuffle(rows)
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), TURN_SCHEMA)

    mega_parts = (
        df.filter(F.col("conv_id") == "mega")
        .select(F.spark_partition_id().alias("p"))
        .distinct()
        .count()
    )
    assert mega_parts >= 3, mega_parts
    # the input really carries the cases the merge rules must get right
    assert max(t["turn_idx"] for ts in convs.values() for t in ts) >= 1 << 32
    # conversations whose top rank is held by more than one urgency value
    tied = []
    for conv_id, turns in convs.items():
        top = max(_rank(t["urgency"]) for t in turns)
        if len({t["urgency"] for t in turns if _rank(t["urgency"]) == top}) > 1:
            tied.append(conv_id)
    assert "all_unknown" in tied and len(tied) > 1, tied

    rolled = conversation_rollup(df)
    assert rolled.schema.simpleString() == RECORD_TYPE
    got = sorted((r.asDict() for r in rolled.collect()), key=lambda r: r["conv_id"])
    want = [reference_rollup(c, convs[c]) for c in sorted(convs)]
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g == w, (g["conv_id"], g, w)
