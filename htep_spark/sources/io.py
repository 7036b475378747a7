"""Sources & sinks: SparkSession factory, table IO, transcript synthesis.

The storage layer is parquet in this sandbox; the module keeps every
path/catalog decision behind one seam so an Iceberg catalog
(``spark.read.format("iceberg")`` + ``bucket(N, conv_id)`` partition
transform) is a config-only swap (SURVEY.md §7.1 step 7). At 10^12-turn
scale the input table is bucketed by ``conv_id`` so per-conversation stages
shuffle nothing; per-turn stages are embarrassingly parallel either way.

``synthesize_transcripts`` generates the deterministic conversation corpus
(FIXTURES.md §1-2): clinical notes (the reference's synthetic-corpus
template, ``tests/generate_synthetic_data.py:61-78``), OCR-noisy variants
(confusion table of ``src/nlp/block_parser.py:245-255`` reversed),
HTML-wrapped, PDF-layout JSON, markdown-fenced, and edge-case payloads.
Generation is a pure function of the global turn number — no RNG state —
so it synthesizes identically on the driver (tests) and distributed via
``mapInPandas`` over ``spark.range`` (bench at scale, no driver bottleneck).
"""

from __future__ import annotations

import datetime as _dt
import json
from typing import Iterator, List, Optional, Tuple

import pandas as pd

from ..dictionaries import DISEASES_SINGLE, DRUGS_SINGLE


def get_spark(app_name: str = "htep-spark", cores: Optional[int] = None,
              shuffle_partitions: Optional[int] = None, extra_conf: Optional[dict] = None):
    """Tuned local SparkSession. On a real cluster, spark-submit provides
    the session; these confs mirror the job defaults (AQE on, Arrow on)."""
    from pyspark.sql import SparkSession

    master = f"local[{cores}]" if cores else "local[*]"
    # single-JVM local mode: scale heap with task slots, as a real cluster
    # scales total memory with executor count (4N executors = 4N x memory)
    heap_gb = max(8, int((cores or 32) * 1.5))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.driver.memory", f"{heap_gb}g")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def write_bucketed_transcripts(df, table_name: str, n_buckets: int = 32) -> None:
    """Persist transcripts bucketed by ``conv_id`` (the parquet analogue of
    the Iceberg partition transform ``bucket(N, conv_id)`` from SURVEY.md
    §4). A per-conversation groupBy or join over a frame read straight
    from this table reuses the layout and plans no shuffle (asserted in
    ``tests/test_bucketing.py``). Over ``run_extraction`` of the table it
    does not: the ArrowEvalPython nodes of the stage UDFs drop the scan's
    partitioning, so ``conversation_rollup`` of the extraction still plans
    one ``Exchange``; to skip it, bucket the extraction output instead."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, "conv_id")
        .sortBy("conv_id", "turn_idx")
        .format("parquet")
        .saveAsTable(table_name)
    )


# --------------------------------------------------------------------------
# Deterministic transcript synthesis
# --------------------------------------------------------------------------

_FIRST = ["John", "Jane", "Robert", "Emily", "Michael", "Sarah", "David", "Laura", "James", "Emma"]
_LAST = ["Smith", "Johnson", "Williams", "Brown", "Jones", "Garcia", "Miller", "Davis"]
_HOSPITALS = ["CityCare Hospital", "General Hospital", "Mercy Medical Center", "Sunrise Clinic"]
_DOCTORS = ["Dr. Smith", "Dr. Adams", "Dr. Kapoor", "Dr. Lee"]
_FREQS = ["once daily", "twice daily", "thrice daily", "every 8 hours", "morning and night"]
_DOSES = [5, 10, 50, 100, 250, 500]
_INSTRUCTIONS = [
    "Return to clinic if symptoms worsen.",
    "Continue medications as prescribed.",
    "Avoid high-sugar foods.",
    "Drink plenty of fluids.",
    "Schedule a follow-up in 2 weeks.",
]
_ROLES = ["user", "assistant", "tool", "system"]
# reverse of the OCR-confusion table (src/nlp/block_parser.py:245-255)
_NOISE = {"o": "0", "l": "1", "e": "3", "s": "5", "g": "6", "b": "8"}

_MIX = 2654435761  # Knuth multiplicative hash for template/param picks


def _pick(i: int, salt: int, seq):
    return seq[((i + salt * 97) * _MIX >> 7) % len(seq)]


def _note(i: int) -> str:
    """Discharge-summary template of the reference synthetic corpus
    (``tests/generate_synthetic_data.py:61-78``)."""
    name = f"{_pick(i, 1, _FIRST)} {_pick(i, 2, _LAST)}"
    disease = _pick(i, 3, DISEASES_SINGLE)
    disease2 = _pick(i, 4, DISEASES_SINGLE)
    drug = _pick(i, 5, DRUGS_SINGLE).title()
    drug2 = _pick(i, 6, DRUGS_SINGLE).title()
    lines = [
        f"{_pick(i, 7, _HOSPITALS)} - Discharge Summary",
        f"Patient Name : {name}",
        f"Patient ID : CH-{1000 + i % 9000}",
        f"Age : {20 + i % 61}",
        f"Gender : {'Male' if i % 2 else 'Female'}",
        f"Date : {1 + i % 28:02d}/{1 + i % 12:02d}/2025",
        "Diagnosis:",
        f"- {disease.title()}",
        f"- {disease2.title()}",
        "Treatment Summary:",
        f"- {drug} {_pick(i, 8, _DOSES)}mg {_pick(i, 9, _FREQS)}",
        f"- {drug2} {_pick(i, 10, _DOSES)}mg {_pick(i, 11, _FREQS)}",
        "Follow up instructions:",
        f"- {_pick(i, 12, _INSTRUCTIONS)}",
        f"- {_pick(i, 13, _INSTRUCTIONS)}",
        f"Consultant: {_pick(i, 14, _DOCTORS)}",
        "Signature:",
    ]
    return "\n".join(lines)


def _noisy(text: str, i: int) -> str:
    """Inject OCR confusions into every k-th word (deterministic)."""
    words = text.split(" ")
    out = []
    for j, w in enumerate(words):
        if (i + j) % 5 == 0:
            out.append("".join(_NOISE.get(c, c) for c in w))
        else:
            out.append(w)
    return " ".join(out)


def _html(note: str, i: int) -> str:
    paras = "".join(f"<p>{line}</p>" for line in note.splitlines())
    return (
        "<html><head><title>record</title><script>var x=1;</script>"
        "<style>p{margin:0}</style></head><body>"
        "<nav><a href='/'>Home</a> <a href='/records'>Records</a> "
        "<a href='/help'>Help</a></nav>"
        f"<div class='main'>{paras}</div>"
        f"<footer><a href='/terms'>Terms</a> &copy; clinic {i % 100}</footer>"
        "</body></html>"
    )


def _pdf(note: str, i: int) -> str:
    lines = note.splitlines()
    mid = max(1, len(lines) // 2)
    pages = []
    for page_no, chunk in ((1, lines[:mid]), (2, lines[mid:])):
        blocks = [
            {"bbox": [10, 20 * k, 400, 20 * k + 15], "text": line}
            for k, line in enumerate(chunk)
        ]
        # shuffle block order deterministically to exercise the sorter
        blocks = blocks[::-1] if i % 2 else blocks
        pages.append({"page": page_no, "blocks": blocks})
    if i % 3 == 0:
        pages = pages[::-1]
    return json.dumps({"kind": "pdf_layout", "pages": pages})


_EDGES = [
    "",
    "   ",
    "word",
    "BP: 120 / 80, Temp: 98.6 F, Pulse: 72 bpm",
    "Paracetamol\nParacetmol\nParcetmal",
    "emergency stat critical condition in the emergency room",
    "History of heart failure and acute kidney injury noted",
]


def make_turn_text(global_idx: int) -> Tuple[str, str]:
    """→ ``(payload_text, tool_hint)``, pure function of the turn number."""
    kind = global_idx % 10
    note = _note(global_idx)
    if kind < 3:
        return note, ""
    if kind < 5:
        return _noisy(note, global_idx), "ocr_upload"
    if kind < 7:
        return _html(note, global_idx), ""
    if kind == 7:
        return _pdf(note, global_idx), "pdf_upload"
    if kind == 8:
        return "```text\nTranscription: " + _noisy(note, global_idx) + "\n```", ""
    return _EDGES[global_idx % len(_EDGES)], ""


_BASE_TS = _dt.datetime(2026, 1, 1)


def _conv_layout(n_turns: int, n_convs: int, mega_share: float) -> List[int]:
    """Turn counts per conversation; conversation 0 is the skewed mega-conv
    holding ``mega_share`` of all turns (FIXTURES.md §1)."""
    mega = int(n_turns * mega_share)
    rest = n_turns - mega
    base = max(1, rest // max(1, n_convs - 1))
    counts = [mega]
    remaining = rest
    for _ in range(n_convs - 1):
        take = min(base, remaining)
        counts.append(take)
        remaining -= take
    counts[-1] += remaining
    return [c for c in counts if c > 0]


def synthesize_transcripts_pdf(
    n_turns: int, n_convs: int = 0, mega_share: float = 0.2
) -> pd.DataFrame:
    """Driver-side (pandas) synthesis for tests/fixtures."""
    if n_convs <= 0:
        n_convs = max(2, n_turns // 20)
    rows = []
    gidx = 0
    for conv_no, count in enumerate(_conv_layout(n_turns, n_convs, mega_share)):
        conv_id = f"conv-{conv_no:06d}"
        for turn_idx in range(count):
            text, tool = make_turn_text(gidx)
            role = _ROLES[gidx % len(_ROLES)]
            if tool and role != "tool":
                tool = ""
            rows.append(
                {
                    "conv_id": conv_id,
                    "turn_idx": turn_idx,
                    "role": role,
                    "text": text,
                    "tool": tool,
                    "ts": _BASE_TS
                    + _dt.timedelta(hours=conv_no, seconds=30 * turn_idx),
                }
            )
            gidx += 1
    return pd.DataFrame(rows)


def synthesize_transcripts(spark, n_turns: int, n_convs: int = 0,
                           mega_share: float = 0.2, partitions: int = 32):
    """Distributed synthesis: ``spark.range`` → ``mapInPandas``. Scales to
    arbitrary row counts with zero driver materialization."""
    from ..schema import TRANSCRIPT_SCHEMA

    if n_convs <= 0:
        n_convs = max(2, n_turns // 20)
    counts = _conv_layout(n_turns, n_convs, mega_share)
    # prefix-sum boundaries let an executor map global idx → (conv, turn)
    bounds = []
    acc = 0
    for c in counts:
        bounds.append((acc, acc + c))
        acc += c

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import bisect

        starts = [b[0] for b in bounds]
        for batch in batches:
            ids = batch["id"].tolist()
            rows = []
            for gidx in ids:
                conv_no = bisect.bisect_right(starts, gidx) - 1
                turn_idx = gidx - starts[conv_no]
                text, tool = make_turn_text(gidx)
                role = _ROLES[gidx % len(_ROLES)]
                if tool and role != "tool":
                    tool = ""
                rows.append(
                    (
                        f"conv-{conv_no:06d}",
                        turn_idx,
                        role,
                        text,
                        tool,
                        _BASE_TS + _dt.timedelta(hours=conv_no, seconds=30 * turn_idx),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
            )

    return (
        spark.range(0, acc, numPartitions=partitions)
        .mapInPandas(gen, schema=TRANSCRIPT_SCHEMA)
    )
