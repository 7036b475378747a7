"""De-identification span masking + sentence boundary extraction.

Both stages are mandated by the north_star ("HTEP's clinical-text
normalizers (section-header detection, de-identification span masking,
sentence/segment boundary extraction)"). The reference has no explicit
de-id module; the PII detectors below reuse its own field-extraction
patterns (``src/nlp/medical_extractor.py:62-118`` — the fields a clinical
platform extracts are exactly the fields a de-identifier must mask), plus
standard ID/phone shapes from its synthetic corpus (``Patient ID : CH-3021``,
``tests/generate_synthetic_data.py:61-78``).

``deidentify(text)`` returns the masked text and the PII spans
``(start_char, end_char, kind)`` against the ORIGINAL text — the span
bookkeeping the north_star requires. Deterministic, regex-only, pure
Python; it is the ``deid`` stage of ``reference.STAGES``, whose Spark
surface is the stage UDF ``operators/extract.deid_udf``.

``split_sentences(text)`` extracts sentence spans with a deliberately
RE2-safe rule (``[^.!?]+[.!?]?`` runs, trimmed, non-empty) so the Spark and
DuckDB oracle forms (`driver_queries.q_sentences`) share it exactly.
"""

from __future__ import annotations

import re
from typing import Dict, List, Optional

from . import batch_regex

__all__ = [
    "PII_PATTERNS",
    "DATE_PATTERN",
    "ID_PATTERN",
    "PHONE_PATTERN",
    "deidentify",
    "split_sentences",
    "SENTENCE_PATTERN",
]

_DIGIT_RE = re.compile(r"\d")

# Raw RE2-safe (lookaround-free) detector bodies — single source shared by
# the Python kernel below AND the DuckDB `deid_spans` oracle
# (`driver_queries.SQL_DEID_SPANS` is generated from these constants).
DATE_PATTERN = (
    r"\d{4}-\d{2}-\d{2}|\d{1,2}/\d{1,2}/\d{2,4}|\d{1,2}(?:st|nd|rd|th)?\s+"
    r"(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)[a-z]*\s+\d{4}"
)
ID_PATTERN = r"[A-Z]{2,3}-\d{3,}"
PHONE_PATTERN = r"\d{3}[-.\s]\d{3,4}[-.\s]\d{4}"

# Detection order matters: earlier kinds claim overlapping spans first.
PII_PATTERNS = [
    # patient name (medical_extractor.py:83 — lookahead-bounded)
    (
        "NAME",
        re.compile(
            r"(?:Patient|Name)\s*[:\-]\s*([A-Za-z\s]+?)"
            r"(?=\n|,|\s+(?:Age|DOB|Date|Gender|Sex|Diagnosis|Rx|BP))",
            re.IGNORECASE,
        ),
    ),
    # doctor name (medical_extractor.py:88)
    (
        "NAME",
        re.compile(
            r"(?:Dr\.?|Doctor|Physician)\s*[:\-]?\s*([A-Za-z\.\s]+?)"
            r"(?=\n|,|$|\s+(?:Patient|Hospital|Clinic|Date|Diagnosis|Rx|Age|BP))",
            re.IGNORECASE | re.MULTILINE,
        ),
    ),
    # dates (medical_extractor.py:78)
    ("DATE", re.compile(rf"\b({DATE_PATTERN})\b", re.IGNORECASE)),
    # record IDs (synthetic-corpus shape CH-3021; generic LETTERS-digits)
    ("ID", re.compile(rf"\b{ID_PATTERN}\b")),
    # phone-ish numbers
    ("PHONE", re.compile(rf"\b{PHONE_PATTERN}\b")),
    # age values (medical_extractor.py:98 — mask the number only)
    ("AGE", re.compile(r"(?:Age)\s*[:\-]\s*(\d+)", re.IGNORECASE)),
]


# RE2 gates of the detectors, keyed by position in PII_PATTERNS, run once
# per batch by ``batch_regex.gates``; built and checked at import. The two
# name detectors end in a lookahead, so they run in Python on every turn.
PII_RE2 = batch_regex.table(
    dict(enumerate(pattern for _, pattern in PII_PATTERNS)),
    extract=False,
    python_only={0: "lookahead", 1: "lookahead"},
)


def deidentify(text: str, fires: Optional[Dict[int, bool]] = None) -> Dict:
    """→ ``{masked_text, spans: [{start_char, end_char, kind}]}``.

    Spans reference the original text, are non-overlapping (first detector
    wins), and sorted by start offset. Masking replaces each span with
    ``[KIND]``. ``fires`` is this turn's answer from ``batch_regex.gates``
    over ``PII_RE2``: the detectors it marks ``False`` cannot match; the
    others (and all of them, when ``None``) pass the literal gates below.
    """
    if not text:
        return {"masked_text": "", "spans": []}
    # cheap permissive gates (each pattern literally requires these
    # substrings/digits, so skipping cannot change results)
    lower = text.lower()
    has_digit = _DIGIT_RE.search(text) is not None
    gates = [
        ("patient" in lower or "name" in lower),
        ("dr" in lower or "doctor" in lower or "physician" in lower),
        has_digit,  # DATE
        has_digit,  # ID
        has_digit,  # PHONE
        has_digit and "age" in lower,
    ]
    if fires is not None:
        gates = [fires.get(i, gate) for i, gate in enumerate(gates)]
    taken: List[tuple] = []

    def overlaps(s: int, e: int) -> bool:
        return any(s < te and ts < e for ts, te, _ in taken)

    for (kind, pattern), enabled in zip(PII_PATTERNS, gates):
        if not enabled:
            continue
        for m in pattern.finditer(text):
            group = 1 if m.groups() else 0
            s, e = m.start(group), m.end(group)
            if s == e or overlaps(s, e):
                continue
            taken.append((s, e, kind))
    taken.sort()
    out = []
    cursor = 0
    for s, e, kind in taken:
        out.append(text[cursor:s])
        out.append(f"[{kind}]")
        cursor = e
    out.append(text[cursor:])
    return {
        "masked_text": "".join(out),
        "spans": [
            {"start_char": s, "end_char": e, "kind": k} for s, e, k in taken
        ],
    }


# RE2-safe (no lookaround) — shared verbatim by the DuckDB oracle.
SENTENCE_PATTERN = r"[^.!?]+[.!?]?"
_SENTENCE_RE = re.compile(SENTENCE_PATTERN)


def split_sentences(text: str) -> List[Dict]:
    """Sentence spans: ``[{sent_idx, content, start_char, end_char}]``."""
    if not text:
        return []
    sentences = []
    idx = 0
    for m in _SENTENCE_RE.finditer(text):
        content = m.group(0).strip()
        if not content:
            continue
        lead = len(m.group(0)) - len(m.group(0).lstrip())
        start = m.start() + lead
        sentences.append(
            {
                "sent_idx": idx,
                "content": content,
                "start_char": start,
                "end_char": start + len(content),
            }
        )
        idx += 1
    return sentences
