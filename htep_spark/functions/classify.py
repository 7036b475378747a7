"""Document classification, urgency scoring, basic entity regexes (C1–C4).

Pure-Python kernels mirroring ``src/nlp/classifier.py`` exactly; regexes are
precompiled at module import (the reference compiles at init,
``src/nlp/classifier.py:124-128``).
"""

from __future__ import annotations

import re
from typing import Dict, List, Optional, Tuple

from ..dictionaries import (
    DOCUMENT_PATTERNS,
    ENTITY_PATTERNS,
    HIGH_KEYWORDS,
    URGENT_KEYWORDS,
)
from . import batch_regex

__all__ = [
    "classify_document",
    "classify_segments",
    "document_urgency",
    "extract_medical_entities",
]

_COMPILED_PATTERNS = {
    doc_type: [re.compile(p, re.IGNORECASE) for p in data["patterns"]]
    for doc_type, data in DOCUMENT_PATTERNS.items()
}

# Cheap literal gates per pattern: every regex below can only match if at
# least one of the listed lowercase literals occurs in the lowercased text
# (each is a mandatory literal of the pattern / of every alternation
# branch), so a failed `in` scan skips the ~10x-costlier findall with
# provably identical results. Differentially tested against the ungated
# form (`test_classify_pattern_gates_are_sound`); a startup assert keeps
# the table in lockstep with DOCUMENT_PATTERNS.
_PATTERN_GATES: Dict[str, List[Tuple[str, ...]]] = {
    "discharge_summary": [
        ("discharge",), ("admission",), ("hospital",), ("condition",),
    ],
    "lab_report": [
        ("lab",), ("laboratory",), ("reference",),
        ("mg/dl", "mmol/l", "g/dl"),
    ],
    "consultation_note": [
        ("consultation",), ("referred",), ("consulting",), ("specialist",),
    ],
    "prescription": [
        ("rx", "prescription"), ("mg",), ("take",), ("sig",),
    ],
    "radiology_report": [
        ("scan", "report"), ("radiological",), ("contrast",), ("image",),
    ],
    "progress_note": [
        ("progress",), ("soap",),
        ("subjective", "objective", "assessment", "plan"), ("patient",),
    ],
    "operative_report": [
        ("operative",), ("surgical",), ("operative",), ("anesthesia",),
    ],
}
assert set(_PATTERN_GATES) == set(DOCUMENT_PATTERNS) and all(
    len(_PATTERN_GATES[t]) == len(DOCUMENT_PATTERNS[t]["patterns"])
    for t in DOCUMENT_PATTERNS
), "pattern gate table out of sync with DOCUMENT_PATTERNS"
_COMPILED_ENTITY = {
    key: [re.compile(p, re.IGNORECASE if key != "measurements" else 0) for p in pats]
    for key, pats in ENTITY_PATTERNS.items()
}
# RE2 gates of both pattern families, keyed (doc type or entity family,
# position), run once per batch by ``batch_regex.gates``; built and checked
# at import. Every pattern here has an RE2 form.
DOCUMENT_RE2 = batch_regex.table(
    {(t, i): p for t, pats in _COMPILED_PATTERNS.items() for i, p in enumerate(pats)},
    extract=False,
    python_only={},
)
ENTITY_RE2 = batch_regex.table(
    {(k, i): p for k, pats in _COMPILED_ENTITY.items() for i, p in enumerate(pats)},
    extract=False,
    python_only={},
)


def classify_document(text: str, fires: Optional[Dict[Tuple[str, int], bool]] = None) -> Dict:
    """Rule-based document-type classification (C1).

    ``MedicalDocumentClassifier.classify_document``
    (``src/nlp/classifier.py:130-200``): score per type = keyword substring
    hits (+1 each) + 2 x regex match count; no hits → ``general_medical``
    conf 0.3; best type by score with dict-order stable tie-break;
    confidence = best/total capped at 0.95; top-2 nonzero runner-ups as
    secondary types; keywords dedup via ``set`` (order not guaranteed —
    consumers must treat as a set; we sort for determinism).

    ``fires`` is this turn's answer from ``batch_regex.gates`` over
    ``DOCUMENT_RE2``: the patterns it marks ``False`` cannot match. ``None``:
    the literal gates decide.
    """
    if not text or not text.strip():
        return {
            "document_type": "unknown",
            "confidence": 0.0,
            "secondary_types": [],
            "keywords_found": [],
        }

    text_lower = text.lower()
    scores: Dict[str, int] = {}
    all_keywords: List[str] = []
    for doc_type, data in DOCUMENT_PATTERNS.items():
        score = 0
        for keyword in data["keywords"]:
            if keyword in text_lower:
                score += 1
                all_keywords.append(keyword)
        for i, (pattern, gates) in enumerate(
            zip(_COMPILED_PATTERNS[doc_type], _PATTERN_GATES[doc_type])
        ):
            if fires is None:
                if not any(g in text_lower for g in gates):
                    continue  # mandatory literal absent — findall cannot match
            elif not fires[doc_type, i]:
                continue
            matches = pattern.findall(text)
            score += len(matches) * 2
            all_keywords.extend(matches)
        scores[doc_type] = score

    if not any(scores.values()):
        return {
            "document_type": "general_medical",
            "confidence": 0.3,
            "secondary_types": [],
            "keywords_found": [],
        }

    ranked = sorted(scores.items(), key=lambda kv: kv[1], reverse=True)
    best_type, best_score = ranked[0]
    total = sum(scores.values())
    confidence = best_score / max(total, 1)
    secondary = [
        {"document_type": t, "confidence": s / max(total, 1)}
        for t, s in ranked[1:3]
        if s > 0
    ]
    return {
        "document_type": best_type,
        "confidence": min(confidence, 0.95),
        # deterministic ordering for byte-stable comparison (reference uses
        # an unordered set at :199)
        "keywords_found": sorted(set(all_keywords)),
        "secondary_types": secondary,
    }


def classify_segments(segments: List[Dict]) -> Dict[str, Dict]:
    """C3 (``src/nlp/classifier.py:202-219``): C1 per segment, keyed
    ``{segment_type}_{start_line}``."""
    return {
        f"{seg['segment_type']}_{seg['start_line']}": classify_document(seg["content"])
        for seg in segments
    }


def document_urgency(text: str) -> Tuple[str, float]:
    """C2 (``src/nlp/classifier.py:221-257``): two keyword tiers,
    thresholded substring-hit counts → (level, confidence)."""
    text_lower = text.lower()
    urgent = sum(1 for k in URGENT_KEYWORDS if k in text_lower)
    high = sum(1 for k in HIGH_KEYWORDS if k in text_lower)
    if urgent >= 2:
        return ("urgent", 0.9)
    if urgent >= 1:
        return ("urgent", 0.7)
    if high >= 2:
        return ("high", 0.8)
    if high >= 1:
        return ("high", 0.6)
    return ("routine", 0.5)


# Same literal-gate scheme as _PATTERN_GATES, for the C4 entity families:
# every alternation branch of each pattern contains one of the listed
# lowercase literals (a case-sensitive pattern's match still lowers into
# the lowercased text, so the implication holds for `measurements` too).
_ENTITY_GATES: Dict[str, List[Tuple[str, ...]]] = {
    "medications": [
        ("cillin", "mycin", "pril", "sartan", "olol", "pine", "zole", "mine"),
        ("aspirin", "ibuprofen", "acetaminophen", "paracetamol", "insulin"),
    ],
    "conditions": [
        ("diabetes", "hypertension", "pneumonia", "bronchitis", "asthma"),
        ("fracture", "infection", "inflammation", "tumor", "cancer"),
    ],
    "procedures": [
        ("surgery", "biopsy", "x-ray", "ct scan", "mri", "ultrasound"),
        ("blood test", "urine test", "ecg", "ekg", "colonoscopy"),
    ],
    "measurements": [
        ("mg/dl", "mmol/l", "g/dl", "kg", "lbs", "cm", "ft", "in"),
        ("mmhg",),
        ("°",),
    ],
}
assert set(_ENTITY_GATES) == set(ENTITY_PATTERNS) and all(
    len(_ENTITY_GATES[k]) == len(ENTITY_PATTERNS[k]) for k in ENTITY_PATTERNS
), "entity gate table out of sync with ENTITY_PATTERNS"


def extract_medical_entities(
    text: str, fires: Optional[Dict[Tuple[str, int], bool]] = None
) -> Dict[str, List[str]]:
    """C4 (``src/nlp/classifier.py:259-320``): four entity regex families,
    set-dedup (sorted here for determinism; measurement patterns are
    case-sensitive in the reference — ``re.findall`` without flags at :314).
    ``fires``: the turn's RE2 gates over ``ENTITY_RE2``, as in
    :func:`classify_document`."""
    low = text.lower()
    entities: Dict[str, List[str]] = {}
    for key, patterns in _COMPILED_ENTITY.items():
        found: List[str] = []
        for i, (pattern, gates) in enumerate(zip(patterns, _ENTITY_GATES[key])):
            if fires is None:
                if not any(g in low for g in gates):
                    continue  # mandatory literal absent — findall cannot match
            elif not fires[key, i]:
                continue
            found.extend(pattern.findall(text))
        entities[key] = sorted(set(found))
    return entities
