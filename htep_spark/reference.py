"""The per-turn reference extractor — single source of truth.

``extract_turn(text)`` is the canonical operator chain of this platform
(SURVEY.md §2.9): payload decode (PDF-layout parse / HTML boilerplate strip
/ markdown-fence strip, replacing the reference's OCR stage) → dictionary
correction (T7) → segmentation with spans (G5) → structured field
extraction (E1/E2/E5) → classification + urgency + entities (C1/C2/C4).

Composition: each downstream consumer uses the reference DAG it belongs to.
``final_text = content.strip()`` and classifier/urgency on the corrected
text follow the API DAG (``app/api.py:233,280-293``). The structured-field
extractor consumes ``final_text`` (newlines intact) per the offline-eval
DAG (``tests/evaluate_metrics.py:39-90``) — the path that produced the
reference's own ``ground_truth.json``; the API path would feed it the
whitespace-collapsed post-processor output (T7 joins tokens with a single
space, ``src/nlp/ocr_postprocessor.py:270``), which destroys every
line-anchored field regex. Segments come from the CLI DAG
(``src/pipeline/controller.py:22-45``) and are computed on the decoded
``content`` with char spans. These composition choices are this engine's
canonical semantics; every per-operator behavior is reference-faithful.

The chain is written once, as the stage table ``STAGES``: core (decode +
T7 correction), segments, fields, classify (+ urgency), entities and deid,
each with its input field, batch kernel and default output.
``extract_turns`` composes the table in-process; the six Spark stage UDFs
(``htep_spark/operators/extract.py``), the only Spark extraction surface,
are built from the same table — equality by construction, then tested
anyway. Every stage kernel maps a batch of values (an Arrow batch in
Spark) to one output per value; the core stage scores the T7 memo misses
of the whole batch together, the reference's own batching fix
(``BlockICREngine._batch_predict_chars``,
``src/recognition/icr_block_engine.py:162-195``), and the fields,
classify, entities and deid stages answer each lookaround-free regex in
one RE2 pass over the batch (``functions/batch_regex.py``) before their
per-value kernels run. A turn's result never depends on the batch it
lands in; ``extract_turn`` is the batch of one.

One failure model on every path (``app/api.py:215-293`` stage
isolation): a raising stage yields its own default and the other stages
run as usual; only a core failure sets ``metrics.failed``/``metrics.error``.
A raising batch is re-run value by value, so only the raising turn takes
the default. A turn is never lost.
"""

from __future__ import annotations

from typing import Callable, Dict, List, NamedTuple, Optional, Sequence, Tuple, Union

from .dictionaries import (
    DISEASES_MULTI,
    DISEASES_SINGLE,
    DISEASE_SET,
    DRUGS_MULTI,
    DRUGS_SINGLE,
    DRUG_SET,
)
from .functions import batch_regex
from .functions.deid import PII_RE2, deidentify
from .functions.classify import (
    DOCUMENT_RE2,
    ENTITY_RE2,
    classify_document,
    document_urgency,
    extract_medical_entities,
)
from .functions.extract_fields import FIELD_RE2, extract_record
from .functions.html_extract import (
    extract_main_content,
    looks_like_html,
    strip_markdown_fences,
)
from .functions.chat_json import looks_like_chat_json, parse_chat_json
from .functions.pdf_layout import looks_like_pdf_layout, parse_pdf_layout
from .functions.segments import segment_document
from .functions.textops import fusion_correct, postprocess_batch

__all__ = [
    "STAGES",
    "Stage",
    "assemble",
    "decode_payload",
    "extract_turn",
    "extract_turns",
    "fusion_correct",
    "run_batch",
    "run_stage",
]

# Per-process fuzzy-lookup memo tables (pure caches: same in → same out).
_DRUG_MEMO: Dict = {}
_DISEASE_MEMO: Dict = {}


def decode_payload(text: Optional[str]) -> Tuple[str, str, int, int]:
    """Payload router → ``(content, payload_kind, blocks_kept, blocks_dropped)``.

    Content-sniff routing (the text-domain analogue of the file-suffix
    routing at ``app/api.py:170-178``): PDF-layout JSON → HTML markup →
    markdown-fenced → plain text. Deterministic per turn, independent of
    any side channel.
    """
    if not text:
        return "", "plain", 0, 0
    if looks_like_pdf_layout(text):
        parsed = parse_pdf_layout(text)
        if parsed is not None:
            content, n_blocks = parsed
            return content, "pdf_layout", n_blocks, 0
    if looks_like_chat_json(text):
        parsed = parse_chat_json(text)
        if parsed is not None:
            content, n_blocks = parsed
            return content, "chat_json", n_blocks, 0
    if looks_like_html(text):
        content, kept, dropped = extract_main_content(text)
        return content, "html", kept, dropped
    if "```" in text:
        return strip_markdown_fences(text), "markdown", 0, 0
    return text, "plain", 0, 0


def _core(texts: List[str]) -> List[Dict]:
    """Payload decode (S1-S3 routing) + T7 dictionary post-processing: the
    trunk every later stage reads."""
    decoded = [decode_payload(text) for text in texts]
    # app/api.py:233 — the canonical text is the decoded content, stripped.
    finals = [content.strip() for content, _, _, _ in decoded]
    posts = postprocess_batch(
        finals,
        DRUGS_SINGLE,
        DRUGS_MULTI,
        DRUG_SET,
        DISEASES_SINGLE,
        DISEASES_MULTI,
        DISEASE_SET,
        85.0,
        _DRUG_MEMO,
        _DISEASE_MEMO,
    )
    return [
        {
            "payload_kind": payload_kind,
            "content": content,
            "final_text": final_text,
            "corrected_text": post["corrected_text"] if final_text else "",
            "corrections": [
                {
                    "from": c["from"],
                    "to": c["to"],
                    "type": c["type"],
                    "score": int(c["score"]),
                }
                for c in post["corrections"]
            ],
            "matched_drugs": post["matched_drugs"],
            "matched_diseases": post["matched_diseases"],
            "blocks_kept": kept,
            "blocks_dropped": dropped,
            "n_corrections": len(post["corrections"]),
            "content_chars": len(content),
            "failed": False,
            "error": None,
        }
        for (content, payload_kind, kept, dropped), final_text, post in zip(
            decoded, finals, posts
        )
    ]


def _core_default(text: str, exc: Exception) -> Dict:
    """The raw text passes through as plain content; the only stage whose
    failure sets ``metrics.failed``."""
    stripped = text.strip()
    return {
        "payload_kind": "plain",
        "content": text,
        "final_text": stripped,
        "corrected_text": stripped,
        "corrections": [],
        "matched_drugs": [],
        "matched_diseases": [],
        "blocks_kept": 0,
        "blocks_dropped": 0,
        "n_corrections": 0,
        "content_chars": len(text),
        "failed": True,
        "error": f"{type(exc).__name__}: {exc}",
    }


def _segments(contents: List[str]) -> List[Dict]:
    # segments on multi-line content (documented deviation, module docstring)
    out = []
    for content in contents:
        segments = segment_document(content)
        out.append({"segments": segments, "n_segments": len(segments)})
    return out


def _segments_default(_content: str, _exc: Exception) -> Dict:
    return {"segments": [], "n_segments": 0}


def _fields(final_texts: List[str]) -> List[Dict]:
    # eval-harness DAG: field extraction on the newline-intact final text
    out = []
    for final_text, found in zip(final_texts, batch_regex.extracts(final_texts, FIELD_RE2)):
        extracted = extract_record(final_text, found) if final_text else {}
        if not extracted:
            out.append(_fields_default(final_text, None))
            continue
        vit = extracted.get("vitals") or {}
        extracted["vitals"] = {
            "bp": vit.get("bp"),
            "temp": vit.get("temp"),
            "pulse": vit.get("pulse"),
        }
        out.append(extracted)
    return out


def _fields_default(_final_text: str, _exc: Optional[Exception]) -> Dict:
    return {
        "patient_name": None,
        "age": None,
        "gender": None,
        "date": None,
        "doctor_name": None,
        "hospital": None,
        "diagnosis": [],
        "medicines": [],
        "vitals": {"bp": None, "temp": None, "pulse": None},
        "instructions": [],
    }


def _classify(correcteds: List[str]) -> List[Dict]:
    out = []
    for corrected, fires in zip(correcteds, batch_regex.gates(correcteds, DOCUMENT_RE2)):
        # reference chain order: classify, then urgency
        cls = classify_document(corrected, fires)
        urgency, urgency_conf = document_urgency(corrected)
        out.append(
            {
                "document_type": cls["document_type"],
                "doc_confidence": float(cls["confidence"]),
                "keywords_found": cls["keywords_found"],
                "secondary_types": cls["secondary_types"],
                "urgency": urgency,
                "urgency_confidence": float(urgency_conf),
            }
        )
    return out


def _classify_default(_corrected: str, _exc: Exception) -> Dict:
    return {
        "document_type": "unknown",
        "doc_confidence": 0.0,
        "keywords_found": [],
        "secondary_types": [],
        "urgency": "routine",
        "urgency_confidence": 0.5,
    }


def _entities(correcteds: List[str]) -> List[Dict]:
    return [
        extract_medical_entities(corrected, fires)
        for corrected, fires in zip(correcteds, batch_regex.gates(correcteds, ENTITY_RE2))
    ]


def _entities_default(_corrected: str, _exc: Exception) -> Dict:
    return {"medications": [], "conditions": [], "procedures": [], "measurements": []}


def _deid(final_texts: List[str]) -> List[Dict]:
    # north_star de-identification: masked text + PII spans against the
    # newline-intact final text (same reference frame as the extractor)
    return [
        deidentify(final_text, fires)
        for final_text, fires in zip(final_texts, batch_regex.gates(final_texts, PII_RE2))
    ]


def _deid_default(final_text: str, _exc: Exception) -> Dict:
    return {"masked_text": final_text, "spans": []}


class Stage(NamedTuple):
    """One stage of the per-turn chain.

    ``run`` maps a batch of ``source`` values (the turn texts for core,
    else the named core output) to the stage's outputs, one per value;
    ``default(value, exc)`` is a value's output when its batch of one
    raises. ``fields`` says where the output lands in
    the result: a tuple names the result or ``metrics`` leaves the output
    dict carries; a string names the one result field the whole output
    fills.
    """

    name: str
    source: str
    fields: Union[str, Tuple[str, ...]]
    run: Callable[[List[str]], List[Dict]]
    default: Callable[[str, Exception], Dict]


STAGES = (
    Stage(
        "core",
        "text",
        (
            "payload_kind",
            "content",
            "final_text",
            "corrected_text",
            "corrections",
            "matched_drugs",
            "matched_diseases",
            "blocks_kept",
            "blocks_dropped",
            "n_corrections",
            "content_chars",
            "failed",
            "error",
        ),
        _core,
        _core_default,
    ),
    Stage(
        "segments",
        "content",
        ("segments", "n_segments"),
        _segments,
        _segments_default,
    ),
    Stage("fields", "final_text", "extracted", _fields, _fields_default),
    Stage(
        "classify",
        "corrected_text",
        (
            "document_type",
            "doc_confidence",
            "keywords_found",
            "secondary_types",
            "urgency",
            "urgency_confidence",
        ),
        _classify,
        _classify_default,
    ),
    Stage("entities", "corrected_text", "entities", _entities, _entities_default),
    Stage("deid", "final_text", "deid", _deid, _deid_default),
)

METRIC_FIELDS = (
    "blocks_kept",
    "blocks_dropped",
    "n_segments",
    "n_corrections",
    "content_chars",
    "failed",
    "error",
)


def run_stage(stage: Stage, value: Optional[str]) -> Dict:
    """One stage on one value, isolated: a raising stage yields its
    default and the turn is never lost (``app/api.py:215-293``)."""
    value = value if isinstance(value, str) else ""
    try:
        return stage.run([value])[0]
    except Exception as exc:
        return stage.default(value, exc)


def run_batch(stage: Stage, values: Sequence[Optional[str]]) -> List[Dict]:
    """One stage over a batch of values, one output per value. If the
    batch raises, it is re-run value by value through :func:`run_stage`,
    so only the raising value takes the default."""
    values = [v if isinstance(v, str) else "" for v in values]
    try:
        return stage.run(values)
    except Exception:
        return [run_stage(stage, v) for v in values]


def assemble(outputs: Sequence[Dict]) -> Dict:
    """Stage outputs, in ``STAGES`` order → the result dict."""
    row: Dict = {}
    for stage, out in zip(STAGES, outputs):
        if isinstance(stage.fields, str):
            row[stage.fields] = out
        else:
            row.update((name, out[name]) for name in stage.fields)
    row["metrics"] = {name: row.pop(name) for name in METRIC_FIELDS}
    return row


def extract_turns(texts: Sequence[Optional[str]]) -> List[Dict]:
    """Full canonical extraction of a batch of turns, one dict of
    ``schema.EXTRACTION_RESULT_TYPE`` per turn."""
    core = run_batch(STAGES[0], texts)
    later = [run_batch(s, [c[s.source] for c in core]) for s in STAGES[1:]]
    return [assemble(outputs) for outputs in zip(core, *later)]


def extract_turn(text: Optional[str]) -> Dict:
    """Full canonical per-turn extraction: the batch of one."""
    return extract_turns([text])[0]
