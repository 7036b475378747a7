"""Unit tests for the pure-Python operator kernels.

Ports the reference's own test semantics (SURVEY.md §5):
``tests/test_block_parser.py``, ``tests/test_lexicon_beam_decoder.py``,
``tests/test_pipeline.py`` — plus exact-behavior tests for the quirks the
rebuild must preserve (T1 newline collapse, T7 punctuation/case handling).
"""

from __future__ import annotations

import pytest

from htep_spark.dictionaries import (
    DISEASES_MULTI,
    DISEASES_SINGLE,
    DISEASE_SET,
    DRUGS_MULTI,
    DRUGS_SINGLE,
    DRUG_SET,
)
from htep_spark.functions.beam import LexiconBeamDecoder
from htep_spark.functions.classify import (
    classify_document,
    document_urgency,
    extract_medical_entities,
)
from htep_spark.functions.extract_fields import extract_record, parse_medicine_line
from htep_spark.functions.fuzzy import banded_edit_distance, extract_one, indel_ratio
from htep_spark.functions.html_extract import extract_main_content, strip_markdown_fences
from htep_spark.functions.parser import BlockTextParser
from htep_spark.functions.pdf_layout import parse_pdf_layout
from htep_spark.functions.segments import segment_document
from htep_spark.functions.textops import fusion_correct, postprocess
from htep_spark.reference import decode_payload, extract_turn


# ---------------------------------------------------------------- fuzzy ----
def test_indel_ratio_basics():
    assert indel_ratio("abc", "abc") == 100.0
    assert indel_ratio("", "") == 100.0
    assert indel_ratio("abc", "xyz") == 0.0
    # indel: "aspirin" vs "asprin" → LCS 6, ratio 200*6/13
    assert indel_ratio("aspirin", "asprin") == pytest.approx(200 * 6 / 13)


def test_extract_one_prefers_first_on_tie():
    assert extract_one("ab", ["abx", "aby"], 50)[0] == "abx"
    assert extract_one("zzz", ["abc"], 85) is None


def test_get_matcher_sees_in_place_mutation():
    """The matcher cache is keyed on content: a large choice list mutated
    in place must not meet the matcher built for its old entries."""
    choices = [f"term{i:05d}x" for i in range(5000)]
    assert extract_one("zyxwvutsrq", choices, 90) is None
    choices[1234] = "zyxwvutsrq"
    assert extract_one("zyxwvutsrq", choices, 90) == ("zyxwvutsrq", 100.0)


def test_banded_edit_distance():
    assert banded_edit_distance("HELLD", "HELLO", 2) == 1
    assert banded_edit_distance("ABCDE", "VWXYZ", 2) == 3  # max+1 early exit
    assert banded_edit_distance("AB", "ABCDEF", 2) == 3  # length short-circuit


# --------------------------------------------------------------- fusion ----
def test_fusion_numeric_and_alpha_rules():
    # faithful quirks: a token matching ^\d+(\.\d+)?$ has no O/l/I left to
    # replace (no-op); "120/80" is NOT purely numeric → alpha rule applies
    assert fusion_correct("BP 120/80 c0de l1ne") == "BP l2O/8O cOde llne"
    assert fusion_correct("hell0 w0rld 42 3.14") == "hellO wOrld 42 3.14"
    assert fusion_correct("") == ""


def test_fusion_collapses_whitespace():
    # faithful quirk: src/pipeline/fusion.py:36 rejoins with single spaces
    assert fusion_correct("a\nb\t c") == "a b c"


# --------------------------------------------------------- block parser ----
def test_block_parser_corrects_ocr_confusions():
    # reference tests/test_block_parser.py:4-16
    parser = BlockTextParser(
        dictionary_terms=["aspirin", "diabetes", "metformin", "hypertension"]
    )
    result = parser.parse("Patient has diabete5 and takes asp1rin daily.")
    assert "diabetes" in result["corrected_text"].lower()
    assert "aspirin" in result["corrected_text"].lower()
    assert any(c["from"] == "diabete5" for c in result["corrections"])
    assert any(c["from"] == "asp1rin" for c in result["corrections"])


def test_block_parser_dictionary_matches_and_backend():
    # reference tests/test_block_parser.py:19-28
    parser = BlockTextParser(dictionary_terms=["hypertension", "metformin"])
    result = parser.parse("Hypertens1on treated with metformin")
    lowered = {m.lower() for m in result["dictionary_matches"]}
    assert "hypertension" in lowered
    assert "metformin" in lowered
    assert result["backend"] == "regex"


def test_block_parser_english_layer():
    # reference tests/test_block_parser.py:31-40
    parser = BlockTextParser(
        dictionary_terms=["aspirin"],
        english_terms=["hello", "world", "test"],
        english_similarity_cutoff=0.8,
    )
    result = parser.parse("he11o wor1d te5t")
    assert result["corrected_text"].lower() == "hello world test"
    assert all(c.get("source") == "english" for c in result["corrections"])


def test_block_parser_layered_matches():
    # reference tests/test_block_parser.py:43-53
    parser = BlockTextParser(
        dictionary_terms=["diabetes"], english_terms=["patient", "daily"]
    )
    result = parser.parse("Patient has diabetes daily")
    assert "diabetes" in {m.lower() for m in result["dictionary_layers"]["medical"]}
    english = {m.lower() for m in result["dictionary_layers"]["english"]}
    assert {"patient", "daily"} <= english


def test_block_parser_preserves_whitespace_exactly():
    parser = BlockTextParser(dictionary_terms=["diabetes"])
    result = parser.parse("line one\n  diabete5\tend")
    assert result["corrected_text"] == "line one\n  diabetes\tend"


# ---------------------------------------------------------- beam decode ----
def test_beam_low_confidence_lexicon_fallback():
    # reference tests/test_lexicon_beam_decoder.py:4-29
    decoder = LexiconBeamDecoder(
        lexicon_terms=["hello", "name", "nilesh"],
        replacement_confidence_threshold=0.8,
        non_primary_replacement_min_char_confidence=0.55,
    )
    candidates = [
        [{"character": "H", "confidence": 0.95}],
        [{"character": "E", "confidence": 0.94}],
        [{"character": "L", "confidence": 0.93}],
        [{"character": "L", "confidence": 0.92}],
        [
            {"character": "D", "confidence": 0.52},
            {"character": "O", "confidence": 0.48},
        ],
    ]
    decoded = decoder.decode_word(candidates)
    assert decoded["raw_word"] == "HELLD"
    assert decoded["decoded_word"] == "HELLO"
    assert decoded["replacement_applied"] is True
    assert decoded["replacement_reason"] == "low-confidence-lexicon-fallback"


def test_beam_high_confidence_keeps_raw():
    # reference tests/test_lexicon_beam_decoder.py:32-52
    decoder = LexiconBeamDecoder(
        lexicon_terms=["hello", "name", "nilesh"],
        replacement_confidence_threshold=0.8,
    )
    candidates = [
        [{"character": c, "confidence": 0.99}] for c in "HELL"
    ] + [[{"character": "D", "confidence": 0.99}, {"character": "O", "confidence": 0.01}]]
    decoded = decoder.decode_word(candidates)
    assert decoded["raw_word"] == "HELLD"
    assert decoded["decoded_word"] == "HELLD"
    assert decoded["replacement_applied"] is False
    assert decoded["replacement_reason"] == "high-confidence-kept-raw"


def test_beam_primary_fallback():
    decoder = LexiconBeamDecoder(
        lexicon_terms=["form"], primary_terms=["fora"]
    )
    candidates = [
        [{"character": c, "confidence": 0.5}] for c in "FORM"
    ]
    decoded = decoder.decode_word(candidates)
    # FORM is a non-primary exact hit; FORA is a primary term at distance 1
    # and confidence is low → primary fallback wins
    assert decoded["decoded_word"] == "FORA"
    assert decoded["replacement_reason"] == "low-confidence-primary-fallback"


# -------------------------------------------------------- postprocessor ----
def test_postprocess_exact_and_fuzzy():
    result = postprocess(
        "Patient takes asprin and has diabetis",
        DRUGS_SINGLE, DRUGS_MULTI, DRUG_SET,
        DISEASES_SINGLE, DISEASES_MULTI, DISEASE_SET,
    )
    assert "aspirin" in result["matched_drugs"]
    assert "diabetes" in result["matched_diseases"]
    assert "aspirin" in result["corrected_text"]
    assert "diabetes" in result["corrected_text"]
    types = {c["type"] for c in result["corrections"]}
    assert types == {"drug", "disease"}


def test_postprocess_preserves_punct_and_case():
    result = postprocess(
        "Gave (Asprin).",
        DRUGS_SINGLE, DRUGS_MULTI, DRUG_SET,
        DISEASES_SINGLE, DISEASES_MULTI, DISEASE_SET,
    )
    assert result["corrected_text"] == "Gave (Aspirin)."
    assert result["corrections"][0]["from"] == "(Asprin)."
    assert result["corrections"][0]["to"] == "(Aspirin)."


def test_postprocess_multiword_detection():
    result = postprocess(
        "History of heart failure and acute kidney injury noted",
        DRUGS_SINGLE, DRUGS_MULTI, DRUG_SET,
        DISEASES_SINGLE, DISEASES_MULTI, DISEASE_SET,
    )
    assert "heart failure" in result["matched_diseases"]
    assert "acute kidney injury" in result["matched_diseases"]


def test_fuzzy_memo_is_capped(monkeypatch):
    """A caller's fuzzy memo at the cap is not grown, and the results are
    those of an unbounded memo."""
    from htep_spark.functions import textops

    dicts = (DRUGS_SINGLE, DRUGS_MULTI, DRUG_SET, DISEASES_SINGLE, DISEASES_MULTI, DISEASE_SET)
    text = "Gave (Asprin). and metforminn 500mg for diabetis; h3art failur noted"
    want = postprocess(text, *dicts, 85.0, {}, {})
    monkeypatch.setattr(textops, "_MEMO_CAP", 6)
    drug_memo: dict = {}
    disease_memo: dict = {}
    postprocess("lisinoprl warfarn atorvastatn amoxicilin hypertensoin asthmaa",
                *dicts, 85.0, drug_memo, disease_memo)
    assert len(drug_memo) == len(disease_memo) == 6  # filled to the cap
    assert postprocess(text, *dicts, 85.0, drug_memo, disease_memo) == want
    assert len(drug_memo) == len(disease_memo) == 6


def test_postprocess_empty():
    result = postprocess(
        "  ", DRUGS_SINGLE, DRUGS_MULTI, DRUG_SET,
        DISEASES_SINGLE, DISEASES_MULTI, DISEASE_SET,
    )
    assert result == {
        "corrected_text": "",
        "corrections": [],
        "matched_drugs": [],
        "matched_diseases": [],
    }


# ------------------------------------------------------------- segments ----
def test_segment_document_types_and_spans():
    text = "General line\nDiagnosis: flu\n\nRx: aspirin\nBP: 120/80\nPlan: rest"
    segments = segment_document(text)
    assert [s["segment_type"] for s in segments] == [
        "general", "diagnosis", "medication", "vitals", "plan",
    ]
    assert [s["start_line"] for s in segments] == [0, 1, 2, 3, 4]
    for seg in segments:
        assert text[seg["start_char"] : seg["end_char"]] == seg["content"]


def test_segment_document_empty():
    assert segment_document("") == []
    assert segment_document("  \n ") == []


# ------------------------------------------------------------- classify ----
def test_classify_discharge_summary():
    text = "Discharge Summary\nAdmission Date: 01/02/2025\nCondition on discharge good"
    result = classify_document(text)
    assert result["document_type"] == "discharge_summary"
    assert 0 < result["confidence"] <= 0.95
    assert result["keywords_found"]


def test_classify_no_hits_and_empty():
    assert classify_document("xyzzy plugh")["document_type"] == "general_medical"
    assert classify_document("xyzzy plugh")["confidence"] == 0.3
    assert classify_document("")["document_type"] == "unknown"


def test_urgency_ladder():
    assert document_urgency("emergency stat now") == ("urgent", 0.9)
    assert document_urgency("urgent case") == ("urgent", 0.7)
    assert document_urgency("abnormal and concerning") == ("high", 0.8)
    assert document_urgency("abnormal finding") == ("high", 0.6)
    assert document_urgency("all good") == ("routine", 0.5)


def test_entities():
    ents = extract_medical_entities(
        "Took Amoxicillin for pneumonia. BP 120/80 mmHg, temp 98.6 °F"
    )
    assert "Amoxicillin" in ents["medications"]
    assert "pneumonia" in ents["conditions"]
    assert "120/80 mmHg" in ents["measurements"]


# ------------------------------------------------------- field extract -----
def test_parse_medicine_line():
    med = parse_medicine_line("- Metformin 500mg twice daily")
    assert med == {"name": "Metformin", "dosage": "500mg", "frequency": "twice daily"}
    assert parse_medicine_line("- ab") is None


def test_extract_record_ground_truth_shape():
    # raw_text of tests/ground_truth.json item 1 (reference golden corpus)
    text = (
        "CityCare Hospital - Discharge Summary\n"
        "Patient Name : Vikas Reddy\nPatient ID : CH-3021\n"
        "Age\n:45\nGender\n: Male\n"
        "Admission Date: 02/08/2025\nDischarge Date: 07/08/2025\n"
        "Diagnosis:\n- Type 2 Diabetes Mellitus (controlled)\n- Mild Hypertension\n"
        "Treatment Summary:\n- Metformin 500mg twice daily\n- Amlodipine 5mg once daily\n"
        "Follow up instructions:\n- Visit endocrinology OPD after 15 days.\n"
        "Consultant: Dr. Sanjay Kapoor\nSignature:"
    )
    rec = extract_record(text)
    assert rec["patient_name"] == "Vikas Reddy"
    assert rec["date"] == "02/08/2025"
    assert "Type 2 Diabetes Mellitus (controlled)" in rec["diagnosis"]
    med_names = [m["name"] for m in rec["medicines"]]
    assert "Metformin" in med_names
    mf = next(m for m in rec["medicines"] if m["name"] == "Metformin")
    assert mf["dosage"] == "500mg" and mf["frequency"] == "twice daily"
    assert rec["gender"] == "Male"


def test_extract_record_vitals():
    rec = extract_record("BP: 120 / 80, Temp: 98.6 F, Pulse: 72 bpm")
    assert rec["vitals"]["bp"] == "120/80"
    assert rec["vitals"]["temp"] == "98.6F"
    assert rec["vitals"]["pulse"] == "72"


def test_extract_record_empty():
    assert extract_record("") == {}


# ------------------------------------------------------- html / layout -----
def test_html_boilerplate_strip():
    html = (
        "<html><head><script>var x=1;</script><style>p{}</style></head>"
        "<body><nav><a href='/'>Home</a> <a href='/a'>About</a></nav>"
        "<div class='main'><p>Patient has diabetes &amp; hypertension.</p>"
        "<p>Rx: aspirin 100mg once daily</p></div>"
        "<footer><a href='/x'>contact</a></footer><!-- comment --></body></html>"
    )
    text, kept, dropped = extract_main_content(html)
    assert text == (
        "Patient has diabetes & hypertension.\nRx: aspirin 100mg once daily"
    )
    assert kept == 2
    assert dropped >= 2  # nav + footer content dropped


def test_html_entity_decode_and_order():
    text, kept, _ = extract_main_content(
        "<body><p>first &#64; block</p><p>second block here</p></body>"
    )
    assert text == "first @ block\nsecond block here"
    assert kept == 2


def test_markdown_fence_strip():
    assert strip_markdown_fences("```text\nTranscription: hello\nworld\n```") == (
        "hello\nworld"
    )


def test_pdf_layout_reading_order():
    payload = (
        '{"kind":"pdf_layout","pages":['
        '{"page":2,"blocks":[{"bbox":[0,0,10,5],"text":"page2"}]},'
        '{"page":1,"blocks":['
        '{"bbox":[50,10,90,20],"text":"right"},'
        '{"bbox":[0,10,40,20],"text":"left"},'
        '{"bbox":[0,0,40,5],"text":"top"}]}]}'
    )
    parsed = parse_pdf_layout(payload)
    assert parsed is not None
    assert parsed[0] == "top\nleft\nright\npage2"
    assert parsed[1] == 4


# -------------------------------------------------------------- router -----
def test_decode_payload_router():
    assert decode_payload("plain note")[1] == "plain"
    assert decode_payload("<html><body><p>hello there world</p></body></html>")[1] == "html"
    assert decode_payload('{"kind":"pdf_layout","pages":[]}')[1] == "pdf_layout"
    assert decode_payload("```\nfenced\n```")[1] == "markdown"
    assert decode_payload(None) == ("", "plain", 0, 0)


# ---------------------------------------------------------- extract_turn ---
def test_extract_turn_canonical_noisy_string():
    # the reference's canonical pipeline fixture string
    # (tests/test_pipeline.py:10)
    result = extract_turn("Patient has diabete5 and takes asp1rin daily")
    assert "aspirin" in result["matched_drugs"]
    assert result["metrics"]["failed"] is False
    assert result["segments"][0]["segment_type"] == "general"
    assert result["urgency"] == "routine"


def test_extract_turn_empty_and_none():
    for value in ("", None, "   "):
        result = extract_turn(value)
        assert result["corrected_text"] == ""
        assert result["segments"] == []
        assert result["document_type"] == "unknown"
        assert result["metrics"]["failed"] is False


def test_extract_turn_html_discharge_note():
    html = (
        "<html><body><nav><a href='/'>x</a><a href='/y'>y</a></nav><div>"
        "<p>General Hospital - Discharge Summary</p>"
        "<p>Patient Name : John Smith</p><p>Age : 44</p>"
        "<p>Diagnosis:</p><p>- Hypertension</p>"
        "<p>Rx:</p><p>- Metformin 500mg twice daily</p></div></body></html>"
    )
    result = extract_turn(html)
    assert result["payload_kind"] == "html"
    assert result["extracted"]["patient_name"] == "John Smith"
    assert "metformin" in result["matched_drugs"]
    assert "hypertension" in result["matched_diseases"]
    assert result["metrics"]["blocks_dropped"] >= 1


def test_decode_payload_malformed_inputs():
    # malformed layout JSON falls through to plain (or markdown if fenced)
    assert decode_payload('{"kind":"pdf_layout", broken')[1] == "plain"
    assert decode_payload('{"kind":"other","pages":[]}')[1] == "plain"
    # broken html still extracts without raising (stage isolation)
    content, kind, kept, dropped = decode_payload("<div><p>unclosed tags here")
    assert kind == "html" and "unclosed tags here" in content
    # nested/unterminated fences
    assert decode_payload("```\n```\n```")[0] == ""


def test_extract_turn_never_raises_on_hostile_input():
    hostile = [
        "\x00\x01\x02", "<" * 500, "{" * 500, "à" * 100,
        '{"kind":"pdf_layout","pages":[{"blocks":[{"text":null}]}]}',
        "\ud800" if False else "\\ud800", "```" * 33,
    ]
    for text in hostile:
        result = extract_turn(text)
        assert isinstance(result["corrected_text"], str)


def test_chat_json_payload():
    import json as _json

    from htep_spark.functions.chat_json import parse_chat_json

    payload = _json.dumps(
        {
            "kind": "chat_json",
            "messages": [
                {"role": "user", "text": "Patient has diabete5"},
                {"role": "assistant", "text": "Diagnosis:\n- Diabetes"},
                {"role": "tool", "text": "   "},
            ],
        }
    )
    parsed = parse_chat_json(payload)
    assert parsed == (
        "user: Patient has diabete5\nassistant: Diagnosis:\n- Diabetes",
        2,
    )
    assert decode_payload(payload)[1] == "chat_json"
    result = extract_turn(payload)
    assert result["payload_kind"] == "chat_json"
    assert "diabetes" in result["matched_diseases"]
    assert any(s["segment_type"] == "diagnosis" for s in result["segments"])
    # malformed chat payloads degrade to plain
    assert decode_payload('{"kind":"chat_json", broken')[1] == "plain"
    assert parse_chat_json('{"kind":"other"}') is None


def test_classify_segments_keys():
    # C3 (src/nlp/classifier.py:202-219): per-segment C1, keyed type_startline
    from htep_spark.functions.classify import classify_segments

    segments = segment_document("Diagnosis: flu\nRx: aspirin 100mg")
    results = classify_segments(segments)
    assert set(results) == {"diagnosis_0", "medication_1"}
    assert all("document_type" in v for v in results.values())


# ------------------------------------------------------------------ deid ----
def test_deidentify_masks_and_spans():
    from htep_spark.functions.deid import deidentify

    text = (
        "CityCare Hospital - Discharge Summary\n"
        "Patient Name : Vikas Reddy\nPatient ID : CH-3021\n"
        "Age : 45\nDate : 02/08/2025\nCall 555-123-4567\n"
        "Consultant: Dr. Sanjay Kapoor\n"
    )
    result = deidentify(text)
    masked = result["masked_text"]
    assert "Vikas Reddy" not in masked and "[NAME]" in masked
    assert "CH-3021" not in masked and "[ID]" in masked
    assert "02/08/2025" not in masked and "[DATE]" in masked
    assert "555-123-4567" not in masked and "[PHONE]" in masked
    assert "Age : [AGE]" in masked
    # spans index the ORIGINAL text, non-overlapping and sorted
    prev_end = -1
    for span in result["spans"]:
        assert span["start_char"] >= prev_end
        prev_end = span["end_char"]
    kinds = {s["kind"] for s in result["spans"]}
    assert {"NAME", "ID", "DATE", "PHONE", "AGE"} <= kinds
    named = [
        text[s["start_char"] : s["end_char"]]
        for s in result["spans"]
        if s["kind"] == "NAME"
    ]
    assert "Vikas Reddy" in named
    assert deidentify("") == {"masked_text": "", "spans": []}
    # non-PII text untouched
    assert deidentify("no secrets here")["masked_text"] == "no secrets here"


def test_split_sentences_spans():
    from htep_spark.functions.deid import split_sentences

    text = "First sentence. Second one! Third?\nNo terminator tail"
    sentences = split_sentences(text)
    assert [s["content"] for s in sentences] == [
        "First sentence.", "Second one!", "Third?", "No terminator tail",
    ]
    for s in sentences:
        assert text[s["start_char"] : s["end_char"]] == s["content"]
    assert split_sentences("") == []


# ------------------------------------------------ multi-strategy decoder --

def _mk_word(chars, conf=0.9):
    """Per-position single-candidate matrix for a word."""
    return [[{"character": c, "confidence": conf}] for c in chars]


def test_paragraph_keep_best_joins_and_drops_empty():
    from htep_spark.dictionaries import DRUGS_SINGLE
    from htep_spark.functions.beam import LexiconBeamDecoder
    from htep_spark.functions.strategy import predict_paragraph_best

    decoder = LexiconBeamDecoder(DRUGS_SINGLE)
    lines = [
        [_mk_word("ASPIRIN"), _mk_word("DAILY")],
        [],  # empty line decodes to "" -> dropped (test_paragraph_icr.py:308)
        [_mk_word("METFORMIN")],
    ]
    text, n = predict_paragraph_best(lines, decoder)
    assert text == "ASPIRIN DAILY\nMETFORMIN"
    assert n == 2


def test_paragraph_strategy_tie_keeps_first():
    """Strict `>` comparison: identical strategies tie, the first wins —
    observable because the result must equal the first strategy's decode
    (test_paragraph_icr.py:303, `if conf > best_conf`)."""
    from htep_spark.dictionaries import DRUGS_SINGLE
    from htep_spark.functions.beam import LexiconBeamDecoder
    from htep_spark.functions.strategy import (
        decode_line_with_strategy,
        predict_paragraph_best,
    )

    decoder = LexiconBeamDecoder(DRUGS_SINGLE)
    line = [_mk_word("ASPIRIN", conf=0.5)]
    first = decode_line_with_strategy(line, decoder, 20, 0.0)
    text, n = predict_paragraph_best([line], decoder, strategies=[(20, 0.0), (20, 0.0)])
    assert (text, n) == (first[0], 1)


def test_paragraph_conf_floor_keeps_top1():
    """A floor above every candidate's confidence must not erase positions —
    each keeps its top-1 (the min_char_area analogue never deletes slots)."""
    from htep_spark.dictionaries import DRUGS_SINGLE
    from htep_spark.functions.beam import LexiconBeamDecoder
    from htep_spark.functions.strategy import decode_line_with_strategy

    decoder = LexiconBeamDecoder(DRUGS_SINGLE)
    word = [
        [
            {"character": c, "confidence": 0.4},
            {"character": "X", "confidence": 0.2},
        ]
        for c in "ASPIRIN"
    ]
    text_floor, _ = decode_line_with_strategy([word], decoder, 20, 0.99)
    text_plain, _ = decode_line_with_strategy([word], decoder, 20, 0.0)
    assert text_floor == text_plain == "ASPIRIN"


def test_paragraph_strategy_selection_changes_outcome():
    """A noisy word where the floor flips the decode: position 2 has a
    wrong top-1 ('Z' 0.5) and right runner-up ('P' 0.45) — floor 0.48
    prunes the runner-up (decode stays wrong), floor 0.0 lets the beam +
    lexicon replacement recover ASPIRIN; keep-best must pick the higher-
    confidence variant deterministically."""
    from htep_spark.dictionaries import DRUGS_SINGLE
    from htep_spark.functions.beam import LexiconBeamDecoder
    from htep_spark.functions.strategy import predict_paragraph_best

    decoder = LexiconBeamDecoder(DRUGS_SINGLE, DRUGS_SINGLE)
    word = []
    for i, c in enumerate("ASPIRIN"):
        if i == 2:
            word.append(
                [
                    {"character": "Z", "confidence": 0.5},
                    {"character": "P", "confidence": 0.45},
                ]
            )
        else:
            word.append([{"character": c, "confidence": 0.5}])
    text, n = predict_paragraph_best(
        [[word]], decoder, strategies=[(20, 0.48), (20, 0.0)]
    )
    assert n == 1
    assert text == "ASPIRIN"  # low confidence -> primary replacement fires


def test_classify_pattern_gates_are_sound():
    """The literal gates that skip findall must be implied by the patterns:
    on a corpus designed to fire every pattern and every near-miss, the
    gated classifier must equal an ungated reimplementation exactly."""
    import re

    from htep_spark.dictionaries import DOCUMENT_PATTERNS
    from htep_spark.functions.classify import (
        _COMPILED_PATTERNS,
        _PATTERN_GATES,
        classify_document,
    )
    from htep_spark.sources.io import synthesize_transcripts_pdf

    def ungated(text):
        if not text or not text.strip():
            return None
        text_lower = text.lower()
        scores, all_keywords = {}, []
        for doc_type, data in DOCUMENT_PATTERNS.items():
            score = 0
            for keyword in data["keywords"]:
                if keyword in text_lower:
                    score += 1
                    all_keywords.append(keyword)
            for pattern in _COMPILED_PATTERNS[doc_type]:
                matches = pattern.findall(text)
                score += len(matches) * 2
                all_keywords.extend(matches)
            scores[doc_type] = score
        return scores, sorted(set(all_keywords))

    def gated(text):
        if not text or not text.strip():
            return None
        text_lower = text.lower()
        scores, all_keywords = {}, []
        for doc_type, data in DOCUMENT_PATTERNS.items():
            score = 0
            for keyword in data["keywords"]:
                if keyword in text_lower:
                    score += 1
                    all_keywords.append(keyword)
            for pattern, gates in zip(
                _COMPILED_PATTERNS[doc_type], _PATTERN_GATES[doc_type]
            ):
                if not any(g in text_lower for g in gates):
                    continue
                matches = pattern.findall(text)
                score += len(matches) * 2
                all_keywords.extend(matches)
            scores[doc_type] = score
        return scores, sorted(set(all_keywords))

    texts = list(synthesize_transcripts_pdf(800, n_convs=10)["text"])
    # targeted: every pattern's own source rendered matchable + mutations
    for t, data in DOCUMENT_PATTERNS.items():
        for p in data["patterns"]:
            plain = re.sub(r"\(\?:|[\\()?:+*\[\]]", " ", p).replace("|", " ")
            texts += [plain, plain.upper(), "x " + plain + " y", p]
    texts += ["", "   ", "Discharge Summary note", "RX: 10 mg twice daily",
              "CT scan report Image Quality fine", "soap NOTE plan: stable"]
    for t in texts:
        assert gated(t) == ungated(t), t[:80]
        # and the real implementation agrees with the ungated reference
        got = classify_document(t)
        want = ungated(t)
        if want is not None:
            assert got["keywords_found"] == want[1] or not any(want[0].values())


def test_re2_tables_are_checked():
    """The RE2 forms come from the Python patterns themselves, and the
    import-time table check refuses a pattern that lost its form without
    being listed, a listed pattern that has one, and a wrong reason."""
    import re

    from htep_spark.functions import batch_regex
    from htep_spark.functions.deid import PII_PATTERNS, PII_RE2
    from htep_spark.functions.extract_fields import FIELD_RE2

    assert batch_regex.form(re.compile(r"(a)(b|c)$", re.I | re.S), extract=True) == (
        r"(?is)(?P<g>a)(?:b|c)(?:\n?\z)"
    )
    assert batch_regex.form(re.compile(r"[(]x[$]$", re.M), extract=False) == r"(?m)[(]x[$]$"
    ahead, behind = re.compile(r"a(?=b)"), re.compile(r"(?<!a)b")
    with pytest.raises(AssertionError):
        batch_regex.table({"a": ahead}, extract=False, python_only={})
    with pytest.raises(AssertionError):
        batch_regex.table({"a": behind}, extract=False, python_only={"a": "lookahead"})
    with pytest.raises(AssertionError):
        batch_regex.table({"b": re.compile("ab")}, extract=False, python_only={"b": "lookahead"})
    assert batch_regex.table(
        {"a": ahead, "b": re.compile("(a)b")}, extract=False, python_only={"a": "lookahead"}
    ) == {"b": "(?:a)b"}
    # the name patterns are the only ones without a form
    assert set(FIELD_RE2) == {
        "date", "hospital", "age", "gender", "bp", "temp", "pulse", "diag", "rx", "inst"
    }
    assert set(PII_RE2) == set(range(len(PII_PATTERNS))) - {0, 1}


def test_field_gates_are_sound():
    """E1/C4 literal gates: gated extraction must equal the ungated form on
    a corpus engineered to fire every detector and every near-miss."""
    from htep_spark.functions.classify import (
        _COMPILED_ENTITY,
        extract_medical_entities,
    )
    from htep_spark.functions.extract_fields import extract_regex_fields
    from htep_spark.sources.io import synthesize_transcripts_pdf

    texts = list(synthesize_transcripts_pdf(600, n_convs=8)["text"])
    texts += [
        "",
        "no medical content here at all just words",
        "Patient: John Doe, Age: 44\nGender: M\nBP: 120/80 Temp: 98.6 F",
        "Dr. Smith\nHospital : General\nDiagnosis: flu, fever\nRx: Aspirin 10 mg twice daily\nPlan: rest",
        "Pulse: 72 bpm on 2021-03-15, amoxicillin 250 mg, diabetes, x-ray, 5.5 mmol/l, 120/80 mmHg, 37.5 °C",
        "hr only gate word without structure", "heart rate mention", "sig: here",
        "Follow up : tomorrow", "Impression: stable", "medication list empty",
    ]

    def ungated_entities(text):
        out = {}
        for key, patterns in _COMPILED_ENTITY.items():
            found = []
            for p in patterns:
                found.extend(p.findall(text))
            out[key] = sorted(set(found))
        return out

    for t in texts:
        assert extract_medical_entities(t) == ungated_entities(t), t[:60]
    # E1: the gated kernel against a pinned expectation corpus — every
    # detector fires somewhere and never spuriously
    rich = texts[-10]
    rec = extract_regex_fields(
        "Patient: John Doe, Age: 44\nGender: M\nBP: 120/80 Temp: 98.6 F"
    )
    assert rec["patient_name"] == "John Doe" and rec["age"] == "44"
    assert rec["gender"] == "Male" and rec["vitals"]["bp"] == "120/80"
    assert rec["vitals"]["temp"] == "98.6F"
    rec2 = extract_regex_fields(
        "Dr. Smith\nHospital : General\nDiagnosis: flu, fever\n"
        "Rx: Aspirin 10 mg twice daily\nPlan: rest"
    )
    assert rec2["doctor_name"] == "Dr. Smith" and rec2["hospital"] == "General"
    assert rec2["diagnosis"] == ["flu", "fever"]
    assert rec2["medicines"] and rec2["medicines"][0]["name"] == "Aspirin"
    assert rec2["instructions"] == ["rest"]
    assert extract_regex_fields("nothing clinical") == {
        "patient_name": None, "age": None, "gender": None, "date": None,
        "doctor_name": None, "hospital": None, "diagnosis": [],
        "medicines": [], "vitals": {}, "instructions": [],
    }
