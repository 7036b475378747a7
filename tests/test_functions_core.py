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


# ----------------------------------------------------------- evaluation ----
def test_cer_and_entity_accuracy():
    from htep_spark.functions.evaluation import (
        character_error_rate,
        entity_set_accuracy,
        flatten_record,
    )

    assert character_error_rate("abc", "abc") == 0.0
    assert character_error_rate("abd", "abc") == pytest.approx(1 / 3)
    assert character_error_rate("", "") == 0.0

    truth = {
        "patient_name": "Vikas Reddy",
        "age": "45",
        "diagnosis": ["Hypertension"],
        "medicines": [{"name": "Metformin", "dosage": "500mg", "frequency": None}],
        "vitals": {"bp": "120/80", "temp": None},
    }
    flat = flatten_record(truth)
    assert "patient_name:vikas reddy" in flat
    assert "medicines.name:metformin" in flat
    assert "vitals.bp:120/80" in flat
    assert not any("temp" in f or "frequency" in f for f in flat)

    assert entity_set_accuracy(truth, truth) == 1.0
    pred = dict(truth, age="46")
    acc = entity_set_accuracy(pred, truth)
    assert 0 < acc < 1.0


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


def test_segmented_keep_best_argmax_and_tie():
    """predict_line_best_segmented: true argmax over variant confidences,
    strict `>` so the FIRST variant wins exact ties, and the emitted
    per-variant results are consistent with the winner."""
    from htep_spark.dictionaries import DRUGS_SINGLE
    from htep_spark.functions.beam import LexiconBeamDecoder
    from htep_spark.functions.strategy import predict_line_best_segmented

    decoder = LexiconBeamDecoder(DRUGS_SINGLE)
    hi = [_mk_word("ASPIRIN", conf=0.9)]
    lo = [_mk_word("ASPIRIN", conf=0.5)]
    # middle variant strictly best -> index 1 wins
    bi, bt, bc, results = predict_line_best_segmented([lo, hi, lo], decoder)
    assert bi == 1 and (bt, bc) == results[1]
    assert results[1][1] > results[0][1] == results[2][1]
    # identical variants tie -> first wins
    bi, bt, bc, results = predict_line_best_segmented([lo, lo, lo], decoder)
    assert bi == 0 and (bt, bc) == results[0]


def test_strategy_best_corpus_margins():
    """Cross-engine safety of the 6dp-rounded argmax on the fixed corpora:
    replicate the strategy_best construction in pure Python (shared md5
    confidence formula + the REAL decoder) and assert (a) every strategy
    index wins somewhere (non-vacuous argmax), (b) distinct per-doc variant
    confidences differ by > 2e-6 (a 6dp disagreement cannot flip the
    winner), (c) every unrounded mean clears its 0.5e-6 rounding boundary
    by > 1e-12 — three orders of magnitude above the worst accumulated
    cross-libm exp/ln error for an 8-term mean (~1e-15 relative); the
    measured corpus minimum is 4.2e-10 (sf0.001+sf0.01 sweep, r6)."""
    import hashlib
    import re as _re

    import duckdb

    from htep_spark.dictionaries import DISEASES_SINGLE, DRUGS_SINGLE
    from htep_spark.functions.beam import LexiconBeamDecoder
    from htep_spark.functions.strategy import decode_line_with_strategy
    from htep_spark.operators.decode import _corrupt_prelude_terms

    def conf(ch, w, i):
        h = int(hashlib.md5(f"{ch}|{w}|{i}".encode()).hexdigest()[:15], 16)
        return 0.35 + (h % 64) / 100.0

    def mk(w):
        return [[{"character": c, "confidence": conf(c, w, i)}]
                for i, c in enumerate(w)]

    cd, _, _ = _corrupt_prelude_terms()
    decoder = LexiconBeamDecoder(DRUGS_SINGLE + DISEASES_SINGLE, DRUGS_SINGLE)
    rows = duckdb.sql(
        "SELECT doc_id, text FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
        " UNION ALL SELECT doc_id, text FROM "
        "read_parquet('/root/testdata/sf0.01/documents.parquet')"
    ).fetchall()
    winners = set()
    for doc_id, text in rows:
        toks = _re.findall("[A-Z]+", text.upper())[:3]
        ws = [cd[doc_id % 16]] + toks
        variants = [
            ws,
            [ws[0] + ws[1], ws[2] + ws[3]],
            [p for w in ws for p in
             ([w[: len(w) // 2], w[len(w) // 2:]] if len(w) >= 4 else [w])],
        ]
        confs = []
        for line in variants:
            _, c = decode_line_with_strategy([mk(w) for w in line], decoder, 20, 0.0)
            confs.append(c)
            # (c) rounding-boundary clearance on the RAW mean
            frac = abs(c * 1e6 - round(c * 1e6))
            assert abs(frac - 0.5) * 1e-6 > 1e-12, (doc_id, c)
        rounded = [round(c, 6) for c in confs]
        for i in range(3):
            for j in range(i + 1, 3):
                d = abs(rounded[i] - rounded[j])
                assert d == 0.0 or d > 2e-6, (doc_id, rounded)
        winners.add(max(range(3), key=lambda i: (rounded[i], -i)))
    assert winners == {0, 1, 2}, winners


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


def test_dsir_recovers_target_docs_and_margins():
    """DSIR recovery + cross-engine-rounding safety on the fixed corpus:
    (a) every selected doc must be a prelude (in-target) doc — the scorer
    recovers the planted ground truth; (b) every doc's unrounded mean
    log-ratio clears its 0.5e-6 rounding boundary by > 1e-12 (python-libm
    literals on the Spark side vs DuckDB ln cannot flip the 6dp value)."""
    import math
    import re as _re

    import duckdb

    from htep_spark.driver_queries import (
        CLINICAL_SNIPPETS,
        DSIR_BUCKETS,
        _dsir_bucket_py,
        _dsir_target_counts,
        _TOKEN_PATTERN,
    )

    B = DSIR_BUCKETS
    tcounts, T = _dsir_target_counts()
    rows = duckdb.sql(
        "SELECT doc_id, text FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    ).fetchall()
    docs = {}
    for doc_id, text in rows:
        if doc_id % 2 == 0:
            text = CLINICAL_SNIPPETS[doc_id % 8] + "\n" + text
        docs[doc_id] = _re.findall(_TOKEN_PATTERN, text.lower())
    scounts: dict = {}
    for toks in docs.values():
        for tok in toks:
            b = _dsir_bucket_py(tok)
            scounts[b] = scounts.get(b, 0) + 1
    S = sum(scounts.values())
    lr = {
        b: math.log((tcounts.get(b, 0) + 1) / (T + B))
        - math.log((scounts.get(b, 0) + 1) / (S + B))
        for b in range(B)
    }
    weights = {}
    for doc_id, toks in docs.items():
        acc = 0.0
        for tok in toks:  # pinned position order, like both engines
            acc += lr[_dsir_bucket_py(tok)]
        w = acc / len(toks)
        frac = abs(w * 1e6 - round(w * 1e6))
        assert abs(frac - 0.5) * 1e-6 > 1e-12, (doc_id, w)
        weights[doc_id] = round(w, 6)
    order = sorted(weights, key=lambda d: (-weights[d], d))
    n_keep = len(order) // 4
    selected = set(order[:n_keep])
    assert all(d % 2 == 0 for d in selected), "non-prelude doc selected"


def test_gumbel_sample_length_bias_and_margins():
    """Gumbel-top-k weighted sampling sanity on the fixed corpus: (a) the
    sampled set is length-biased (inclusion prob ∝ ntok, so the sampled
    mean token count must exceed the corpus mean); (b) every key clears
    its 6dp rounding boundary by > 1e-12 (cross-libm ln parity, the
    strategy_best/dsir margin discipline)."""
    import hashlib
    import math
    import re as _re

    import duckdb

    from htep_spark.driver_queries import _TOKEN_PATTERN, GUMBEL_KEEP_DEN

    rows = duckdb.sql(
        "SELECT doc_id, text FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    ).fetchall()
    keys = {}
    ntoks = {}
    for doc_id, text in rows:
        ntok = len(_re.findall(_TOKEN_PATTERN, text.lower()))
        h = int(
            hashlib.md5(f"gumbel|{doc_id}".encode()).hexdigest()[:15], 16
        )
        u = (float(h) + 0.5) / float(1 << 60)
        k = math.log(float(ntok)) - math.log(-math.log(u))
        frac = abs(k * 1e6 - round(k * 1e6))
        assert abs(frac - 0.5) * 1e-6 > 1e-12, (doc_id, k)
        keys[doc_id] = round(k, 6)
        ntoks[doc_id] = ntok
    order = sorted(keys, key=lambda d: (-keys[d], d))
    sampled = order[: len(order) // GUMBEL_KEEP_DEN]
    mean_all = sum(ntoks.values()) / len(ntoks)
    mean_sampled = sum(ntoks[d] for d in sampled) / len(sampled)
    assert mean_sampled > mean_all, (mean_sampled, mean_all)


def test_web_funnel_monotone():
    """The composed web-curation cascade must be monotone per domain
    (n_docs >= pass_quota >= pass_dsir >= sampled) and its totals must
    equal the individual gates' own totals (quota = domains x Q; dsir
    quarter intersected with quota; token yield only from survivors)."""
    import duckdb

    from htep_spark.driver_queries import DOMAIN_QUOTA_Q, QUERIES

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.01/documents.parquet')"
    )
    df = con.execute(QUERIES["web_funnel"][1]).df()
    assert (df.pass_quota <= df.n_docs).all()
    assert (df.pass_dsir <= df.pass_quota).all()
    assert (df.sampled <= df.pass_dsir).all()
    assert (df.pass_quota <= DOMAIN_QUOTA_Q).all()
    assert ((df.kept_tokens == 0) == (df.sampled == 0)).all()
    assert df.pass_dsir.sum() > 0 and df.sampled.sum() > 0  # non-vacuous


def test_line_dedup_keep_first_and_reconstruction():
    """Corpus-wide duplicate-line removal (`line_dedup`, CCNet §4.1 / C4
    span rule): an independent pure-Python replay of the keep-first rule —
    fixed-width 8-token windows over the clinical-prelude text, global
    first-occurrence in (doc_id, line_idx) order wins, per-doc text
    rebuilt from survivors in order — must match the DuckDB oracle
    row-for-row at sf0.001, and the pass must be non-vacuous (at least
    one later duplicate actually dropped)."""
    import re as _re

    import duckdb

    from htep_spark.driver_queries import (
        _TOKEN_PATTERN,
        CLINICAL_SNIPPETS,
        LINE_DEDUP_LEN,
        QUERIES,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    )
    got = {
        r[0]: r[1:]
        for r in con.execute(QUERIES["line_dedup"][1]).fetchall()
    }

    rows = con.execute(
        "SELECT doc_id, text FROM documents ORDER BY doc_id"
    ).fetchall()
    L = LINE_DEDUP_LEN
    seen: set = set()
    dropped_any = False
    for doc_id, text in rows:
        full = CLINICAL_SNIPPETS[doc_id % len(CLINICAL_SNIPPETS)] + "\n" + text
        toks = _re.findall(_TOKEN_PATTERN, full.lower())
        lines = [" ".join(toks[i : i + L]) for i in range(0, len(toks), L)]
        kept = []
        for ln in lines:
            if ln in seen:
                dropped_any = True
            else:
                seen.add(ln)
                kept.append(ln)
        exp = (
            len(lines),
            len(kept),
            sum(len(ln.split(" ")) for ln in kept),
            " ".join(kept),
        )
        assert got[doc_id] == exp, (doc_id, got[doc_id][:3], exp[:3])
    assert dropped_any, "no duplicate line in the corpus; dedup vacuous"
    assert len(got) == len(rows)


def test_dup_longest_matches_brute_force():
    """Exact longest duplicated token-substring (`dup_longest`): the
    DuckDB bisection oracle must equal a brute-force scan (descending L,
    first L with any repeated window; lexicographically smallest winner)
    on every sf0.001 doc — i.e. the binary search is sound (the duplicate
    predicate is downward-closed in L) and the reported substring really
    is maximal. Non-vacuous: several distinct dup lengths occur and at
    least one doc has no within-doc repeat."""
    import re as _re

    import duckdb

    from htep_spark.driver_queries import (
        _TOKEN_PATTERN,
        CLINICAL_SNIPPETS,
        QUERIES,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    )
    got = {
        r[0]: r[1:] for r in con.execute(QUERIES["dup_longest"][1]).fetchall()
    }
    rows = con.execute("SELECT doc_id, text FROM documents").fetchall()

    def brute(toks):
        for L in range(len(toks) - 1, 0, -1):
            seen: dict = {}
            for i in range(len(toks) - L + 1):
                w = " ".join(toks[i : i + L])
                seen[w] = seen.get(w, 0) + 1
            reps = sorted(w for w, c in seen.items() if c > 1)
            if reps:
                return L, reps[0]
        return 0, ""

    lens = set()
    for doc_id, text in rows:
        full = CLINICAL_SNIPPETS[doc_id % len(CLINICAL_SNIPPETS)] + "\n" + text
        toks = _re.findall(_TOKEN_PATTERN, full.lower())
        L, w = brute(toks)
        assert got[doc_id] == (len(toks), L, w), (doc_id, got[doc_id], (L, w))
        lens.add(L)
    assert len(lens) >= 3, lens
    assert len(got) == len(rows)


def test_span_scrub_keep_first_coverage_semantics():
    """C4 duplicate-span scrubbing (`span_scrub`): an independent
    pure-Python replay — overlapping k-token windows, global keep-first by
    (doc_id, pos), every other occurrence marks its k positions, doc
    rebuilt from surviving tokens — must match the DuckDB oracle
    row-for-row at sf0.001. Non-vacuous both ways: some doc loses tokens,
    some doc keeps everything; and a doc's removal count is never more
    than its token count."""
    import re as _re

    import duckdb

    from htep_spark.driver_queries import (
        _TOKEN_PATTERN,
        CLINICAL_SNIPPETS,
        DUP_SPAN_K,
        QUERIES,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    )
    got = {
        r[0]: r[1:] for r in con.execute(QUERIES["span_scrub"][1]).fetchall()
    }

    rows = con.execute(
        "SELECT doc_id, text FROM documents ORDER BY doc_id"
    ).fetchall()
    k = DUP_SPAN_K
    toks_of = {}
    for doc_id, text in rows:
        full = CLINICAL_SNIPPETS[doc_id % len(CLINICAL_SNIPPETS)] + "\n" + text
        toks_of[doc_id] = _re.findall(_TOKEN_PATTERN, full.lower())
    first: dict = {}
    for doc_id in sorted(toks_of):  # packed-key order == (doc_id, pos)
        toks = toks_of[doc_id]
        for i in range(max(len(toks) - k + 1, 0)):
            w = tuple(toks[i : i + k])
            first.setdefault(w, (doc_id, i))
    removed_some = kept_all = False
    for doc_id in sorted(toks_of):
        toks = toks_of[doc_id]
        cov = set()
        for i in range(max(len(toks) - k + 1, 0)):
            if first[tuple(toks[i : i + k])] != (doc_id, i):
                cov.update(range(i, i + k))
        keep = [t for i, t in enumerate(toks) if i not in cov]
        exp = (len(toks), len(toks) - len(keep), " ".join(keep))
        assert got[doc_id] == exp, (doc_id, got[doc_id][:2], exp[:2])
        assert exp[1] <= exp[0]
        removed_some |= exp[1] > 0
        kept_all |= exp[1] == 0 and exp[0] > 0
    assert removed_some and kept_all
    assert len(got) == len(rows)


def test_split_leakage_pure_python_replay():
    """Split-leakage audit (`split_leakage`): an independent pure-Python
    replay — md5-bucket 8/1/1 split, distinct k-token windows, leak
    counts vs the train side, df<=cap attribution with (shared desc,
    train_doc asc) tie-break — must match the DuckDB oracle row-for-row
    at sf0.001. Both cap branches must fire: at least one doc leaks but
    has NO attribution (all its shared windows are hub windows above
    LEAK_DF_CAP) and at least one doc is attributed."""
    import hashlib
    import re as _re

    import duckdb

    from htep_spark.driver_queries import (
        _TOKEN_PATTERN,
        CLINICAL_SNIPPETS,
        DUP_SPAN_K,
        LEAK_DF_CAP,
        QUERIES,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    )
    got = {
        r[0]: r[1:]
        for r in con.execute(QUERIES["split_leakage"][1]).fetchall()
    }
    rows = con.execute("SELECT doc_id, text FROM documents").fetchall()
    k = DUP_SPAN_K

    def bucket(doc_id):
        h = int(hashlib.md5(f"split|{doc_id}".encode()).hexdigest()[:15], 16)
        return h % 10

    wins_of = {}
    for doc_id, text in rows:
        full = CLINICAL_SNIPPETS[doc_id % len(CLINICAL_SNIPPETS)] + "\n" + text
        toks = _re.findall(_TOKEN_PATTERN, full.lower())
        wins_of[doc_id] = {
            tuple(toks[i : i + k])
            for i in range(max(len(toks) - k + 1, 0))
        }
    train = {d: ws for d, ws in wins_of.items() if bucket(d) < 8}
    train_df: dict = {}
    for ws in train.values():
        for w in ws:
            train_df[w] = train_df.get(w, 0) + 1
    capped_fired = attributed = False
    for doc_id, ws in wins_of.items():
        b = bucket(doc_id)
        if b < 8:
            assert doc_id not in got
            continue
        leaked = {w for w in ws if w in train_df}
        shared_counts: dict = {}
        for td, tws in train.items():
            s = sum(
                1 for w in ws if w in tws and train_df[w] <= LEAK_DF_CAP
            )
            if s:
                shared_counts[td] = s
        if shared_counts:
            top = min(shared_counts, key=lambda d: (-shared_counts[d], d))
            top_doc, top_shared = top, shared_counts[top]
            attributed = True
        else:
            top_doc, top_shared = -1, 0
            capped_fired |= bool(leaked)
        exp = (
            "val" if b == 8 else "test",
            len(ws),
            len(leaked),
            round(len(leaked) / max(len(ws), 1), 6),
            top_doc,
            top_shared,
        )
        assert got[doc_id] == exp, (doc_id, got[doc_id], exp)
    assert capped_fired, "cap branch vacuous: every leaked doc attributed"
    assert attributed, "attribution vacuous"


def test_robots_filter_pure_python_replay_and_branches():
    """Robots filtering (`robots_filter`): a pure-Python replay of the
    first-matching-rule semantics must match the DuckDB oracle at
    sf0.001, and all four planted branches must fire: a rule group whose
    rules match nothing, a partial-block group, a group where two rules
    match the same path (file-order argmin picks idx 0), and the empty
    rule file group."""
    import duckdb

    from htep_spark.driver_queries import QUERIES, ROBOTS_RULES

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    )
    rows = con.execute(QUERIES["robots_filter"][1]).fetchall()
    assert rows
    by_grp: dict = {}
    dom_counts: dict = {}
    for doc_id, domain, path, rgrp, midx, mpfx, allowed, db, dt in rows:
        assert path == f"/doc/{doc_id}"
        cands = [
            (i, p)
            for g, i, p in ROBOTS_RULES
            if g == rgrp and path.startswith(p)
        ]
        exp = min(cands) if cands else (-1, "")
        assert (midx, mpfx) == exp, (doc_id, rgrp, midx, mpfx, exp)
        assert allowed == (0 if cands else 1)
        if rgrp == 2:
            assert len(cands) == 2 and midx == 0 and mpfx == "/doc/"
        by_grp.setdefault(rgrp, set()).add(allowed)
        dom_counts.setdefault(domain, [0, 0])
        dom_counts[domain][0] += 1 - allowed
        dom_counts[domain][1] += 1
    assert by_grp[0] == {1}, by_grp  # rules match nothing
    assert by_grp[1] == {0, 1}, by_grp  # partial block
    assert by_grp[2] == {0}, by_grp  # everything blocked (tie-break)
    assert by_grp[3] == {1}, by_grp  # empty rule file
    # per-domain rollup consistency (re-scan now that totals are final)
    for doc_id, domain, path, rgrp, midx, mpfx, allowed, db, dt in rows:
        assert [db, dt] == dom_counts[domain], (domain, db, dt)


def test_mojibake_fix_pure_python_replay_and_branches():
    """Mojibake repair (`mojibake_fix`): a pure-Python replay — the same
    pair table applied with str.replace in pinned order over the same
    prelude — must reproduce the DuckDB oracle's counts, char deltas and
    md5 fingerprints (UTF-8 byte hashing parity on multibyte repair);
    both the hit branch (n_moji > 0, changed, len_delta > 0) and the
    clean branch (all zeros, md5 unchanged) must fire."""
    import duckdb
    import hashlib

    from htep_spark.driver_queries import (
        MOJI_SNIPPETS,
        MOJIBAKE_PAIRS,
        QUERIES,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    )
    got = {r[0]: r[1:] for r in con.execute(QUERIES["mojibake_fix"][1]).fetchall()}
    raw = con.execute("SELECT doc_id, text FROM documents").fetchall()
    hit = clean = 0
    for doc_id, text in raw:
        ctext = MOJI_SNIPPETS[doc_id % len(MOJI_SNIPPETS)] + "\n" + text
        n = sum(ctext.count(k) for k, _ in MOJIBAKE_PAIRS)
        fixed = ctext
        for k, v in MOJIBAKE_PAIRS:
            fixed = fixed.replace(k, v)
        exp = (
            n,
            1 if n else 0,
            len(ctext) - len(fixed),
            hashlib.md5(ctext.encode()).hexdigest(),
            hashlib.md5(fixed.encode()).hexdigest(),
            1 if fixed != ctext else 0,
        )
        assert got[doc_id] == exp, (doc_id, got[doc_id], exp)
        if n:
            hit += 1
            assert exp[2] > 0 and exp[5] == 1
        else:
            clean += 1
            assert exp[3] == exp[4] and exp[5] == 0
    assert hit and clean, (hit, clean)


def test_template_lines_pure_python_replay_and_branches():
    """Per-domain boilerplate removal (`template_lines`): a pure-Python
    replay of the frequency-threshold rule over the planted preludes must
    match the DuckDB oracle at sf0.001, and the planted branches must
    fire: the 100% header and ~52% footer lines are template (dropped
    everywhere), the ~28% promo line is below the 40% threshold (kept),
    and real-text lines survive."""
    import re

    import duckdb

    from htep_spark.driver_queries import (
        LINE_DEDUP_LEN,
        QUERIES,
        TPL_MIN_DOCS,
        TPL_PCT,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    )
    raw = con.execute("SELECT doc_id, source, text FROM documents").fetchall()
    L = LINE_DEDUP_LEN
    # replay the prelude + fixed-width line split
    doc_lines: dict = {}
    doc_src: dict = {}
    for doc_id, source, text in raw:
        j = doc_id // 20
        parts = [f"nav home {source} about contact subscribe follow rss"]
        if j % 2 == 0:
            parts.append(
                f"footer copyright {source} all rights reserved privacy terms"
            )
        if j % 4 == 0:
            parts.append(f"promo banner {source} limited offer click here now")
        parts.append(text)
        toks = re.findall("[a-z0-9]+", " ".join(parts).lower())
        lines = [
            " ".join(toks[i : i + L]) for i in range(0, len(toks), L)
        ]
        doc_lines[doc_id] = lines
        doc_src[doc_id] = int(source[3:])
    # per-(domain, line) distinct-doc counts -> template set
    from collections import defaultdict

    nd: dict = defaultdict(set)
    dom_docs: dict = defaultdict(int)
    for doc_id, lines in doc_lines.items():
        dom_docs[doc_src[doc_id]] += 1
        for ln in set(lines):
            nd[(doc_src[doc_id], ln)].add(doc_id)
    tpl = {
        (s, ln)
        for (s, ln), ds in nd.items()
        if 100 * len(ds) >= TPL_PCT * dom_docs[s] and len(ds) >= TPL_MIN_DOCS
    }
    rows = con.execute(QUERIES["template_lines"][1]).fetchall()
    assert len(rows) == len(raw)
    seen_kept_promo = 0
    for doc_id, src, n_lines, n_drop, n_kept, n_tok, d_tpl, clean in rows:
        assert src == doc_src[doc_id]
        lines = doc_lines[doc_id]
        exp_kept = [ln for ln in lines if (src, ln) not in tpl]
        assert n_lines == len(lines)
        assert n_drop == len(lines) - len(exp_kept)
        assert n_kept == len(exp_kept)
        assert clean == " ".join(exp_kept), doc_id
        assert n_tok == sum(len(ln.split(" ")) for ln in exp_kept)
        assert d_tpl == sum(1 for s, _ln in tpl if s == src)
        # branch checks: header+footer stripped, promo kept
        assert "nav home" not in clean and "footer copyright" not in clean
        assert n_drop >= 1
        if (doc_id // 20) % 4 == 0:
            assert "promo banner" in clean
            seen_kept_promo += 1
    assert seen_kept_promo > 0
    # every domain must have exactly the 2 planted template lines (header
    # + footer): the promo line (~28%) stays below the 40% threshold
    per_dom = {s: sum(1 for t, _ in tpl if t == s) for s in dom_docs}
    assert set(per_dom.values()) == {2}, per_dom


def test_nfc_normalize_pure_python_replay_and_branches():
    """NFC normalization (`nfc_normalize`): a pure-Python unicodedata
    replay must match the DuckDB (utf8proc) oracle at sf0.001 — two
    independent UAX #15 implementations agreeing byte-for-byte — and the
    planted branches must fire: combining-mark composition (classes 0,
    1, 4 shrink), Hangul jamo LVT composition (class 2 shrinks by 2),
    the ﬁ compatibility ligature and plain ASCII are preserved
    (changed = 0)."""
    import hashlib
    import unicodedata

    import duckdb

    from htep_spark.driver_queries import NFC_SNIPPETS, QUERIES

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    )
    raw = dict(con.execute("SELECT doc_id, text FROM documents").fetchall())
    rows = con.execute(QUERIES["nfc_normalize"][1]).fetchall()
    assert len(rows) == len(raw)
    seen = set()
    for doc_id, n_orig, n_norm, n_comp, omd5, nmd5, changed in rows:
        snip = NFC_SNIPPETS[doc_id % 6]
        ctext = snip + "\n" + raw[doc_id]
        norm = unicodedata.normalize("NFC", ctext)
        assert omd5 == hashlib.md5(ctext.encode("utf-8")).hexdigest()
        assert nmd5 == hashlib.md5(norm.encode("utf-8")).hexdigest()
        assert n_orig == len(ctext) and n_norm == len(norm)
        assert n_comp == len(ctext) - len(norm)
        assert changed == (1 if norm != ctext else 0)
        cls = doc_id % 6
        if cls in (0, 4):
            assert n_comp == 1 and changed == 1
        elif cls in (1, 2):
            assert n_comp == 2 and changed == 1
        else:
            assert n_comp == 0 and changed == 0
        seen.add(cls)
    assert seen == set(range(6))
    # the ogonek+acute case exercises canonical REORDERING, not just
    # composition: the raw mark order is non-canonical
    assert unicodedata.normalize("NFC", NFC_SNIPPETS[4]) != NFC_SNIPPETS[4]


def test_lm_kneser_ney_pure_python_replay_and_branches():
    """Kneser-Ney LM (`lm_kneser_ney`): a pure-Python interpolated-KN
    replay — same split, discount, continuation counts, floor — must
    match the DuckDB oracle at sf0.001 to 6dp; every held-out doc fires
    exactly one pure-continuation back-off (knua->join) and two floors
    ((last, knua), (join, knub)); the back-off bigram must score a
    POSITIVE probability (continuation mass of the common 'join');
    every rounded mean_logp clears its 6dp boundary."""
    import hashlib
    import math
    import re
    from collections import Counter, defaultdict

    import duckdb

    from htep_spark.driver_queries import (
        KN_DISCOUNT,
        KN_FLOOR,
        KN_SALT,
        QUERIES,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    )
    raw = con.execute("SELECT doc_id, text FROM documents").fetchall()

    def is_train(d):
        h = int(hashlib.md5(f"{KN_SALT}|{d}".encode()).hexdigest()[:15], 16)
        return h % 2 == 0

    doc_bigrams: dict = {}
    big: Counter = Counter()
    for d, t in raw:
        text = t if is_train(d) else t + " knua join knub"
        toks = re.findall("[a-z0-9]+", text.lower())
        bgs = list(zip(toks, toks[1:]))
        doc_bigrams[d] = bgs
        if is_train(d):
            big.update(bgs)
    ctx: dict = defaultdict(lambda: [0, 0])  # w1 -> [cw1, n1f]
    bwd: Counter = Counter()
    for (w1, w2), c in big.items():
        ctx[w1][0] += c
        ctx[w1][1] += 1
        bwd[w2] += 1
    tt = float(len(big))
    D = KN_DISCOUNT
    rows = con.execute(QUERIES["lm_kneser_ney"][1]).fetchall()
    held_ids = [d for d, _t in raw if not is_train(d)]
    assert len(rows) == len(held_ids)
    for doc_id, mean_logp, n_bigrams, n_backoff, n_floor in rows:
        assert not is_train(doc_id)
        bgs = doc_bigrams[doc_id]
        assert n_bigrams == len(bgs)
        logps, nb, nf = [], 0, 0
        for w1, w2 in bgs:
            pcont = bwd.get(w2, 0) / tt
            if w1 in ctx:
                cw1, n1f = ctx[w1]
                p = (
                    max(big.get((w1, w2), 0) - D, 0.0) / cw1
                    + D * n1f / cw1 * pcont
                )
            else:
                p = pcont
                nb += 1
                if w2 == "join":
                    assert p > 0  # pure-continuation mass of a common token
            if p <= 0:
                nf += 1
            logps.append(math.log(max(p, KN_FLOOR)))
        exp = sum(logps) / len(logps)
        frac = abs(exp * 1e6 - math.floor(exp * 1e6) - 0.5)
        assert frac > 1e-4, (doc_id, exp)
        assert mean_logp == round(exp, 6), (doc_id, mean_logp, exp)
        assert (n_backoff, n_floor) == (nb, nf) == (1, 2), (doc_id, nb, nf)
    # KN probability sanity on a seen context: sums to ~1 over the vocab
    some_w1 = next(w1 for (w1, _w2) in big)
    cw1, n1f = ctx[some_w1]
    vocab = set(bwd) | {w2 for _w1, w2 in big}
    total_p = sum(
        max(big.get((some_w1, w2), 0) - D, 0.0) / cw1
        + D * n1f / cw1 * (bwd.get(w2, 0) / tt)
        for w2 in vocab
    )
    assert abs(total_p - 1.0) < 0.02, total_p
