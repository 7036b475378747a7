"""Structured field extraction: semi-structured text → nested record (E1/E2/E5).

Pure-Python kernel mirroring the deterministic layers of
``src/nlp/medical_extractor.py`` — the regex layer (:62-147), medicine-line
parse (:149-174), dictionary entity scan (:226-251) and their merge
(:253-336). The spaCy / sciSpaCy NER layers (:176-224) are model-dependent
and excluded from the canonical deterministic output (SURVEY.md §2.5 E3/E4).

The regexes use lookaheads / DOTALL / IGNORECASE — Python ``re`` is the
normative engine; on the Spark side they run inside the fields stage's
Arrow UDF rather than being translated to Java regex. The batch kernel
(``reference.STAGES``) answers the ten lookaround-free search patterns in
one RE2 pass per Arrow batch (``FIELD_RE2``, ``batch_regex.extracts``) on
the turns where RE2 and ``re`` provably agree; every other turn, and the
two lookahead-bounded name patterns, run here in Python.
"""

from __future__ import annotations

import re
from typing import Dict, List, Optional

from ..dictionaries import DISEASE_SET, DRUG_SET
from . import batch_regex

__all__ = ["extract_regex_fields", "parse_medicine_line", "scan_dictionaries", "extract_record"]

_DATE_RE = re.compile(
    r"\b(\d{4}-\d{2}-\d{2}|\d{1,2}/\d{1,2}/\d{2,4}|\d{1,2}(st|nd|rd|th)?\s+"
    r"(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)[a-z]*\s+\d{4})\b",
    re.IGNORECASE,
)
_NAME_RE = re.compile(
    r"(?:Patient|Name)\s*[:\-]\s*([A-Za-z\s]+?)"
    r"(?=\n|,|\s+(?:Age|DOB|Date|Gender|Sex|Diagnosis|Rx|BP))",
    re.IGNORECASE,
)
_DOCTOR_RE = re.compile(
    r"(?:Dr\.?|Doctor|Physician)\s*[:\-]?\s*([A-Za-z\.\s]+?)"
    r"(?=\n|,|$|\s+(?:Patient|Hospital|Clinic|Date|Diagnosis|Rx|Age|BP))",
    re.IGNORECASE | re.MULTILINE,
)
_HOSPITAL_RE = re.compile(
    r"(?:Hospital|Clinic|Medical Center|Health Center)\s*:\s*([^\n]+)", re.IGNORECASE
)
_AGE_RE = re.compile(r"(?:Age)\s*[:\-]\s*(\d+)", re.IGNORECASE)
_GENDER_RE = re.compile(r"(?:Gender|Sex)\s*[:\-]\s*(Male|Female|M|F)", re.IGNORECASE)
_BP_RE = re.compile(
    r"(?:BP|Blood Pressure)\s*[:\-]\s*(\d{2,3}\s*/\s*\d{2,3})", re.IGNORECASE
)
_TEMP_RE = re.compile(
    r"(?:Temp|Temperature)\s*[:\-]\s*(\d{2,3}(?:\.\d)?\s*[FC])", re.IGNORECASE
)
_PULSE_RE = re.compile(
    r"(?:Pulse|HR|Heart Rate)\s*[:\-]\s*(\d{2,3})\s*(?:bpm)?", re.IGNORECASE
)
_DIAG_RE = re.compile(
    r"(?:Diagnosis|Assessment|Impression)\s*[:\-]\s*"
    r"([^\n]+(?:\n\s*[\-\*o\d\.]+\s+[^\n]+)*)",
    re.IGNORECASE,
)
_RX_RE = re.compile(
    r"(?:Rx|Medications?|Medicines?|Prescription)\s*[:\-]\s*(.*?)"
    r"(?:Instructions?|Advice|Plan|BP|Blood Pressure|Temp|Temperature|Pulse|HR|Vitals|$)",
    re.IGNORECASE | re.DOTALL,
)
_INST_RE = re.compile(
    r"(?:Instructions?|Advice|Plan|Follow up)\s*[:\-]\s*(.*)",
    re.IGNORECASE | re.DOTALL,
)
_BULLET_RE = re.compile(r"^[\-\*o\d\.]+\s*")
_DOSAGE_RE = re.compile(
    r"(\d+(?:\.\d+)?\s*(?:mg|g|ml|mcg|units?|tablets?|capsules?|drops?))", re.IGNORECASE
)
_FREQ_RE = re.compile(
    r"\b((?:once|twice|thrice)\s+daily|daily|bid|tid|qid|prn|every\s+\d+\s+hours|"
    r"(?:once|twice|thrice)\s+a\s+day|morning\s+and\s+night|morning|night|"
    r"at\s+bedtime|after\s+meals?)\b",
    re.IGNORECASE,
)
_WINDOW_FREQ_RE = re.compile(
    r"\b((?:once|twice|thrice)\s+daily|daily|bid|tid|qid|prn|every\s+\d+\s+hours|"
    r"morning|night)\b",
    re.IGNORECASE,
)


def parse_medicine_line(line: str) -> Optional[Dict]:
    """E2 (``src/nlp/medical_extractor.py:149-174``)."""
    dosage_m = _DOSAGE_RE.search(line)
    freq_m = _FREQ_RE.search(line)
    dosage = dosage_m.group(1) if dosage_m else None
    freq = freq_m.group(1) if freq_m else None
    name = line
    if dosage:
        name = name[: name.find(dosage)].strip()
    elif freq:
        name = name[: name.find(freq)].strip()
    name = _BULLET_RE.sub("", name).strip()
    if len(name) > 2:
        return {"name": name, "dosage": dosage, "frequency": freq}
    return None


_FIELD_DIGIT_RE = re.compile(r"\d")

# The search-then-group(1) field patterns, by the key the kernel reads.
_SEARCH_FIELDS = {
    "date": _DATE_RE,
    "name": _NAME_RE,
    "doctor": _DOCTOR_RE,
    "hospital": _HOSPITAL_RE,
    "age": _AGE_RE,
    "gender": _GENDER_RE,
    "bp": _BP_RE,
    "temp": _TEMP_RE,
    "pulse": _PULSE_RE,
    "diag": _DIAG_RE,
    "rx": _RX_RE,
    "inst": _INST_RE,
}
# Their RE2 forms, run once per batch by ``batch_regex.extracts``; built and
# checked at import. The two name patterns end in a lookahead, so they run
# in Python on every turn.
FIELD_RE2 = batch_regex.table(
    _SEARCH_FIELDS,
    extract=True,
    python_only={"name": "lookahead", "doctor": "lookahead"},
)

# Cheap gates of the Python path: each detector regex can only match when
# the text has a digit (``_DIGIT_GATED``) and at least one listed lowercase
# literal occurs in the lowercased text (every alternation branch of its
# mandatory prefix contains one). A failed gate skips the regex with
# provably identical results — differentially tested
# (`test_field_gates_are_sound`) and byte-gated by the golden corpus + the
# vitals_fields / extract_fields_scalar driver oracles.
_DIGIT_GATED = frozenset({"date", "age", "bp", "temp", "pulse"})
_FIELD_GATES = {
    "name": ("patient", "name"),
    "doctor": ("dr", "doctor", "physician"),  # 'doctor' !⊃ 'dr'
    "hospital": ("hospital", "clinic", "medical center", "health center"),
    "age": ("age",),
    "gender": ("gender", "sex"),
    "bp": ("bp", "blood pressure"),
    "temp": ("temp",),
    "pulse": ("pulse", "hr", "heart rate"),
    "diag": ("diagnosis", "assessment", "impression"),
    "rx": ("rx", "medication", "medicine", "prescription"),
    "inst": ("instruction", "advice", "plan", "follow up"),
}
_DIAG_SPLIT_RE = re.compile(r",| and |\n")


def extract_regex_fields(
    text: str, found: Optional[Dict[str, Optional[str]]] = None
) -> Dict:
    """E1 (``src/nlp/medical_extractor.py:62-147``).

    ``found`` is this turn's answer from ``batch_regex.extracts`` over
    ``FIELD_RE2`` — each RE2 pattern's group(1), ``None`` where it does not
    match — or ``None``, and then every pattern runs here in Python."""
    data: Dict = {
        "patient_name": None,
        "age": None,
        "gender": None,
        "date": None,
        "doctor_name": None,
        "hospital": None,
        "diagnosis": [],
        "medicines": [],
        "vitals": {},
        "instructions": [],
    }
    low = text.lower()
    has_digit = _FIELD_DIGIT_RE.search(text) is not None

    def group1(key: str) -> Optional[str]:
        """group(1) of the key's first match; ``None`` if it does not match."""
        if found is not None and key in found:
            return found[key]
        if key in _DIGIT_GATED and not has_digit:
            return None
        gates = _FIELD_GATES.get(key, ())
        if gates and not any(g in low for g in gates):
            return None
        m = _SEARCH_FIELDS[key].search(text)
        return m.group(1) if m else None

    g = group1("date")
    if g is not None:
        data["date"] = g
    g = group1("name")
    if g is not None:
        data["patient_name"] = g.strip()
    g = group1("doctor")
    if g is not None:
        head = "" if g.strip().lower().startswith("dr") else "Dr. "
        data["doctor_name"] = head + g.strip()
    g = group1("hospital")
    if g is not None:
        data["hospital"] = g.strip()
    g = group1("age")
    if g is not None:
        data["age"] = g
    g = group1("gender")
    if g is not None:
        val = g.upper()
        data["gender"] = (
            "Male" if val in ("MALE", "M") else ("Female" if val in ("FEMALE", "F") else val)
        )
    g = group1("bp")
    if g is not None:
        data["vitals"]["bp"] = g.replace(" ", "")
    g = group1("temp")
    if g is not None:
        data["vitals"]["temp"] = g.replace(" ", "")
    g = group1("pulse")
    if g is not None:
        data["vitals"]["pulse"] = g
    g = group1("diag")
    if g is not None:
        for item in _DIAG_SPLIT_RE.split(g):
            clean = _BULLET_RE.sub("", item).strip()
            if clean and clean.lower() not in ("diagnosis:", "assessment:", "impression:"):
                data["diagnosis"].append(clean)
    g = group1("rx")
    if g is not None:
        for line in (l.strip() for l in g.split("\n") if l.strip()):
            med = parse_medicine_line(line)
            if med:
                data["medicines"].append(med)
    g = group1("inst")
    if g is not None:
        data["instructions"].extend(l.strip() for l in g.split("\n") if l.strip())
    return data


_WORD_RUN_RE = re.compile(r"\w+")


def _split_terms(terms):
    """Partition a dictionary once at import: single word-char-only terms
    (``\\b term \\b`` matches iff the term equals some maximal \\w+ run, so
    set membership against the text's word runs is exactly equivalent),
    multi-word terms (substring rule), and the rare punctuated singles
    (precompiled word-boundary regex)."""
    simple, multi, rx = [], [], []
    for t in sorted(terms):
        if " " in t:
            multi.append(t)
        elif re.fullmatch(r"\w+", t):
            simple.append(t)
        else:
            rx.append((t, re.compile(r"\b" + re.escape(t) + r"\b")))
    return frozenset(simple), multi, rx


_DRUG_SIMPLE, _DRUG_MULTI, _DRUG_RX = _split_terms(DRUG_SET)
_DISEASE_SIMPLE, _DISEASE_MULTI, _DISEASE_RX = _split_terms(DISEASE_SET)
# the ±30-char context window after each dictionary drug (extract_record)
_DRUG_WINDOW = {
    t: re.compile(r"\b" + re.escape(t) + r"\b(.{0,30})", re.IGNORECASE) for t in DRUG_SET
}


def _scan_terms(text_lower, word_runs, simple_set, multi, rx) -> List[str]:
    hits = list(word_runs & simple_set)
    hits += [t for t in multi if t in text_lower]
    hits += [t for t, pat in rx if pat.search(text_lower)]
    hits.sort()  # alphabetical base order, then stable length sort
    return sorted(hits, key=len, reverse=True)


def scan_dictionaries(text: str) -> Dict[str, List[str]]:
    """E5 scan (``src/nlp/medical_extractor.py:226-251``): word-boundary
    regex for single-word terms, substring for multi-word; longest-first.

    The reference iterates unordered ``set``s; we produce an alphabetical
    base order so the secondary ``sorted(key=len, reverse=True)`` tie-break
    (equal-length terms) is deterministic (Python sort is stable →
    alphabetical within a length class). Set intersection against the
    text's word runs replaces one membership probe per dictionary term —
    O(words in text) instead of O(dictionary)."""
    text_lower = text.lower()
    word_runs = frozenset(_WORD_RUN_RE.findall(text_lower))
    return {
        "drugs": _scan_terms(text_lower, word_runs, _DRUG_SIMPLE, _DRUG_MULTI, _DRUG_RX),
        "diseases": _scan_terms(
            text_lower, word_runs, _DISEASE_SIMPLE, _DISEASE_MULTI, _DISEASE_RX
        ),
    }


def extract_record(text: str, found: Optional[Dict[str, Optional[str]]] = None) -> Dict:
    """Full deterministic extract + merge (``medical_extractor.py:253-336``
    minus the spaCy layers). ``found``: the turn's RE2 answers, as in
    :func:`extract_regex_fields`.

    Empty/blank input returns ``{}`` (:257-258). Dictionary diseases merge
    into ``diagnosis`` Title-cased unless a bidirectional-substring
    duplicate; dictionary drugs merge into ``medicines`` with a ±30-char
    context window re-scanned for dosage/frequency, added only when a dosage
    was found or the term is in the drug dictionary (always true here since
    the deterministic potential-med pool is the dictionary scan itself).
    """
    if not text or not text.strip():
        return {}
    final = extract_regex_fields(text, found)
    dict_data = scan_dictionaries(text)

    diag_set = set(d.lower() for d in final["diagnosis"])
    for disease in dict_data["diseases"]:
        dl = disease.lower()
        is_sub = any(dl in e for e in diag_set) or any(e in dl for e in diag_set)
        if not is_sub:
            final["diagnosis"].append(disease.title())
            diag_set.add(dl)

    existing = set(m["name"].lower() for m in final["medicines"])
    # reference iterates an unordered set of potential meds (:309-311);
    # sorted here for determinism
    for med_name in sorted(set(dict_data["drugs"])):
        ml = med_name.lower()
        if any(ml in e for e in existing):
            continue
        window_m = _DRUG_WINDOW[med_name].search(text)
        dosage = None
        freq = None
        if window_m:
            window = window_m.group(1)
            dm = _DOSAGE_RE.search(window)
            fm = _WINDOW_FREQ_RE.search(window)
            if dm:
                dosage = dm.group(1)
            if fm:
                freq = fm.group(1)
        if dosage or ml in DRUG_SET:
            final["medicines"].append(
                {"name": med_name.title(), "dosage": dosage, "frequency": freq}
            )
            existing.add(ml)
    return final
