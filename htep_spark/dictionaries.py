"""Constant keyword/pattern tables of the extraction platform.

Every table reproduces a literal constant of the reference implementation
(file:line cited per table). They are tiny dimension tables; on Spark they
ship to executors via UDF closure capture (one broadcast per executor
process), the moral equivalent of a broadcast hash-join build side.
"""

from __future__ import annotations

from .dictionaries_data import DISEASES, DRUGS

__all__ = [
    "DRUGS",
    "DISEASES",
    "DRUG_SET",
    "DISEASE_SET",
    "DRUGS_SINGLE",
    "DRUGS_MULTI",
    "DISEASES_SINGLE",
    "DISEASES_MULTI",
    "MEDICAL_TERMS",
    "ENGLISH_COMMON",
    "SECTION_KEYWORDS",
    "DOCUMENT_PATTERNS",
    "DOCUMENT_TYPE_ORDER",
    "URGENT_KEYWORDS",
    "HIGH_KEYWORDS",
    "ENTITY_PATTERNS",
]

# Exact-set / single-word / multi-word splits, mirroring
# src/nlp/ocr_postprocessor.py:121-129.
DRUG_SET = frozenset(d.lower() for d in DRUGS)
DISEASE_SET = frozenset(d.lower() for d in DISEASES)
DRUGS_SINGLE = [d for d in DRUGS if " " not in d]
DRUGS_MULTI = [d for d in DRUGS if " " in d]
DISEASES_SINGLE = [d for d in DISEASES if " " not in d]
DISEASES_MULTI = [d for d in DISEASES if " " in d]

# src/nlp/block_parser.py:18-86 (DEFAULT_MEDICAL_DICTIONARY, 66 terms).
MEDICAL_TERMS = [
    "acetaminophen", "admission", "allergy", "amoxicillin", "antibiotic",
    "aspirin", "assessment", "asthma", "blood", "bronchitis", "capsule",
    "cholesterol", "clinic", "condition", "consultation", "creatinine",
    "diagnosis", "diabetes", "discharge", "dosage", "emergency", "fever",
    "follow", "frequency", "glucose", "hemoglobin", "hospital",
    "hypertension", "ibuprofen", "impression", "infection", "insulin",
    "instructions", "laboratory", "medication", "metformin", "milligram",
    "note", "objective", "paracetamol", "patient", "pharmacy", "physician",
    "plan", "pneumonia", "prescription", "procedure", "progress",
    "radiology", "refill", "report", "results", "routine", "severe", "soap",
    "specialist", "subjective", "summary", "surgery", "symptoms", "tablet",
    "treatment", "ultrasound", "urgent", "urine", "visit", "xray",
]

# src/nlp/block_parser.py:89-99 (DEFAULT_COMMON_ENGLISH_DICTIONARY, 86 terms).
ENGLISH_COMMON = [
    "a", "about", "after", "all", "also", "and", "any", "are", "as", "at",
    "be", "because", "but", "by", "can", "come", "day", "did", "do", "for",
    "from", "good", "has", "have", "he", "hello", "her", "him", "his", "how",
    "i", "if", "in", "is", "it", "its", "just", "know", "like", "man",
    "me", "more", "my", "name", "new", "no", "not", "now", "of", "on",
    "one", "or", "our", "out", "people", "say", "she", "so", "some", "test",
    "that", "the", "their", "them", "there", "they", "this", "time", "to",
    "up", "use", "was", "we", "well", "what", "when", "which", "who",
    "will", "with", "word", "work", "world", "would", "you", "your",
]

# src/segmentation/medical_segmenter.py:25-30 — insertion order is the
# classification priority (first matching type wins).
SECTION_KEYWORDS = {
    "medication": ["rx", "prescription", "dosage", "tablet", "capsule"],
    "diagnosis": ["diagnosis", "impression", "assessment"],
    "plan": ["plan", "follow up", "follow-up", "recommendation"],
    "vitals": ["bp", "pulse", "temperature", "mmhg"],
}

# src/nlp/classifier.py:29-121 — keyword lists + regex patterns per type;
# dict insertion order is the stable tie-break of the score sort (:183).
DOCUMENT_PATTERNS = {
    "discharge_summary": {
        "keywords": [
            "discharge", "discharged", "admission", "admitted",
            "hospital stay", "length of stay", "discharge date",
            "admission date", "discharge diagnosis", "discharge instructions",
        ],
        "patterns": [
            r"discharge\s+(?:summary|report|note)",
            r"admission\s+(?:date|diagnosis)",
            r"hospital\s+course",
            r"condition\s+on\s+discharge",
        ],
    },
    "lab_report": {
        "keywords": [
            "laboratory", "lab results", "blood test", "urine test",
            "hemoglobin", "glucose", "cholesterol", "creatinine",
            "normal range", "abnormal", "reference range",
        ],
        "patterns": [
            r"lab\s+(?:results?|report|findings)",
            r"laboratory\s+(?:results?|report)",
            r"reference\s+range",
            r"\d+\.\d+\s*(?:mg/dl|mmol/l|g/dl)",
        ],
    },
    "consultation_note": {
        "keywords": [
            "consultation", "referred by", "consulting physician",
            "opinion", "recommendations", "specialist",
            "follow up", "follow-up",
        ],
        "patterns": [
            r"consultation\s+(?:note|report)",
            r"referred\s+(?:by|to)",
            r"consulting\s+physician",
            r"specialist\s+opinion",
        ],
    },
    "prescription": {
        "keywords": [
            "prescription", "medication", "dosage", "frequency",
            "tablets", "capsules", "mg", "ml", "twice daily",
            "once daily", "pharmacy", "refill",
        ],
        "patterns": [
            r"(?:rx|prescription)[:.]",
            r"\d+\s*mg\s+(?:once|twice|three times)\s+daily",
            r"take\s+\d+\s+(?:tablet|capsule)",
            r"sig[:.]",
        ],
    },
    "radiology_report": {
        "keywords": [
            "radiology", "x-ray", "ct scan", "mri", "ultrasound",
            "impression", "findings", "radiologist",
            "contrast", "image", "scan",
        ],
        "patterns": [
            r"(?:ct|mri|x-ray|ultrasound)\s+(?:scan|report)",
            r"radiological\s+(?:findings|impression)",
            r"contrast\s+(?:agent|medium)",
            r"image\s+quality",
        ],
    },
    "progress_note": {
        "keywords": [
            "progress note", "daily note", "soap note",
            "assessment", "plan", "subjective", "objective",
            "today", "patient reports", "continues",
        ],
        "patterns": [
            r"progress\s+note",
            r"soap\s+note",
            r"(?:subjective|objective|assessment|plan)[:.]",
            r"patient\s+(?:reports|states|complains)",
        ],
    },
    "operative_report": {
        "keywords": [
            "operative report", "surgery", "procedure", "operation",
            "anesthesia", "incision", "suture", "surgeon",
            "postoperative", "intraoperative",
        ],
        "patterns": [
            r"operative\s+(?:report|note)",
            r"surgical\s+procedure",
            r"(?:pre|post|intra)operative",
            r"anesthesia\s+type",
        ],
    },
}
DOCUMENT_TYPE_ORDER = list(DOCUMENT_PATTERNS)

# src/nlp/classifier.py:231-241.
URGENT_KEYWORDS = [
    "emergency", "urgent", "stat", "immediate", "critical",
    "severe", "acute", "emergency room", "er visit",
    "ambulance", "code blue", "trauma",
]
HIGH_KEYWORDS = [
    "abnormal", "concerning", "suspicious", "significant",
    "requires attention", "follow up immediately",
    "contact physician",
]

# src/nlp/classifier.py:277-311 — basic entity regexes.
ENTITY_PATTERNS = {
    "medications": [
        r"\b[A-Z][a-z]+(?:cillin|mycin|pril|sartan|olol|pine|zole|mine)\b",
        r"\b(?:aspirin|ibuprofen|acetaminophen|paracetamol|insulin)\b",
    ],
    "conditions": [
        r"\b(?:diabetes|hypertension|pneumonia|bronchitis|asthma)\b",
        r"\b(?:fracture|infection|inflammation|tumor|cancer)\b",
    ],
    "procedures": [
        r"\b(?:surgery|biopsy|x-ray|ct scan|mri|ultrasound)\b",
        r"\b(?:blood test|urine test|ecg|ekg|colonoscopy)\b",
    ],
    "measurements": [
        r"\d+(?:\.\d+)?\s*(?:mg/dl|mmol/l|g/dl|kg|lbs|cm|ft|in)",
        r"\d+/\d+\s*mmHg",
        r"\d+(?:\.\d+)?\s*°[FC]",
    ],
}
