"""Seeded workload generator.

Every input row is built here from ``random.Random`` seeded by the run's
seed and a batch number, in a single process; the program under test
receives only the generated rows (written as parquet with pyarrow, in
``TRANSCRIPT_SCHEMA`` column order). Each pass of a run reads a fresh batch
from the same distribution, so the OCR-noise tail stays unseen as it would
on new data. The vocabulary is the benchmark's own, so a change to the
program's dictionaries does not change the inputs.

Two corpora:

- ``clinical_corpus``: long clinical notes over all five payload routes of
  ``reference.decode_payload`` (plain, markdown, html, pdf_layout,
  chat_json) with seeded OCR noise, so unseen tokens have a tail.
- ``agent_corpus``: short agent-style turns (one-line user messages,
  chat_json tool output, brief replies) in heavy-tailed conversations with
  one mega-conversation and planted near-duplicates.

``input_properties`` summarises what a run measured on.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import statistics
from dataclasses import dataclass, field
from random import Random
from typing import Dict, List, Tuple

FIRST = ["John", "Jane", "Robert", "Emily", "Michael", "Sarah", "David", "Laura",
         "James", "Emma", "Ravi", "Priya", "Ahmed", "Fatima", "Chen", "Mei"]
LAST = ["Smith", "Johnson", "Williams", "Brown", "Jones", "Garcia", "Miller",
        "Davis", "Kapoor", "Nguyen", "Okafor", "Rossi"]
HOSPITALS = ["CityCare Hospital", "General Hospital", "Mercy Medical Center",
             "Sunrise Clinic", "Lakeside Health", "St. Anne Infirmary"]
DOCTORS = ["Dr. Smith", "Dr. Adams", "Dr. Kapoor", "Dr. Lee", "Dr. Okafor"]
DRUGS = ["acetaminophen", "amlodipine", "amoxicillin", "atorvastatin",
         "azithromycin", "ciprofloxacin", "clopidogrel", "diclofenac",
         "ibuprofen", "insulin", "lisinopril", "losartan", "metformin",
         "metoprolol", "omeprazole", "pantoprazole", "paracetamol",
         "prednisone", "salbutamol", "simvastatin", "warfarin", "cetirizine",
         "folic acid", "ferrous sulfate"]
DISEASES = ["anemia", "asthma", "bronchitis", "copd", "diabetes", "fever",
            "gastritis", "gerd", "headache", "hypertension", "migraine",
            "pneumonia", "arthritis", "dengue", "malaria", "tuberculosis",
            "atrial fibrillation", "acute kidney injury", "allergic rhinitis",
            "heart failure"]
FREQS = ["once daily", "twice daily", "thrice daily", "every 8 hours",
         "morning and night", "at bedtime", "as needed"]
DOSES = [5, 10, 20, 40, 50, 100, 250, 500, 650, 1000]
INSTRUCTIONS = [
    "Return to clinic if symptoms worsen.",
    "Continue medications as prescribed.",
    "Avoid high-sugar foods.",
    "Drink plenty of fluids.",
    "Schedule a follow-up in 2 weeks.",
    "Monitor blood pressure at home every morning.",
    "Complete the full course of antibiotics.",
    "Seek emergency care for chest pain or breathlessness.",
]
HISTORY = [
    "Patient reports {sym} for the last {n} days.",
    "Known case of {dis} on regular treatment.",
    "No known drug allergies.",
    "Family history of {dis}.",
    "Presented to the emergency department with {sym}.",
    "Symptoms improved after starting {drug}.",
    "Advised lifestyle modification and regular exercise.",
    "Lab results show elevated glucose and mild anemia.",
]
SYMPTOMS = ["cough", "fever", "chest pain", "shortness of breath", "fatigue",
            "abdominal pain", "dizziness", "joint pain", "headache"]
# OCR confusions (letter -> look-alike digit), the direction the program's
# correction stage undoes
OCR = {"o": "0", "l": "1", "e": "3", "s": "5", "g": "6", "b": "8"}
TOKEN_RE = re.compile(r"[a-z0-9]+")
KINDS = ("plain", "markdown", "html", "pdf_layout", "chat_json")
KIND_WEIGHTS = (0.25, 0.2, 0.2, 0.2, 0.15)  # clinical corpus, in KINDS order
MEGA_SHARE = 0.3  # agent corpus: turns in the mega-conversation
DUP_SHARE = 0.08  # agent corpus: chance a turn is a planted near-duplicate
BASE_TS = dt.datetime(2026, 1, 1)


@dataclass
class Corpus:
    """Generated rows plus what the checks need to know about them."""

    rows: List[Dict] = field(default_factory=list)
    kinds: List[str] = field(default_factory=list)  # intended route per row
    conv_sizes: Dict[str, int] = field(default_factory=dict)
    planted: List[int] = field(default_factory=list)  # rows that are near-duplicates


def doc_id(conv_no: int, turn_idx: int) -> int:
    """Row key used by the dedup stage; increases in generation order."""
    return (conv_no << 20) | turn_idx


def _noisy(rng: Random, text: str, rate: float) -> str:
    """Seeded OCR noise: look-alike digits and dropped or doubled letters."""
    if rate <= 0:
        return text
    out = []
    for word in text.split(" "):
        if word and rng.random() < rate:
            chars = [OCR.get(c, c) if rng.random() < 0.5 else c for c in word]
            if len(chars) > 3 and rng.random() < 0.3:
                k = rng.randrange(1, len(chars) - 1)
                if rng.random() < 0.5:
                    del chars[k]
                else:
                    chars.insert(k, chars[k])
            word = "".join(chars)
        out.append(word)
    return " ".join(out)


def _note_lines(rng: Random) -> List[str]:
    drugs = rng.sample(DRUGS, rng.randint(1, 4))
    diseases = rng.sample(DISEASES, rng.randint(1, 3))
    lines = [
        f"{rng.choice(HOSPITALS)} - {rng.choice(['Discharge Summary', 'Prescription', 'Consultation Note', 'Lab Report'])}",
        f"Patient Name : {rng.choice(FIRST)} {rng.choice(LAST)}",
        f"Patient ID : CH-{rng.randint(1000, 99999)}",
        f"Age : {rng.randint(1, 95)}",
        f"Gender : {rng.choice(['Male', 'Female'])}",
        f"Date : {rng.randint(1, 28):02d}/{rng.randint(1, 12):02d}/2025",
        f"BP: {rng.randint(95, 180)}/{rng.randint(55, 110)}, Temp: "
        f"{rng.uniform(96.5, 103.5):.1f} F, Pulse: {rng.randint(50, 130)} bpm",
        "History:",
    ]
    for _ in range(rng.randint(2, 6)):
        lines.append(rng.choice(HISTORY).format(
            sym=rng.choice(SYMPTOMS), n=rng.randint(1, 30),
            dis=rng.choice(DISEASES), drug=rng.choice(DRUGS)))
    lines.append("Diagnosis:")
    lines += [f"- {d.title()}" for d in diseases]
    lines.append("Treatment Summary:")
    lines += [f"- {d.title()} {rng.choice(DOSES)}mg {rng.choice(FREQS)}" for d in drugs]
    lines.append("Follow up instructions:")
    lines += [f"- {i}" for i in rng.sample(INSTRUCTIONS, rng.randint(1, 3))]
    lines += [f"Consultant: {rng.choice(DOCTORS)}", "Signature:"]
    return lines


def _html(rng: Random, lines: List[str]) -> str:
    paras = "".join(f"<p>{line}</p>" for line in lines)
    return (
        "<html><head><title>record</title><script>var x=1;</script>"
        "<style>p{margin:0}</style></head><body>"
        "<nav><a href='/'>Home</a> <a href='/records'>Records</a> "
        "<a href='/help'>Help</a></nav>"
        f"<div class='main'>{paras}</div>"
        f"<footer><a href='/terms'>Terms</a> &copy; clinic {rng.randint(1, 99)}</footer>"
        "</body></html>"
    )


def _pdf(rng: Random, lines: List[str]) -> str:
    n_pages = rng.randint(1, 3)
    per = -(-len(lines) // n_pages)
    pages = []
    for p in range(n_pages):
        chunk = lines[p * per:(p + 1) * per]
        blocks = [{"bbox": [10, 20 * k, 400, 20 * k + 15], "text": t}
                  for k, t in enumerate(chunk)]
        rng.shuffle(blocks)
        pages.append({"page": p + 1, "blocks": blocks})
    rng.shuffle(pages)
    return json.dumps({"kind": "pdf_layout", "pages": pages})


def _chat(rng: Random, lines: List[str]) -> str:
    messages, k = [], 0
    while k < len(lines):
        step = rng.randint(1, 5)
        role = rng.choice(["user", "assistant", "tool"])
        messages.append({"role": role, "text": "\n".join(lines[k:k + step])})
        if rng.random() < 0.2:
            messages.append({"role": "tool", "text": ""})
        k += step
    return json.dumps({"kind": "chat_json", "messages": messages})


def _render(rng: Random, kind: str, lines: List[str]) -> str:
    if kind == "plain":
        return "\n".join(lines)
    if kind == "markdown":
        return "```text\nTranscription: " + "\n".join(lines) + "\n```"
    if kind == "html":
        return _html(rng, lines)
    if kind == "pdf_layout":
        return _pdf(rng, lines)
    return _chat(rng, lines)


def _row(conv_no: int, turn_idx: int, role: str, text: str, tool: str) -> Dict:
    return {
        "conv_id": f"c{conv_no:06d}",
        "turn_idx": turn_idx,
        "role": role,
        "text": text,
        "tool": tool,
        "ts": BASE_TS + dt.timedelta(hours=conv_no, seconds=30 * turn_idx),
    }


def clinical_corpus(seed: int, batch: int, n_turns: int) -> Corpus:
    """Long clinical turns over all five routes, conversations of 5-40 turns."""
    rng = Random(f"clinical:{seed}:{batch}")
    corpus = Corpus()
    conv_no = 0
    while len(corpus.rows) < n_turns:
        size = min(rng.randint(5, 40), n_turns - len(corpus.rows))
        for turn_idx in range(size):
            kind = rng.choices(KINDS, weights=KIND_WEIGHTS)[0]
            rate = 0.0 if rng.random() < 0.5 else rng.uniform(0.02, 0.12)
            lines = [_noisy(rng, line, rate) for line in _note_lines(rng)]
            role = "tool" if kind in ("pdf_layout", "chat_json") else rng.choice(["user", "assistant"])
            tool = {"pdf_layout": "pdf_upload", "chat_json": "chat_export"}.get(kind, "")
            corpus.rows.append(_row(conv_no, turn_idx, role, _render(rng, kind, lines), tool))
            corpus.kinds.append(kind)
        corpus.conv_sizes[f"c{conv_no:06d}"] = size
        conv_no += 1
    return corpus


_USER = [
    "I have been taking {drug} {dose}mg for my {dis}, is that ok?",
    "my bp was {sys}/{dia} this morning",
    "can you refill my {drug} prescription",
    "still having {sym} after {drug}",
    "what is the dose of {drug} for {dis}",
    "is {drug} safe with {drug2}?",
    "feeling better today, the {sym} is gone",
]
_REPLY = [
    "Noted. Continue {drug} {freq}.",
    "Please check your blood pressure again tomorrow.",
    "{drug} {dose}mg {freq} is the usual dose for {dis}.",
    "I have sent the refill request for {drug}.",
    "If the {sym} persists, please visit the clinic.",
    "Okay.",
]


def _short_turn(rng: Random, role: str) -> Tuple[str, str, str]:
    """→ (text, tool, kind) for one short agent-style turn."""
    slots = dict(drug=rng.choice(DRUGS), drug2=rng.choice(DRUGS), dis=rng.choice(DISEASES),
                 dose=rng.choice(DOSES), freq=rng.choice(FREQS), sym=rng.choice(SYMPTOMS),
                 sys=rng.randint(95, 180), dia=rng.randint(55, 110))
    if role == "tool":
        messages = [{"role": "tool", "text": f"lookup {slots['drug']}: {rng.randint(1, 40)} results"}]
        if rng.random() < 0.5:
            verdict = rng.choice(["no interaction", "moderate interaction", "avoid"])
            messages.append({"role": "tool", "text": f"interaction check: {slots['drug']} + {slots['drug2']} -> {verdict}"})
        return json.dumps({"kind": "chat_json", "messages": messages}), "drug_lookup", "chat_json"
    template = rng.choice(_USER if role == "user" else _REPLY)
    rate = 0.0 if rng.random() < 0.5 else rng.uniform(0.05, 0.3)
    return _noisy(rng, template.format(**slots), rate), "", "plain"


def _near_duplicate(rng: Random, text: str) -> str:
    """Same content after decoding, different bytes."""
    if text.startswith("{"):
        return json.dumps(json.loads(text), indent=rng.choice([1, 2]))
    words = text.split(" ")
    k = rng.randrange(len(words))
    words[k] = words[k] + " "  # doubled inner space
    return "  " + " ".join(words) + rng.choice(["\n", " ", "\t"])


def agent_corpus(seed: int, batch: int, n_turns: int) -> Corpus:
    """Short turns, heavy-tailed conversation sizes, planted near-duplicates."""
    rng = Random(f"agent:{seed}:{batch}")
    mega = int(n_turns * MEGA_SHARE)
    sizes = [mega]
    rest = n_turns - mega
    while rest > 0:
        size = min(rest, max(2, int(2 * rng.paretovariate(1.3))), 400)
        sizes.append(size)
        rest -= size
    rng.shuffle(sizes)  # the mega-conversation is not always first
    corpus = Corpus()
    sources: List[int] = []
    for conv_no, size in enumerate(sizes):
        for turn_idx in range(size):
            role = ("user", "assistant", "tool")[turn_idx % 3] if rng.random() < 0.7 \
                else rng.choice(["user", "assistant", "tool"])
            text, tool, kind = _short_turn(rng, role)
            if sources and rng.random() < DUP_SHARE:
                src = rng.choice(sources)
                text, tool, kind = _near_duplicate(rng, corpus.rows[src]["text"]), \
                    corpus.rows[src]["tool"], corpus.kinds[src]
                corpus.planted.append(len(corpus.rows))
            elif len(TOKEN_RE.findall(text.lower())) >= 6:
                sources.append(len(corpus.rows))
            corpus.rows.append(_row(conv_no, turn_idx, role, text, tool))
            corpus.kinds.append(kind)
        corpus.conv_sizes[f"c{conv_no:06d}"] = size
    return corpus


def input_properties(corpus: Corpus) -> Dict:
    """Payload-kind mix, distinct-token share, conversation-size
    percentiles, mega-conversation share and planted-duplicate share."""
    n = len(corpus.rows)
    tokens = [t for r in corpus.rows for t in TOKEN_RE.findall((r["text"] or "").lower())]
    sizes = sorted(corpus.conv_sizes.values())
    q = statistics.quantiles(sizes, n=100, method="inclusive") if len(sizes) > 1 else sizes * 99
    return {
        "turns": n,
        "conversations": len(sizes),
        "kind_mix": {k: round(corpus.kinds.count(k) / n, 4) for k in KINDS},
        "distinct_token_share": round(len(set(tokens)) / max(1, len(tokens)), 4),
        "conv_size_p50": q[49],
        "conv_size_p90": q[89],
        "conv_size_p99": q[98],
        "conv_size_max": sizes[-1],
        "mega_conv_share": round(sizes[-1] / n, 4),
        "planted_dup_share": round(len(corpus.planted) / n, 4),
        "mean_text_chars": round(sum(len(r["text"] or "") for r in corpus.rows) / n, 1),
    }


def write_parquet(rows: List[Dict], path: str, n_files: int) -> None:
    """Write rows as ``n_files`` parquet files of near-equal row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us")),
    ])
    os.makedirs(path, exist_ok=True)
    cuts = [len(rows) * k // n_files for k in range(n_files + 1)]
    for k in range(n_files):
        out = os.path.join(path, f"part-{k:04d}.parquet")
        pq.write_table(pa.Table.from_pylist(rows[cuts[k]:cuts[k + 1]], schema=schema), out)
