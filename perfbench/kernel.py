"""Single-process profile of the Python kernel, stage by stage.

Calls the program's public stage functions in the order
``reference.extract_turn`` composes them, on a seeded sample of the
workload's turns, with memos warm. Each figure is CPU ms per turn
(``time.process_time``), the minimum over ``repeats`` passes.
``kernel.extract_turn_cold_ms`` is the first ``extract_turn`` pass over
the sample, with the memos as the process had them: a Spark worker meets
each batch's unseen OCR-noise tokens the same way.
"""

from __future__ import annotations

import time
from typing import Callable, Dict, List, Sequence


def profile(texts: Sequence[str], repeats: int = 3) -> Dict[str, float]:
    from htep_spark import reference
    from htep_spark.dictionaries import (
        DISEASE_SET, DISEASES_MULTI, DISEASES_SINGLE, DRUG_SET, DRUGS_MULTI, DRUGS_SINGLE,
    )
    from htep_spark.functions.classify import (
        classify_document, document_urgency, extract_medical_entities,
    )
    from htep_spark.functions.deid import deidentify
    from htep_spark.functions.extract_fields import extract_record
    from htep_spark.functions.segments import segment_document
    from htep_spark.functions.textops import postprocess

    def post(final_text: str) -> Dict:
        return postprocess(final_text, DRUGS_SINGLE, DRUGS_MULTI, DRUG_SET,
                           DISEASES_SINGLE, DISEASES_MULTI, DISEASE_SET, 85.0,
                           reference._DRUG_MEMO, reference._DISEASE_MEMO)

    reference.extract_turn("Patient Name : Jane Doe")  # one-time set-up, outside the timing
    memo_before = len(reference._DRUG_MEMO) + len(reference._DISEASE_MEMO)
    cold = _best(reference.extract_turn, texts, 1)  # fills the memos
    memo_new = len(reference._DRUG_MEMO) + len(reference._DISEASE_MEMO) - memo_before
    contents = [reference.decode_payload(t)[0] for t in texts]
    finals = [c.strip() for c in contents]
    correcteds = [post(f)["corrected_text"] if f else "" for f in finals]

    stages: Dict[str, tuple] = {
        "decode_payload": (reference.decode_payload, texts),
        "postprocess": (post, finals),
        "segment_document": (segment_document, contents),
        "extract_record": (lambda f: extract_record(f) if f else {}, finals),
        "classify": (lambda c: (classify_document(c), document_urgency(c)), correcteds),
        "entities": (extract_medical_entities, correcteds),
        "deidentify": (deidentify, finals),
        "extract_turn": (reference.extract_turn, texts),
    }
    n = len(texts)
    out = {f"kernel.{name}_ms": _best(fn, args, repeats) / n * 1000
           for name, (fn, args) in stages.items()}
    out["kernel.extract_turn_cold_ms"] = cold / n * 1000
    out["kernel.memo_new_per_kturn"] = memo_new / n * 1000
    return out


def _best(fn: Callable, args: List, repeats: int) -> float:
    best = float("inf")
    for _ in range(repeats):
        t0 = time.process_time()
        for a in args:
            fn(a)
        best = min(best, time.process_time() - t0)
    return best
