"""Property-based differential tests (hypothesis).

The fuzzy fast paths (length/char-multiset pruning, memoization, n-gram
grouping) must be *result-identical* to the naive reference forms — these
tests drive random inputs through both.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from htep_spark.functions.fuzzy import (
    FuzzyMatcher,
    _lcs_len,
    banded_edit_distance,
    indel_ratio,
)
from htep_spark.functions.textops import (
    MultiWordMatcher,
    _PARSER_TOKEN_RE,
    correct_text_regex,
    TokenCorrector,
    fusion_correct,
)

words = st.text(alphabet="abcdefgh ", min_size=0, max_size=24)
tokens = st.text(alphabet="abcdefgh", min_size=0, max_size=12)
# uppercase, digits and non-ASCII: multi-byte UTF-8 chars make the byte
# counts of the fuzzy bound differ from the char counts
WIDE = "abcdefghABCDXYZ0189éüß中文\u0130"
wide_tokens = st.text(alphabet=WIDE, min_size=0, max_size=12)


def lcs_dp(a, b):
    """Row-rolling LCS DP: the oracle of the bit-parallel ``_lcs_len``."""
    if not a or not b:
        return 0
    if len(a) < len(b):  # keep the inner row short
        a, b = b, a
    prev = [0] * (len(b) + 1)
    for ca in a:
        curr = [0]
        append = curr.append
        for j, cb in enumerate(b, start=1):
            if ca == cb:
                append(prev[j - 1] + 1)
            else:
                pj, cj = prev[j], curr[j - 1]
                append(pj if pj >= cj else cj)
        prev = curr
    return prev[-1]


def naive_ratio(a, b):
    total = len(a) + len(b)
    return 100.0 if total == 0 else 200.0 * lcs_dp(a, b) / total


@settings(max_examples=400, deadline=None)
@given(
    st.text(alphabet=WIDE, min_size=0, max_size=150),
    st.text(alphabet=WIDE, min_size=0, max_size=150),
)
def test_bit_parallel_lcs_equals_dp(a, b):
    """Past 64 characters the bit vector spans several machine words."""
    assert _lcs_len(a, b) == lcs_dp(a, b)
    assert _lcs_len(a, a) == len(a)


def naive_extract_one(query, choices, cutoff):
    best, best_score = None, cutoff
    for c in choices:
        s = naive_ratio(query, c)
        if s >= best_score and (best is None or s > best[1]):
            best, best_score = (c, s), s
    return best


@settings(max_examples=300, deadline=None)
@given(wide_tokens, st.lists(wide_tokens, min_size=1, max_size=12), st.floats(0, 100))
def test_fuzzy_matcher_equals_naive(query, choices, cutoff):
    assert FuzzyMatcher(choices).extract_one(query, cutoff) == naive_extract_one(
        query, choices, cutoff
    )


@settings(max_examples=150, deadline=None)
@given(
    st.lists(wide_tokens, min_size=0, max_size=8),
    st.lists(wide_tokens, min_size=1, max_size=12),
    st.sampled_from([0.0, 50.0, 85.0]),
)
def test_fuzzy_matcher_batch_equals_naive(queries, choices, cutoff):
    assert FuzzyMatcher(choices).extract_many(queries, cutoff) == [
        naive_extract_one(q, choices, cutoff) for q in queries
    ]


def naive_multiword(text, multi_dict, threshold):
    matched = []
    ws = text.lower().split()
    for entry in multi_dict:
        n = entry.count(" ") + 1
        if n > len(ws):
            continue
        for i in range(len(ws) - n + 1):
            if naive_ratio(" ".join(ws[i : i + n]), entry) >= threshold:
                matched.append(entry)
                break
    return set(matched)


@settings(max_examples=200, deadline=None)
@given(
    words,
    st.lists(
        st.tuples(tokens.filter(bool), tokens.filter(bool)).map(" ".join),
        min_size=0,  # empty dict: the r7 combined-matrix ctor must not stack
        max_size=8,
    ),
    st.sampled_from([60.0, 75.0, 85.0]),
)
def test_multiword_matcher_equals_naive(text, multi_dict, threshold):
    got = set(MultiWordMatcher(multi_dict, threshold).find(text))
    assert got == naive_multiword(text, multi_dict, threshold)


@settings(max_examples=150, deadline=None)
@given(
    st.lists(st.text(alphabet="abcdeé中 ", min_size=0, max_size=24), max_size=6),
    st.lists(
        st.tuples(tokens.filter(bool), tokens.filter(bool)).map(" ".join),
        min_size=0,
        max_size=8,
    ),
    st.sampled_from([60.0, 75.0, 85.0]),
)
def test_multiword_matcher_batch_equals_naive(texts, multi_dict, threshold):
    """Several texts scored in one batch: each gets its own matched set."""
    got = MultiWordMatcher(multi_dict, threshold).find_batch(texts)
    assert got == [naive_multiword(t, multi_dict, threshold) for t in texts]


def test_multiword_matcher_empty_dict():
    assert MultiWordMatcher([], 85.0).find("hello world there") == []


@settings(max_examples=300, deadline=None)
@given(tokens, tokens)
def test_indel_ratio_properties(a, b):
    r = indel_ratio(a, b)
    assert 0.0 <= r <= 100.0
    assert r == indel_ratio(b, a)  # symmetric
    assert indel_ratio(a, a) == 100.0


@settings(max_examples=300, deadline=None)
@given(tokens, tokens, st.integers(0, 3))
def test_banded_edit_distance_vs_full(a, b, maxd):
    def full_lev(x, y):
        prev = list(range(len(y) + 1))
        for i, cx in enumerate(x, 1):
            curr = [i]
            for j, cy in enumerate(y, 1):
                curr.append(
                    min(prev[j] + 1, curr[j - 1] + 1, prev[j - 1] + (cx != cy))
                )
            prev = curr
        return prev[-1]

    got = banded_edit_distance(a, b, maxd)
    true = full_lev(a, b)
    if true <= maxd:
        assert got == true
    else:
        # reference semantics (src/nlp/lexicon_beam_decoder.py:64-87): may
        # return either the true distance or max+1 once the band is blown —
        # callers only ever test `dist > max_distance`
        assert got > maxd


@settings(max_examples=300, deadline=None)
@given(
    st.text(alphabet="abcd", min_size=0, max_size=8),
    st.lists(
        st.text(alphabet="abcd", min_size=0, max_size=8),
        min_size=0,
        max_size=30,
        unique=True,
    ),
    st.sampled_from([0.6, 0.84, 0.93]),
)
def test_close_match_index_is_byte_identical_to_difflib(word, vocab, cutoff):
    """The length-bucketed fast path (VERDICT r03 #9) must return EXACTLY
    what difflib.get_close_matches(n=1) returns — including equal-ratio
    tie-breaks (nlargest over (ratio, word) → lexicographically largest)
    — on a tiny alphabet chosen to force many ties and near-cutoff
    ratios."""
    import difflib

    from htep_spark.functions.fuzzy import CloseMatchIndex

    want = difflib.get_close_matches(word, vocab, n=1, cutoff=cutoff)
    got = CloseMatchIndex(vocab).lookup(word, cutoff)
    assert got == (want[0] if want else None)


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="ab01l IO.\n\t-'", min_size=0, max_size=60))
def test_fusion_token_count_invariant(text):
    # fusion preserves the (whitespace-split) token multiset size
    assert len(fusion_correct(text).split()) == len(text.split())


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="abce135 \n\tX.-", min_size=0, max_size=80))
def test_correct_text_regex_whitespace_lossless(text):
    # T6 invariant: tokenization is lossless and corrections never touch
    # whitespace — the whitespace runs of the output equal the input's
    corrector = TokenCorrector(["abcde"], ["ace"])
    corrected, _ = correct_text_regex(text, corrector)
    import re

    assert re.findall(r"\s+", corrected) == re.findall(r"\s+", text)
    # tokenization covers every character
    assert "".join(_PARSER_TOKEN_RE.findall(text)) == text


@settings(max_examples=150, deadline=None)
@given(st.text(alphabet="<>ab c/='\"!-\n&;#pdivscrpt", min_size=0, max_size=120))
def test_html_extraction_total_and_deterministic(raw):
    from htep_spark.functions.html_extract import extract_main_content

    out1 = extract_main_content(raw)
    out2 = extract_main_content(raw)
    assert out1 == out2
    assert isinstance(out1[0], str)


@settings(max_examples=150, deadline=None)
@given(st.text(min_size=0, max_size=200))
def test_extract_turn_total(raw):
    from htep_spark.reference import extract_turn

    result = extract_turn(raw)
    assert isinstance(result["corrected_text"], str)
    assert result["metrics"]["content_chars"] >= 0


# Clinical field lines every downstream stage has work on: the field
# extractor, the classifier and entity patterns, and the PII detectors.
_FIELD_LINES = [
    "Patient Name : Jane Doe",
    "Patient Name: John Smith, Age: 42",
    "Patient ID : CH-3021",
    "Age: 42",
    "Gender : Female",
    "BP: 120/80, Temp: 98.6 F, Pulse: 72 bpm",
    "Date : 05/03/2025",
    "seen on 12th Jan 2024 and 2024-01-05",
    "call 555-123-4567 or 555.123.4567",
    "Consultant: Dr. Meera Rao",
    "Hospital : City General",
    "Diagnosis: Diabetes, Hypertension and asthma\n- Fever",
    "Rx: Metformin 500mg twice daily\nAspirin 75 mg once daily",
    "Plan: rest\nFollow up in 2 weeks",
    "Discharge summary, lab results 5.5 mmol/l, BP 120/80 mmHg",
    "take 2 tablet at bedtime; x-ray and CT scan report; amoxicillin 250 mg",
]
# What RE2 and Python ``re`` read differently: non-ASCII digits, letters
# that case-fold onto ASCII ones (Kelvin K, long s, dotted I), ``\s``
# characters RE2 lacks (``\x0b``, ``\x1c``) and a non-ASCII space.
_RE2_TRAPS = ["٤٢", "４２", "\u212a", "ſ", "İ", "\x0b", "\x1c", "\xa0"]


def _clinical_texts():
    r"""Clinical lines, some with a trap character spliced into a field
    (``Age:\x0b42``, ``BP: ٤٢/80``, ``E\u212aG``), with or without a
    trailing newline before ``$``; plus empty and ``None`` values."""

    def splice(parts):
        line, trap, at = parts
        return line[:at] + trap + line[at:]

    spliced = st.tuples(
        st.sampled_from(_FIELD_LINES), st.sampled_from(_RE2_TRAPS), st.integers(0, 12)
    ).map(splice)
    fields = st.one_of(
        st.tuples(
            st.sampled_from(["Age", "BP", "Pulse", "Patient ID", "Temp"]),
            st.sampled_from([":", " : ", ":\x0b", "\x1c:", ":\xa0"]),
            st.sampled_from(["42", "٤٢", "４２", "120/80", "CH-3021", "98.6 F"]),
        ).map("".join),
        st.sampled_from(["E\u212aG and ſurgery", "İnsulin 10 units", "diabetes\xa0ecg"]),
    )
    line = st.one_of(st.sampled_from(_FIELD_LINES), spliced, fields)
    text = st.tuples(
        st.lists(line, min_size=1, max_size=6).map("\n".join), st.sampled_from(["", "\n"])
    ).map("".join)
    return st.one_of(text, text, text, st.sampled_from(["", "\n", None]))


def _batch_strategies():
    from htep_spark.dictionaries import (
        DISEASES_MULTI,
        DISEASES_SINGLE,
        DRUGS_MULTI,
        DRUGS_SINGLE,
    )

    ocr = str.maketrans("olesgb", "013568")  # look-alike digits
    terms = st.sampled_from(
        sorted(set(DRUGS_SINGLE) | set(DISEASES_SINGLE) | set(DRUGS_MULTI) | set(DISEASES_MULTI))
    )
    token = st.one_of(
        terms,
        terms.map(lambda t: t.translate(ocr)),
        terms.map(lambda t: t[:-1] + "1"),
        terms.map(str.upper),
        terms.map(lambda t: "(" + t.capitalize() + ")."),
        st.sampled_from(["é", "naïve", "中文", "İstanbul", "Ｍｅｔ", "120/80", "BP:", "mg"]),
        st.text(alphabet="abdeilos013é ", min_size=1, max_size=9),
        st.sampled_from(_FIELD_LINES),
    )
    text = st.lists(token, min_size=0, max_size=14).map(" ".join)
    return st.one_of(text, text, _clinical_texts(), st.sampled_from(["", "   ", "\n\t", None]))


@settings(max_examples=60, deadline=None)
@given(st.lists(_clinical_texts(), min_size=1, max_size=16))
def test_re2_batch_kernels_equal_python_kernels(texts):
    """The fields, classify, entities and deid batch kernels, with RE2
    answering every pattern it can on every turn it may, equal the
    per-value Python kernels turn by turn — on batches that mix plain
    ASCII clinical lines with the turns RE2 would misread."""
    from unittest import mock

    from htep_spark import reference
    from htep_spark.functions import batch_regex

    for stage in reference.STAGES[2:]:
        assert stage.name in ("fields", "classify", "entities", "deid")
        with mock.patch.object(batch_regex, "_MIN_BATCH", 1):
            batched = reference.run_batch(stage, texts)
        with mock.patch.object(batch_regex, "_MIN_BATCH", 2):  # a batch of one: Python
            single = [reference.run_stage(stage, t) for t in texts]
        for text, got, want in zip(texts, batched, single):
            assert got == want, (stage.name, text)


@settings(max_examples=80, deadline=None)
@given(st.lists(_batch_strategies(), min_size=1, max_size=12), st.randoms())
def test_turn_result_is_batch_independent(texts, rnd):
    """A turn's result never depends on the batch it lands in: split the
    texts into random batches, and each turn's core output equals its
    batch-of-one result, and each full row equals ``extract_turn``. Cold
    memos on both sides, so the batched miss path really runs. Batches of
    two or more RE2-safe turns answer the regexes in RE2 and a batch of
    one in Python, so the random splits run both."""
    from contextlib import ExitStack
    from unittest import mock

    from htep_spark import reference
    from htep_spark.functions import batch_regex, textops

    batches, i = [], 0
    while i < len(texts):
        k = rnd.randint(1, len(texts) - i)
        batches.append(texts[i : i + k])
        i += k

    def cold_memos():
        stack = ExitStack()
        stack.enter_context(
            mock.patch.multiple(reference, _DRUG_MEMO={}, _DISEASE_MEMO={})
        )
        stack.enter_context(mock.patch.dict(textops._MW_CACHE, clear=True))
        return stack

    core = reference.STAGES[0]
    with cold_memos(), mock.patch.object(batch_regex, "_MIN_BATCH", 2):
        batched = [out for batch in batches for out in reference.run_batch(core, batch)]
        rows = [row for batch in batches for row in reference.extract_turns(batch)]
    with cold_memos():
        single = [reference.run_stage(core, t) for t in texts]
    assert batched == single
    assert rows == [reference.extract_turn(t) for t in texts]


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="ab c:.\nrx bp plan\t", min_size=0, max_size=120))
def test_segment_spans_always_slice_back(text):
    from htep_spark.functions.segments import segment_document

    segments = segment_document(text)
    for i, seg in enumerate(segments):
        assert text[seg["start_char"] : seg["end_char"]] == seg["content"]
        assert seg["start_line"] == seg["end_line"] == i
        assert seg["content"] == seg["content"].strip() != ""


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="PatienNmDr.:- 0123456789/\nAge", min_size=0, max_size=150))
def test_deidentify_span_invariants(text):
    from htep_spark.functions.deid import deidentify

    result = deidentify(text)
    spans = result["spans"]
    # sorted, non-overlapping, in-bounds
    prev = 0
    for s in spans:
        assert 0 <= s["start_char"] < s["end_char"] <= len(text)
        assert s["start_char"] >= prev
        prev = s["end_char"]
    # masking is reconstructable: replacing spans with [KIND] yields masked
    rebuilt = []
    cursor = 0
    for s in spans:
        rebuilt.append(text[cursor : s["start_char"]])
        rebuilt.append(f"[{s['kind']}]")
        cursor = s["end_char"]
    rebuilt.append(text[cursor:])
    assert "".join(rebuilt) == result["masked_text"]


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="ab .!?\n", min_size=0, max_size=120))
def test_sentence_spans_invariants(text):
    from htep_spark.functions.deid import split_sentences

    sentences = split_sentences(text)
    for i, s in enumerate(sentences):
        assert s["sent_idx"] == i
        assert text[s["start_char"] : s["end_char"]] == s["content"]
        assert s["content"] == s["content"].strip() != ""


def test_asof_join_matches_pandas_merge_asof(spark):
    """Differential: asof_join == pandas.merge_asof (backward, exact
    matches allowed) on a seeded random workload, with and without
    tolerance — the canonical reference implementation as oracle."""
    import numpy as np
    import pandas as pd

    from htep_spark.operators.joins import asof_join

    rng = np.random.default_rng(20260816)
    base = pd.Timestamp("2024-01-01")
    left_pdf = pd.DataFrame(
        {
            "user_id": rng.integers(0, 6, 300),
            "ts": base + pd.to_timedelta(rng.integers(0, 500_000, 300), unit="s"),
            "lid": np.arange(300),
        }
    )
    right_pdf = pd.DataFrame(
        {
            "user_id": rng.integers(0, 6, 200),
            "ts": base + pd.to_timedelta(rng.integers(0, 500_000, 200), unit="s"),
            "rid": np.arange(200),
        }
    )
    # merge_asof requires unique right keys per (by, ts) for a well-defined
    # pick — dedupe to max rid like the driver query does
    right_pdf = (
        right_pdf.groupby(["user_id", "ts"], as_index=False)["rid"].max()
    )
    left = spark.createDataFrame(left_pdf)
    right = spark.createDataFrame(right_pdf)
    for tol in (None, 3600):
        got = (
            asof_join(left, right, tolerance_sec=tol)
            .select("lid", "rid_r")
            .toPandas()
            .sort_values("lid")
            .reset_index(drop=True)
        )
        want = pd.merge_asof(
            left_pdf.sort_values("ts"),
            right_pdf.sort_values("ts").rename(columns={"rid": "rid_r"}),
            on="ts",
            by="user_id",
            direction="backward",
            allow_exact_matches=True,
            tolerance=None if tol is None else pd.Timedelta(seconds=tol),
        ).sort_values("lid").reset_index(drop=True)
        lhs = got["rid_r"].astype("float64")
        rhs = want["rid_r"].astype("float64")
        assert lhs.equals(rhs), f"tol={tol}: first diff at\n" + str(
            pd.concat([got, want["rid_r"].rename("want")], axis=1)[lhs != rhs].head()
        )
