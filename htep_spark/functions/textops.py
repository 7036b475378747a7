"""Per-turn text correction / normalization operators (pure Python core).

Each function reimplements one reference operator's semantics from scratch
(file:line citations inline). These functions are the *shared kernel*: the
pytest oracle calls them directly, and the Spark pandas UDFs call them over
Arrow batches — equality by construction, then tested anyway.

Whitespace quirks are load-bearing and preserved exactly:
- ``fusion_correct`` rejoins tokens with a single space, collapsing newlines
  (``src/pipeline/fusion.py:36``);
- ``dictionary_correct_batch`` does the same in its single-word pass
  (``src/nlp/ocr_postprocessor.py:270``).
"""

from __future__ import annotations

import re
from itertools import islice
from typing import Dict, Iterable, List, Optional, Sequence, Tuple

import numpy as np

from .fuzzy import CloseMatchIndex, CountBound, get_matcher, indel_ratio

__all__ = [
    "fusion_correct",
    "normalize_ocr_confusions",
    "apply_case",
    "correct_text_regex",
    "dictionary_correct_batch",
    "postprocess",
    "postprocess_batch",
]

_NUMERIC_RE = re.compile(r"^\d+(\.\d+)?$")


def fusion_correct(text: str) -> str:
    """Rule-based OCR/ICR fusion (T1).

    Semantics of ``OCRICRFusion.correct_text`` (``src/pipeline/fusion.py:13-36``):
    per whitespace token, numeric tokens map ``O→0, l→1, I→1`` (a no-op on
    tokens already matching ``^\\d+(\\.\\d+)?$`` — faithful quirk), other
    tokens map ``0→O, 1→l``; tokens rejoined with a single space.
    """
    if not text:
        return ""
    out = []
    for word in text.split():
        if _NUMERIC_RE.match(word):
            out.append(word.replace("O", "0").replace("l", "1").replace("I", "1"))
        else:
            out.append(word.replace("0", "O").replace("1", "l"))
    return " ".join(out)


_CONFUSION_TABLE = str.maketrans({"0": "o", "1": "l", "3": "e", "5": "s", "6": "g", "8": "b"})


def normalize_ocr_confusions(token: str) -> str:
    """Digit→letter confusion translate for matching (T2).

    ``BlockTextParser._normalize_ocr_confusions``
    (``src/nlp/block_parser.py:245-255``): ``0→o 1→l 3→e 5→s 6→g 8→b``.
    """
    return token.translate(_CONFUSION_TABLE)


def apply_case(source: str, target: str) -> str:
    """Map a corrected term onto the source token's casing (T3).

    ``BlockTextParser._apply_case`` (``src/nlp/block_parser.py:257-265``).
    """
    if source.isupper():
        return target.upper()
    if source[:1].isupper() and source[1:].islower():
        return target.capitalize()
    if source.islower():
        return target.lower()
    return target


_HAS_LETTER_RE = re.compile(r"[A-Za-z]")
_NON_ALPHA_RE = re.compile(r"[^A-Za-z]")
# Token pattern of the regex correction backend
# (``src/nlp/block_parser.py:360``): whitespace runs, alnum words with one
# optional internal hyphen/apostrophe, or single non-word chars — lossless.
_PARSER_TOKEN_RE = re.compile(r"\s+|[A-Za-z0-9]+(?:[-'][A-Za-z0-9]+)?|[^\w\s]")


def _is_word_token(token: str) -> bool:
    """``src/nlp/block_parser.py:267-269``: len>=3 and contains a letter."""
    return len(token) >= 3 and bool(_HAS_LETTER_RE.search(token))


class TokenCorrector:
    """Two-layer token correction (T4) with per-instance memoization.

    Semantics of ``BlockTextParser._correct_token``
    (``src/nlp/block_parser.py:281-322``): OCR-confusion normalize → strip
    non-alpha + lowercase → exact medical → exact english → difflib close
    match vs medical (cutoff 0.84) → vs english (cutoff 0.93), casing mapped
    back via ``apply_case``. The memo dict is the batch-level fast path that
    makes the Arrow-vectorized UDF cheap on repetitive corpora.
    """

    def __init__(
        self,
        medical_terms: Sequence[str],
        english_terms: Sequence[str],
        similarity_cutoff: float = 0.84,
        english_similarity_cutoff: float = 0.93,
    ):
        self.similarity_cutoff = similarity_cutoff
        self.english_similarity_cutoff = english_similarity_cutoff
        self._medical_lookup = {t.lower(): t for t in sorted(set(medical_terms))}
        self._medical_lower = sorted(self._medical_lookup)
        self._english_lookup = {t.lower(): t for t in sorted(set(english_terms))}
        self._english_lower = sorted(self._english_lookup)
        # length-bucketed indexes: byte-identical to difflib
        # get_close_matches but O(length-window) per uncached miss
        self._medical_index = CloseMatchIndex(self._medical_lower)
        self._english_index = CloseMatchIndex(self._english_lower)
        self._memo: Dict[str, Tuple[str, Optional[str]]] = {}

    def correct(self, token: str) -> Tuple[str, Optional[str]]:
        if not _is_word_token(token):
            return token, None
        hit = self._memo.get(token)
        if hit is not None:
            return hit
        result = self._correct_uncached(token)
        if len(self._memo) < 1_000_000:
            self._memo[token] = result
        return result

    def _correct_uncached(self, token: str) -> Tuple[str, Optional[str]]:
        original = token
        cleaned = _NON_ALPHA_RE.sub("", normalize_ocr_confusions(token)).lower()
        if not cleaned:
            return original, None

        exact_medical = self._medical_lookup.get(cleaned)
        if exact_medical:
            return apply_case(original, exact_medical), "medical"
        exact_english = self._english_lookup.get(cleaned)
        if exact_english:
            return apply_case(original, exact_english), "english"

        close_medical = self._medical_index.lookup(cleaned, self.similarity_cutoff)
        if close_medical:
            return apply_case(original, self._medical_lookup[close_medical]), "medical"
        close_english = self._english_index.lookup(
            cleaned, self.english_similarity_cutoff
        )
        if close_english:
            return apply_case(original, self._english_lookup[close_english]), "english"
        return original, None


def correct_text_regex(
    text: str, corrector: TokenCorrector
) -> Tuple[str, List[Dict[str, str]]]:
    """Whole-text correction, whitespace-lossless (T6).

    Semantics of ``BlockTextParser._correct_with_regex``
    (``src/nlp/block_parser.py:359-373``): tokenize preserving every
    character, correct word tokens, emit ``{from, to, source}`` lineage,
    exact concatenation.
    """
    corrected_parts: List[str] = []
    corrections: List[Dict[str, str]] = []
    for part in _PARSER_TOKEN_RE.findall(text):
        corrected, source = corrector.correct(part)
        if corrected != part:
            rec = {"from": part, "to": corrected}
            if source:
                rec["source"] = source
            corrections.append(rec)
        corrected_parts.append(corrected)
    return "".join(corrected_parts), corrections


# Key bounds of the per-word memos (the clean, action and caller's fuzzy
# memos) and of each multi-word matcher's window memo.
_MEMO_CAP = 1_000_000
_MULTI_MEMO_CAP = 2_000_000


class MultiWordMatcher:
    """N-gram sliding-window detection of multi-word entries.

    Semantics of ``OCRPostProcessor._find_multi_word_matches``
    (``src/nlp/ocr_postprocessor.py:165-186``): an entry is detected iff
    some n-gram window over the lowercased whitespace tokens scores
    ``indel_ratio >= threshold`` against it (detection only — text is
    unchanged; the consumer sort-dedups, so only the matched *set*
    matters).

    Fast paths (set-identical results): entries grouped by word count so
    each window string is built once; per-window memo of matching entries
    (template-heavy corpora repeat n-grams massively); the windows no memo
    holds, over a whole batch of texts, are bounded together against every
    entry by one :class:`~.fuzzy.CountBound` call per chunk, and only
    pairs that reach the threshold meet the LCS scorer.
    """

    def __init__(self, multi_dict: Sequence[str], threshold: float):
        from collections import defaultdict

        self.threshold = threshold
        groups = defaultdict(list)
        for entry in multi_dict:
            groups[entry.count(" ") + 1].append(entry)
        # One bound matrix across every word-count group: a batch's misses,
        # whatever their word count, are bounded together, and a pair only
        # counts when window and entry have the same word count (the
        # per-group form never compared across groups).
        self._entries: List[str] = []
        entry_n: List[int] = []
        self.by_n: Dict[int, Tuple[int, int]] = {}  # n -> (lmin, lmax)
        for n, entries in groups.items():
            lens = [len(e) for e in entries]
            self.by_n[n] = (min(lens), max(lens))
            self._entries.extend(entries)
            entry_n.extend([n] * len(entries))
        self._bound = CountBound(self._entries)
        self._entry_n = np.array(entry_n, dtype=np.int64)
        self._memo: Dict[str, Tuple[str, ...]] = {}

    def _match_misses(self, misses: Iterable[str]) -> Dict[str, List[str]]:
        """Memo-miss path of a whole batch: scores every window into the
        memo (while it has room) and returns the windows that match, each
        with its matching entries.

        The length bound ``200·min(L,lg)/(L+lg)`` is maximized at entry
        length L = lg (increasing below, decreasing above), so clamping lg
        into the group's [lmin, lmax] gives an exact upper bound over every
        group entry — windows failing even that skip the numpy work
        entirely (O(1) python). The rest are bounded in chunks, and the
        (window, entry) pairs that survive come out of one ``nonzero`` per
        chunk for the LCS scorer."""
        threshold = self.threshold
        memo = self._memo
        room = _MULTI_MEMO_CAP - len(memo)
        survivors: List[str] = []
        s_ns: List[int] = []
        for g in misses:
            n = g.count(" ") + 1  # words never hold whitespace
            lg = len(g)
            lmin, lmax = self.by_n[n]
            best = lmin if lg < lmin else (lmax if lg > lmax else lg)
            if 200.0 * (best if best < lg else lg) / (best + lg) >= threshold:
                survivors.append(g)
                s_ns.append(n)
            elif room > 0:
                memo[g] = ()
                room -= 1
        matching: Dict[str, List[str]] = {}
        entries = self._entries
        for start, bound in self._bound.chunks(survivors):
            ns = np.array(s_ns[start : start + len(bound)], dtype=np.int64)
            hits = (bound >= threshold) & (self._entry_n[None, :] == ns[:, None])
            for r, e in zip(*(a.tolist() for a in np.nonzero(hits))):
                g = survivors[start + r]
                entry = entries[e]
                if indel_ratio(g, entry) >= threshold:
                    matching.setdefault(g, []).append(entry)
        for g in survivors:
            if room <= 0:
                break
            memo[g] = tuple(matching.get(g, ()))
            room -= 1
        return matching

    def find_batch(self, texts: Sequence[str]) -> List[set]:
        """The matched entry set of every text. Memo hits resolve on the
        spot; each text keeps only its miss windows, and the misses of
        the whole batch are scored by one :meth:`_match_misses` call.
        Equal miss windows of different texts share one string object
        (``misses`` maps each to itself), so a cold batch holds each
        distinct window once."""
        memo = self._memo
        get = memo.get
        found: List[set] = []
        pending: List[List[str]] = []
        misses: Dict[str, str] = {}
        intern = misses.setdefault
        for text in texts:
            words = text.lower().split()
            nwords = len(words)
            hits: set = set()
            own: List[str] = []
            for n in self.by_n:
                if n > nwords:
                    continue
                # unrolled concatenation for the common window widths
                # beats join-over-slice ~2x
                if n == 2:
                    ngrams = [a + " " + b for a, b in zip(words, words[1:])]
                elif n == 3:
                    ngrams = [
                        a + " " + b + " " + c
                        for a, b, c in zip(words, words[1:], words[2:])
                    ]
                else:
                    ngrams = [
                        " ".join(words[i : i + n]) for i in range(nwords - n + 1)
                    ]
                for g in ngrams:
                    h = get(g)
                    if h:
                        hits.update(h)
                    elif h is None:  # () is a cached no-match
                        own.append(intern(g, g))
            found.append(hits)
            pending.append(own)
        matching = self._match_misses(misses) if misses else None
        if matching:
            for hits, own in zip(found, pending):
                for g in own:
                    h = matching.get(g)
                    if h:
                        hits.update(h)
        return found

    def find(self, text: str) -> List[str]:
        """Sorted matched entries of one text."""
        return sorted(self.find_batch([text])[0])


_MW_CACHE: Dict[tuple, MultiWordMatcher] = {}


def _multi_word_matcher(
    multi_dict: Sequence[str], threshold: float
) -> MultiWordMatcher:
    key = (tuple(multi_dict), threshold)
    matcher = _MW_CACHE.get(key)
    if matcher is None:
        matcher = MultiWordMatcher(multi_dict, threshold)
        if len(_MW_CACHE) < 64:
            _MW_CACHE[key] = matcher
    return matcher


def _remember(memo: Dict, items: Dict, cap: int) -> None:
    """Add ``items`` to ``memo`` while it holds fewer than ``cap`` keys."""
    room = cap - len(memo)
    if room >= len(items):
        memo.update(items)
    elif room > 0:
        memo.update(islice(items.items(), room))


_NON_ALPHA_ALL_RE = re.compile(r"[^A-Za-z]")


# word -> stripped-lowercase form. A pure per-string function, memoized at
# module level like the fuzzy lookup memos (round 7): template corpora
# repeat tokens massively, and the dict probe is ~20x cheaper than the
# regex sub + lower it replaces. Bounded like every other memo here.
_CLEAN_MEMO: Dict[str, str] = {}

# Per-(fuzzy-memo, hence per dictionary+threshold) raw-word -> action memo,
# stored INSIDE the caller's fuzzy memo dict under an object-identity key
# (cannot collide with its string keys, lives and dies with that dict).
# The whole per-word decision — clean/strip, length gate, exact-set probe,
# fuzzy lookup, prefix/suffix peel, recasing — is a pure function of the
# raw word, so one dict probe replaces the entire chain on repeats
# (round 7). Values: (output_word, matched_term_or_None, score_or_None);
# a non-None score means the word was rewritten and a correction recorded.
_ACTION_MEMO_KEY: object = object()


def _clean(word: str) -> str:
    clean = _CLEAN_MEMO.get(word)
    if clean is None:
        clean = _NON_ALPHA_ALL_RE.sub("", word).lower()
        if len(_CLEAN_MEMO) < _MEMO_CAP:
            _CLEAN_MEMO[word] = clean
    return clean


def _word_action(
    word: str,
    clean: str,
    exact_set: frozenset,
    result: Optional[Tuple[str, float]],
) -> Tuple[str, Optional[str], Optional[int]]:
    """Per-word decision of ``dictionary_correct_batch`` given the cleaned
    word and its fuzzy lookup result (semantics of
    ``src/nlp/ocr_postprocessor.py:188-283``, see its docstring)."""
    if len(clean) < 3:
        return (word, None, None)
    if clean in exact_set:
        return (word, clean, None)
    if result is None:
        return (word, None, None)

    match_term, score = result
    if match_term == clean:
        return (word, match_term, None)

    # Peel non-alpha prefix/suffix (``:238-247``).
    prefix = ""
    suffix = ""
    stripped = word
    while stripped and not stripped[0].isalpha():
        prefix += stripped[0]
        stripped = stripped[1:]
    while stripped and not stripped[-1].isalpha():
        suffix = stripped[-1] + suffix
        stripped = stripped[:-1]

    if stripped.isupper():
        corrected = match_term.upper()
    elif stripped and stripped[0].isupper():
        corrected = match_term.capitalize()
    else:
        corrected = match_term

    return (prefix + corrected + suffix, match_term, int(score))


def dictionary_correct_batch(
    texts: Sequence[str],
    single_dict: Sequence[str],
    multi_dict: Sequence[str],
    exact_set: frozenset,
    threshold: float,
    label: str,
    memo: Optional[Dict[str, Optional[Tuple[str, float]]]] = None,
) -> List[Tuple[str, List[Dict], List[str]]]:
    """One dictionary stage of the post-processor (T7) over a batch.

    Semantics of ``OCRPostProcessor._correct_with_dictionary``
    (``src/nlp/ocr_postprocessor.py:188-283``), per text: per whitespace
    token, strip non-alpha + lowercase; len<3 passes through; exact-set
    hit records a match (fast path, no edit); otherwise fuzzy
    ``extractOne`` vs the single-word dictionary at ``threshold`` — on a
    differing match the token is rewritten with leading/trailing non-alpha
    characters peeled and re-attached and the matched term recased (UPPER
    / Capitalized / as-is). Tokens rejoin with a single space
    (newline-collapsing quirk, ``:270``). Then the n-gram multi-word
    detection pass. Returns ``(corrected_text, corrections, sorted-dedup
    matched terms)`` per text.

    Every memo is a pure cache, so a text's result never depends on the
    batch it lands in: the batch only decides how many texts' memo misses
    share one fuzzy scoring call. Words are probed against the action
    memo first; the cleaned forms of the unseen ones that ``memo`` has not
    scored go to ``FuzzyMatcher.extract_many`` together.
    """
    if memo is None:
        memo = {}
    actions = memo.get(_ACTION_MEMO_KEY)
    if actions is None:
        actions = memo[_ACTION_MEMO_KEY] = {}

    unseen: Dict[str, str] = {}  # raw word -> cleaned form
    for text in texts:
        for word in text.split():
            if word not in actions and word not in unseen:
                unseen[word] = _clean(word)
    queries = [
        c
        for c in dict.fromkeys(unseen.values())
        if len(c) >= 3 and c not in exact_set and c not in memo
    ]
    fresh: Dict[str, Optional[Tuple[str, float]]] = {}
    if queries:
        fresh = dict(zip(queries, get_matcher(single_dict).extract_many(queries, threshold)))
        _remember(memo, fresh, _MEMO_CAP)
    new_actions = {
        word: _word_action(
            word,
            clean,
            exact_set,
            fresh[clean] if clean in fresh else memo.get(clean),
        )
        for word, clean in unseen.items()
    }
    _remember(actions, new_actions, _MEMO_CAP)

    out_texts: List[str] = []
    per_text: List[Tuple[List[Dict], set]] = []
    for text in texts:  # split again: the batch's words are never all held
        corrections: List[Dict] = []
        matched: set = set()
        new_words: List[str] = []
        for word in text.split():
            full, match_term, score = actions.get(word) or new_actions[word]
            new_words.append(full)
            if match_term is not None:
                matched.add(match_term)
                if score is not None:
                    corrections.append(
                        {"from": word, "to": full, "type": label, "score": score}
                    )
        out_texts.append(" ".join(new_words))
        per_text.append((corrections, matched))
    multi = _multi_word_matcher(multi_dict, threshold).find_batch(out_texts)
    return [
        (out_text, corrections, sorted(matched | found))
        for out_text, (corrections, matched), found in zip(out_texts, per_text, multi)
    ]


def postprocess_batch(
    texts: Sequence[Optional[str]],
    drugs_single: Sequence[str],
    drugs_multi: Sequence[str],
    drug_set: frozenset,
    diseases_single: Sequence[str],
    diseases_multi: Sequence[str],
    disease_set: frozenset,
    threshold: float = 85.0,
    drug_memo: Optional[Dict] = None,
    disease_memo: Optional[Dict] = None,
) -> List[Dict]:
    """Full two-stage post-processing pipeline (T7) over a batch.

    ``OCRPostProcessor.process`` (``src/nlp/ocr_postprocessor.py:289-340``)
    per text: empty/blank input yields the canonical empty struct; stage 1
    drugs then stage 2 diseases, corrections concatenated, matched lists
    independent. Each stage runs once over the batch's non-blank texts.
    """
    live = [i for i, text in enumerate(texts) if text and text.strip()]
    drugs = dictionary_correct_batch(
        [texts[i] for i in live],
        drugs_single, drugs_multi, drug_set, threshold, "drug", drug_memo,
    )
    diseases = dictionary_correct_batch(
        [text for text, _, _ in drugs],
        diseases_single, diseases_multi, disease_set, threshold, "disease",
        disease_memo,
    )
    out = [
        {
            "corrected_text": "",
            "corrections": [],
            "matched_drugs": [],
            "matched_diseases": [],
        }
        for _ in texts
    ]
    for i, (_, drug_corr, matched_drugs), (text, disease_corr, matched_diseases) in zip(
        live, drugs, diseases
    ):
        out[i] = {
            "corrected_text": text,
            "corrections": drug_corr + disease_corr,
            "matched_drugs": matched_drugs,
            "matched_diseases": matched_diseases,
        }
    return out


def postprocess(
    text: str,
    drugs_single: Sequence[str],
    drugs_multi: Sequence[str],
    drug_set: frozenset,
    diseases_single: Sequence[str],
    diseases_multi: Sequence[str],
    disease_set: frozenset,
    threshold: float = 85.0,
    drug_memo: Optional[Dict] = None,
    disease_memo: Optional[Dict] = None,
) -> Dict:
    """Full two-stage post-processing pipeline (T7 public API):
    :func:`postprocess_batch` of one text."""
    return postprocess_batch(
        [text],
        drugs_single, drugs_multi, drug_set,
        diseases_single, diseases_multi, disease_set,
        threshold, drug_memo, disease_memo,
    )[0]
