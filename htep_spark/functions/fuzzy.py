"""Deterministic pure-Python fuzzy string matching.

The reference relies on ``rapidfuzz`` (``src/nlp/ocr_postprocessor.py:20-25``)
for ``fuzz.ratio`` / ``process.extractOne``. rapidfuzz is absent in this
environment, so the engine defines the scorer once here — used identically by
the pytest oracle, the DuckDB cross-checks, and the executor-side UDFs —
keeping driver/executor/oracle byte-consistent.

``fuzz.ratio`` is the normalized Indel similarity:
``ratio(a, b) = 100 * 2 * LCS(a, b) / (len(a) + len(b))``
(insert/delete cost 1, substitution disallowed). ``extract_one`` mirrors
rapidfuzz ``process.extractOne``: highest score wins, first-seen candidate on
ties, candidates below ``score_cutoff`` discarded.

Also hosts the banded edit distance of the beam decoder
(``src/nlp/lexicon_beam_decoder.py:64-87``): classic Levenshtein with an
early exit once every cell of a row exceeds ``max_distance``.
"""

from __future__ import annotations

from typing import Dict, Iterable, Iterator, List, Optional, Sequence, Tuple

import numpy as np

__all__ = [
    "indel_ratio",
    "extract_one",
    "banded_edit_distance",
    "FuzzyMatcher",
    "get_matcher",
    "CloseMatchIndex",
]

# Size of the (queries × entries × chars) uint8 temporary one bound chunk
# may build: memory stays flat whatever the batch size.
CHUNK_BYTES = 1 << 20


def _match_masks(s: str) -> Dict[str, int]:
    """Per character, the bit mask of its positions in ``s``."""
    masks: Dict[str, int] = {}
    bit = 1
    for c in s:
        masks[c] = masks.get(c, 0) | bit
        bit <<= 1
    return masks


def _lcs_masks(masks: Dict[str, int], m: int, b: str) -> int:
    """LCS length of ``b`` and the length-``m`` string whose
    :func:`_match_masks` are ``masks``: the bit-parallel recurrence of
    Allison & Dix (1986) in Hyyrö's (2004) form, one word operation per
    character of ``b``. Bit i of ``v`` is 0 iff row i of the DP steps up;
    carries only move upward, so bits past ``m`` never disturb the count."""
    v = full = (1 << m) - 1
    get = masks.get
    for c in b:
        u = v & get(c, 0)
        v = (v + u) | (v - u)
    return m - (v & full).bit_count()


def _lcs_len(a: str, b: str) -> int:
    """Length of the longest common subsequence (exact, bit-parallel)."""
    if not a or not b:
        return 0
    if len(a) < len(b):  # iterate the shorter string
        a, b = b, a
    return _lcs_masks(_match_masks(a), len(a), b)


def indel_ratio(a: str, b: str) -> float:
    """Normalized Indel similarity in [0, 100] (rapidfuzz ``fuzz.ratio``)."""
    total = len(a) + len(b)
    if total == 0:
        return 100.0
    return 200.0 * _lcs_len(a, b) / total


def _byte_counts(strings: Sequence[str]) -> np.ndarray:
    """(len(strings), 256) UTF-8 byte-count matrix in one pass: join with a
    NUL separator, one encode, one bincount over ``row·256 + byte`` (a
    string holding a NUL is counted on its own)."""
    if any("\x00" in s for s in strings):
        return np.stack([
            np.bincount(np.frombuffer(s.encode("utf-8", "replace"), np.uint8), minlength=256)
            for s in strings
        ])
    b = np.frombuffer("\x00".join(strings).encode("utf-8", "replace"), dtype=np.uint8)
    rows = np.cumsum(b == 0)  # row index per byte (separator increments)
    keep = b != 0
    flat = np.bincount(rows[keep] * 256 + b[keep], minlength=len(strings) * 256)
    return flat.reshape(len(strings), 256)


class CountBound:
    """Exact upper bound of ``indel_ratio`` for many (query, entry) pairs
    at once: ``200·min(common, la, lb)/(la+lb)``, where ``common`` is the
    size of the UTF-8 byte-multiset intersection. Every LCS character is
    one or more equal bytes on both sides, so ``LCS <= common``, and
    ``LCS <= min(la, lb)`` in characters. The float expression is the
    one ``indel_ratio`` evaluates with ``common`` in place of the LCS, so
    the bound can only over-include.

    Only byte columns an entry populates are kept, and query counts are
    clipped at the largest entry count: ``min(e, min(q, M)) = min(e, q)``
    for every entry count ``e <= M``. That keeps the matrices uint8, and
    :meth:`chunks` keeps the per-chunk temporary under ``CHUNK_BYTES``.
    """

    def __init__(self, entries: Sequence[str]):
        counts = _byte_counts(entries)
        self.active = np.nonzero(counts.sum(axis=0))[0]
        counts = counts[:, self.active]
        self.cap = int(counts.max()) if counts.size else 0
        dtype = np.uint8 if self.cap < 256 else np.int64
        self.counts = np.ascontiguousarray(counts.astype(dtype))
        self.lens = np.array([len(e) for e in entries], dtype=np.int64)
        self.chunk = max(1, CHUNK_BYTES // max(1, self.counts.nbytes))

    def chunks(self, queries: Sequence[str]) -> Iterator[Tuple[int, np.ndarray]]:
        """``(start, bounds)`` per chunk of queries, ``bounds`` the
        (chunk, entries) float64 matrix; both-empty pairs get 100."""
        lens = self.lens[None, :]
        for start in range(0, len(queries), self.chunk):
            chunk = queries[start : start + self.chunk]
            q = np.minimum(_byte_counts(chunk)[:, self.active], self.cap)
            common = np.minimum(self.counts[None, :, :], q.astype(self.counts.dtype)[:, None, :])
            common = common.sum(axis=2, dtype=np.int64)
            lq = np.array([len(s) for s in chunk], dtype=np.int64)[:, None]
            total = lq + lens
            with np.errstate(invalid="ignore", divide="ignore"):
                bound = 200.0 * np.minimum(common, np.minimum(lq, lens)) / total
            bound[total == 0] = 100.0
            yield start, bound


class FuzzyMatcher:
    """Precomputed single-dictionary fuzzy matcher.

    One :class:`CountBound` call bounds every (query, entry) pair of a
    chunk of queries; only pairs whose bound reaches the cutoff are
    scored, best bound first, and a query stops once the next bound falls
    below its best score. The bit-parallel LCS scores the rest. Same
    exact-semantics-with-a-fast-path pattern as the reference's signature
    buckets (``src/nlp/lexicon_beam_decoder.py:54-58``).
    """

    def __init__(self, choices: Sequence[str]):
        self.choices = list(choices)
        self._bound = CountBound(self.choices)

    def extract_one(
        self, query: str, score_cutoff: float = 0.0
    ) -> Optional[Tuple[str, float]]:
        """:meth:`extract_many` of one query."""
        return self.extract_many([query], score_cutoff)[0]

    def extract_many(
        self, queries: Sequence[str], score_cutoff: float = 0.0
    ) -> List[Optional[Tuple[str, float]]]:
        """``extract_one`` of every query: highest score wins, the
        first-seen choice wins ties, scores below the cutoff are dropped."""
        choices = self.choices
        cands: List[list] = [[] for _ in queries]
        if choices:
            for start, bound in self._bound.chunks(queries):
                rows, cols = np.nonzero(bound >= score_cutoff)
                for r, c, b in zip(
                    rows.tolist(), cols.tolist(), bound[rows, cols].tolist()
                ):
                    cands[start + r].append((-b, c))
        out: List[Optional[Tuple[str, float]]] = []
        for query, cand in zip(queries, cands):
            best = -1
            best_score = score_cutoff
            if cand:
                cand.sort()  # best bound first, lowest index among equals
                lq = len(query)
                masks = _match_masks(query)
                for neg_bound, c in cand:
                    if -neg_bound < best_score:
                        break
                    choice = choices[c]
                    total = lq + len(choice)
                    score = (
                        200.0 * _lcs_masks(masks, lq, choice) / total
                        if total
                        else 100.0
                    )
                    if score > best_score or (
                        score == best_score and (best < 0 or c < best)
                    ):
                        best, best_score = c, score
            out.append((choices[best], best_score) if best >= 0 else None)
        return out


_MATCHER_CACHE: dict = {}


def get_matcher(choices: Sequence[str]) -> FuzzyMatcher:
    """Matcher cache keyed on the choices' content: a list mutated in
    place, or a new list at a freed one's address, never meets a stale
    matcher."""
    key = tuple(choices)
    hit = _MATCHER_CACHE.get(key)
    if hit is None:
        hit = FuzzyMatcher(key)
        if len(_MATCHER_CACHE) < 64:
            _MATCHER_CACHE[key] = hit
    return hit


def extract_one(
    query: str,
    choices: Sequence[str],
    score_cutoff: float = 0.0,
) -> Optional[Tuple[str, float]]:
    """Best-scoring choice by ``indel_ratio``; rapidfuzz ``extractOne``
    semantics (highest score, first-seen wins ties, cutoff inclusive)."""
    return get_matcher(choices).extract_one(query, score_cutoff)


def banded_edit_distance(a: str, b: str, max_distance: int) -> int:
    """Levenshtein distance, returning ``max_distance + 1`` once exceeded.

    Semantics of ``LexiconBeamDecoder._edit_distance``
    (``src/nlp/lexicon_beam_decoder.py:64-87``): length-difference short
    circuit, then row DP with an early exit when the row minimum passes
    ``max_distance``.
    """
    if abs(len(a) - len(b)) > max_distance:
        return max_distance + 1
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, start=1):
        curr = [i]
        min_row = i
        for j, cb in enumerate(b, start=1):
            cost = 0 if ca == cb else 1
            val = min(prev[j] + 1, curr[j - 1] + 1, prev[j - 1] + cost)
            curr.append(val)
            if val < min_row:
                min_row = val
        if min_row > max_distance:
            return max_distance + 1
        prev = curr
    return prev[-1]


class CloseMatchIndex:
    """Length-bucketed candidate index that reproduces
    ``difflib.get_close_matches(n=1)`` BYTE-IDENTICALLY while bounding the
    per-lookup candidate set (the scorer of the block parser's fuzzy
    layers, ``src/nlp/block_parser.py:300-315``).

    Why this is exact, not approximate:

    - difflib's ratio is ``2*M/(la+lb)`` with ``M <= min(la, lb)`` matched
      chars, so any candidate with ``2*min(la,lb)/(la+lb) < cutoff`` can
      NEVER pass — the length window is a provable filter, and the bound
      is evaluated with the same float division as the true ratio (same
      denominator, monotone in the numerator), so it can only over-include.
    - ``get_close_matches`` picks via ``heapq.nlargest`` over
      ``(ratio, word)`` tuples: equal ratios tie-break to the
      lexicographically LARGEST word — an order-independent criterion we
      replicate with a running ``max`` over ``(ratio, word)``.
    - Per surviving candidate we run the identical difflib pipeline
      (``set_seq2(word)`` / ``set_seq1(cand)`` roles preserved — ratio is
      not symmetric — with the same real_quick/quick/full cascade).

    Worst-case lookup cost is O(candidates within the length window)
    instead of O(vocabulary) — the bound VERDICT r03 #9 asked for;
    byte-equality is gated by the golden corpus and a differential pytest.
    """

    def __init__(self, possibilities: Iterable[str]):
        self._by_len: dict = {}
        for x in possibilities:
            self._by_len.setdefault(len(x), []).append(x)

    def lookup(self, word: str, cutoff: float) -> Optional[str]:
        import difflib

        la = len(word)
        s = difflib.SequenceMatcher()
        s.set_seq2(word)
        best: Optional[Tuple[float, str]] = None
        for lb, bucket in self._by_len.items():
            # la+lb == 0 ⇒ difflib defines the ratio as 1.0 (its
            # _calculate_ratio zero-length case) — never filter that out
            if la + lb > 0 and 2.0 * min(la, lb) / (la + lb) < cutoff:
                continue
            for x in bucket:
                s.set_seq1(x)
                if (
                    s.real_quick_ratio() >= cutoff
                    and s.quick_ratio() >= cutoff
                ):
                    r = s.ratio()
                    if r >= cutoff and (best is None or (r, x) > best):
                        best = (r, x)
        return best[1] if best else None
