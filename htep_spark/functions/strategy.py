"""Multi-strategy keep-best paragraph decoding (the reference's rich
offline decoder path).

``predict_paragraph`` (``tests/test_paragraph_icr.py:265-311``): per line,
try three segmentation strategies — the default, a looser variant, a
stricter variant (:288-293) — decode each, and keep the strategy with the
highest average confidence (strict ``>``: the FIRST strategy wins ties,
:297-306); lines whose best decode is empty are dropped and the kept lines
join with ``"\\n"`` (:308-311). A line's confidence is the mean of its
per-word decode confidences (:227-259, ``confidence_samples``).

Text-domain mapping of the image-segmentation knobs:

- ``space_threshold`` (how eagerly a line splits) → ``beam_width`` of the
  lexicon beam decoder;
- ``min_char_area`` (smallest blob admitted as a character) →
  ``conf_floor``: per-position candidates below the floor are pruned
  before decoding, always keeping at least the top-1 candidate.

The strategy triple mirrors the reference's shape
``[(s, a), (max(lo, s-δ), max(lo, a-δ)), (s+δ, a+δ)]``.
"""

from __future__ import annotations

from typing import List, Optional, Sequence, Tuple

from .beam import LexiconBeamDecoder

__all__ = [
    "default_strategies",
    "decode_line_with_strategy",
    "predict_paragraph_best",
]

# one word = per-position candidate lists: List[List[{"character", "confidence"}]]
Word = List[List[dict]]
Line = List[Word]


def default_strategies(
    beam_width: int = 20, conf_floor: float = 0.0
) -> List[Tuple[int, float]]:
    """(default, looser, stricter) — test_paragraph_icr.py:288-293 shape."""
    return [
        (beam_width, conf_floor),
        (max(4, beam_width - 8), max(0.0, round(conf_floor - 0.1, 6))),
        (beam_width + 8, min(1.0, round(conf_floor + 0.1, 6))),
    ]


def _prune_word(word: Word, conf_floor: float) -> Word:
    """Drop per-position candidates below the floor; a position never goes
    empty — its top-1 candidate survives (the min_char_area analogue:
    filtering can shrink, never erase, a character slot)."""
    if conf_floor <= 0.0:
        return word
    out: Word = []
    for pos in word:
        if not pos:
            out.append(pos)
            continue
        kept = [c for c in pos if c["confidence"] >= conf_floor]
        if not kept:
            kept = [max(pos, key=lambda c: c["confidence"])]
        out.append(kept)
    return out


def decode_line_with_strategy(
    line: Line,
    decoder: LexiconBeamDecoder,
    beam_width: int,
    conf_floor: float,
) -> Tuple[str, float]:
    """One line under one strategy → (joined text, mean word confidence).

    Adapted from ``decode_line_with_strategy`` (:227-259): words decode
    independently and an all-empty line scores 0.0, as there. **Deliberate
    divergence**: the reference appends every flushed word's decoded text
    and confidence sample (including empty decodes and literal space
    slots); this version drops empty decodes from both the joined text and
    the confidence mean — empty words would only inject doubled separators
    and zero-confidence noise into the keep-best strategy comparison."""
    texts: List[str] = []
    samples: List[float] = []
    for word in line:
        d = decoder.decode_word(_prune_word(word, conf_floor), beam_width=beam_width)
        final = d["lexicon_word"] if d["replacement_applied"] else d["decoded_word"]
        if final:
            texts.append(final)
            samples.append(float(d["raw_confidence"]))
    avg = (sum(samples) / len(samples)) if samples else 0.0
    return " ".join(texts), avg


def predict_paragraph_best(
    lines: Sequence[Line],
    decoder: LexiconBeamDecoder,
    strategies: Optional[Sequence[Tuple[int, float]]] = None,
) -> Tuple[str, int]:
    """Paragraph of candidate lines → (decoded text, n_lines_kept).

    Per line every strategy is tried and the highest-confidence decode kept
    (strict ``>`` — first strategy wins ties, :297-306); empty best lines
    are dropped; kept lines join with newline (:308-311)."""
    if strategies is None:
        strategies = default_strategies()
    kept: List[str] = []
    for line in lines:
        best_text = ""
        best_conf = -1.0
        for beam_width, conf_floor in strategies:
            text, conf = decode_line_with_strategy(
                line, decoder, beam_width, conf_floor
            )
            if conf > best_conf:
                best_text = text
                best_conf = conf
        if best_text:
            kept.append(best_text)
    return "\n".join(kept), len(kept)
