"""One RE2 pass per batch for the lookaround-free kernel regexes.

The per-value kernels of the fields, classify, entities and deid stages
run Python ``re`` patterns turn by turn. Their batch kernels
(``reference.STAGES``) run each pattern they can once over the whole batch
in RE2 (``pyarrow.compute``, C++) and hand every turn its answer:

- :func:`extracts` — the pattern's first group, or ``None`` where it does
  not match (``extract_regex``; stands in for ``search(...).group(1)``);
- :func:`gates` — whether the pattern matches at all
  (``match_substring_regex``; a gate in front of a Python ``findall`` or
  ``finditer``, which then runs only on the turns it lets through).

An RE2 answer stands in for Python ``re`` only on turns where the two
provably agree: ASCII turns without ``\\x0b`` or ``\\x1c``-``\\x1f``. On
``str`` patterns Python's ``\\d``, ``\\w``, ``\\b`` and case folding are
Unicode and RE2's are ASCII-only, and Python's ``\\s`` also takes ``\\x0b``
and ``\\x1c``-``\\x1f`` where RE2's is ``[\\t\\n\\f\\r ]``. Every other turn
gets ``None`` and runs the Python path, as does every turn of a batch with
fewer than ``_MIN_BATCH`` such turns: RE2 compiles each pattern once per
call, which costs more than the Python calls it saves on a handful of
turns. Either way a turn's output is the same, so it never depends on the
batch it lands in.

:func:`table` derives the RE2 forms from the compiled Python patterns
themselves, so the two cannot drift apart: inline flags for ``re.I``/``re.S``/
``re.M``, the first group named (extract) or none kept (gate), and a
non-multiline ``$`` written as ``(?:\\n?\\z)``, which consumes the final
newline but matches at the same places, so the group and the match/no-match
answer are unchanged. A pattern with a construct RE2 lacks (a lookaround, a
backreference) has no form; each module lists those patterns with the
reason, and :func:`table` checks the listing and compiles every form in
pyarrow at import.
"""

from __future__ import annotations

import re
from typing import Dict, Hashable, List, Mapping, Optional, Pattern, Sequence

import pyarrow as pa
import pyarrow.compute as pc

__all__ = ["NoRE2Form", "extracts", "form", "gates", "table"]

# Below this many RE2-safe turns a batch runs the Python path only: on
# 600-char clinical turns RE2's per-call compile costs ~2 ms a batch in
# fields and ~1.6 ms in classify, which the per-turn saving repays at
# about 64 turns.
_MIN_BATCH = 64
# What RE2 reads differently from Python ``re`` on an ASCII turn (``\s``).
_UNSAFE_ASCII = r"[\x0b\x1c-\x1f]"
_GROUP = "g"  # the one named group of an extract form
_FLAGS = ((re.IGNORECASE, "i"), (re.DOTALL, "s"), (re.MULTILINE, "m"))


class NoRE2Form(ValueError):
    """The pattern uses a construct RE2 lacks; the message is the reason."""


def form(pattern: Pattern, extract: bool) -> str:
    """The RE2 source of a compiled Python ``str`` pattern: its first
    capturing group named (``extract``) or every group non-capturing."""
    if pattern.flags & re.VERBOSE:
        raise NoRE2Form("verbose flag")
    src = pattern.pattern
    out: List[str] = []
    groups = 0
    i, n = 0, len(src)
    while i < n:
        c = src[i]
        if c == "\\":
            nxt = src[i + 1]
            if nxt in "123456789":
                raise NoRE2Form("backreference")
            if nxt in "AZ":
                raise NoRE2Form(f"\\{nxt} anchor")
            out.append(src[i : i + 2])
            i += 2
        elif c == "[":  # a class: copied verbatim up to its closing bracket
            j = i + 1
            if src[j : j + 1] == "^":
                j += 1
            if src[j : j + 1] == "]":  # a leading ']' is literal
                j += 1
            while src[j] != "]":
                j += 2 if src[j] == "\\" else 1
            out.append(src[i : j + 1])
            i = j + 1
        elif c == "(":
            if src.startswith("(?:", i):
                out.append("(?:")
                i += 3
                continue
            if src.startswith(("(?=", "(?!"), i):
                raise NoRE2Form("lookahead")
            if src.startswith(("(?<=", "(?<!"), i):
                raise NoRE2Form("lookbehind")
            if src.startswith("(?P<", i):
                i = src.index(">", i) + 1
            elif src.startswith("(?", i):
                raise NoRE2Form(f"group syntax {src[i:i + 3]!r}")
            else:
                i += 1
            groups += 1
            out.append(f"(?P<{_GROUP}>" if extract and groups == 1 else "(?:")
        elif c == "$" and not pattern.flags & re.MULTILINE:
            out.append(r"(?:\n?\z)")
            i += 1
        else:
            out.append(c)
            i += 1
    if extract and not groups:
        raise ValueError(f"extract pattern without a group: {src!r}")
    flags = "".join(f for flag, f in _FLAGS if pattern.flags & flag)
    return (f"(?{flags})" if flags else "") + "".join(out)


def table(
    patterns: Mapping[Hashable, Pattern],
    *,
    extract: bool,
    python_only: Mapping[Hashable, str],
) -> Dict[Hashable, str]:
    """Key → RE2 form of every pattern that has one.

    ``python_only`` lists the keys of the patterns without a form, each with
    the reason :func:`form` gives. Raises ``AssertionError`` if the listing
    is off, or if a form does not compile in pyarrow or has other than one
    named group (extract) or no group (gate)."""
    forms: Dict[Hashable, str] = {}
    missing: Dict[Hashable, str] = {}
    for key, pattern in patterns.items():
        try:
            forms[key] = form(pattern, extract)
        except NoRE2Form as exc:
            missing[key] = str(exc)
    assert missing == dict(python_only), (
        f"RE2 table out of sync: patterns without a form {missing}, listed {dict(python_only)}"
    )
    probe = pa.array([""], pa.string())
    for key, src in forms.items():
        # extract_regex rejects unnamed groups, so a gate form wrapped with
        # one named group of its own shows any group it has as a second field
        named = pc.extract_regex(probe, src if extract else f"(?P<_>)(?:{src})").type
        assert named.num_fields == 1, f"RE2 form of {key!r} has groups {named}"
    return forms


def _batch(texts: Sequence[str]):
    """→ (the RE2-safe turns as one Arrow array, others null; their mask),
    or ``None`` when the batch is too small to pay for RE2."""
    ascii_texts = [t if t.isascii() else None for t in texts]
    if sum(t is not None for t in ascii_texts) < _MIN_BATCH:
        return None
    array = pa.array(ascii_texts, pa.string())
    safe = pc.invert(pc.match_substring_regex(array, _UNSAFE_ASCII)).to_pylist()
    if sum(s is True for s in safe) < _MIN_BATCH:
        return None
    return array, safe


def _scan(texts: Sequence[str], forms: Mapping[Hashable, str], column) -> list:
    """Per turn: key → its answer from ``column(array, form)``, one RE2
    call per form over the batch; ``None`` for a turn RE2 may misread."""
    batch = _batch(texts)
    if batch is None:
        return [None] * len(texts)
    array, safe = batch
    keys = list(forms)
    columns = [column(array, forms[key]) for key in keys]
    return [dict(zip(keys, row)) if ok else None for row, ok in zip(zip(*columns), safe)]


def extracts(
    texts: Sequence[str], forms: Mapping[Hashable, str]
) -> List[Optional[Dict[Hashable, Optional[str]]]]:
    """Per turn: key → the first group of the key's first match, ``None``
    where it does not match; or ``None`` for a turn RE2 may misread."""
    return _scan(
        texts, forms, lambda array, src: pc.extract_regex(array, src).flatten()[0].to_pylist()
    )


def gates(
    texts: Sequence[str], forms: Mapping[Hashable, str]
) -> List[Optional[Dict[Hashable, bool]]]:
    """Per turn: key → whether the key's pattern matches anywhere in it;
    or ``None`` for a turn RE2 may misread."""
    return _scan(
        texts, forms, lambda array, src: pc.match_substring_regex(array, src).to_pylist()
    )
