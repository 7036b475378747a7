"""Spark surfaces for the beam decoder (R9–R11) and block parser (T2–T6).

Both are Arrow-vectorized pandas UDFs over closure-captured broadcast
lexicons — per word/turn the work is embarrassingly parallel; the lexicon
signature buckets are the broadcast-hash-join build side (SURVEY.md §2.3).
"""

from __future__ import annotations

from typing import Iterator, Optional, Sequence

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..functions.beam import LexiconBeamDecoder
from ..functions.hashing import md5_prefix60_spark, md5_prefix60_sql
from ..functions.parser import BlockTextParser

__all__ = [
    "make_beam_decode_udf",
    "make_parse_udf",
    "make_paragraph_decode_udf",
    "PARSE_RESULT_TYPE",
    "DECODE_RESULT_TYPE",
    "PARAGRAPH_RESULT_TYPE",
]

DECODE_RESULT_TYPE = StructType(
    [
        StructField("raw_word", StringType(), True),
        StructField("decoded_word", StringType(), True),
        StructField("lexicon_word", StringType(), True),
        StructField("distance", IntegerType(), True),
        StructField("raw_confidence", DoubleType(), True),
        StructField("replacement_applied", BooleanType(), True),
        StructField("replacement_reason", StringType(), True),
    ]
)

PARSE_RESULT_TYPE = StructType(
    [
        StructField("corrected_text", StringType(), True),
        StructField(
            "corrections",
            ArrayType(
                StructType(
                    [
                        StructField("from", StringType(), True),
                        StructField("to", StringType(), True),
                        StructField("source", StringType(), True),
                    ]
                )
            ),
            True,
        ),
        StructField("dictionary_matches", ArrayType(StringType()), True),
        StructField("medical_matches", ArrayType(StringType()), True),
        StructField("english_matches", ArrayType(StringType()), True),
        StructField("backend", StringType(), True),
    ]
)


def make_beam_decode_udf(
    lexicon_terms: Sequence[str],
    primary_terms: Optional[Sequence[str]] = None,
    beam_width: int = 20,
):
    """candidates column → decode-result struct (decoder built once per
    Python worker via closure capture)."""
    lex = list(lexicon_terms)
    prim = list(primary_terms) if primary_terms else None

    @F.pandas_udf(DECODE_RESULT_TYPE)
    def decode(cands: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        decoder = LexiconBeamDecoder(lex, prim)
        # decode_word is a pure function of the candidate matrix (and the
        # fixed beam width), and corpora repeat words heavily — memoize on
        # the exact matrix per worker (same fast path as the extraction
        # kernel's token/ngram memos; bounded)
        memo: dict = {}
        for series in cands:
            rows = []
            for word_cands in series:
                if word_cands is None:
                    word_cands = []
                key = tuple(
                    tuple(
                        (c["character"], c["confidence"]) for c in (pos or [])
                    )
                    for pos in word_cands
                )
                hit = memo.get(key)
                if hit is None:
                    norm = [
                        [
                            {
                                "character": c["character"],
                                "confidence": c["confidence"],
                            }
                            for c in (pos or [])
                        ]
                        for pos in word_cands
                    ]
                    d = decoder.decode_word(norm, beam_width=beam_width)
                    hit = {
                        "raw_word": d["raw_word"],
                        "decoded_word": d["decoded_word"],
                        "lexicon_word": d["lexicon_word"],
                        "distance": d["distance"],
                        "raw_confidence": float(d["raw_confidence"]),
                        "replacement_applied": bool(d["replacement_applied"]),
                        "replacement_reason": d["replacement_reason"],
                    }
                    if len(memo) < 500_000:
                        memo[key] = hit
                rows.append(hit)
            yield pd.DataFrame(rows, columns=[f.name for f in DECODE_RESULT_TYPE])

    return decode


def make_parse_udf(
    dictionary_terms: Optional[Sequence[str]] = None,
    english_terms: Optional[Sequence[str]] = None,
):
    """text column → BlockTextParser result struct (T2–T6, regex backend)."""
    dterms = list(dictionary_terms) if dictionary_terms else None
    eterms = list(english_terms) if english_terms else None

    @F.pandas_udf(PARSE_RESULT_TYPE)
    def parse(texts: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        parser = BlockTextParser(dterms, eterms)
        for series in texts:
            rows = []
            for text in series:
                r = parser.parse(text if isinstance(text, str) else "")
                rows.append(
                    {
                        "corrected_text": r["corrected_text"],
                        "corrections": r["corrections"],
                        "dictionary_matches": r["dictionary_matches"],
                        "medical_matches": r["dictionary_layers"]["medical"],
                        "english_matches": r["dictionary_layers"]["english"],
                        "backend": r["backend"],
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in PARSE_RESULT_TYPE])

    return parse


PARAGRAPH_RESULT_TYPE = StructType(
    [
        StructField("text", StringType(), True),
        StructField("n_lines", IntegerType(), True),
    ]
)

def make_paragraph_decode_udf(
    lexicon_terms: Sequence[str],
    primary_terms: Optional[Sequence[str]] = None,
):
    """Paragraph candidate tensor (as a JSON string column — the 4-level
    nested array type defeats Spark's Arrow→pandas conversion, so the
    tensor travels serialized) → keep-best decoded text (the reference's
    three-strategy rich decoder, ``tests/test_paragraph_icr.py:265-311``)."""
    import json

    from ..functions.strategy import predict_paragraph_best

    lex = list(lexicon_terms)
    prim = list(primary_terms) if primary_terms else None

    @F.pandas_udf(PARAGRAPH_RESULT_TYPE)
    def decode(paragraphs: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        decoder = LexiconBeamDecoder(lex, prim)
        for series in paragraphs:
            rows = []
            for payload in series:
                lines = json.loads(payload) if payload else []
                text, n_lines = predict_paragraph_best(lines or [], decoder)
                rows.append({"text": text, "n_lines": n_lines})
            yield pd.DataFrame(rows, columns=[f.name for f in PARAGRAPH_RESULT_TYPE])

    return decode


def _word_candidates_col(word_col):
    """word string → per-position top-1 candidate list with a deterministic
    confidence in [0.35, 0.99] (shared by the beam and paragraph queries).

    The confidence hash is the md5 60-bit prefix (same cross-engine trick
    as the MinHash oracle mode) rather than xxhash64, so DuckDB can
    regenerate the exact candidate matrices — which makes the greedy
    decode slice of the beam kernel hash-checkable (`greedy_decode`)."""
    return F.transform(
        F.split(word_col, ""),
        lambda ch, i: F.array(
            F.struct(
                ch.alias("character"),
                (
                    0.35
                    + F.pmod(
                        md5_prefix60_spark(
                            F.concat_ws("|", ch, word_col, i.cast("string"))
                        ),
                        F.lit(64),
                    ).cast("double")
                    / 100.0
                ).alias("confidence"),
            )
        ),
    )


def q_paragraph_decode(spark, sf_dir: str):
    """Rows-only driver query: per document, two synthetic candidate lines
    (three words each) through the three-strategy keep-best decoder."""
    from ..dictionaries import DISEASES_SINGLE, DRUGS_SINGLE

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.regexp_extract_all(F.upper(F.col("text")), F.lit("[A-Z]+"), 0)
    line = lambda start: F.transform(
        F.slice(toks, start, 3), lambda w: _word_candidates_col(w)
    )
    paragraph = F.to_json(F.array(line(1), line(4)))
    decode = make_paragraph_decode_udf(DRUGS_SINGLE + DISEASES_SINGLE, DRUGS_SINGLE)
    # materialize the JSON tensor behind an exchange before the UDF: in one
    # projection Catalyst re-inlines the to_json invoke-expression into the
    # Python-UDF argument, which intermittently fails codegen on repeated
    # plans (INTERNAL_ERROR "Cannot generate code for expression: decode(
    # invoke(StructsToJsonEvaluator...))", Spark 4.1) — the barrier keeps
    # the UDF input a plain attribute and spreads decode across cores
    staged = docs.select("doc_id", paragraph.alias("pjson")).repartition(
        spark.sparkContext.defaultParallelism
    )
    return staged.select("doc_id", decode(F.col("pjson")).alias("p")).select(
        "doc_id", F.col("p.text").alias("text"), F.col("p.n_lines").alias("n_lines")
    )


def q_parse(spark, sf_dir: str):
    """Rows-only driver query: block-parser correction over documents."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )
    parse = make_parse_udf()
    # driver-facing select: serialize array columns (the driver's pandas
    # canonicalizer can't hash list cells). Correction order is
    # deterministic parser output, so to_json/array_join are stable.
    return docs.select("doc_id", parse(F.col("text")).alias("parsed")).select(
        "doc_id",
        F.col("parsed.corrected_text").alias("corrected_text"),
        F.to_json("parsed.corrections").alias("corrections"),
        F.array_join("parsed.dictionary_matches", "|").alias("dictionary_matches"),
        F.array_join("parsed.medical_matches", "|").alias("medical_matches"),
        F.array_join("parsed.english_matches", "|").alias("english_matches"),
        F.col("parsed.backend").alias("backend"),
    )


def q_greedy_decode(spark, sf_dir: str):
    """HASH-CHECKED slice of the beam kernel: over top-1 candidate
    matrices the R9 decode is greedy — ``raw_word`` is the argmax path
    BEFORE any R10/R11 lexicon replacement and ``raw_confidence`` is
    exactly ``exp(mean(log(conf)))``. Those two outputs of the REAL beam
    decoder are reproduced in DuckDB from the shared md5 confidence hash
    (``SQL_GREEDY_DECODE``). Emitting the pre-replacement ``raw_word``
    (not ``decoded_word``) keeps this oracle sound even when replacement
    fires (ADVICE r03 medium); the replacement surface itself is
    hash-checked by `beam_replace`."""
    from ..dictionaries import DISEASES_SINGLE, DRUGS_SINGLE

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.slice(
        F.regexp_extract_all(F.upper(F.col("text")), F.lit("[A-Z]+"), 0), 1, 5
    )
    words = docs.select("doc_id", F.posexplode(toks).alias("word_idx", "word"))
    cands = _word_candidates_col(F.col("word"))
    decode = make_beam_decode_udf(DRUGS_SINGLE + DISEASES_SINGLE, DRUGS_SINGLE)
    return words.select(
        "doc_id",
        F.col("word_idx").cast("long").alias("word_idx"),
        decode(cands).alias("d"),
    ).select(
        "doc_id",
        "word_idx",
        F.col("d.raw_word").alias("raw_word"),
        F.round("d.raw_confidence", 6).alias("raw_confidence"),
    )


# shared CTE prefix: a per-doc word list + the md5-derived top-1
# confidence list (same constants as `_word_candidates_col`); the word
# source expression is pluggable so `beam_replace` can inject its
# corrupted-term prelude
_SQL_WORDS_CONFS_TMPL = """
WITH toks AS (
  SELECT doc_id, {ws_expr} AS ws
  FROM documents
), words AS (
  SELECT doc_id, i - 1 AS word_idx, ws[i] AS w
  FROM (SELECT doc_id, ws, unnest(range(1, len(ws)+1)) AS i FROM toks)
), confs AS (
  SELECT doc_id, word_idx, w,
         list_transform(
           range(1, length(w)+1),
           i -> 0.35 + ({md5_60}
                 % 64) / 100.0) AS cs
  FROM words
)"""


def _sql_words_confs(
    ws_expr: str = "regexp_extract_all(upper(text), '[A-Z]+')[1:5]",
) -> str:
    return _SQL_WORDS_CONFS_TMPL.format(
        ws_expr=ws_expr,
        md5_60=md5_prefix60_sql(
            "substr(w, i, 1) || '|' || w || '|' || CAST(i - 1 AS VARCHAR)"
        ),
    )


SQL_GREEDY_DECODE = (
    _sql_words_confs()
    + """
SELECT doc_id, CAST(word_idx AS BIGINT) AS word_idx, w AS raw_word,
       round(exp(list_sum(list_transform(cs, c -> ln(c))) / len(cs)), 6)
         AS raw_confidence
FROM confs
"""
)


def _beam_lexicons():
    """The exact (normalized, len>=2, deduped) term sets the decoder
    builds in its constructor — single source for the Spark UDF's closure
    AND the DuckDB VALUES list."""
    from ..dictionaries import DISEASES_SINGLE, DRUGS_SINGLE
    from ..functions.beam import _normalize_word

    prim = {
        n for n in (_normalize_word(t) for t in DRUGS_SINGLE) if len(n) >= 2
    }
    lex = {
        n
        for n in (
            _normalize_word(t) for t in DRUGS_SINGLE + DISEASES_SINGLE
        )
        if len(n) >= 2
    } | prim
    return sorted(lex), prim


def _corrupt_prelude_terms():
    """Deterministic corrupted/exact lexicon terms keyed by ``doc_id % 16``
    — the word-soup corpus alone never satisfies the replacement gates
    (every nearest-match ends 'high-confidence-kept-raw'), so like the
    clinical/PII preludes these make the APPLIED branches non-vacuous:
    a drug with one substituted char (distance 1 → primary gate), a
    disease with one substituted char (distance 1 → non-primary gate),
    and an unmutated disease (exact non-primary hit). Single source for
    the Spark literal arrays and the DuckDB list literals. (The
    'low-confidence-primary-fallback' branch is corpus-unreachable — no
    disease term has a drug within distance 1 — and stays pytest-gated:
    ``test_beam_primary_fallback``.)"""
    lex, prim = _beam_lexicons()
    drugs = sorted(prim)
    diseases = [t for t in lex if t not in prim]
    corrupt_drugs, corrupt_dis, exact_dis = [], [], []
    for i in range(16):
        for src, stride, out in (
            (drugs, 7, corrupt_drugs),
            (diseases, 5, corrupt_dis),
        ):
            t = src[(i * stride) % len(src)]
            pos = i % len(t)
            repl = chr(ord("A") + (ord(t[pos]) - ord("A") + 1 + i) % 26)
            out.append(t[:pos] + repl + t[pos + 1 :])
        exact_dis.append(diseases[(i * 3) % len(diseases)])
    return corrupt_drugs, corrupt_dis, exact_dis


def q_beam_replace(spark, sf_dir: str):
    """HASH-CHECKED: the FULL R10/R11 lexicon-replacement surface of the
    beam kernel (ref ``src/nlp/lexicon_beam_decoder.py:117-147,203-260``)
    — nearest-lexicon lookup over the (length±1, first-char) signature
    buckets with banded edit distance <= 2, plus every confidence gate
    (primary: mean<=0.80 or min<=0.60; non-primary: dist<=1 and
    min<=0.45; exact-non-primary yielding to a distance<=1 primary under
    low confidence). The REAL decoder runs in the UDF; DuckDB reproduces
    the decision with native ``levenshtein()`` over the same md5-derived
    candidate matrices (``banded_edit_distance(a,b,2)`` equals the full
    distance whenever it is <= 2 — pytest-gated in test_functions_core).
    Tie-breaks are deterministic both sides: argmin by (distance,
    candidate length, candidate) — see the constructor note in beam.py.
    Word source = corrupted-term prelude (3 words) + 2 corpus tokens, so
    every reachable replacement branch fires (vacuity-proofed)."""
    from ..dictionaries import DISEASES_SINGLE, DRUGS_SINGLE

    cd, cdis, ed = _corrupt_prelude_terms()
    idx = (F.col("doc_id") % 16 + 1).cast("int")
    lit_at = lambda terms: F.element_at(F.array(*[F.lit(t) for t in terms]), idx)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.concat(
        F.array(lit_at(cd), lit_at(cdis), lit_at(ed)),
        F.slice(
            F.regexp_extract_all(F.upper(F.col("text")), F.lit("[A-Z]+"), 0), 1, 2
        ),
    )
    words = docs.select("doc_id", F.posexplode(toks).alias("word_idx", "word"))
    cands = _word_candidates_col(F.col("word"))
    decode = make_beam_decode_udf(DRUGS_SINGLE + DISEASES_SINGLE, DRUGS_SINGLE)
    return words.select(
        "doc_id",
        F.col("word_idx").cast("long").alias("word_idx"),
        decode(cands).alias("d"),
    ).select(
        "doc_id",
        "word_idx",
        F.col("d.raw_word").alias("raw_word"),
        F.col("d.decoded_word").alias("decoded_word"),
        F.col("d.lexicon_word").alias("lexicon_word"),
        F.col("d.distance").cast("long").alias("distance"),
        F.col("d.replacement_applied").cast("long").alias("replacement_applied"),
        F.col("d.replacement_reason").alias("replacement_reason"),
    )


def _sql_beam_replace() -> str:
    from ..functions.beam import LexiconBeamDecoder

    lex, prim = _beam_lexicons()
    d = LexiconBeamDecoder([])  # constructor defaults = the gate thresholds
    t_mean = repr(d.replacement_confidence_threshold)
    t_min = repr(d.replacement_min_char_confidence_threshold)
    t_np_min = repr(d.non_primary_replacement_min_char_confidence)
    values = ", ".join(
        f"('{term}', {'TRUE' if term in prim else 'FALSE'})" for term in lex
    )
    cd, cdis, ed = _corrupt_prelude_terms()
    sql_list = lambda terms: (
        "list_value(" + ", ".join(f"'{t}'" for t in terms) + ")"
    )
    ws_expr = (
        f"list_concat(list_value({sql_list(cd)}[(doc_id % 16) + 1], "
        f"{sql_list(cdis)}[(doc_id % 16) + 1], "
        f"{sql_list(ed)}[(doc_id % 16) + 1]), "
        "regexp_extract_all(upper(text), '[A-Z]+')[1:2])"
    )
    # gates quantized identically on both sides is unnecessary: the output
    # carries no floats — only the DECISIONS, whose inputs (md5-derived
    # doubles, identical bit patterns both engines) sit away from the
    # thresholds by a pytest-asserted margin (test_beam_replace_gate_margin)
    gates = f"""
  (NOT in_lex) AND n.term IS NOT NULL AND (
      (n.is_primary AND (mean_conf <= CAST({t_mean} AS DOUBLE)
                         OR min_conf <= CAST({t_min} AS DOUBLE)))
   OR ((NOT n.is_primary) AND n.dist <= 1
       AND min_conf <= CAST({t_np_min} AS DOUBLE)))"""
    pfall = f"""
  in_lex AND (NOT in_prim) AND p.pterm IS NOT NULL AND p.pdist <= 1
  AND (mean_conf <= CAST({t_mean} AS DOUBLE)
       OR min_conf <= CAST({t_min} AS DOUBLE))"""
    return (
        _sql_words_confs(ws_expr)
        + f""", stats AS (
  SELECT doc_id, word_idx, w,
         list_sum(cs) / len(cs) AS mean_conf,
         list_min(cs) AS min_conf
  FROM confs
), lex(term, is_primary) AS (VALUES {values}),
hit AS (
  SELECT s.*, l.term IS NOT NULL AS in_lex,
         coalesce(l.is_primary, FALSE) AS in_prim
  FROM stats s LEFT JOIN lex l ON s.w = l.term
), near AS (
  SELECT s.doc_id, s.word_idx, l.term, l.is_primary,
         levenshtein(s.w, l.term) AS dist,
         row_number() OVER (
           PARTITION BY s.doc_id, s.word_idx
           ORDER BY levenshtein(s.w, l.term), length(l.term), l.term
         ) AS rn
  FROM stats s JOIN lex l
    ON substr(s.w, 1, 1) = substr(l.term, 1, 1)
   AND abs(length(s.w) - length(l.term)) <= 1
  WHERE length(s.w) >= 2 AND levenshtein(s.w, l.term) <= 2
), pnear AS (
  SELECT s.doc_id, s.word_idx, l.term AS pterm,
         levenshtein(s.w, l.term) AS pdist,
         row_number() OVER (
           PARTITION BY s.doc_id, s.word_idx
           ORDER BY levenshtein(s.w, l.term), length(l.term), l.term
         ) AS rn
  FROM stats s JOIN lex l
    ON l.is_primary
   AND substr(s.w, 1, 1) = substr(l.term, 1, 1)
   AND abs(length(s.w) - length(l.term)) <= 1
  WHERE length(s.w) >= 2 AND levenshtein(s.w, l.term) <= 2
)
SELECT h.doc_id, CAST(h.word_idx AS BIGINT) AS word_idx, h.w AS raw_word,
       CASE WHEN {pfall} THEN p.pterm
            WHEN {gates} THEN n.term
            ELSE h.w END AS decoded_word,
       CASE WHEN {pfall} THEN p.pterm
            WHEN in_lex THEN h.w
            WHEN n.term IS NOT NULL THEN n.term
            ELSE NULL END AS lexicon_word,
       CAST(CASE WHEN {pfall} THEN p.pdist
            WHEN in_lex THEN 0
            WHEN n.term IS NOT NULL THEN n.dist
            ELSE NULL END AS BIGINT) AS distance,
       CAST(CASE WHEN ({pfall}) OR ({gates}) THEN 1 ELSE 0 END AS BIGINT)
         AS replacement_applied,
       CASE WHEN {pfall} THEN 'low-confidence-primary-fallback'
            WHEN {gates} THEN 'low-confidence-lexicon-fallback'
            WHEN (NOT in_lex) AND n.term IS NOT NULL
              THEN 'high-confidence-kept-raw'
            ELSE NULL END AS replacement_reason
FROM hit h
LEFT JOIN (SELECT * FROM near WHERE rn = 1) n
  ON h.doc_id = n.doc_id AND h.word_idx = n.word_idx
LEFT JOIN (SELECT * FROM pnear WHERE rn = 1) p
  ON h.doc_id = p.doc_id AND h.word_idx = p.word_idx
"""
    )
