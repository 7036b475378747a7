"""Distributed BPE merge training (Sennrich et al. 2016) — the tokenizer-
training step of an LLM data pipeline, run on-cluster over the corpus the
tokenizer will serve.

This is a Spark-native EXTENSION beyond the reference inventory (like the
temporal joins and the dedup family): the reference has no tokenizer
training; the operator exists because a 100 TB training-data engine needs
it (task brief: training-data pipeline ops are first-class).

Algorithm = the textbook iterative superstep loop, expressed so each step
is ONE distributed hash aggregation:

1. every word is a list of symbols (initially characters);
2. count adjacent symbol pairs corpus-wide (explode + groupBy — map-side
   partial aggregation applies);
3. the arg-max pair (ties: count desc, then (a, b) lexicographic — fully
   deterministic) becomes the next merge rule. This is the ONE legitimate
   driver action per step: a 1-row ``limit(1).collect()`` of an aggregate,
   the same shape as k-means centroid updates or the BM25 corpus-stats
   scalar;
4. the merge is applied to every word with a left-fold over the symbol
   list (``F.aggregate`` — JVM-side, no Python). Leftmost non-overlapping
   application falls out naturally: the merged symbol ``a+b`` is a new
   string, so it never re-matches ``a`` within the same pass.

Scale design (10^12 tokens): per step = one shuffle (pair count) + one
narrow map (fold). ``k`` supersteps chain lineage linearly; callers at
real scale should ``localCheckpoint`` the symbol frame every few steps
(the pattern ``operators.dedup.connected_components`` uses per round). The
driver never holds row data — only the k winning pairs.

The DuckDB oracle reproduces the whole loop as a generated k-step CTE
chain; the merge fold uses a unit-separator string accumulator with
``list_reduce`` (symbols are ``[a-z0-9]+`` so the separator can never
collide).
"""

from __future__ import annotations

from typing import List, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

__all__ = [
    "bpe_train",
    "bpe_encode_col",
    "q_bpe_train",
    "q_bpe_encode",
    "sql_bpe_train",
    "sql_bpe_encode",
    "BPE_MERGES",
]

BPE_MERGES = 6  # driver-query depth (the oracle CTE chain is generated to match)
BPE_MAX_TOKENS_PER_DOC = 20  # corpus cap for the driver query


def _merge_fold(symbols, a: str, b: str):
    """Left fold replacing adjacent (a, b) with a+b — leftmost,
    non-overlapping, JVM-side."""
    merged = a + b
    empty = F.array().cast(ArrayType(StringType()))
    return F.aggregate(
        symbols,
        empty,
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(
    words: DataFrame, col: str = "word", k: int = BPE_MERGES
) -> List[Tuple[str, str, int]]:
    """Learn ``k`` BPE merges from a DataFrame of words (one word per
    row, duplicates = corpus frequency). Returns the ordered merge table
    ``[(a, b, pair_count), ...]``.

    The loop runs over the DISTINCT-WORD frequency table (the standard
    BPE formulation): one up-front ``groupBy word`` collapses corpus
    duplicates, pair counts become ``sum(freq)``, and every superstep's
    explode/fold touches only unique words — identical counts, identical
    merge table, but per-step work scales with |vocab| instead of corpus
    token count (the dominant term: natural corpora repeat words heavily).
    """
    wf = words.groupBy(F.col(col).alias("w")).agg(F.count("*").alias("freq"))
    syms = wf.select(F.split(F.col("w"), "").alias("s"), "freq").filter(
        F.size("s") > 0
    )
    merges: List[Tuple[str, str, int]] = []
    prev = None
    for _ in range(k):
        # each superstep is consumed twice (pair argmax + next fold) and
        # every later step builds on it — persist to keep the loop O(k)
        # instead of re-deriving the whole fold chain per step; at real
        # scale swap persist() for localCheckpoint() to also cut lineage
        syms = syms.persist()
        pairs = syms.select(
            F.posexplode(F.slice("s", 1, F.size("s") - 1)).alias("i", "a"),
            F.col("s"),
            F.col("freq"),
        ).select("a", F.element_at("s", F.col("i") + 2).alias("b"), "freq")
        top = (
            pairs.groupBy("a", "b")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .collect()
        )
        if prev is not None:
            prev.unpersist()
        prev = syms
        if not top:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
        merges.append((a, b, cnt))
        syms = syms.select(_merge_fold(F.col("s"), a, b).alias("s"), "freq")
    if prev is not None:
        prev.unpersist()
    return merges


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-CHECKED driver query: the learned merge table over the first
    ``BPE_MAX_TOKENS_PER_DOC`` lowercase tokens of every document —
    merge_rank, pair, merged symbol, and the corpus pair count that won
    the step. The Spark side runs the real distributed loop; the oracle
    replays it as a generated k-step CTE chain."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = docs.select(
        F.explode(
            F.slice(
                F.regexp_extract_all(
                    F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0
                ),
                1,
                BPE_MAX_TOKENS_PER_DOC,
            )
        ).alias("word")
    )
    merges = bpe_train(words, "word", BPE_MERGES)
    rows = [
        (i + 1, a, b, a + b, cnt) for i, (a, b, cnt) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows, "merge_rank long, pair_a string, pair_b string, merged string, pair_count long"
    )


def bpe_encode_col(word_col, merges) -> "F.Column":
    """Column expression applying the learned merge table in rank order to
    one word: char split, then k chained ``_merge_fold``s — pure JVM
    expressions, no Python in the hot path. ``merges`` is the
    ``bpe_train`` output (``(a, b, cnt)`` or ``(a, b)`` tuples)."""
    syms = F.split(word_col, "")
    for m in merges:
        syms = _merge_fold(syms, m[0], m[1])
    return syms


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-CHECKED driver query: tokenizer APPLICATION — train the
    ``BPE_MERGES``-step merge table on the capped corpus (the same corpus
    construction as ``q_bpe_train``), then encode every word with it.
    Per doc: word count, total BPE token count after merging, and the
    space-joined encoding of the doc's first word (a concrete spot-check
    surface). Completes the tokenizer family: ``bpe_train`` proves the
    learned table, this proves the corpus-wide application fold."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.slice(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0),
        1,
        BPE_MAX_TOKENS_PER_DOC,
    )
    words = docs.select(
        "doc_id", F.posexplode(toks).alias("word_idx", "word")
    ).filter(F.length("word") > 0)
    merges = bpe_train(words.select("word"), "word", BPE_MERGES)
    # encode each DISTINCT word once and join back — the k chained folds
    # are the expensive part, and natural corpora repeat words heavily
    # (same |vocab|-not-|corpus| scaling argument as the trainer); the
    # equi-join on word replaces 10x redundant fold work with one shuffle
    encoded_vocab = (
        words.select("word")
        .distinct()
        .select("word", bpe_encode_col(F.col("word"), merges).alias("s"))
    )
    encoded = words.join(encoded_vocab, "word")
    return encoded.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_words"),
        F.sum(F.size("s")).cast("long").alias("n_bpe_tokens"),
        F.array_join(F.min_by("s", "word_idx"), " ").alias("first_word_bpe"),
    )


# the list_reduce left fold shared by the train and encode oracles: same
# leftmost non-overlapping merge semantics as the Spark ``_merge_fold``
_SQL_FOLD = """list_reduce(
           str_split(w.s, {us}),
           (acc, x) -> CASE
             WHEN (acc = bb.a OR ends_with(acc, {us} || bb.a)) AND x = bb.b
               THEN substr(acc, 1, length(acc) - length(bb.a)) || bb.a || bb.b
             ELSE acc || {us} || x END
         )"""


def sql_bpe_train(k: int = BPE_MERGES) -> str:
    """Generated DuckDB replay of the k-step loop. Symbol lists travel as
    chr(31)-joined strings between steps; the merge is a ``list_reduce``
    left fold with the same leftmost non-overlapping semantics as the
    Spark ``F.aggregate`` fold."""
    us = "chr(31)"
    parts = [
        f"""
WITH w0 AS (
  SELECT array_to_string(str_split(word, ''), {us}) AS s
  FROM (
    SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')[1:{BPE_MAX_TOKENS_PER_DOC}]) AS word
    FROM documents
  ) WHERE length(word) > 0
)"""
    ]
    for i in range(k):
        parts.append(
            f""", p{i} AS (
  SELECT l[i] AS a, l[i + 1] AS b
  FROM (SELECT str_split(s, {us}) AS l, unnest(range(1, len(str_split(s, {us})))) AS i FROM w{i})
), c{i} AS (
  SELECT a, b, count(*) AS cnt FROM p{i} GROUP BY a, b
), best{i} AS (
  SELECT a, b, cnt FROM c{i} ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
), w{i + 1} AS (
  SELECT {_SQL_FOLD.format(us=us)} AS s
  FROM w{i} w CROSS JOIN best{i} bb
)"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({i + 1} AS BIGINT) AS merge_rank, a AS pair_a, b AS pair_b, "
        f"a || b AS merged, CAST(cnt AS BIGINT) AS pair_count FROM best{i}"
        for i in range(k)
    )
    return "".join(parts) + "\n" + union


def sql_bpe_encode(k: int = BPE_MERGES) -> str:
    """Generated DuckDB replay of train-then-encode: the same k-step chain
    as ``sql_bpe_train`` but with (doc_id, widx) carried through every
    fold (the per-step ``best{i}`` argmax is computed over the identical
    corpus — id columns don't enter the pair counts), finished by the
    per-doc encoding aggregate."""
    us = "chr(31)"
    cap = BPE_MAX_TOKENS_PER_DOC
    parts = [
        f"""
WITH w0 AS (
  SELECT doc_id, widx, array_to_string(str_split(word, ''), {us}) AS s
  FROM (
    SELECT doc_id, i - 1 AS widx, t[i] AS word
    FROM (
      SELECT doc_id, t, unnest(range(1, len(t)+1)) AS i
      FROM (SELECT doc_id,
                   regexp_extract_all(lower(text), '[a-z0-9]+')[1:{cap}] AS t
            FROM documents)
    )
  ) WHERE length(word) > 0
)"""
    ]
    for i in range(k):
        parts.append(
            f""", p{i} AS (
  SELECT l[i] AS a, l[i + 1] AS b
  FROM (SELECT str_split(s, {us}) AS l, unnest(range(1, len(str_split(s, {us})))) AS i FROM w{i})
), c{i} AS (
  SELECT a, b, count(*) AS cnt FROM p{i} GROUP BY a, b
), best{i} AS (
  SELECT a, b, cnt FROM c{i} ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
), w{i + 1} AS (
  SELECT w.doc_id, w.widx, {_SQL_FOLD.format(us=us)} AS s
  FROM w{i} w CROSS JOIN best{i} bb
)"""
        )
    final = f"""
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(len(str_split(s, {us}))) AS BIGINT) AS n_bpe_tokens,
       array_to_string(str_split(arg_min(s, widx), {us}), ' ') AS first_word_bpe
FROM w{k} GROUP BY doc_id"""
    return "".join(parts) + final
