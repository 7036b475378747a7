"""Exact global ranking at scale — the distributed order statistic every
data-curation pipeline eventually needs (top-p selection, percentile
bucketing, CCNet-style perplexity terciles).

The naive Spark form — ``row_number() OVER (ORDER BY score)`` with no
partition key — collapses the whole dataset into ONE task and dies at
scale. The scale-honest exact construction used here:

1. ``repartitionByRange`` on the full sort key (score + deterministic
   tie-breakers) + ``sortWithinPartitions`` — Spark's range partitioner
   guarantees every row in partition *i* sorts before every row in
   partition *i+1*. The frame is then ``localCheckpoint``-ed (eager):
   range boundaries come from SAMPLING, so the two downstream jobs must
   read ONE materialization — re-executing the exchange per job could
   re-sample different boundaries and mis-rank boundary rows (review-r04
   finding). The returned frame reads that pin, so it stays held, like
   the one pin a ``dedup_keepers`` call returns behind its result;
2. ``monotonically_increasing_id`` over the materialized sorted
   partitions encodes (partition, local position); one tiny aggregation
   collects per-partition ``(count, min_id)`` — #partitions scalars to
   the driver, the same 1-small-action class as k-means/BM25 stats;
3. the per-partition prefix offsets broadcast-join back:
   ``global_rank = offset + (_mid - min_id) + 1``. No window function —
   a window partitioned by partition id would plan a SECOND full-data
   hash exchange.

Cost: one range exchange + one in-partition sort, materialized once and
read by both jobs, plus a scalar agg and a broadcast join — the same
class as any distributed sort, with no single-task bottleneck.
Determinism: ties are broken by explicit columns, so the rank is a pure
function of the data on any cluster size (the driver oracle reproduces it
with a plain ``row_number()`` — small data has no scale constraint).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "exact_global_rank",
    "q_lm_heldout",
    "sql_lm_heldout",
]


def exact_global_rank(
    df: DataFrame,
    order_col: str,
    tie_cols: Sequence[str] = (),
    n_partitions: int = 0,
) -> DataFrame:
    """Append ``global_rank`` (1-based, ordered by ``order_col`` then
    ``tie_cols``) without a single-partition window."""
    keys = [F.col(order_col)] + [F.col(t) for t in tie_cols]
    n_parts = n_partitions or df.sparkSession.sparkContext.defaultParallelism
    parted = (
        df.repartitionByRange(n_parts, *keys)
        .sortWithinPartitions(*keys)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn("_mid", F.monotonically_increasing_id())
        # ONE materialization: both downstream jobs read these exact
        # partitions — never a re-sampled range exchange (module doc #1)
        .localCheckpoint(eager=True)
    )
    stats = sorted(
        (r["_pid"], r["cnt"], r["mn"])
        for r in parted.groupBy("_pid")
        .agg(F.count("*").alias("cnt"), F.min("_mid").alias("mn"))
        .collect()
    )  # #partitions scalars — the one driver action
    offsets, acc = [], 0
    for pid, cnt, mn in stats:
        offsets.append((pid, acc, mn))
        acc += cnt
    spark = df.sparkSession
    off_df = F.broadcast(
        spark.createDataFrame(offsets, "_pid int, _offset long, _mn long")
    )
    return (
        parted.join(off_df, "_pid")
        .withColumn(
            "global_rank",
            F.col("_offset") + (F.col("_mid") - F.col("_mn")) + 1,
        )
        # the total is already known from the offsets action — expose it as
        # a literal so callers never reach for a count() OVER () window
        # (which plans an Exchange SinglePartition, the exact bottleneck
        # this operator exists to avoid)
        .withColumn("global_count", F.lit(acc).cast("long"))
        .drop("_pid", "_offset", "_mn", "_mid")
    )


# --------------------------------------------------------------------------
# Held-out perplexity filter — CCNet PROPER (Wenzek et al. 2020, §3.3):
# unlike an in-corpus bigram LM (trained on the same corpus it scores — a
# useful signal but methodologically self-referential) this trains on an
# md5-hash-split HALF of the corpus and scores only the complement, the
# actual train/score separation the CCNet recipe demands. Reference has no
# distributed analogue; the closest pattern is the train/eval split of its
# eval harness (tests/evaluate_metrics.py:39-90).
#
# Scale shape: the split predicate is a pure hash of doc_id (zero-exchange,
# cluster-size invariant, like q_sample_hash); training = two hash aggs
# over the train half; scoring = one shuffle join of held-out bigrams
# against the train counts (LEFT join — unseen bigrams/unigrams fall back
# to the add-k smoothing floor, which is exactly where held-out scoring
# differs from in-corpus scoring); terciles via exact_global_rank (no
# single-partition window). Driver actions: |V| scalar + the rank offsets.
# --------------------------------------------------------------------------

LM_HELDOUT_SALT = "lm"
LM_HELDOUT_MOD = 2  # bucket 0 trains, buckets 1..MOD-1 are scored
_TERCILES = ("head", "middle", "tail")  # best-scoring third first


def q_lm_heldout(spark, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..driver_queries import (
        LM_SMOOTH_K,
        _docs,
        _md5_bucket_spark,
        _TOKEN_PATTERN,
    )

    docs = _docs(spark, sf_dir).withColumn(
        "is_train",
        _md5_bucket_spark(
            F.concat_ws("|", F.lit(LM_HELDOUT_SALT), F.col("doc_id")),
            LM_HELDOUT_MOD,
        )
        == 0,
    )
    toks = docs.select(
        "doc_id",
        "is_train",
        F.posexplode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(_TOKEN_PATTERN), 0)
        ).alias("pos", "w"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bigrams = (
        toks.withColumn("w2", F.lead("w").over(w))
        .filter(F.col("w2").isNotNull())
        .select("doc_id", "is_train", "pos", F.col("w").alias("w1"), "w2")
    )
    uni = toks.filter("is_train").groupBy("w").agg(F.count("*").alias("cu"))
    vocab = uni.count()  # small driver-side scalar (train |V|), not row data
    big = (
        bigrams.filter("is_train").groupBy("w1", "w2").agg(F.count("*").alias("cb"))
    )
    held = bigrams.filter(~F.col("is_train"))
    scored = (
        held.join(big, ["w1", "w2"], "left")
        .join(uni.withColumnRenamed("w", "w1"), "w1", "left")
        .withColumn(
            "logp",
            F.log(
                (F.coalesce("cb", F.lit(0)) + F.lit(LM_SMOOTH_K))
                / (F.coalesce("cu", F.lit(0)) + F.lit(LM_SMOOTH_K) * vocab)
            ),
        )
    )
    per_doc = (
        scored.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("pos", "logp"))).alias("ps"))
        .select(
            "doc_id",
            F.round(
                F.aggregate(F.col("ps"), F.lit(0.0), lambda acc, x: acc + x["logp"])
                / F.size("ps"),
                6,
            ).alias("mean_logp"),
            F.size("ps").cast("long").alias("n_bigrams"),
        )
    )
    held_docs = (
        docs.filter(~F.col("is_train"))
        .select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "mean_logp",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
        )
    )
    ranked = exact_global_rank(held_docs, "mean_logp", tie_cols=("doc_id",))
    bucket = F.floor(
        3 * (F.col("global_rank") - 1) / F.col("global_count")
    ).cast("int")
    tercile = F.element_at(
        F.array(*[F.lit(t) for t in reversed(_TERCILES)]), bucket + 1
    )
    return ranked.select(
        "doc_id",
        "mean_logp",
        "n_bigrams",
        F.col("global_rank").cast("long").alias("global_rank"),
        tercile.alias("tercile"),
    )


def sql_lm_heldout() -> str:
    from ..driver_queries import (
        LM_SMOOTH_K,
        _md5_bucket_sql,
        _TOKEN_PATTERN,
    )

    split = _md5_bucket_sql(
        f"'{LM_HELDOUT_SALT}' || '|' || CAST(doc_id AS VARCHAR)", LM_HELDOUT_MOD
    )
    cases = " ".join(
        f"WHEN {i} THEN '{t}'" for i, t in enumerate(reversed(_TERCILES))
    )
    return f"""
WITH docs AS (
  SELECT doc_id, text, ({split} = 0) AS is_train FROM documents
), toks AS (
  SELECT doc_id, is_train, i - 1 AS pos, t[i] AS w
  FROM (
    SELECT doc_id, is_train, t, unnest(range(1, len(t)+1)) AS i
    FROM (SELECT doc_id, is_train,
                 regexp_extract_all(lower(text), '{_TOKEN_PATTERN}') AS t
          FROM docs)
  )
), bigrams AS (
  SELECT doc_id, is_train, pos, w AS w1,
         lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM toks
  QUALIFY w2 IS NOT NULL
), uni AS (
  SELECT w, count(*) AS cu FROM toks WHERE is_train GROUP BY w
), v AS (
  SELECT count(*) AS vocab FROM uni
), big AS (
  SELECT w1, w2, count(*) AS cb FROM bigrams WHERE is_train GROUP BY w1, w2
), scored AS (
  SELECT b.doc_id, b.pos,
         ln((coalesce(g.cb, 0) + {LM_SMOOTH_K})
            / (coalesce(u.cu, 0) + {LM_SMOOTH_K} * v.vocab)) AS logp
  FROM bigrams b
  LEFT JOIN big g ON g.w1 = b.w1 AND g.w2 = b.w2
  LEFT JOIN uni u ON u.w = b.w1
  CROSS JOIN v
  WHERE NOT b.is_train
), per_doc AS (
  SELECT doc_id,
         round(list_sum(list(logp ORDER BY pos)) / count(*), 6) AS mean_logp,
         CAST(count(*) AS BIGINT) AS n_bigrams
  FROM scored GROUP BY doc_id
), held AS (
  SELECT d.doc_id, p.mean_logp, coalesce(p.n_bigrams, 0) AS n_bigrams
  FROM docs d LEFT JOIN per_doc p USING (doc_id)
  WHERE NOT d.is_train
), ranked AS (
  SELECT doc_id, mean_logp, n_bigrams,
         row_number() OVER (ORDER BY mean_logp NULLS FIRST, doc_id)
           AS global_rank,
         count(*) OVER () AS n
  FROM held
)
SELECT doc_id, mean_logp, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       CAST(global_rank AS BIGINT) AS global_rank,
       CASE CAST(floor(3.0 * (global_rank - 1) / n) AS INT) {cases} END
         AS tercile
FROM ranked
"""
