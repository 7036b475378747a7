"""Near-duplicate detection at scale: MinHash+LSH, plus SimHash signatures.

Training-data pipeline operators (task brief): exact dedup and n-gram
Jaccard live in ``driver_queries.py`` (SQL-expressible, DuckDB-checked);
these are the *scale paths* whose candidate generation avoids the O(n²)
self-join:

- **MinHash + LSH**: shingle → k permutation-hash minima → band → bucket
  join. All JVM-side column expressions (md5-prefix base hash + modular
  affine hashes under p = 2^31-1 so products fit in signed 64-bit with
  ANSI mode on); one groupBy computes the whole signature with map-side
  partial aggregation; candidate pairs come from equi-joins on
  (band, band_hash) — shuffle is O(n·bands), never O(n²), with oversized
  buckets star-paired to a representative (``_capped_band_pairs``).
- **SimHash**: 64-bit signature via an Arrow-vectorized pandas UDF (numpy
  bit ops — no per-row Python), the ``simhash`` query.

Both are deterministic (fixed hash constants, no RNG at runtime), and both
are DuckDB-oracle-checked (``SQL_MINHASH_LSH`` / ``SQL_MINHASH_KEEPERS`` /
``SQL_SIMHASH`` generated from the same constants).
"""

from __future__ import annotations

from typing import Iterator, List, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..functions.hashing import md5_prefix60_spark, md5_prefix60_sql

__all__ = [
    "minhash_signatures",
    "lsh_candidate_pairs",
    "minhash_dedup_pairs",
    "simhash_udf",
    "connected_components",
    "dedup_keepers",
    "q_minhash_lsh",
    "q_minhash_lsh_fast",
    "q_simhash",
    "SQL_SIMHASH",
    "SQL_MINHASH_LSH",
    "SQL_MINHASH_KEEPERS",
]

_P = (1 << 31) - 1  # Mersenne prime 2^31-1
_TOKEN_PATTERN = "[a-z0-9]+"
SHINGLE_N = 3
NUM_HASHES = 32
BANDS = 8  # 8 bands x 4 rows → catches jaccard ≳ 0.6 reliably


def token_barrier(df: DataFrame, toks_expr, keep_cols=(), alias: str = "t"):
    """Materialize a token-array expression behind a cheap round-robin
    exchange and return the projected frame — THE load-bearing idiom for
    every windowed/shingled construction over token arrays (MinHash
    shingles here, and the n-gram queries in ``driver_queries``).

    Why it exists (single source for the trap): Spark performs no
    loop-invariant hoisting inside higher-order-function lambdas, and
    CollapseProject inlines a tokenizing regexp projection into any lambda
    that references it — so a shingle/window lambda over the raw
    expression re-tokenizes the document once PER WINDOW (measured 6x the
    whole operator cost at sf0.1). After the exchange the lambda reads a
    plain attribute. If a Spark upgrade ever hoists lambda-invariant
    subexpressions, delete THIS helper and every call site reverts
    together."""
    spark = df.sparkSession
    return df.select(*keep_cols, toks_expr.alias(alias)).repartition(
        spark.sparkContext.defaultParallelism
    )


# FNV-1a 64-bit constants — shared by the SimHash UDF and its DuckDB oracle
_FNV_OFFSET = 0xCBF29CE484222325
_FNV_PRIME = 0x100000001B3


def _hash_params(k: int) -> List[Tuple[int, int]]:
    """Deterministic affine-hash constants (multiplicative-hash derived)."""
    params = []
    a, b = 1103515245, 12345
    x = 42
    for _ in range(k):
        x = (a * x + b) % _P
        aa = x or 1
        x = (a * x + b) % _P
        params.append((aa, x))
    return params


_PARAMS = _hash_params(NUM_HASHES)


def _shingle_col(toks_col, n: int = SHINGLE_N):
    """Distinct n-token shingles from a MATERIALIZED token-array column.

    The column must be a real attribute (tokenized behind an exchange), not
    the regexp expression itself: Spark does no loop-invariant hoisting
    inside higher-order-function lambdas, so a lambda referencing the
    regexp would re-tokenize the document once PER WINDOW — measured 6x
    the entire signature cost at sf0.1 (round-5 profiling; same
    CollapseProject trap as the memory notes' classify case)."""
    return F.when(
        F.size(toks_col) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(toks_col) - n),
                lambda i: F.array_join(F.slice(toks_col, i + 1, n), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, base_hash: str = "xxhash64"
) -> DataFrame:
    """→ (id, minhash array of NUM_HASHES) — one shuffle, map-side combined.

    ``base_hash`` picks the per-shingle base hash:

    - ``"xxhash64"`` (default, the production path): Spark's native 64-bit
      hash — cheapest per shingle, the right choice at 100 TB.
    - ``"md5"`` (oracle mode): first 60 bits of md5 via JVM built-ins
      (``conv(substring(md5(s),1,15),16,10)``) — marginally slower but
      exists identically in DuckDB, which makes the whole LSH pipeline
      hash-checkable end to end (the driver queries use this mode; a
      pytest asserts both modes yield identical pairs/keepers on the
      fixture corpus).
    """
    if base_hash == "md5":
        base = md5_prefix60_spark("shingle")
    elif base_hash == "xxhash64":
        base = F.xxhash64("shingle")
    else:  # pragma: no cover - guarded API misuse
        raise ValueError(f"unknown base_hash {base_hash!r}")
    # tokenize ONCE per doc and pin it behind a cheap round-robin exchange
    # (CollapseProject would otherwise inline the regexp into the shingle
    # lambda → re-tokenize per window; see token_barrier)
    toked = token_barrier(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col)),
        F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit(_TOKEN_PATTERN), 0
        ),
        keep_cols=("doc_id",),
        alias="_toks",
    )
    shingled = toked.select(
        "doc_id",
        F.explode(_shingle_col(F.col("_toks"))).alias("shingle"),
    ).withColumn("x", F.pmod(base, F.lit(_P)))
    aggs = [
        F.min(F.pmod(F.col("x") * a + b, F.lit(_P))).alias(f"h{j}")
        for j, (a, b) in enumerate(_PARAMS)
    ]
    sig = shingled.groupBy("doc_id").agg(*aggs)
    return sig.select(
        "doc_id", F.array(*[F.col(f"h{j}") for j in range(NUM_HASHES)]).alias("sig")
    )


MAX_BUCKET_SIZE = 10_000  # band-bucket cap: guards the self-join against skew


class _Pins:
    """The ``localCheckpoint(eager=True)`` pins of one operator call.

    A pin stores a frame's rows in executor block storage and cuts its
    lineage, so every later reader scans the stored rows instead of
    re-running the plan. The stored blocks stay until their RDD is
    unpersisted; nothing else frees them. ``release`` unpersists every pin
    of the call except those a lazy frame still reads: once a later pin is
    materialized, the pins upstream of it have no reader left. A public
    operator that returns a lazy frame over its pins (``lsh_candidate_pairs``)
    keeps them; ``dedup_keepers`` threads one ``_Pins`` through its stages
    and returns holding only the pin behind its result."""

    def __init__(self) -> None:
        self.held: List[DataFrame] = []

    def pin(self, df: DataFrame) -> DataFrame:
        pinned = df.localCheckpoint(eager=True)
        self.held.append(pinned)
        return pinned

    def release(self, *keep: DataFrame) -> None:
        kept = []
        for df in self.held:
            if any(df is k for k in keep):
                kept.append(df)
            else:
                # a localCheckpoint frame's plan is a LogicalRDD over the
                # persisted RDD
                df._jdf.queryExecution().logical().rdd().unpersist(False)
        self.held = kept


def _capped_band_pairs(
    bands: DataFrame, keys, max_bucket_size: int, pins: _Pins
) -> DataFrame:
    """(doc_id, *keys) band rows → candidate (doc_a, doc_b) pairs with a
    per-bucket size cap.

    Buckets ≤ cap: all-pairs equi-join (the normal LSH path). Buckets > cap
    (degenerate corpora — boilerplate, empty docs — where one bucket would
    otherwise contribute O(bucket²) join rows): **star pairs** to the
    bucket's minimum doc_id — O(bucket) rows that keep every member
    *candidate*-connected to the representative. Downstream exact filters
    (est_jaccard) still apply to every emitted pair, so cluster
    connectivity through the star survives only where the rep-member pair
    itself passes the filter — docs similar to each other but not to the
    representative can end up in separate clusters. That pairwise-recall
    loss inside oversized buckets is the deliberate trade for a hard
    O(n·bands) bound; the MinHash DuckDB oracle models the same cap, so
    Spark and oracle agree at any bucket size.
    """
    keys = list(keys)
    sizes = bands.groupBy(*keys).agg(F.count("*").alias("_bn"))
    # pinned (round 7): tagged feeds the small-bucket self-join (both
    # aliases), the big-bucket filter and the representative agg — four
    # subtree references that would each re-run the band derivation (and
    # its upstream corpus chain) without the pin; the materialization is
    # O(n·bands) light rows, the same order as the shuffle it feeds
    tagged = pins.pin(bands.join(sizes, keys))
    small = tagged.filter(F.col("_bn") <= max_bucket_size).drop("_bn")
    big = tagged.filter(F.col("_bn") > max_bucket_size).drop("_bn")
    cand_small = (
        small.alias("a")
        .join(small.alias("b"), keys)
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
    )
    reps = big.groupBy(*keys).agg(F.min("doc_id").alias("_rep"))
    cand_big = (
        big.alias("b")
        .join(reps, keys)
        .filter(F.col("b.doc_id") != F.col("_rep"))
        .select(F.col("_rep").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    return cand_small.unionByName(cand_big).distinct()


def lsh_candidate_pairs(
    signatures: DataFrame, max_bucket_size: int = MAX_BUCKET_SIZE
) -> DataFrame:
    """Band-bucket equi-join → candidate pairs with estimated jaccard
    (fraction of equal signature positions). Bucket sizes are capped
    (see ``_capped_band_pairs``): oversized buckets emit star pairs to the
    bucket-min representative, preserving *candidate* connectivity at
    O(bucket) cost. Note the downstream ``est_jaccard`` threshold still
    applies per pair — if two members of an oversized bucket are similar
    to each other but neither is similar to the representative, their
    cluster can split (a band collision alone — 4/32 positions — does not
    guarantee the rep-member pair passes the threshold). The cap trades
    that edge case inside degenerate buckets for a hard O(n·bands) bound;
    the DuckDB oracle models the identical capped plan.

    The returned frame reads two pins (signatures, band tags) that stay
    held; ``dedup_keepers`` releases them once its components are pinned."""
    return _lsh_pairs(signatures, max_bucket_size, _Pins())


def _lsh_pairs(signatures: DataFrame, max_bucket_size: int, pins: _Pins) -> DataFrame:
    # pin the signature relation ONCE (round 7): it feeds the band
    # explode AND both per-side est_jaccard joins, and Spark's exchange
    # reuse does not fire across these aliased subtrees — without the pin
    # the whole tokenize/shingle/minhash corpus chain re-executed per
    # reference (measured: 20 parquet scans, 0 ReusedExchange in the
    # minhash_lsh plan)
    signatures = pins.pin(signatures)
    rows_per_band = NUM_HASHES // BANDS
    bands = signatures.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.array_join(
                            F.transform(
                                F.slice("sig", b * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                            ",",
                        )
                    )
                    for b in range(BANDS)
                ]
            )
        ).alias("band", "band_hash"),
    )
    cand = _capped_band_pairs(bands, ["band", "band_hash"], max_bucket_size, pins)
    est = (
        cand.join(signatures.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sig", "sig_a"), "doc_a")
        .join(signatures.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sig", "sig_b"), "doc_b")
        .withColumn(
            "est_jaccard",
            F.round(
                F.size(
                    F.filter(
                        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                        lambda e: e == 1,
                    )
                ).cast("double")
                / NUM_HASHES,
                6,
            ),
        )
    )
    return est.select("doc_a", "doc_b", "est_jaccard")


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    base_hash: str = "xxhash64",
) -> DataFrame:
    sig = minhash_signatures(df, id_col, text_col, base_hash=base_hash)
    return lsh_candidate_pairs(sig).filter(F.col("est_jaccard") >= threshold)


# ---------------------------------------------------------------- SimHash --

@F.pandas_udf(LongType())
def simhash_udf(texts: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """64-bit SimHash over lowercase alnum tokens (numpy-vectorized)."""
    import re

    token_re = re.compile(_TOKEN_PATTERN)
    mask64 = (1 << 64) - 1

    def one(text) -> int:
        if not isinstance(text, str) or not text:
            return 0
        toks = token_re.findall(text.lower())
        if not toks:
            return 0
        # deterministic 64-bit FNV-1a per token
        hs = []
        for t in toks:
            h = _FNV_OFFSET
            for ch in t.encode("utf-8"):
                h = ((h ^ ch) * _FNV_PRIME) & mask64
            hs.append(h)
        arr = np.array(hs, dtype=np.uint64)
        bits = ((arr[:, None] >> np.arange(64, dtype=np.uint64)) & 1).astype(np.int64)
        votes = (2 * bits - 1).sum(axis=0)
        sim = np.uint64(0)
        for i in np.nonzero(votes > 0)[0]:
            sim |= np.uint64(1) << np.uint64(i)
        return int(sim.astype(np.int64))  # two's-complement into Spark LongType

    for series in texts:
        yield series.map(one).astype("int64")


def _local_stars(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Min-rooted union-find over one partition's (src, dst) edges → one
    (src = node, dst = local root) star edge per node of the partition; a
    node's local root is the minimum node of its component among this
    partition's edges.

    Vectorized hook-and-compress over node indices (``np.unique`` sorts
    them like the ids): every root hooks onto the smallest root across its
    edges, then pointer jumping flattens the forest back to stars. A
    parent never exceeds its child, so the forest stays acyclic, and each
    pass that finds an edge between two stars merges at least two."""
    batches = list(batches)
    if not batches:
        return
    src = np.concatenate([b["src"].to_numpy(np.int64) for b in batches])
    dst = np.concatenate([b["dst"].to_numpy(np.int64) for b in batches])
    nodes, idx = np.unique(np.concatenate([src, dst]), return_inverse=True)
    ia, ib = idx[: len(src)], idx[len(src):]
    root = np.arange(len(nodes))
    while True:
        ra, rb = root[ia], root[ib]
        if np.array_equal(ra, rb):
            break
        lo = np.minimum(ra, rb)
        np.minimum.at(root, ra, lo)
        np.minimum.at(root, rb, lo)
        jumped = root[root]
        while not np.array_equal(jumped, root):
            root, jumped = jumped, jumped[jumped]
    yield pd.DataFrame({"src": nodes, "dst": nodes[root]})


def _label_hop(edges: DataFrame, labels: DataFrame, pointers: DataFrame) -> DataFrame:
    """One hop of min-label propagation with pointer jumping (lazy plan).
    ``pointers`` are the labels the round started from, each read as an
    edge between a node and its label's node. Every node adopts the
    minimum ``labels`` value among itself, its graph neighbors, the node
    its pointer names (jump), and the nodes whose pointer names it (hook:
    a label's node hears the smaller labels its members have seen; within
    a round's first hop, where ``labels`` are the pointers, a no-op).
    Every message is a label of the node's own component.
    → (doc_id, cluster_id, moved), ``moved`` marking the labels this hop
    lowered."""
    ptr = pointers.select(F.col("doc_id").alias("src"), F.col("cluster_id").alias("dst"))
    aug = edges.union(ptr).union(ptr.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    neighbor_min = (
        aug.join(labels, aug.dst == labels.doc_id)
        .groupBy("src")
        .agg(F.min("cluster_id").alias("nbr_min"))
    )
    nbr = F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
    return labels.join(neighbor_min, labels.doc_id == neighbor_min.src, "left").select(
        "doc_id",
        F.least(F.col("cluster_id"), nbr).alias("cluster_id"),
        (nbr < F.col("cluster_id")).alias("moved"),
    )


def connected_components(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Duplicate-cluster canonicalization: (doc_a, doc_b) similarity pairs →
    (doc_id, cluster_id) with cluster_id = min doc_id of the component.

    1. **Local union-find.** One ``mapInPandas`` pass (``_local_stars``)
       turns each partition's pairs into one (node, local root) star edge
       per node. The stars keep the graph's connectivity (both ends of
       every pair share their partition's root) and collapse each
       partition's part of it to diameter ≤ 2. A node's seed label is the
       minimum of its roots, already its component's minimum whenever one
       partition held the whole component — the usual dedup graph, whose
       pairs AQE coalesces into few partitions. The stars are pinned.
    2. **Global rounds over the stars.** A round is two hops of min-label
       propagation (``_label_hop``): each node also jumps through its
       label's node, and each label's node hooks onto the smallest label
       its members have seen (Shiloach–Vishkin style; without the hook a
       300-node chain split over four partitions in random id order took
       39–48 rounds in a replay of the hop, with it 8–9). The round is
       materialized by ONE pin under an ``Observation`` that counts the
       labels the second hop lowered. Min-label propagation is monotone,
       so no hop overshoots, and a count of 0 proves the first hop's
       labels were the fixed point: the loop stops without a separate
       convergence job, usually after the first round. Each hop is two
       shuffles (the join on the message target, the groupBy min with
       map-side combine).

    The fixed point is unique — every label is a node of its component,
    never below the component minimum, and constant along each edge — so
    the result does not depend on how the pairs are partitioned.
    A call whose last round still lowers a label after ``max_iterations``
    rounds raises ``RuntimeError`` and releases its pins: unconverged
    labels are never returned. The star pin and each superseded round's
    pin are released; the returned frame reads one pin.
    """
    return _components(pairs, _Pins(), max_iterations)


def _components(pairs: DataFrame, pins: _Pins, max_iterations: int = 20) -> DataFrame:
    """``connected_components`` whose first pin also releases the
    caller's earlier ``pins`` (they are upstream of the stars)."""
    id_type = pairs.schema["doc_a"].dataType.simpleString()
    # declared non-null, so Catalyst infers no isnotnull filters below the
    # label aggregates and the round's copies of each share one exchange
    stars = pins.pin(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .mapInPandas(_local_stars, f"src {id_type} not null, dst {id_type} not null")
    )
    pins.release(stars)
    edges = stars.union(stars.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    labels = stars.groupBy(F.col("src").alias("doc_id")).agg(
        F.min("dst").alias("cluster_id")
    )
    for _ in range(max_iterations):
        moved = Observation()
        labels = pins.pin(
            _label_hop(edges, _label_hop(edges, labels, labels), labels)
            .observe(moved, F.count(F.when(F.col("moved"), 1)).alias("n"))
            .drop("moved")
        )
        pins.release(stars, labels)
        if moved.get["n"] == 0:
            break
    else:
        pins.release()
        raise RuntimeError(
            f"connected components did not converge in {max_iterations} rounds"
        )
    # a round's pin reads nothing upstream
    pins.release(labels)
    return labels


def dedup_keepers(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """Full dedup flow: MinHash-LSH pairs → components → keep/drop verdict.
    Returns (doc_id, cluster_id, keep) for every document in ``df``; the
    keeper of each duplicate cluster is its minimum doc_id. The call
    releases every pin it makes but the one behind the returned frame."""
    pins = _Pins()
    sig = minhash_signatures(df, id_col, text_col, base_hash=base_hash)
    pairs = _lsh_pairs(sig, MAX_BUCKET_SIZE, pins).filter(
        F.col("est_jaccard") >= threshold
    )
    comps = _components(pairs, pins)
    all_docs = df.select(F.col(id_col).alias("doc_id"))
    # the label table holds only the docs of some passing pair; broadcast,
    # the closing left join shuffles neither side. A corpus whose
    # duplicated docs outgrow a broadcast would need the hint dropped.
    return (
        all_docs.join(F.broadcast(comps), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        )
        .withColumn("keep", F.col("doc_id") == F.col("cluster_id"))
    )


# ------------------------------------------------------ driver query forms --

MINHASH_QUERY_THRESHOLD = 0.5


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query (oracle mode): md5 base hash so DuckDB can reproduce
    the full signature→band→pair→est_jaccard flow bit for bit."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_dedup_pairs(
        docs, "doc_id", "text", threshold=MINHASH_QUERY_THRESHOLD, base_hash="md5"
    )


def q_minhash_lsh_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production path (xxhash64 base hash) — what a 100 TB run would use;
    benched as ``minhash_lsh``. Pair/keeper agreement with the md5 oracle
    mode is pytest-gated on the fixture corpus."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_dedup_pairs(
        docs, "doc_id", "text", threshold=MINHASH_QUERY_THRESHOLD, base_hash="xxhash64"
    )


def _minhash_pairs_ctes(max_bucket_size: int = MAX_BUCKET_SIZE) -> str:
    """DuckDB CTE chain reproducing the full MinHash+LSH pipeline from the
    same constants as the Spark operator: md5-based shingle hash → 32
    affine minima → 8 band signatures → band equi-join **with the same
    ``MAX_BUCKET_SIZE`` bucket cap as ``_capped_band_pairs``** (small
    buckets all-pairs, oversized buckets star-paired to the bucket-min
    doc_id) → est_jaccard ≥ threshold (``mpairs``). Bands join on the raw
    band string; Spark joins on xxhash64 of that string — identical
    candidates modulo 64-bit hash collisions. Because the cap is modeled
    here too, Spark and oracle stay in agreement even when a (band, key)
    bucket exceeds the cap at larger scale factors."""
    mins = ",\n           ".join(
        f"min(({a} * x + {b}) % {_P}) AS h{j}" for j, (a, b) in enumerate(_PARAMS)
    )
    rows_per_band = NUM_HASHES // BANDS
    band_rows = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, concat_ws(',', {cols}) AS band_key FROM sig".format(
            b=b,
            cols=", ".join(
                f"h{j}" for j in range(b * rows_per_band, (b + 1) * rows_per_band)
            ),
        )
        for b in range(BANDS)
    )
    eq_terms = " + ".join(
        f"CASE WHEN a.h{j} = b.h{j} THEN 1 ELSE 0 END" for j in range(NUM_HASHES)
    )
    return f"""mtoks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{_TOKEN_PATTERN}') AS t
  FROM documents
), mshingles AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
             range(1, greatest(len(t) - {SHINGLE_N} + 1, 0) + 1),
             i -> array_to_string(t[i : i + {SHINGLE_N} - 1], ' ')))) AS shingle
  FROM mtoks
), mx AS (
  SELECT doc_id,
         {md5_prefix60_sql('shingle')} % {_P} AS x
  FROM mshingles
), sig AS (
  SELECT doc_id,
           {mins}
  FROM mx GROUP BY doc_id
), bands AS (
{band_rows}
), bsizes AS (
  SELECT band, band_key, count(*) AS bn FROM bands GROUP BY band, band_key
), btag AS (
  SELECT b.doc_id, b.band, b.band_key, s.bn
  FROM bands b JOIN bsizes s USING (band, band_key)
), mcand AS (
  SELECT DISTINCT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM btag a JOIN btag b USING (band, band_key)
    WHERE a.bn <= {max_bucket_size} AND a.doc_id < b.doc_id
    UNION ALL
    SELECT r.rep AS doc_a, b.doc_id AS doc_b
    FROM btag b
    JOIN (SELECT band, band_key, min(doc_id) AS rep
          FROM btag WHERE bn > {max_bucket_size}
          GROUP BY band, band_key) r USING (band, band_key)
    WHERE b.bn > {max_bucket_size} AND b.doc_id <> r.rep
  )
), mpairs AS (
  SELECT c.doc_a, c.doc_b,
         round(CAST({eq_terms} AS DOUBLE) / {NUM_HASHES}, 6) AS est_jaccard
  FROM mcand c
  JOIN sig a ON a.doc_id = c.doc_a
  JOIN sig b ON b.doc_id = c.doc_b
  WHERE CAST({eq_terms} AS DOUBLE) / {NUM_HASHES} >= {MINHASH_QUERY_THRESHOLD}
)"""


def _minhash_sql() -> str:
    return f"""
WITH {_minhash_pairs_ctes()}
SELECT doc_a, doc_b, est_jaccard FROM mpairs
"""


def _minhash_keepers_sql() -> str:
    """Keeper verdict over the MinHash-LSH pairs via recursive-CTE
    transitive closure — oracle for the full at-scale dedup flow."""
    return f"""
WITH RECURSIVE {_minhash_pairs_ctes()},
medges AS (
  SELECT doc_a AS src, doc_b AS dst FROM mpairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM mpairs
), mreach AS (
  SELECT src, dst FROM medges
  UNION
  SELECT r.src, e.dst FROM mreach r JOIN medges e ON r.dst = e.src
), mlabels AS (
  SELECT src AS doc_id, least(min(dst), src) AS cluster_id
  FROM mreach GROUP BY src
)
SELECT d.doc_id,
       coalesce(l.cluster_id, d.doc_id) AS cluster_id,
       CAST(CASE WHEN coalesce(l.cluster_id, d.doc_id) = d.doc_id
                 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM documents d LEFT JOIN mlabels l USING (doc_id)
"""


SQL_MINHASH_LSH = _minhash_sql()
SQL_MINHASH_KEEPERS = _minhash_keepers_sql()


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", simhash_udf(F.col("text")).alias("simhash"))


def _simhash_sql() -> str:
    """DuckDB oracle for ``q_simhash``, generated from the same FNV/token
    constants as the UDF. The FNV-1a byte step is expressed in HUGEINT
    arithmetic: tokens are ``[a-z0-9]+`` so every byte < 128 and the xor
    only touches the low 7 bits (``h - h%128 + xor(h%128, ch)``); the
    multiply stays within HUGEINT (< 2^104) and is reduced mod 2^64.
    Bit votes: unnest token hashes × 64 bit positions, majority vote per
    bit, reassemble, then two's-complement into signed BIGINT to match
    Spark's LongType."""
    two64 = 1 << 64
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '{_TOKEN_PATTERN}')) AS tok
  FROM documents
), th AS (
  SELECT doc_id,
         list_reduce(
           list_prepend({_FNV_OFFSET}::HUGEINT,
                        list_transform(range(1, length(tok)+1),
                                       i -> ord(substr(tok, i, 1))::HUGEINT)),
           (h, ch) -> ((h - (h % 128) + xor((h % 128)::BIGINT, ch::BIGINT)::HUGEINT)
                       * {_FNV_PRIME}::HUGEINT) % {two64}::HUGEINT
         ) AS h
  FROM toks
), votes AS (
  SELECT doc_id, bit,
         sum(CASE WHEN (h >> bit::INTEGER) % 2 = 1 THEN 1 ELSE -1 END) AS v
  FROM th, (SELECT unnest(range(0, 64)) AS bit)
  GROUP BY doc_id, bit
), sims AS (
  SELECT doc_id,
         sum(CASE WHEN v > 0 THEN (1::HUGEINT << bit::INTEGER) ELSE 0::HUGEINT END) AS sim
  FROM votes GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(CASE WHEN s.sim IS NULL THEN 0
                 WHEN s.sim >= {two64 // 2}::HUGEINT THEN s.sim - {two64}::HUGEINT
                 ELSE s.sim END AS BIGINT) AS simhash
FROM documents d LEFT JOIN sims s USING (doc_id)
"""


SQL_SIMHASH = _simhash_sql()
