"""Similarity search over embedding columns (``array<float>``).

Three top-k paths, each ranking on the 6dp-rounded cosine with ``vec_id``
breaking ties, and each checked against a DuckDB oracle:

- **Brute-force cosine top-k** (the exact baseline, query
  ``ann_cosine``): broadcast the query set, JVM-side
  ``zip_with``/``aggregate`` dot products, ``row_number`` window for top-k.
  Exact, O(|queries|·n) — right answer whenever the query set is small.
- **LSH-bucketed ANN** (the scale path): random-hyperplane signatures
  (deterministic seeded planes), multi-probe candidate generation by
  signature-band equi-join — shuffle O(n·bands) instead of a full cross
  product — then exact cosine re-rank of candidates only. Recall is
  tunable by (n_planes, bands). The band chunks are JVM fold dot products
  against literal plane arrays: whole-stage-codegen-able and reproducible
  in DuckDB (``make_ann_lsh_sql``). The hyperplane sign is quantized as
  ``round(dot, 6) > 0``, so the bit decision is robust to
  float-summation-order differences between the JVM fold and DuckDB's
  ``list_dot_product``.
- **IVF ANN**: coarse-quantize into cells, probe the query's nearest
  cells, exact re-rank within probed cells. The centroids are
  deterministic member rows of the table itself, so the flow is fully
  SQL-expressible (``make_ann_ivf_sql``).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = [
    "cosine_topk",
    "ann_lsh_topk",
    "ann_ivf_seeded_topk",
    "make_ann_lsh_sql",
    "make_ann_ivf_sql",
]

N_PLANES = 16
N_BANDS = 4
_DIM_DEFAULT = 64


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def _norm(c):
    return F.sqrt(F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine; queries broadcast (small side). Ranks on the
    6dp-rounded cosine, like the ANN paths, so near-ties order the same
    in Spark and DuckDB."""
    emb = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("q"),
    )
    scored = F.broadcast(q).join(emb, F.col("vec_id") != F.col("query_id")).withColumn(
        "cosine",
        F.round(_dot(F.col("q"), F.col("v")) / (_norm(F.col("q")) * _norm(F.col("v"))), 6),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def _planes(dim: int, n_planes: int = N_PLANES) -> np.ndarray:
    rng = np.random.default_rng(20260816)  # fixed seed — deterministic planes
    return rng.standard_normal((n_planes, dim))


def _expr_band_chunks(vec, dim: int = _DIM_DEFAULT, n_planes: int = N_PLANES):
    """JVM-side band chunks: for each band, an int packing the quantized
    hyperplane signs (``round(dot(v, plane), 6) > 0``) of its planes.
    Pure column expressions over literal plane arrays — no Python worker,
    and exactly reproducible in DuckDB (``_sql_band_chunks``)."""
    planes = _planes(dim, n_planes)
    bits_per_band = n_planes // N_BANDS

    def plane_bit(p: np.ndarray, weight: int):
        lit = F.array(*[F.lit(float(w)) for w in p])
        dot = F.aggregate(
            F.zip_with(vec, lit, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return F.when(F.round(dot, 6) > 0, F.lit(weight)).otherwise(F.lit(0))

    chunks = []
    for b in range(N_BANDS):
        terms = [
            plane_bit(planes[b * bits_per_band + i], 1 << i)
            for i in range(bits_per_band)
        ]
        acc = terms[0]
        for t in terms[1:]:
            acc = acc + t
        chunks.append(acc)
    return chunks


def _sql_plane_literal(p: np.ndarray) -> str:
    return "[" + ", ".join(repr(float(w)) for w in p) + "]"


def _sql_band_chunks(vec_expr: str, dim: int = _DIM_DEFAULT, n_planes: int = N_PLANES):
    """DuckDB chunk expressions generated from the same plane constants."""
    planes = _planes(dim, n_planes)
    bits_per_band = n_planes // N_BANDS
    chunks = []
    for b in range(N_BANDS):
        terms = [
            f"(CASE WHEN round(list_dot_product({vec_expr}, "
            f"{_sql_plane_literal(planes[b * bits_per_band + i])}), 6) > 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i in range(bits_per_band)
        ]
        chunks.append(" + ".join(terms))
    return chunks


def ann_lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = _DIM_DEFAULT,
) -> DataFrame:
    """LSH candidate generation + exact cosine re-rank of candidates. The
    band chunks are JVM column expressions (``_expr_band_chunks``), which
    DuckDB reproduces for the ``ann_lsh`` oracle."""

    def with_bands(df: DataFrame, idc: str, vc) -> DataFrame:
        return df.select(
            idc,
            vc.alias("vec"),
            F.posexplode(F.array(*_expr_band_chunks(vc, dim))).alias("band", "chunk"),
        )

    emb = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    emb_b = with_bands(emb, "vec_id", F.col("v"))
    q_b = with_bands(q, "query_id", F.col("qv"))
    cand = (
        q_b.withColumnRenamed("vec", "qv")
        .join(emb_b.withColumnRenamed("vec", "v"), ["band", "chunk"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qv", "vec_id", "v")
        .dropDuplicates(["query_id", "vec_id"])
    )
    # rank on the 6dp-rounded cosine (same as the DuckDB oracle) so
    # near-ties order identically across engines; vec_id breaks exact ties
    scored = cand.withColumn(
        "cosine",
        F.round(
            _dot(F.col("qv"), F.col("v")) / (_norm(F.col("qv")) * _norm(F.col("v"))),
            6,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def make_ann_lsh_sql(n_queries: int, k: int, dim: int = _DIM_DEFAULT) -> str:
    """DuckDB oracle for ``ann_lsh_topk``, generated from the same plane
    constants: band chunks from quantized hyperplane signs, (band, chunk)
    equi-join candidates, exact 6dp cosine re-rank."""
    e_chunks = ", ".join(_sql_band_chunks("v", dim))
    q_chunks = ", ".join(_sql_band_chunks("qv", dim))
    return f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < {n_queries}
), eb AS (
  SELECT vec_id, v,
         unnest(range(0, {N_BANDS})) AS band,
         unnest([{e_chunks}]) AS chunk
  FROM emb
), qb AS (
  SELECT query_id, qv,
         unnest(range(0, {N_BANDS})) AS band,
         unnest([{q_chunks}]) AS chunk
  FROM q
), cand AS (
  SELECT DISTINCT qb.query_id, qb.qv, eb.vec_id, eb.v
  FROM qb JOIN eb USING (band, chunk)
  WHERE eb.vec_id <> qb.query_id
), scored AS (
  SELECT query_id, vec_id,
         round(list_dot_product(qv, v) /
               (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6) AS cosine
  FROM cand
)
SELECT query_id, vec_id, cosine,
       row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
FROM scored
QUALIFY rank <= {k}
"""


# ---------------------------------------------------------------- IVF ANN --

IVF_N_CELLS = 16
IVF_N_PROBE = 2
# ----------------------------------------------------- IVF (seeded cells) --

IVF_SEED_OFFSET = 100


def ann_ivf_seeded_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_cells: int = IVF_N_CELLS,
    n_probe: int = IVF_N_PROBE,
    seed_offset: int = IVF_SEED_OFFSET,
) -> DataFrame:
    """IVF ANN with a *seeded-row* coarse quantizer: the centroids are the
    ``n_cells`` member vectors with ids ``[seed_offset, seed_offset +
    n_cells)`` — deterministic actual rows of the table, so the whole flow
    (assignment → cell equi-join → exact re-rank) is SQL-expressible and
    driver hash-checked (``make_ann_ivf_sql``). IVF does not require
    k-means; any fixed coarse quantizer partitions the space.

    Shuffle shape: centroids broadcast, every vector assigned to its top
    cell (6dp-rounded cosine, cell-asc tie-break), queries probe
    ``n_probe`` cells, candidates come from a cell equi-join — the cross
    product never materializes."""
    emb = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    cents = emb.filter(
        (F.col("vec_id") >= seed_offset) & (F.col("vec_id") < seed_offset + n_cells)
    ).select(
        (F.col("vec_id") - seed_offset).cast("int").alias("cell"),
        F.col("v").alias("cv"),
    )

    def assign(df: DataFrame, idc: str, vc: str, topn: int) -> DataFrame:
        sims = df.crossJoin(F.broadcast(cents)).withColumn(
            "sim",
            F.round(
                _dot(F.col(vc), F.col("cv")) / (_norm(F.col(vc)) * _norm(F.col("cv"))),
                6,
            ),
        )
        w = Window.partitionBy(idc).orderBy(F.desc("sim"), F.asc("cell"))
        return (
            sims.withColumn("crank", F.row_number().over(w))
            .filter(F.col("crank") <= topn)
            .drop("cv", "sim", "crank")
        )

    emb_a = assign(emb, "vec_id", "v", 1)
    q_a = assign(q, "query_id", "qv", n_probe)
    cand = q_a.join(emb_a, "cell").filter(F.col("vec_id") != F.col("query_id"))
    scored = cand.withColumn(
        "cosine",
        F.round(
            _dot(F.col("qv"), F.col("v")) / (_norm(F.col("qv")) * _norm(F.col("v"))),
            6,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def make_ann_ivf_sql(
    n_queries: int,
    k: int,
    n_cells: int = IVF_N_CELLS,
    n_probe: int = IVF_N_PROBE,
    seed_offset: int = IVF_SEED_OFFSET,
) -> str:
    """DuckDB oracle for ``ann_ivf_seeded_topk`` — same constants, same
    quantized-cosine assignment and re-rank arithmetic."""
    cos = (
        "round(list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
    )
    sim_ec = cos.format(a="e.v", b="c.cv")
    sim_qc = cos.format(a="q.qv", b="c.cv")
    sim_qe = cos.format(a="qv", b="v")
    return f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < {n_queries}
), cents AS (
  SELECT CAST(vec_id - {seed_offset} AS INTEGER) AS cell, v AS cv
  FROM emb WHERE vec_id >= {seed_offset} AND vec_id < {seed_offset + n_cells}
), ea AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {sim_ec} DESC, c.cell ASC) AS crank
    FROM emb e CROSS JOIN cents c)
  WHERE crank = 1
), qa AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.query_id, q.qv, c.cell,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {sim_qc} DESC, c.cell ASC) AS crank
    FROM q CROSS JOIN cents c)
  WHERE crank <= {n_probe}
), cand AS (
  SELECT qa.query_id, qa.qv, ea.vec_id, ea.v
  FROM qa JOIN ea USING (cell)
  WHERE ea.vec_id <> qa.query_id
), scored AS (
  SELECT query_id, vec_id, {sim_qe} AS cosine FROM cand
)
SELECT query_id, vec_id, cosine,
       row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
FROM scored
QUALIFY rank <= {k}
"""
