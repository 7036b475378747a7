"""Driver-facing operator queries with DuckDB oracle SQL.

One entry per implemented operator from SURVEY.md §2, each in two forms
generated from the SAME Python constants so Spark and DuckDB compute
identical semantics:

- a Spark callable ``(spark, sf_dir) -> DataFrame`` built from **built-in
  column expressions** (JVM-side, whole-stage codegen — the SQL-expressible
  subset of the operator inventory deliberately avoids Python UDFs), and
- an ANSI-SQL string for DuckDB over the same parquet tables.

Column names are aliased identically on both sides (the driver's comparator
sorts columns by name before hashing).

Because the driver's ``documents`` table is synthetic word-soup with no
clinical content, operators that need clinical text run over a **derived
clinical corpus**: a deterministic per-doc prelude (``doc_id % 8`` picks a
clinical snippet) prepended to the document text with a newline — expressed
identically as a CASE in SQL and an ``element_at`` in Spark. This makes the
section/urgency/classifier/dictionary checks exercise real hits instead of
vacuously empty results.
"""

from __future__ import annotations
from typing import Callable, Dict, Iterator, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dictionaries import (
    DISEASES_MULTI,
    DOCUMENT_PATTERNS,
    DOCUMENT_TYPE_ORDER,
    DRUGS_SINGLE,
    HIGH_KEYWORDS,
    SECTION_KEYWORDS,
    URGENT_KEYWORDS,
)
from .operators.bpe import q_bpe_encode, q_bpe_train, sql_bpe_encode, sql_bpe_train
from .operators.decode import (
    SQL_GREEDY_DECODE,
    _sql_beam_replace,
    q_beam_replace,
    q_greedy_decode,
)
from .operators.dedup import (
    _TOKEN_PATTERN,
    MINHASH_QUERY_THRESHOLD,
    SQL_MINHASH_KEEPERS,
    SQL_MINHASH_LSH,
    SQL_SIMHASH,
    connected_components,
    dedup_keepers,
    q_minhash_lsh,
    q_simhash,
    token_barrier,
)
from .operators.ranking import q_lm_heldout, sql_lm_heldout
from .operators.similarity import (
    ann_ivf_seeded_topk,
    ann_lsh_topk,
    cosine_topk,
    make_ann_ivf_sql,
    make_ann_lsh_sql,
)
from .operators.text_analysis import (
    SQL_WINNOW,
    SQL_WINNOW_OVERLAP,
    q_winnow_fingerprints,
    q_winnow_overlap,
)

# --------------------------------------------------------------------------
# Shared constants (single source for both engines)
# --------------------------------------------------------------------------

CLINICAL_SNIPPETS = [
    "Diagnosis: diabetes and mild hypertension",
    "Rx: Metformin 500mg twice daily",
    "BP: 120 / 80, Pulse: 72 bpm, glucose 5.5 mmol/l, weight 70 kg",
    "Plan: follow up in 2 weeks",
    "emergency stat critical condition",
    "Patient takes aspirin daily for fever",
    "History of heart failure and acute kidney injury",
    "abnormal concerning results noted by physician",
]

STOPWORDS_EN = ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"]

# RE2-safe de-id detector bodies — single source in functions/deid.py,
# shared by the Python kernel, the deid_dates/deid_spans oracles, and the
# scalar-field extraction date pattern.
from .functions.deid import DATE_PATTERN as _DATE_MASK_PATTERN  # noqa: E402
from .functions.deid import ID_PATTERN as _ID_SPAN_PATTERN  # noqa: E402
from .functions.deid import PHONE_PATTERN as _PHONE_SPAN_PATTERN  # noqa: E402


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _sql_str_list(terms) -> str:
    return ", ".join(_sql_quote(t) for t in terms)


# ---- clinical prelude ------------------------------------------------------

def _clinical_sql(alias: str = "") -> str:
    p = f"{alias}." if alias else ""
    whens = "".join(
        f" WHEN {i} THEN {_sql_quote(s)}" for i, s in enumerate(CLINICAL_SNIPPETS)
    )
    return (
        f"(CASE ({p}doc_id % {len(CLINICAL_SNIPPETS)}){whens} END"
        f" || chr(10) || {p}text)"
    )


def _clinical_col():
    arr = F.array(*[F.lit(s) for s in CLINICAL_SNIPPETS])
    idx = (F.col("doc_id") % len(CLINICAL_SNIPPETS) + 1).cast("int")
    return F.concat(F.element_at(arr, idx), F.lit("\n"), F.col("text"))


# PII prelude for the de-identification queries: the raw corpus contains no
# digits at all, so date/ID/phone detectors would be vacuous. Prepending
# these deterministic lines (doc_id-keyed, same constants on both engines)
# makes every detector AND the cross-kind overlap-precedence logic fire
# ("AB-123 456-7890": the PHONE match overlaps the earlier ID match and
# must be suppressed identically by kernel and oracle).
PII_SNIPPETS = [
    "Visit date 2021-03-15, follow up 4/5/21",
    "Patient ID : CH-3021, contact 555-123-4567",
    "Seen on 3rd March 2021 by Dr. Adams",
    "Record AB-99812 archived 12/11/2019",
    "Fax AB-123 456-7890 on file",
    "No identifiers in this note",
    "DOB 1987-06-02, Age : 38",
    "Transfer ref XYZ-4410 on 7/7/2023",
    "Name : Jane Doe, Age : 44",
    "Hospital : St Mary Medical Center",
    "Gender : F recorded at intake",
    "Sex - male patient cooperative",
]


def _pii_sql() -> str:
    whens = "".join(
        f" WHEN {i} THEN {_sql_quote(s)}" for i, s in enumerate(PII_SNIPPETS)
    )
    return (
        f"(CASE (doc_id % {len(PII_SNIPPETS)}){whens} END"
        f" || chr(10) || text)"
    )


def _pii_col():
    arr = F.array(*[F.lit(s) for s in PII_SNIPPETS])
    idx = (F.col("doc_id") % len(PII_SNIPPETS) + 1).cast("int")
    return F.concat(F.element_at(arr, idx), F.lit("\n"), F.col("text"))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _pii_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + materialized PII-prelude text (``ctext``) for the de-id
    queries; same exchange-as-projection-barrier rationale as
    ``_clinical_docs``."""
    n = spark.sparkContext.defaultParallelism
    return (
        _docs(spark, sf_dir)
        .select("doc_id", _pii_col().alias("ctext"))
        .repartition(n)
    )


def _clinical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + materialized clinical text (``ctext``/``ltext``).

    The ``repartition`` serves two physical purposes: Catalyst's
    CollapseProject would otherwise inline the prelude expression into
    every downstream keyword predicate (re-evaluating the concat per
    keyword — measured 10-20x slower), and a single small parquet file
    otherwise scans as one task. An exchange is a projection barrier and
    spreads the regex-heavy scoring across all cores. Results unchanged.
    """
    n = spark.sparkContext.defaultParallelism
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            _clinical_col().alias("ctext"),
            F.lower(_clinical_col()).alias("ltext"),
        )
        .repartition(n)
    )


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


# --------------------------------------------------------------------------
# T1 — rule-based OCR fusion (src/pipeline/fusion.py:13-36)
# --------------------------------------------------------------------------

_NUM_RE = r"^[0-9]+(\.[0-9]+)?$"


def q_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    tokens = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    fused = F.array_join(
        F.transform(
            tokens,
            lambda x: F.when(x.rlike(_NUM_RE), F.translate(x, "OlI", "011"))
            .otherwise(F.translate(x, "01", "Ol")),
        ),
        " ",
    )
    return _docs(spark, sf_dir).select("doc_id", fused.alias("fused_text"))


SQL_FUSION = f"""
SELECT doc_id,
       array_to_string(
         list_transform(
           list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''),
           x -> CASE WHEN regexp_matches(x, '{_NUM_RE}')
                     THEN translate(x, 'OlI', '011')
                     ELSE translate(x, '01', 'Ol') END),
         ' ') AS fused_text
FROM documents
"""


def q_fusion_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same operator over ``events.props`` (digit-bearing payloads)."""
    tokens = F.filter(F.split(F.col("props"), r"\s+"), lambda x: x != "")
    fused = F.array_join(
        F.transform(
            tokens,
            lambda x: F.when(x.rlike(_NUM_RE), F.translate(x, "OlI", "011"))
            .otherwise(F.translate(x, "01", "Ol")),
        ),
        " ",
    )
    return _events(spark, sf_dir).select("event_id", fused.alias("fused_text"))


SQL_FUSION_EVENTS = f"""
SELECT event_id,
       array_to_string(
         list_transform(
           list_filter(regexp_split_to_array(props, '\\s+'), x -> x <> ''),
           x -> CASE WHEN regexp_matches(x, '{_NUM_RE}')
                     THEN translate(x, 'OlI', '011')
                     ELSE translate(x, '01', 'Ol') END),
         ' ') AS fused_text
FROM events
"""


# --------------------------------------------------------------------------
# G5 — line segmentation + section classification
# (src/segmentation/medical_segmenter.py:25-60)
# --------------------------------------------------------------------------

def _section_case_sql(line_expr: str) -> str:
    parts = []
    for stype, kws in SECTION_KEYWORDS.items():
        cond = " OR ".join(f"contains(lower({line_expr}), {_sql_quote(k)})" for k in kws)
        parts.append(f"WHEN {cond} THEN {_sql_quote(stype)}")
    return "CASE " + " ".join(parts) + " ELSE 'general' END"


def _section_case_col(line_col):
    expr = None
    low = F.lower(line_col)
    for stype, kws in SECTION_KEYWORDS.items():
        cond = None
        for k in kws:
            c = low.contains(k)
            cond = c if cond is None else (cond | c)
        expr = (
            F.when(cond, F.lit(stype)) if expr is None else expr.when(cond, F.lit(stype))
        )
    return expr.otherwise(F.lit("general"))


def q_sections(spark: SparkSession, sf_dir: str) -> DataFrame:
    lines = F.filter(
        F.transform(F.split(F.col("ctext"), "\n"), lambda x: F.trim(x)),
        lambda x: x != "",
    )
    df = _clinical_docs(spark, sf_dir).select(
        "doc_id", F.posexplode(lines).alias("start_line", "content")
    )
    return df.select(
        "doc_id",
        F.col("start_line").cast("long").alias("start_line"),
        "content",
        _section_case_col(F.col("content")).alias("segment_type"),
    )


SQL_SECTIONS = f"""
WITH prepared AS (
  SELECT doc_id,
         list_filter(list_transform(string_split({_clinical_sql()}, chr(10)),
                                    x -> trim(x)), x -> x <> '') AS ls
  FROM documents
), lines AS (
  SELECT doc_id,
         unnest(ls) AS content,
         unnest(range(0, len(ls))) AS start_line
  FROM prepared
)
SELECT doc_id, start_line, content, {_section_case_sql('content')} AS segment_type
FROM lines
"""


# --------------------------------------------------------------------------
# C2 — urgency scoring (src/nlp/classifier.py:221-257)
# --------------------------------------------------------------------------

def _hits_sql(text_expr: str, kws) -> str:
    return " + ".join(
        f"CASE WHEN contains(lower({text_expr}), {_sql_quote(k)}) THEN 1 ELSE 0 END"
        for k in kws
    )


def _hits_col(low, kws):
    """Keyword-hit count over an already-lowercased text column."""
    total = F.lit(0)
    for k in kws:
        total = total + F.when(low.contains(k), 1).otherwise(0)
    return total


def q_urgency(spark: SparkSession, sf_dir: str) -> DataFrame:
    low = F.col("ltext")
    urgent = _hits_col(low, URGENT_KEYWORDS)
    high = _hits_col(low, HIGH_KEYWORDS)
    level = (
        F.when(urgent >= 2, F.lit("urgent"))
        .when(urgent >= 1, F.lit("urgent"))
        .when(high >= 2, F.lit("high"))
        .when(high >= 1, F.lit("high"))
        .otherwise(F.lit("routine"))
    )
    conf = (
        F.when(urgent >= 2, F.lit(0.9))
        .when(urgent >= 1, F.lit(0.7))
        .when(high >= 2, F.lit(0.8))
        .when(high >= 1, F.lit(0.6))
        .otherwise(F.lit(0.5))
    )
    return _clinical_docs(spark, sf_dir).select(
        "doc_id", level.alias("urgency"), conf.alias("urgency_confidence")
    )


SQL_URGENCY = f"""
WITH scored AS (
  SELECT doc_id,
         ({_hits_sql(_clinical_sql(), URGENT_KEYWORDS)}) AS urgent_n,
         ({_hits_sql(_clinical_sql(), HIGH_KEYWORDS)}) AS high_n
  FROM documents
)
SELECT doc_id,
       CASE WHEN urgent_n >= 1 THEN 'urgent'
            WHEN high_n >= 1 THEN 'high'
            ELSE 'routine' END AS urgency,
       CAST(CASE WHEN urgent_n >= 2 THEN 0.9
            WHEN urgent_n >= 1 THEN 0.7
            WHEN high_n >= 2 THEN 0.8
            WHEN high_n >= 1 THEN 0.6
            ELSE 0.5 END AS DOUBLE) AS urgency_confidence
FROM scored
"""


# --------------------------------------------------------------------------
# C1 — document-type classification (src/nlp/classifier.py:130-200)
# --------------------------------------------------------------------------

def _type_score_sql(text_expr: str, doc_type: str) -> str:
    data = DOCUMENT_PATTERNS[doc_type]
    kw = _hits_sql(text_expr, data["keywords"])
    pats = " + ".join(
        f"2 * len(regexp_extract_all({text_expr}, {_sql_quote('(?i)' + p)}))"
        for p in data["patterns"]
    )
    return f"({kw}) + ({pats})"


def _classify_relational(
    spark: SparkSession, base: DataFrame, id_cols
) -> DataFrame:
    """C1 as a relational plan over ``base`` (columns ``id_cols`` + ``ctext``
    + ``ltext``), the 'relational skeleton' of SURVEY §2.6: keyword hits via
    a broadcast theta-join + partial-aggregated count, pattern hits via a
    small regexp_count projection, pivot to per-type scores, then the same
    argmax/tie-break/confidence expressions. Scales with map-side combine
    and avoids the 64KB-method codegen cliff of the fully-inlined expression
    form (18s one-time janino compile → ~1s)."""
    id_cols = list(id_cols)
    kw_rows = [
        (t, kw) for t in DOCUMENT_TYPE_ORDER for kw in DOCUMENT_PATTERNS[t]["keywords"]
    ]
    kw = spark.createDataFrame(kw_rows, ["doc_type", "kw"])
    kscores = (
        base.join(F.broadcast(kw), F.instr(F.col("ltext"), F.col("kw")) > 0)
        .groupBy(*id_cols, "doc_type")
        .agg(F.count("*").alias("score"))
    )
    pat_structs = [
        F.struct(
            F.lit(t).alias("doc_type"),
            (F.regexp_count(F.col("ctext"), F.lit(f"(?i){p}")) * 2).alias("cnt"),
        )
        for t in DOCUMENT_TYPE_ORDER
        for p in DOCUMENT_PATTERNS[t]["patterns"]
    ]
    pscores = (
        base.select(*id_cols, F.explode(F.array(*pat_structs)).alias("x"))
        .groupBy(*id_cols, F.col("x.doc_type").alias("doc_type"))
        .agg(F.sum("x.cnt").alias("score"))
    )
    scores = (
        kscores.unionByName(pscores)
        .groupBy(*id_cols)
        .pivot("doc_type", DOCUMENT_TYPE_ORDER)
        .agg(F.sum("score"))
    )
    df = (
        base.select(*id_cols)
        .join(scores, id_cols, "left")
        .select(
            *id_cols,
            *[
                F.coalesce(F.col(t), F.lit(0)).alias(f"s_{t}")
                for t in DOCUMENT_TYPE_ORDER
            ],
        )
    )
    total = None
    best = None
    for t in DOCUMENT_TYPE_ORDER:
        c = F.col(f"s_{t}")
        total = c if total is None else total + c
        best = c if best is None else F.greatest(best, c)
    # first type (dict order) achieving the max score — the stable sort
    # tie-break of classifier.py:183
    pick = None
    for t in DOCUMENT_TYPE_ORDER:
        cond = F.col(f"s_{t}") == best
        pick = (
            F.when(cond, F.lit(t)) if pick is None else pick.when(cond, F.lit(t))
        )
    doc_type = F.when(total == 0, F.lit("general_medical")).otherwise(pick)
    confidence = F.when(total == 0, F.lit(0.3)).otherwise(
        F.least(best.cast("double") / total, F.lit(0.95))
    )
    return df.select(
        *id_cols,
        doc_type.alias("document_type"),
        F.round(confidence, 6).alias("confidence"),
    )


def q_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _classify_relational(spark, _clinical_docs(spark, sf_dir), ["doc_id"])


def _classify_sql() -> str:
    text = _clinical_sql()
    score_cols = ",\n         ".join(
        f"({_type_score_sql(text, t)}) AS s_{t}" for t in DOCUMENT_TYPE_ORDER
    )
    total = " + ".join(f"s_{t}" for t in DOCUMENT_TYPE_ORDER)
    best = "greatest(" + ", ".join(f"s_{t}" for t in DOCUMENT_TYPE_ORDER) + ")"
    pick = " ".join(
        f"WHEN s_{t} = best THEN '{t}'" for t in DOCUMENT_TYPE_ORDER
    )
    return f"""
WITH scored AS (
  SELECT doc_id,
         {score_cols}
  FROM documents
), ranked AS (
  SELECT *, {total} AS total, {best} AS best
  FROM scored
)
SELECT doc_id,
       CASE WHEN total = 0 THEN 'general_medical' ELSE (CASE {pick} END) END AS document_type,
       CAST(round(CASE WHEN total = 0 THEN 0.3
                  ELSE least(CAST(best AS DOUBLE) / total, 0.95) END, 6) AS DOUBLE) AS confidence
FROM ranked
"""


SQL_CLASSIFY = _classify_sql()


# --------------------------------------------------------------------------
# Conversation-level rollup of the relational C1/C2 outputs — the
# aggregation shape of `conv_rollup` (operators/conversation.py) with a
# fully SQL-expressible per-turn base, so the conversation-grain
# max-urgency / distinct-doc-type semantics get a hash-checked driver row
# (the kernel-input variant stays rows-only as `conv_rollup`).
# --------------------------------------------------------------------------


def q_conv_class_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    urg = q_urgency(spark, sf_dir).select("doc_id", "urgency")
    cls = q_classify(spark, sf_dir).select("doc_id", "document_type")
    docs = _docs(spark, sf_dir).select("doc_id", "source")
    joined = docs.join(urg, "doc_id").join(cls, "doc_id")
    rank = F.when(F.col("urgency") == "urgent", 2).when(
        F.col("urgency") == "high", 1
    ).otherwise(0)
    rolled = joined.groupBy(F.col("source").alias("conv_id")).agg(
        F.count("*").cast("long").alias("n_turns"),
        F.max(rank).alias("_mr"),
        F.array_join(F.array_sort(F.collect_set("document_type")), "|").alias(
            "document_types"
        ),
    )
    return rolled.select(
        "conv_id",
        "n_turns",
        F.when(F.col("_mr") == 2, "urgent")
        .when(F.col("_mr") == 1, "high")
        .otherwise("routine")
        .alias("max_urgency"),
        "document_types",
    )


SQL_CONV_CLASS_ROLLUP = f"""
WITH u AS ({SQL_URGENCY}),
c AS ({SQL_CLASSIFY}),
j AS (
  SELECT d.source AS conv_id, u.urgency, c.document_type
  FROM documents d JOIN u USING (doc_id) JOIN c USING (doc_id)
), r AS (
  SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
         max(CASE urgency WHEN 'urgent' THEN 2 WHEN 'high' THEN 1 ELSE 0 END) AS mr
  FROM j GROUP BY conv_id
), t AS (
  SELECT DISTINCT conv_id, document_type FROM j
), ts AS (
  SELECT conv_id, string_agg(document_type, '|' ORDER BY document_type) AS document_types
  FROM t GROUP BY conv_id
)
SELECT r.conv_id, r.n_turns,
       CASE r.mr WHEN 2 THEN 'urgent' WHEN 1 THEN 'high' ELSE 'routine' END AS max_urgency,
       ts.document_types
FROM r JOIN ts USING (conv_id)
"""


# --------------------------------------------------------------------------
# C3 — per-segment classification (src/nlp/classifier.py:202-219): C1 run on
# each line segment, keyed `{segment_type}_{start_line}`. Reuses the G5
# segmentation plan and the relational C1 scorer.
# --------------------------------------------------------------------------

def q_classify_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    segs = q_sections(spark, sf_dir).select(
        "doc_id",
        F.concat_ws("_", "segment_type", F.col("start_line").cast("string")).alias(
            "segment_key"
        ),
        F.col("content").alias("ctext"),
        F.lower("content").alias("ltext"),
    )
    return _classify_relational(spark, segs, ["doc_id", "segment_key"])


def _classify_segments_sql() -> str:
    text = "content"
    score_cols = ",\n         ".join(
        f"({_type_score_sql(text, t)}) AS s_{t}" for t in DOCUMENT_TYPE_ORDER
    )
    total = " + ".join(f"s_{t}" for t in DOCUMENT_TYPE_ORDER)
    best = "greatest(" + ", ".join(f"s_{t}" for t in DOCUMENT_TYPE_ORDER) + ")"
    pick = " ".join(f"WHEN s_{t} = best THEN '{t}'" for t in DOCUMENT_TYPE_ORDER)
    return f"""
WITH prepared AS (
  SELECT doc_id,
         list_filter(list_transform(string_split({_clinical_sql()}, chr(10)),
                                    x -> trim(x)), x -> x <> '') AS ls
  FROM documents
), lines AS (
  SELECT doc_id,
         unnest(ls) AS content,
         unnest(range(0, len(ls))) AS start_line
  FROM prepared
), seg AS (
  SELECT doc_id,
         {_section_case_sql('content')} || '_' || CAST(start_line AS VARCHAR)
           AS segment_key,
         content
  FROM lines
), scored AS (
  SELECT doc_id, segment_key,
         {score_cols}
  FROM seg
), ranked AS (
  SELECT *, {total} AS total, {best} AS best
  FROM scored
)
SELECT doc_id, segment_key,
       CASE WHEN total = 0 THEN 'general_medical' ELSE (CASE {pick} END) END AS document_type,
       CAST(round(CASE WHEN total = 0 THEN 0.3
                  ELSE least(CAST(best AS DOUBLE) / total, 0.95) END, 6) AS DOUBLE) AS confidence
FROM ranked
"""


SQL_CLASSIFY_SEGMENTS = _classify_segments_sql()


# --------------------------------------------------------------------------
# E5-lite — dictionary term scan as a broadcast semi join over tokens
# (semantics: term equals a lowercase alphanumeric token; the tokenized
# form of the \b-regex single-word rule at medical_extractor.py:231-237)
# --------------------------------------------------------------------------

def q_dict_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.array_distinct(
        F.regexp_extract_all(F.col("ltext"), F.lit(_TOKEN_PATTERN), 0)
    )
    exploded = _clinical_docs(spark, sf_dir).select(
        "doc_id", F.explode(toks).alias("term")
    )
    terms = spark.createDataFrame([(t,) for t in DRUGS_SINGLE], ["term"])
    return exploded.join(F.broadcast(terms), "term").select("doc_id", "term")


SQL_DICT_MATCH = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_distinct(regexp_extract_all(lower({_clinical_sql()}),
                                                 '{_TOKEN_PATTERN}'))) AS term
  FROM documents
)
SELECT doc_id, term
FROM toks
WHERE term IN ({_sql_str_list(DRUGS_SINGLE)})
"""


# --------------------------------------------------------------------------
# T7 n-gram multi-word detection (exact-substring form) —
# ocr_postprocessor.py:165-186 / medical_extractor.py:239-246
# --------------------------------------------------------------------------

def q_multiword_disease(spark: SparkSession, sf_dir: str) -> DataFrame:
    terms = spark.createDataFrame([(t,) for t in DISEASES_MULTI], ["term"])
    docs = _clinical_docs(spark, sf_dir).select("doc_id", "ltext")
    return (
        docs.join(F.broadcast(terms))
        .filter(F.col("ltext").contains(F.col("term")))
        .select("doc_id", "term")
    )


SQL_MULTIWORD_DISEASE = f"""
SELECT d.doc_id, t.term
FROM documents d
CROSS JOIN (SELECT unnest([{_sql_str_list(DISEASES_MULTI)}]) AS term) t
WHERE contains(lower({_clinical_sql('d')}), t.term)
"""


# --------------------------------------------------------------------------
# E1 subset — lookahead-free scalar field extraction (medical_extractor.py:98-118)
# --------------------------------------------------------------------------

_FIELD_PATTERNS = {
    "age": (r"(?i)(?:Age)\s*[:\-]\s*(\d+)", 1),
    "bp": (r"(?i)(?:BP|Blood Pressure)\s*[:\-]\s*(\d{2,3}\s*/\s*\d{2,3})", 1),
    "temp": (r"(?i)(?:Temp|Temperature)\s*[:\-]\s*(\d{2,3}(\.\d)?\s*[FC])", 1),
    "pulse": (r"(?i)(?:Pulse|HR|Heart Rate)\s*[:\-]\s*(\d{2,3})", 1),
}


def q_vitals_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    text = F.col("ctext")
    cols = [
        F.nullif(F.regexp_extract(text, pat, grp), F.lit("")).alias(name)
        for name, (pat, grp) in _FIELD_PATTERNS.items()
    ]
    return _clinical_docs(spark, sf_dir).select("doc_id", *cols)


SQL_VITALS_FIELDS = f"""
SELECT doc_id,
       {", ".join(
           f"nullif(regexp_extract({_clinical_sql()}, {_sql_quote(pat)}, {grp}), '') AS {name}"
           for name, (pat, grp) in _FIELD_PATTERNS.items()
       )}
FROM documents
"""


# --------------------------------------------------------------------------
# E1 extension — the remaining scalar fields (date / patient / doctor /
# hospital / gender, ref medical_extractor.py:78-110), hash-checked via
# lookahead-free rewrites. The kernel's NAME/DOCTOR patterns are
# lookahead-bounded; here the terminator is *consumed* into a second group
# instead — capture group 1 is provably identical for a first-match
# extraction (pytest-gated against `extract_regex_fields` on the corpus).
# Runs over the PII prelude, where these fields actually fire.
# --------------------------------------------------------------------------

_SCALAR_FIELD_DATE = rf"(?i)\b({_DATE_MASK_PATTERN})\b"
_SCALAR_FIELD_NAME = (
    r"(?i)(?:Patient|Name)\s*[:\-]\s*([A-Za-z\s]+?)"
    r"(\n|,|\s+(?:Age|DOB|Date|Gender|Sex|Diagnosis|Rx|BP))"
)
_SCALAR_FIELD_DOCTOR = (
    r"(?im)(?:Dr\.?|Doctor|Physician)\s*[:\-]?\s*([A-Za-z\.\s]+?)"
    r"(\n|,|$|\s+(?:Patient|Hospital|Clinic|Date|Diagnosis|Rx|Age|BP))"
)
_SCALAR_FIELD_HOSPITAL = r"(?i)(?:Hospital|Clinic|Medical Center|Health Center)\s*:\s*([^\n]+)"
_SCALAR_FIELD_GENDER = r"(?i)(?:Gender|Sex)\s*[:\-]\s*(Male|Female|M|F)"


def q_extract_fields_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = F.col("ctext")

    def first(pat):
        return F.nullif(F.regexp_extract(t, pat, 1), F.lit(""))

    draw = F.nullif(F.trim(F.regexp_extract(t, _SCALAR_FIELD_DOCTOR, 1)), F.lit(""))
    g = F.upper(first(_SCALAR_FIELD_GENDER))
    return _pii_docs(spark, sf_dir).select(
        "doc_id",
        first(_SCALAR_FIELD_DATE).alias("date_found"),
        F.nullif(F.trim(F.regexp_extract(t, _SCALAR_FIELD_NAME, 1)), F.lit("")).alias(
            "patient_name"
        ),
        F.when(F.lower(draw).startswith("dr"), draw)
        .otherwise(F.concat(F.lit("Dr. "), draw))
        .alias("doctor_name"),
        F.nullif(
            F.trim(F.regexp_extract(t, _SCALAR_FIELD_HOSPITAL, 1)), F.lit("")
        ).alias("hospital"),
        F.when(g.isin("MALE", "M"), F.lit("Male"))
        .when(g.isin("FEMALE", "F"), F.lit("Female"))
        .otherwise(F.lit(None).cast("string"))
        .alias("gender"),
    )


SQL_EXTRACT_FIELDS_SCALAR = f"""
WITH dd AS (
  SELECT doc_id, {_pii_sql()} AS s FROM documents
), raw AS (
  SELECT doc_id,
         nullif(regexp_extract(s, {_sql_quote(_SCALAR_FIELD_DATE)}, 1), '') AS date_found,
         nullif(trim(regexp_extract(s, {_sql_quote(_SCALAR_FIELD_NAME)}, 1)), '') AS patient_name,
         nullif(trim(regexp_extract(s, {_sql_quote(_SCALAR_FIELD_DOCTOR)}, 1)), '') AS d_raw,
         nullif(trim(regexp_extract(s, {_sql_quote(_SCALAR_FIELD_HOSPITAL)}, 1)), '') AS hospital,
         upper(nullif(regexp_extract(s, {_sql_quote(_SCALAR_FIELD_GENDER)}, 1), '')) AS g_raw
  FROM dd
)
SELECT doc_id, date_found, patient_name,
       CASE WHEN d_raw IS NULL THEN NULL
            WHEN lower(d_raw) LIKE 'dr%' THEN d_raw
            ELSE 'Dr. ' || d_raw END AS doctor_name,
       hospital,
       CASE WHEN g_raw IN ('MALE', 'M') THEN 'Male'
            WHEN g_raw IN ('FEMALE', 'F') THEN 'Female'
            ELSE NULL END AS gender
FROM raw
"""


# --------------------------------------------------------------------------
# C4 — measurement entity extraction, exploded (classifier.py:307-315)
# --------------------------------------------------------------------------

_MEASUREMENT_PATTERN = r"\d+(?:\.\d+)?\s*(?:mg/dl|mmol/l|g/dl|kg|lbs|cm|ft|in)|\d+/\d+\s*mmHg"


def q_measurements(spark: SparkSession, sf_dir: str) -> DataFrame:
    text = F.col("ctext")
    return _clinical_docs(spark, sf_dir).select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(text, F.lit(_MEASUREMENT_PATTERN), 0)
        ).alias("measurement"),
    )


SQL_MEASUREMENTS = f"""
SELECT doc_id,
       unnest(regexp_extract_all({_clinical_sql()}, {_sql_quote(_MEASUREMENT_PATTERN)})) AS measurement
FROM documents
"""


# --------------------------------------------------------------------------
# Text analysis: token count + quality score (training-data pipeline ops)
# --------------------------------------------------------------------------

# BPE-ish pre-tokenizer (GPT-2-style contraction/word/number/punct/space
# classes, ASCII form) — identical in Java regex and RE2
_BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(_TOKEN_PATTERN), 0)
    n_tokens = F.size(toks)
    n_bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_PATTERN), 0))
    # inline-set membership (In/InSet — Catalyst-optimizable) instead of a
    # per-token array_contains over a constructed literal array
    stop_hits = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS_EN)))
    alnum = F.length(F.regexp_replace(F.col("text"), r"[^A-Za-z0-9]", ""))
    quality = F.round(
        0.5 * F.least(n_tokens.cast("double") / 50.0, F.lit(1.0))
        + 0.3 * (stop_hits.cast("double") / F.greatest(n_tokens, F.lit(1)))
        + 0.2 * (alnum.cast("double") / F.greatest(F.length("text"), F.lit(1))),
        6,
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        n_bpe.cast("long").alias("n_bpe_tokens"),
        stop_hits.cast("long").alias("n_stopwords"),
        quality.alias("quality_score"),
    )


SQL_TEXT_STATS = f"""
WITH t AS (
  SELECT doc_id, text,
         regexp_extract_all(lower(text), '{_TOKEN_PATTERN}') AS toks
  FROM documents
)
SELECT doc_id,
       len(toks) AS n_tokens,
       len(regexp_extract_all(text, {_sql_quote(_BPE_PATTERN)})) AS n_bpe_tokens,
       len(list_filter(toks, x -> x IN ({_sql_str_list(STOPWORDS_EN)}))) AS n_stopwords,
       round(0.5 * least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0)
             + 0.3 * (CAST(len(list_filter(toks, x -> x IN ({_sql_str_list(STOPWORDS_EN)}))) AS DOUBLE)
                      / greatest(len(toks), 1))
             + 0.2 * (CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS DOUBLE)
                      / greatest(length(text), 1)), 6) AS quality_score
FROM t
"""


# --------------------------------------------------------------------------
# Gopher-style quality-filter verdict: hard rules over the same stats the
# text_stats query computes → (keep, reject_reason). The canonical
# training-data filtering step (Rae et al. 2021 "Gopher" §A.2 rule shapes:
# doc length bounds, mean word length bounds, symbol ratio, stopword
# presence) expressed as one relational projection — first failing rule
# wins so the reason column is deterministic.
# --------------------------------------------------------------------------

QF_MIN_TOKENS = 8
QF_MAX_TOKENS = 100_000
QF_MIN_MEAN_WORD_LEN = 2.0
QF_MAX_MEAN_WORD_LEN = 12.0
QF_MAX_SYMBOL_RATIO = 0.4
QF_MIN_STOPWORD_HITS = 1


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(_TOKEN_PATTERN), 0)
    n_tokens = F.size(toks)
    tok_chars = F.aggregate(
        F.transform(toks, lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
    )
    mean_wl = F.round(
        tok_chars.cast("double") / F.greatest(n_tokens, F.lit(1)), 6
    )
    alnum = F.length(F.regexp_replace(F.col("text"), r"[A-Za-z0-9\s]", ""))
    sym_ratio = F.round(
        alnum.cast("double") / F.greatest(F.length("text"), F.lit(1)), 6
    )
    stop_hits = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS_EN)))
    reason = (
        F.when(n_tokens < QF_MIN_TOKENS, "too_short")
        .when(n_tokens > QF_MAX_TOKENS, "too_long")
        .when(mean_wl < QF_MIN_MEAN_WORD_LEN, "mean_word_len_low")
        .when(mean_wl > QF_MAX_MEAN_WORD_LEN, "mean_word_len_high")
        .when(sym_ratio > QF_MAX_SYMBOL_RATIO, "symbol_ratio_high")
        .when(stop_hits < QF_MIN_STOPWORD_HITS, "no_stopwords")
        .otherwise(F.lit(None).cast("string"))
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        mean_wl.alias("mean_word_len"),
        sym_ratio.alias("symbol_ratio"),
        stop_hits.cast("long").alias("n_stopwords"),
        reason.isNull().cast("long").alias("keep"),
        reason.alias("reject_reason"),
    )


SQL_QUALITY_FILTER = f"""
WITH t AS (
  SELECT doc_id, text,
         regexp_extract_all(lower(text), '{_TOKEN_PATTERN}') AS toks
  FROM documents
), s AS (
  SELECT doc_id, text, len(toks) AS n_tokens,
         round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
               / greatest(len(toks), 1), 6) AS mean_word_len,
         round(CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
               / greatest(length(text), 1), 6) AS symbol_ratio,
         len(list_filter(toks, x -> x IN ({_sql_str_list(STOPWORDS_EN)}))) AS n_stopwords
  FROM t
), r AS (
  SELECT *,
         CASE WHEN n_tokens < {QF_MIN_TOKENS} THEN 'too_short'
              WHEN n_tokens > {QF_MAX_TOKENS} THEN 'too_long'
              WHEN mean_word_len < {QF_MIN_MEAN_WORD_LEN} THEN 'mean_word_len_low'
              WHEN mean_word_len > {QF_MAX_MEAN_WORD_LEN} THEN 'mean_word_len_high'
              WHEN symbol_ratio > {QF_MAX_SYMBOL_RATIO} THEN 'symbol_ratio_high'
              WHEN n_stopwords < {QF_MIN_STOPWORD_HITS} THEN 'no_stopwords'
              ELSE NULL END AS reject_reason
  FROM s
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, mean_word_len, symbol_ratio,
       CAST(n_stopwords AS BIGINT) AS n_stopwords,
       CAST(CASE WHEN reject_reason IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep,
       reject_reason
FROM r
"""


# --------------------------------------------------------------------------
# Deterministic hash-based stratified sampling: the training-data-pipeline
# primitive every 100 TB job starts with. A document is kept iff its 60-bit
# md5 bucket (the shared cross-engine hash) falls under its stratum's
# per-myriad rate; the stratum rate itself derives from the source string,
# so the same row always gets the same verdict on any engine, any cluster
# size, any run — no RNG state, no sampling seed to ship. Narrow plan: one
# projection + filter, fully pushdown-friendly. `curation_funnel` runs it
# as its last gate.
# --------------------------------------------------------------------------

SAMPLE_BASE_PERMYRIAD = 500  # 5% floor
SAMPLE_STEP_PERMYRIAD = 1500  # + 15% per stratum step (source-hash % 4)


def _md5_bucket_spark(col, mod: int):
    from .functions.hashing import md5_prefix60_spark

    return F.pmod(md5_prefix60_spark(col), F.lit(mod))


def _md5_bucket_sql(expr: str, mod: int) -> str:
    from .functions.hashing import md5_prefix60_sql

    return f"({md5_prefix60_sql(expr)} % {mod})"


def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    rate = (
        F.lit(SAMPLE_BASE_PERMYRIAD)
        + _md5_bucket_spark(F.col("source"), 4) * SAMPLE_STEP_PERMYRIAD
    )
    bucket = _md5_bucket_spark(F.concat_ws("|", F.lit("doc"), F.col("doc_id")), 10_000)
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            "source",
            bucket.cast("long").alias("bucket"),
            rate.cast("long").alias("rate_permyriad"),
        )
        .filter(F.col("bucket") < F.col("rate_permyriad"))
    )


SQL_SAMPLE_HASH = f"""
SELECT * FROM (
  SELECT doc_id, source,
         {_md5_bucket_sql("'doc' || '|' || CAST(doc_id AS VARCHAR)", 10_000)} AS bucket,
         ({SAMPLE_BASE_PERMYRIAD} + {_md5_bucket_sql("source", 4)} * {SAMPLE_STEP_PERMYRIAD})
           AS rate_permyriad
  FROM documents
) WHERE bucket < rate_permyriad
"""


# --------------------------------------------------------------------------
# Gopher repetition rules (Rae et al. 2021 §A.2): the quality_filter above
# covers the length/ratio rules; these are the REPETITION signals — the
# fraction of duplicate lines, and the fraction of characters inside the
# most frequent word bigram. The top-bigram is computed relationally
# (explode → count → rank) so the plan is linear in tokens at any scale —
# never a per-doc O(words²) higher-order-function scan. Ties break to the
# lexicographically smallest bigram on both engines.
# --------------------------------------------------------------------------

REP_MAX_DUP_LINE_FRAC = 0.30
REP_MAX_TOP_BIGRAM_FRAC = 0.20


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        "doc_id", _clinical_col().alias("ctext")
    )
    lines = F.split(F.col("ctext"), "\n")
    base = docs.select(
        "doc_id",
        F.col("ctext"),
        F.size(lines).alias("n_lines"),
        F.round(
            1.0
            - F.size(F.array_distinct(lines)).cast("double")
            / F.greatest(F.size(lines), F.lit(1)),
            6,
        ).alias("dup_line_frac"),
        F.length("ctext").alias("n_chars"),
    )
    toks = base.select(
        "doc_id",
        "n_lines",
        "dup_line_frac",
        "n_chars",
        F.posexplode(
            F.regexp_extract_all(F.lower(F.col("ctext")), F.lit(_TOKEN_PATTERN), 0)
        ).alias("pos", "w"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bg = (
        toks.withColumn("w2", F.lead("w").over(w))
        .filter(F.col("w2").isNotNull())
        .select(
            "doc_id",
            "n_lines",
            "dup_line_frac",
            "n_chars",
            F.concat_ws(" ", "w", "w2").alias("bigram"),
        )
    )
    counts = bg.groupBy(
        "doc_id", "n_lines", "dup_line_frac", "n_chars", "bigram"
    ).agg(F.count("*").alias("cnt"))
    rw = Window.partitionBy("doc_id").orderBy(
        F.col("cnt").desc(), F.col("bigram").asc()
    )
    top = counts.withColumn("rn", F.row_number().over(rw)).filter(
        F.col("rn") == 1
    )
    frac = F.round(
        (F.col("cnt") * (F.length("bigram") - 1)).cast("double")
        / F.greatest(F.col("n_chars"), F.lit(1)),
        6,
    )
    keep = (F.col("dup_line_frac") <= REP_MAX_DUP_LINE_FRAC) & (
        frac <= REP_MAX_TOP_BIGRAM_FRAC
    )
    return top.select(
        "doc_id",
        F.col("n_lines").cast("long").alias("n_lines"),
        "dup_line_frac",
        F.col("bigram").alias("top_bigram"),
        F.col("cnt").cast("long").alias("top_bigram_count"),
        frac.alias("top_bigram_frac"),
        keep.cast("long").alias("keep"),
    )


SQL_REPETITION_STATS = f"""
WITH d AS (
  SELECT doc_id, {_clinical_sql()} AS ctext FROM documents
), base AS (
  SELECT doc_id, ctext,
         len(str_split(ctext, chr(10))) AS n_lines,
         round(1.0 - CAST(len(list_distinct(str_split(ctext, chr(10)))) AS DOUBLE)
               / greatest(len(str_split(ctext, chr(10))), 1), 6) AS dup_line_frac,
         length(ctext) AS n_chars,
         regexp_extract_all(lower(ctext), '{_TOKEN_PATTERN}') AS toks
  FROM d
), bg AS (
  SELECT doc_id, n_lines, dup_line_frac, n_chars,
         toks[i] || ' ' || toks[i + 1] AS bigram
  FROM (SELECT *, unnest(range(1, len(toks))) AS i FROM base)
), counts AS (
  SELECT doc_id, n_lines, dup_line_frac, n_chars, bigram, count(*) AS cnt
  FROM bg GROUP BY ALL
), top AS (
  SELECT *, row_number() OVER (
           PARTITION BY doc_id ORDER BY cnt DESC, bigram ASC) AS rn
  FROM counts
)
SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines, dup_line_frac,
       bigram AS top_bigram, CAST(cnt AS BIGINT) AS top_bigram_count,
       round(CAST(cnt * (length(bigram) - 1) AS DOUBLE)
             / greatest(n_chars, 1), 6) AS top_bigram_frac,
       CAST(CASE WHEN dup_line_frac <= CAST({REP_MAX_DUP_LINE_FRAC} AS DOUBLE)
                  AND round(CAST(cnt * (length(bigram) - 1) AS DOUBLE)
                            / greatest(n_chars, 1), 6)
                      <= CAST({REP_MAX_TOP_BIGRAM_FRAC} AS DOUBLE)
             THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM top WHERE rn = 1
"""


# --------------------------------------------------------------------------
# Add-k smoothing of the held-out bigram LM (`lm_heldout`,
# operators/ranking.py). It lives here with the shared tokenizer and md5
# split helpers that ranking.py imports lazily from this module.
# --------------------------------------------------------------------------

LM_SMOOTH_K = 0.5


# --------------------------------------------------------------------------
# BM25 ranking (Robertson/Sparck Jones): the standard retrieval scorer a
# data-pipeline engine needs for corpus search / contamination lookups.
# Self-contained: the query is the corpus's own top-`BM25_N_TERMS` terms
# by document frequency (df desc, term asc — deterministic), so the
# operator always fires regardless of corpus vocabulary. Determinism:
# avg doc length is an exact integer sum / N; per-doc scores fold term
# contributions in TERM order (sorted list aggregation), never shuffle
# order.
# --------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_N_TERMS = 5
BM25_TOP_DOCS = 20


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(_TOKEN_PATTERN), 0)
        ).alias("w"),
    )
    doclen = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = doclen.agg(
        F.sum("dl").alias("total_len"), F.count("*").alias("n_docs")
    ).collect()[0]
    n_docs, avglen = stats["n_docs"], stats["total_len"] / stats["n_docs"]
    tf = toks.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    df = tf.groupBy("w").agg(F.count("*").alias("df"))
    top_terms = df.orderBy(F.desc("df"), F.asc("w")).limit(BM25_N_TERMS)
    contrib = (
        tf.join(F.broadcast(top_terms), "w")
        .join(doclen, "doc_id")
        .withColumn(
            "idf",
            F.log(1.0 + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5)),
        )
        .withColumn(
            "c",
            F.col("idf")
            * (F.col("tf") * (BM25_K1 + 1))
            / (
                F.col("tf")
                + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.lit(avglen))
            ),
        )
    )
    scored = (
        contrib.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("w", "c"))).alias("cs"))
        .select(
            "doc_id",
            F.round(
                F.aggregate(F.col("cs"), F.lit(0.0), lambda a, x: a + x["c"]), 6
            ).alias("bm25"),
            F.size("cs").cast("long").alias("n_terms_hit"),
        )
    )
    # Distributed top-K (VERDICT r06 "What's wrong" #1): TakeOrderedAndProject
    # selects the BM25_TOP_DOCS rows under the deterministic (bm25 DESC,
    # doc_id ASC) tie-break without ever sorting the corpus-proportional
    # scored frame in one partition; the rank window then runs over a frame
    # bounded at BM25_TOP_DOCS rows by construction (guide §2.4 — identical
    # rows to the old unpartitioned row_number + filter).
    top = scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(BM25_TOP_DOCS)
    w = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", "bm25", "n_terms_hit", F.col("rank").cast("long").alias("rank")
    )


SQL_BM25 = f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '{_TOKEN_PATTERN}')) AS w
  FROM documents
), doclen AS (
  SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
), stats AS (
  SELECT sum(dl) AS total_len, count(*) AS n_docs FROM doclen
), tf AS (
  SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY doc_id, w
), df AS (
  SELECT w, count(*) AS df FROM tf GROUP BY w
), top_terms AS (
  SELECT w, df FROM df ORDER BY df DESC, w ASC LIMIT {BM25_N_TERMS}
), contrib AS (
  SELECT t.doc_id, t.w,
         ln(1.0 + (s.n_docs - q.df + 0.5) / (q.df + 0.5))
         * (t.tf * ({BM25_K1} + 1))
         / (t.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * d.dl
                                / (CAST(s.total_len AS DOUBLE) / s.n_docs))) AS c
  FROM tf t
  JOIN top_terms q ON q.w = t.w
  JOIN doclen d ON d.doc_id = t.doc_id
  CROSS JOIN stats s
), scored AS (
  SELECT doc_id,
         round(list_sum(list(c ORDER BY w)), 6) AS bm25,
         CAST(count(*) AS BIGINT) AS n_terms_hit
  FROM contrib GROUP BY doc_id
)
SELECT doc_id, bm25, n_terms_hit,
       row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rank
FROM scored
QUALIFY rank <= {BM25_TOP_DOCS}
"""


# --------------------------------------------------------------------------
# N-gram Jaccard near-dup pairs (exact small-scale form; the LSH-banded
# MinHash variant is the at-scale path, see operators/dedup.py)
# --------------------------------------------------------------------------

JACCARD_THRESHOLD = 0.18
_SHINGLE_N = 3
# stop-shingle cap: a shingle appearing in more than this many documents is
# excluded from pair generation — at corpus scale a single hot shingle
# otherwise contributes O(df²) join rows (the classic self-join blow-up);
# capped shingles cannot evidence near-duplication anyway. The doc-size
# denominator keeps ALL shingles, so capping only loses candidate recall on
# pairs whose entire overlap is stop-shingles.
SHINGLE_DOC_FREQ_CAP = 100


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(_TOKEN_PATTERN), 0)
    docs = token_barrier(
        _docs(spark, sf_dir), toks, keep_cols=("doc_id",), alias="toks"
    )
    shingle_arr = F.when(
        F.size("toks") >= _SHINGLE_N,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - _SHINGLE_N),
                lambda i: F.array_join(F.slice("toks", i + 1, _SHINGLE_N), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    shingles = docs.select("doc_id", F.explode(shingle_arr).alias("shingle"))
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n"))
    rare = (
        shingles.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= SHINGLE_DOC_FREQ_CAP)
        .select("shingle")
    )
    joinable = shingles.join(rare, "shingle")
    pairs = (
        joinable.alias("a")
        .join(joinable.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("common"))
    )
    return (
        pairs.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


# shared CTE chain: documents → token shingles → rare-shingle inverted-index
# self-join → jaccard-thresholded pairs (``jpairs``). Embedded by both the
# ngram_jaccard oracle and the dedup_keepers oracle so the pair semantics
# stay single-sourced.
_NGRAM_PAIRS_CTES = f"""toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{_TOKEN_PATTERN}') AS t
  FROM documents
), shingles AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
             range(1, greatest(len(t) - {_SHINGLE_N} + 1, 0) + 1),
             i -> array_to_string(t[i : i + {_SHINGLE_N} - 1], ' ')))) AS shingle
  FROM toks
), sizes AS (
  SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id
), rare AS (
  SELECT shingle FROM shingles GROUP BY shingle
  HAVING count(*) <= {SHINGLE_DOC_FREQ_CAP}
), joinable AS (
  SELECT s.doc_id, s.shingle FROM shingles s JOIN rare USING (shingle)
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM joinable a JOIN joinable b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
), jpairs AS (
  SELECT doc_a, doc_b,
         round(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6) AS jaccard
  FROM pairs
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= {JACCARD_THRESHOLD}
)"""

SQL_NGRAM_JACCARD = f"""
WITH {_NGRAM_PAIRS_CTES}
SELECT doc_a, doc_b, jaccard FROM jpairs
"""


# --------------------------------------------------------------------------
# Dedup canonicalization: near-dup pairs → connected components → keepers.
# The driver query feeds the SAME distributed ``connected_components``
# operator (operators/dedup.py: per-partition union-find stars, then
# min-label rounds until a round's second hop moves no label) from the
# exact n-gram Jaccard pairs above, so the cluster/keeper logic is
# hash-verified against a DuckDB recursive-CTE transitive closure. The
# MinHash-LSH pair source (the at-scale candidate generator) is hash-checked
# by `minhash_lsh` and `dedup_keepers_minhash`, which run its md5 base hash
# (the one DuckDB can reproduce) against `SQL_MINHASH_LSH` and
# `SQL_MINHASH_KEEPERS`; pytest gates md5/xxhash64 agreement.
# --------------------------------------------------------------------------

def q_dedup_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = q_ngram_jaccard(spark, sf_dir)
    comps = connected_components(pairs)
    docs = _docs(spark, sf_dir).select("doc_id")
    cluster = F.coalesce("cluster_id", F.col("doc_id"))
    return docs.join(comps, "doc_id", "left").select(
        "doc_id",
        cluster.alias("cluster_id"),
        (cluster == F.col("doc_id")).cast("long").alias("keep"),
    )


SQL_DEDUP_KEEPERS = f"""
WITH RECURSIVE {_NGRAM_PAIRS_CTES},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jpairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM jpairs
), reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), labels AS (
  SELECT src AS doc_id, least(min(dst), src) AS cluster_id
  FROM reach GROUP BY src
)
SELECT d.doc_id,
       coalesce(l.cluster_id, d.doc_id) AS cluster_id,
       CAST(CASE WHEN coalesce(l.cluster_id, d.doc_id) = d.doc_id
                 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM documents d LEFT JOIN labels l USING (doc_id)
"""


# --------------------------------------------------------------------------
# ANN: brute-force cosine top-k over embeddings (similarity-search baseline)
# --------------------------------------------------------------------------

ANN_K = 5
ANN_N_QUERIES = 8


def q_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = cosine_topk(*_ann_inputs(spark, sf_dir), k=ANN_K)
    return out.withColumn("rank", F.col("rank").cast("long"))


SQL_ANN_COSINE = f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < {ANN_N_QUERIES}
), scored AS (
  SELECT q.query_id, e.vec_id,
         round(list_dot_product(q.qv, e.v) /
               (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))), 6) AS cosine
  FROM q JOIN emb e ON e.vec_id <> q.query_id
)
SELECT query_id, vec_id, cosine,
       row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
FROM scored
QUALIFY rank <= {ANN_K}
"""


# --------------------------------------------------------------------------
# Sentence boundary extraction (north_star normalizer; RE2-safe rule shared
# with htep_spark.functions.deid.SENTENCE_PATTERN)
# --------------------------------------------------------------------------

_SENTENCE_PATTERN = "[^.!?]+[.!?]?"


def q_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    sents = F.filter(
        F.transform(
            F.regexp_extract_all(F.col("ctext"), F.lit(_SENTENCE_PATTERN), 0),
            lambda x: F.trim(x),
        ),
        lambda x: x != "",
    )
    return _clinical_docs(spark, sf_dir).select(
        "doc_id", F.posexplode(sents).alias("sent_idx", "content")
    ).select("doc_id", F.col("sent_idx").cast("long").alias("sent_idx"), "content")


SQL_SENTENCES = f"""
WITH prepared AS (
  SELECT doc_id,
         list_filter(list_transform(
             regexp_extract_all({_clinical_sql()}, '{_SENTENCE_PATTERN}'),
             x -> trim(x)), x -> x <> '') AS ss
  FROM documents
)
SELECT doc_id,
       unnest(range(0, len(ss))) AS sent_idx,
       unnest(ss) AS content
FROM prepared
"""


# --------------------------------------------------------------------------
# De-identification, SQL-expressible slice: date masking + the DATE/ID/PHONE
# span detectors (the full multi-kind masker incl. lookahead-bounded NAME
# patterns is the deid UDF — rows-only query `deid`)
# --------------------------------------------------------------------------

def q_deid_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pii_docs(spark, sf_dir).select(
        "doc_id",
        F.regexp_replace(
            F.col("ctext"), F.lit(f"(?i){_DATE_MASK_PATTERN}"), F.lit("[DATE]")
        ).alias("masked_text"),
    )


SQL_DEID_DATES = f"""
SELECT doc_id,
       regexp_replace({_pii_sql()}, '(?i){_DATE_MASK_PATTERN}', '[DATE]', 'g')
         AS masked_text
FROM documents
"""


def q_deid_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-CHECKED: ALL spans of the de-id kernel (``deid_udf`` — the six
    detectors of ``functions/deid.py::PII_PATTERNS``, including the
    lookahead-bounded NAME patterns and the group-captured AGE), checked
    against independent DuckDB offset arithmetic. The oracle rewrites each
    lookahead ``X(?=T)`` as the consuming ``X(T)`` — identical group-1
    spans for *every* match because no detector's start token can begin
    inside a consumed terminator — and models the kernel's first-come
    overlap claiming transitively (a span suppressed by a kept span does
    not itself suppress later spans)."""
    from .operators.extract import deid_udf

    return (
        _pii_docs(spark, sf_dir)
        .select("doc_id", deid_udf(F.col("ctext")).alias("d"))
        .select("doc_id", F.explode(F.col("d.spans")).alias("span"))
        .select(
            "doc_id",
            F.col("span.start_char").cast("long").alias("start_char"),
            F.col("span.end_char").cast("long").alias("end_char"),
            F.col("span.kind").alias("kind"),
        )
    )


def _deid_span_kind_ctes(
    tag: str, kind: str, pattern: str, prio: int, prefix_re: str | None = None
) -> str:
    """CTE chain computing (doc_id, start_char, end_char, kind, prio) for one
    RE2-safe detector: matches via ``regexp_extract_all``, full-match
    offsets reconstructed from the parallel ``regexp_split_to_array`` parts
    — ``start(i) = Σ len(parts[1..i]) + Σ len(matches[1..i-1])`` (0-based,
    character units, matching Python ``m.start()``). With ``prefix_re``
    set, the emitted span is the *capture group 1* sub-span: start shifts
    by the anchored prefix length, length is the group-1 text re-extracted
    from the match."""
    q = _sql_quote(pattern)
    if prefix_re is None:
        adjust = "0 AS plen,\n         length(ms[i]) AS slen"
    else:
        adjust = (
            f"length(regexp_extract(ms[i], {_sql_quote(prefix_re)}, 0)) AS plen,\n"
            f"         length(regexp_extract(ms[i], {q}, 1)) AS slen"
        )
    return (
        f"m_{tag} AS (\n"
        f"  SELECT doc_id, regexp_extract_all(s, {q}) AS ms,\n"
        f"         regexp_split_to_array(s, {q}) AS ps\n"
        f"  FROM dd\n"
        f"), i_{tag} AS (\n"
        f"  SELECT doc_id, ms, ps, unnest(range(1, len(ms)+1)) AS i FROM m_{tag}\n"
        f"), p_{tag} AS (\n"
        f"  SELECT doc_id,\n"
        f"         coalesce(list_sum(list_transform(ps[1:i], x -> length(x))), 0)\n"
        f"         + coalesce(list_sum(list_transform(ms[1:i-1], x -> length(x))), 0)\n"
        f"           AS mstart,\n"
        f"         {adjust}\n"
        f"  FROM i_{tag}\n"
        f"), s_{tag} AS (\n"
        f"  SELECT doc_id, CAST(mstart + plen AS BIGINT) AS start_char,\n"
        f"         CAST(mstart + plen + slen AS BIGINT) AS end_char,\n"
        f"         '{kind}' AS kind, {prio} AS prio\n"
        f"  FROM p_{tag} WHERE slen > 0\n"
        f")"
    )


def _deid_spans_ctes() -> str:
    """Shared DuckDB CTE body ending in ``ku5`` = the kernel's kept spans,
    generated from the same pattern constants as the kernel. Kernel
    claiming semantics: detectors run in ``PII_PATTERNS`` order and a span
    is kept iff it does not overlap an already-KEPT span — suppressed
    spans claim nothing. Modeled as a 6-level chained anti-join (``k_*`` /
    cumulative ``ku*`` CTEs), not one flat pass, because a flat "overlaps
    any lower-prio span" test would wrongly let a *suppressed* span
    suppress others."""
    pat_name = (
        r"(?i)(?:Patient|Name)\s*[:\-]\s*([A-Za-z\s]+?)"
        r"(\n|,|\s+(?:Age|DOB|Date|Gender|Sex|Diagnosis|Rx|BP))"
    )
    pat_name_prefix = r"(?i)^(?:Patient|Name)\s*[:\-]\s*"
    pat_doctor = (
        r"(?im)(?:Dr\.?|Doctor|Physician)\s*[:\-]?\s*([A-Za-z\.\s]+?)"
        r"(\n|,|$|\s+(?:Patient|Hospital|Clinic|Date|Diagnosis|Rx|Age|BP))"
    )
    pat_doctor_prefix = r"(?i)^(?:Dr\.?|Doctor|Physician)\s*[:\-]?\s*"
    date_full = r"(?i)\b(?:" + _DATE_MASK_PATTERN + r")\b"
    id_full = r"\b" + _ID_SPAN_PATTERN + r"\b"
    phone_full = r"\b" + _PHONE_SPAN_PATTERN + r"\b"
    pat_age = r"(?i)(?:Age)\s*[:\-]\s*([0-9]+)"
    pat_age_prefix = r"(?i)^(?:Age)\s*[:\-]\s*"
    levels = ["pname", "pdoc", "pdate", "pid", "pphone", "page"]
    keeps = []
    for n, tag in enumerate(levels):
        if n == 0:
            keeps.append(f"k_{tag} AS (SELECT * FROM s_{tag})")
            keeps.append(f"ku{n} AS (SELECT * FROM k_{tag})")
        else:
            keeps.append(
                f"k_{tag} AS (\n"
                f"  SELECT a.* FROM s_{tag} a WHERE NOT EXISTS (\n"
                f"    SELECT 1 FROM ku{n-1} b\n"
                f"    WHERE b.doc_id = a.doc_id\n"
                f"      AND b.start_char < a.end_char AND a.start_char < b.end_char))"
            )
            keeps.append(
                f"ku{n} AS (SELECT * FROM ku{n-1} UNION ALL SELECT * FROM k_{tag})"
            )
    return (
        "dd AS (\n"
        f"  SELECT doc_id, {_pii_sql()} AS s FROM documents\n"
        "),\n"
        + _deid_span_kind_ctes("pname", "NAME", pat_name, 1, pat_name_prefix)
        + ",\n"
        + _deid_span_kind_ctes("pdoc", "NAME", pat_doctor, 2, pat_doctor_prefix)
        + ",\n"
        + _deid_span_kind_ctes("pdate", "DATE", date_full, 3)
        + ",\n"
        + _deid_span_kind_ctes("pid", "ID", id_full, 4)
        + ",\n"
        + _deid_span_kind_ctes("pphone", "PHONE", phone_full, 5)
        + ",\n"
        + _deid_span_kind_ctes("page", "AGE", pat_age, 6, pat_age_prefix)
        + ",\n"
        + ",\n".join(keeps)
    )


def _deid_spans_sql() -> str:
    return (
        f"WITH {_deid_spans_ctes()}\n"
        "SELECT doc_id, start_char, end_char, kind FROM ku5\n"
    )


def _deid_mask_sql() -> str:
    """Masked-text reconstruction from the kept spans: splice
    ``[KIND]`` over each span in start order (Python kernel:
    ``text[cursor:s] + '[KIND]'`` pieces + tail)."""
    return f"""
WITH {_deid_spans_ctes()},
lagged AS (
  SELECT doc_id, start_char, end_char, kind,
         coalesce(lag(end_char) OVER (PARTITION BY doc_id ORDER BY start_char), 0)
           AS prev_end
  FROM ku5
), pieces AS (
  SELECT l.doc_id,
         string_agg(substr(d.s, CAST(l.prev_end + 1 AS INTEGER),
                           CAST(l.start_char - l.prev_end AS INTEGER))
                    || '[' || l.kind || ']', '' ORDER BY l.start_char) AS head,
         max(l.end_char) AS last_end
  FROM lagged l JOIN dd d USING (doc_id)
  GROUP BY l.doc_id
)
SELECT d.doc_id,
       CASE WHEN p.doc_id IS NULL THEN d.s
            ELSE p.head || substr(d.s, CAST(p.last_end + 1 AS INTEGER)) END
         AS masked_text
FROM dd d LEFT JOIN pieces p USING (doc_id)
"""


SQL_DEID_SPANS = _deid_spans_sql()
SQL_DEID_MASK = _deid_mask_sql()


def q_deid_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-CHECKED: the kernel's full multi-kind ``masked_text`` vs a
    DuckDB reconstruction that splices ``[KIND]`` over the independently
    recomputed kept spans — with `deid_spans`, the complete
    de-identification output (spans AND masking) is oracle-verified."""
    from .operators.extract import deid_udf

    return _pii_docs(spark, sf_dir).select(
        "doc_id",
        deid_udf(F.col("ctext")).getField("masked_text").alias("masked_text"),
    )


# --------------------------------------------------------------------------
# CER — character error rate of the fusion stage vs the raw text
# (evaluation harness metric, tests/evaluate_metrics.py:14-16; built-in
# levenshtein exists in both engines)
# --------------------------------------------------------------------------

def q_cer(spark: SparkSession, sf_dir: str) -> DataFrame:
    tokens = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    fused = F.array_join(
        F.transform(
            tokens,
            lambda x: F.when(x.rlike(_NUM_RE), F.translate(x, "OlI", "011"))
            .otherwise(F.translate(x, "01", "Ol")),
        ),
        " ",
    )
    return (
        _docs(spark, sf_dir)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            "doc_id",
            F.round(
                F.levenshtein(fused, F.col("text"))
                / F.greatest(F.length("text"), F.lit(1)),
                6,
            ).alias("cer"),
        )
    )


SQL_CER = f"""
WITH fused AS (
  SELECT doc_id, text,
         array_to_string(
           list_transform(
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''),
             x -> CASE WHEN regexp_matches(x, '{_NUM_RE}')
                       THEN translate(x, 'OlI', '011')
                       ELSE translate(x, '01', 'Ol') END),
           ' ') AS f
  FROM documents
)
SELECT doc_id,
       round(CAST(levenshtein(f, text) AS DOUBLE) / greatest(length(text), 1), 6) AS cer
FROM fused
"""


# --------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs (exact small-scale form; the
# LSH-bucketed variant is operators/similarity.ann_lsh_topk)
# --------------------------------------------------------------------------

EMBED_DUP_THRESHOLD = 0.2
EMBED_DUP_N = 100


def q_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") < EMBED_DUP_N)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
    )

    def norm(c):
        return F.sqrt(
            F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda s, x: s + x)
        )

    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", F.round(dot / (norm(F.col("va")) * norm(F.col("vb"))), 6))
        .filter(F.col("cosine") >= EMBED_DUP_THRESHOLD)
        .select("vec_a", "vec_b", "cosine")
    )


SQL_EMBED_NEAR_DUP = f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id < {EMBED_DUP_N}
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.v, b.v) /
             (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
FROM emb a JOIN emb b ON a.vec_id < b.vec_id
-- gate on the 6dp-ROUNDED cosine, matching the Spark side exactly (a raw
-- cosine in [threshold-5e-7, threshold) must flip identically in both engines)
WHERE round(list_dot_product(a.v, b.v) /
      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
      >= {EMBED_DUP_THRESHOLD}
"""


# --------------------------------------------------------------------------
# Embedding-dedup canonicalization: the third pair source through the SAME
# distributed connected-components operator (exact-jaccard and MinHash-LSH
# pairs are already oracled via dedup_keepers / dedup_keepers_minhash) —
# completes the dedup family: every candidate generator's keeper verdict is
# hash-verified against a DuckDB recursive-CTE transitive closure.
# --------------------------------------------------------------------------


EMBED_KEEPER_THRESHOLD = 0.3  # 0.2 merges everything into one component


def _min_label_components(pairs) -> Dict[int, int]:
    """(a, b) edge list -> {node: min id of its connected component} —
    the exact fixpoint of ``operators.dedup.connected_components``
    (cluster_id = min doc_id of the component), via min-rooted union-find
    on the driver for BOUNDED pair sets (round 7, guide §5: the
    dimension-sized collect class)."""
    parent: Dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {nd: find(nd) for nd in parent}


def q_embed_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round 7: the pair universe is bounded by EMBED_DUP_N = 100 vectors
    # at any SF, so the iterative pointer-jumping rounds are replaced by a
    # bounded collect + driver-side union-find with the identical
    # min-id-per-component labels; pair generation (all float math) stays
    # in Spark unchanged.
    pair_rows = (
        q_embed_near_dup(spark, sf_dir)
        .filter(F.col("cosine") >= EMBED_KEEPER_THRESHOLD)
        .select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"))
    ).collect()
    labels = _min_label_components(
        [(r["doc_a"], r["doc_b"]) for r in pair_rows]
    )
    comps = spark.createDataFrame(
        list(labels.items()) or [],
        "doc_id long, cluster_id long",
    )
    vecs = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") < EMBED_DUP_N)
        .select("vec_id")
    )
    cluster = F.coalesce("cluster_id", F.col("vec_id"))
    return vecs.join(
        F.broadcast(comps), vecs["vec_id"] == comps["doc_id"], "left"
    ).select(
        "vec_id",
        cluster.alias("cluster_id"),
        (cluster == F.col("vec_id")).cast("long").alias("keep"),
    )


SQL_EMBED_KEEPERS = f"""
WITH RECURSIVE emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id < {EMBED_DUP_N}
), epairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM emb a JOIN emb b ON a.vec_id < b.vec_id
  -- 6dp-rounded gate = Spark side (q_embed_keepers filters the rounded
  -- cosine); a boundary pair must flip identically or a whole component's
  -- cluster_id/keep diverges (ADVICE r04)
  WHERE round(list_dot_product(a.v, b.v) /
        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
        >= {EMBED_KEEPER_THRESHOLD}
), edges AS (
  SELECT vec_a AS src, vec_b AS dst FROM epairs
  UNION
  SELECT vec_b AS src, vec_a AS dst FROM epairs
), reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), labels AS (
  SELECT src AS vec_id, least(min(dst), src) AS cluster_id
  FROM reach GROUP BY src
)
SELECT e.vec_id,
       coalesce(l.cluster_id, e.vec_id) AS cluster_id,
       CAST(CASE WHEN coalesce(l.cluster_id, e.vec_id) = e.vec_id
                 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM emb e LEFT JOIN labels l ON e.vec_id = l.vec_id
"""


# --------------------------------------------------------------------------
# Event sessionization: lag-gap rule (window functions, SURVEY §2.7)
# --------------------------------------------------------------------------

SESSION_GAP_MIN = 30


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = (
        _events(spark, sf_dir)
        .withColumn("tsec", F.date_trunc("second", F.col("ts")))
        .withColumn("prev", F.lag("tsec").over(w))
        .withColumn(
            "new_session",
            F.when(
                F.col("prev").isNull()
                | (F.expr("timestampdiff(SECOND, prev, tsec)") > SESSION_GAP_MIN * 60),
                1,
            ).otherwise(0),
        )
    )
    sess = ev.withColumn("session_no", F.sum("new_session").over(w))
    return sess.groupBy("user_id").agg(
        F.countDistinct("session_no").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


SQL_SESSIONIZE = f"""
WITH base AS (
  SELECT user_id, ts, event_id,
         date_trunc('second', ts) AS tsec
  FROM events
), ev AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(tsec) OVER w IS NULL
                   OR date_diff('second', lag(tsec) OVER w, tsec)
                      > {SESSION_GAP_MIN} * 60 THEN 1 ELSE 0 END AS new_session
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_no
  FROM ev
)
SELECT user_id, count(DISTINCT session_no) AS n_sessions, count(*) AS n_events
FROM sess GROUP BY user_id
"""


# --------------------------------------------------------------------------
# Windowed event aggregation (streaming-shaped batch op over events)
# --------------------------------------------------------------------------

def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _events(spark, sf_dir)
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


SQL_EVENTS_HOURLY = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n_events, round(sum(value), 4) AS total_value
FROM events
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Corpus vocabulary statistics: top-k most frequent word bigrams — the
# vocab/frequency analysis a training-data pipeline runs before tokenizer
# or dedup threshold decisions. Explode → hash-agg count (map-side
# combined) → global top-k; ties broken lexically for determinism.
# --------------------------------------------------------------------------

TOP_NGRAMS_N = 2
TOP_NGRAMS_K = 50


def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    tcol = F.col("t")
    grams = F.when(
        F.size(tcol) >= TOP_NGRAMS_N,
        F.transform(
            F.sequence(F.lit(0), F.size(tcol) - TOP_NGRAMS_N),
            lambda i: F.array_join(F.slice(tcol, i + 1, TOP_NGRAMS_N), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        token_barrier(
            _docs(spark, sf_dir),
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit(_TOKEN_PATTERN), 0
            ),
        )
        .select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("ngram"))
        .limit(TOP_NGRAMS_K)
    )


SQL_TOP_NGRAMS = f"""
WITH toks AS (
  SELECT regexp_extract_all(lower(text), '{_TOKEN_PATTERN}') AS t FROM documents
), grams AS (
  SELECT unnest(list_transform(
           range(1, greatest(len(t) - {TOP_NGRAMS_N} + 1, 0) + 1),
           i -> array_to_string(t[i : i + {TOP_NGRAMS_N} - 1], ' '))) AS ngram
  FROM toks
)
SELECT ngram, CAST(count(*) AS BIGINT) AS n
FROM grams GROUP BY ngram
ORDER BY n DESC, ngram ASC LIMIT {TOP_NGRAMS_K}
"""


# --------------------------------------------------------------------------
# As-of join over the events stream: each purchase matched to the user's
# most recent at-or-before non-purchase event (operators/joins.asof_join —
# the union/sort/last-value composition); oracle uses DuckDB's NATIVE
# ``ASOF LEFT JOIN`` so two independent as-of implementations must agree.
# The right side is deduplicated to one row per (user_id, ts) — max
# event_id, resolved identically in both engines — so the as-of pick is
# well-defined even on timestamp ties.
# --------------------------------------------------------------------------

def q_asof_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.joins import asof_join

    ev = _events(spark, sf_dir)
    left = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.round("value", 6).alias("value")
    )
    nonp = ev.filter(F.col("event_type") != "purchase")
    picked = nonp.groupBy("user_id", "ts").agg(F.max("event_id").alias("m"))
    right = picked.join(
        nonp.select(
            F.col("event_id").alias("m"),
            F.col("event_type").alias("prior_type"),
            F.round("value", 6).alias("prior_value"),
        ),
        "m",
    ).select("user_id", "ts", F.col("m").alias("prior_event_id"), "prior_type", "prior_value")
    out = asof_join(left, right, on="ts", by=("user_id",))
    gap = F.expr(
        "timestampdiff(SECOND, date_trunc('second', ts_r), date_trunc('second', ts))"
    )
    return out.select(
        "event_id",
        "user_id",
        "value",
        F.col("prior_event_id_r").alias("prior_event_id"),
        F.col("prior_type_r").alias("prior_type"),
        F.col("prior_value_r").alias("prior_value"),
        F.when(F.col("ts_r").isNotNull(), gap).cast("long").alias("gap_sec"),
    )


SQL_ASOF_EVENTS = """
WITH l AS (
  SELECT user_id, ts, event_id, round(value, 6) AS value
  FROM events WHERE event_type = 'purchase'
), g AS (
  SELECT user_id, ts, max(event_id) AS m
  FROM events WHERE event_type <> 'purchase' GROUP BY user_id, ts
), r AS (
  SELECT g.user_id, g.ts, g.m AS prior_event_id,
         e.event_type AS prior_type, round(e.value, 6) AS prior_value
  FROM g JOIN events e ON e.event_id = g.m
)
SELECT l.event_id, l.user_id, l.value,
       r.prior_event_id, r.prior_type, r.prior_value,
       CAST(date_diff('second', date_trunc('second', r.ts),
                      date_trunc('second', l.ts)) AS BIGINT) AS gap_sec
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""


# --------------------------------------------------------------------------
# Range join: every event matched into its containing session interval
# (sessionize gap rule → [min,max] spans) via the bucket-expansion
# range_join operator; oracle is DuckDB's plain inequality join over the
# same session CTEs — independent implementations of interval containment.
# --------------------------------------------------------------------------

def q_range_join_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from .operators.joins import range_join

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = (
        _events(spark, sf_dir)
        .withColumn("tsec", F.date_trunc("second", F.col("ts")))
        .withColumn("prev", F.lag("tsec").over(w))
        .withColumn(
            "new_session",
            F.when(
                F.col("prev").isNull()
                | (F.expr("timestampdiff(SECOND, prev, tsec)") > SESSION_GAP_MIN * 60),
                1,
            ).otherwise(0),
        )
        .withColumn("session_no", F.sum("new_session").over(w))
    )
    intervals = ev.groupBy("user_id", "session_no").agg(
        F.min("tsec").alias("s_start"), F.max("tsec").alias("s_end")
    )
    points = ev.select("user_id", "event_id", "tsec")
    joined = range_join(
        points, intervals, point_col="tsec", start_col="s_start",
        end_col="s_end", by=("user_id",),
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("session_no").cast("long").alias("session_no"),
        F.expr("timestampdiff(SECOND, s_start, tsec)").cast("long").alias("offset_sec"),
    )


def _range_join_sessions_sql() -> str:
    return f"""
WITH base AS (
  SELECT user_id, event_id, ts, date_trunc('second', ts) AS tsec
  FROM events
), lagged AS (
  SELECT *, lag(tsec) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM base
), flagged AS (
  SELECT *, CASE WHEN prev IS NULL
                  OR date_diff('second', prev, tsec) > {SESSION_GAP_MIN} * 60
                 THEN 1 ELSE 0 END AS new_session
  FROM lagged
), sess AS (
  SELECT *, sum(new_session) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS session_no
  FROM flagged
), intervals AS (
  SELECT user_id, session_no, min(tsec) AS s_start, max(tsec) AS s_end
  FROM sess GROUP BY user_id, session_no
)
SELECT p.event_id, p.user_id,
       CAST(i.session_no AS BIGINT) AS session_no,
       CAST(date_diff('second', i.s_start, p.tsec) AS BIGINT) AS offset_sec
FROM base p JOIN intervals i
  ON p.user_id = i.user_id AND p.tsec >= i.s_start AND p.tsec <= i.s_end
"""


SQL_RANGE_JOIN_SESSIONS = _range_join_sessions_sql()


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------

def _ann_inputs(spark: SparkSession, sf_dir: str):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < ANN_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return emb, queries


def _q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-CHECKED: LSH-banded ANN (scale path). The JVM-side band
    chunks make the full band→candidate→re-rank flow DuckDB-reproducible
    (``make_ann_lsh_sql`` from the same plane constants)."""
    out = ann_lsh_topk(*_ann_inputs(spark, sf_dir), k=ANN_K)
    return out.withColumn("rank", F.col("rank").cast("long"))


def _q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-CHECKED: IVF ANN with the seeded-row coarse quantizer
    (``make_ann_ivf_sql`` reproduces assignment + probe + re-rank in
    DuckDB from the same constants)."""
    out = ann_ivf_seeded_topk(*_ann_inputs(spark, sf_dir), k=ANN_K)
    return out.withColumn("rank", F.col("rank").cast("long"))


def _q_conv_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: one-``groupBy`` per-conversation metrics over the full
    extraction output (the bench headline's grouped pass)."""
    from pyspark.sql.window import Window

    from .plans.pipeline import per_conversation_metrics, run_extraction

    docs = _docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy("doc_id")
    transcripts = docs.select(
        F.col("source").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        _clinical_col().alias("text"),
        F.lit("").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    return per_conversation_metrics(run_extraction(transcripts))


def _q_extract_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-CHECKED cross-implementation slice of the flagship extraction
    chain: the PYTHON KERNEL's per-turn ``document_type``/``urgency``
    (``reference.extract_turn`` via the Arrow UDF — the rows-only
    ``extract_full`` path) checked against the independent *relational*
    C1/C2 SQL forms. Dictionary corrections upstream of the kernel's
    classifier provably do not flip any classification on the corpus — the
    driver hash IS that proof, re-established every round."""
    from .plans.pipeline import run_extraction

    docs = _docs(spark, sf_dir)
    transcripts = docs.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        _clinical_col().alias("text"),
        F.lit("").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    return run_extraction(transcripts).select(
        F.col("conv_id").cast("bigint").alias("doc_id"),
        F.col("result.document_type").alias("document_type"),
        F.col("result.urgency").alias("urgency"),
    )


SQL_EXTRACT_CLASS = f"""
WITH c AS ({SQL_CLASSIFY}),
u AS ({SQL_URGENCY})
SELECT c.doc_id, c.document_type, u.urgency
FROM c JOIN u USING (doc_id)
"""


def _q_conv_metrics_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-CHECKED: the kernel-free ordering/contiguity slice of
    ``conv_metrics`` — the north_star stable-turn-ordering invariant
    (``ordered_ok``) computed by the same one-``groupBy`` plan
    (``plans/pipeline.py::per_conversation_order``), oracled in DuckDB with
    window aggregates over raw ``(conv_id, turn_idx)``."""
    from pyspark.sql.window import Window

    from .plans.pipeline import per_conversation_order

    docs = _docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy("doc_id")
    transcripts = docs.select(
        F.col("source").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
    )
    return per_conversation_order(transcripts)


SQL_CONV_METRICS_ORDER = """
WITH t AS (
  SELECT source AS conv_id,
         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS BIGINT) AS turn_idx
  FROM documents
)
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(count(DISTINCT turn_idx) AS BIGINT) AS n_distinct_turns,
       CAST(min(turn_idx) AS BIGINT) AS min_turn,
       CAST(max(turn_idx) AS BIGINT) AS max_turn,
       CAST(CASE WHEN min(turn_idx) = 0
                  AND max(turn_idx) = count(DISTINCT turn_idx) - 1
                  AND count(DISTINCT turn_idx) = count(*)
                 THEN 1 ELSE 0 END AS BIGINT) AS ordered_ok
FROM t GROUP BY conv_id
"""


# --------------------------------------------------------------------------
# Exact-substring duplication signal (`dup_spans`): the Lee et al. 2022
# ("Deduplicating Training Data Makes Language Models Better") cross-doc
# exact-span measure, the complement of the dedup family's whole-doc
# (exact/MinHash/SimHash/embedding) and winnow (containment) signals —
# per document, the fraction of k-token windows whose 60-bit md5 window
# hash also occurs in ANOTHER document. Relational end to end: one
# token-linear explode, one hash agg on window hash (count_distinct doc),
# one equi-join back, one per-doc agg — two shuffles total, no all-pairs
# anywhere, so the plan survives 100 TB (window hashes are the dedup-scale
# analogue of the suffix-array pass in the paper). Runs over the clinical
# prelude (doc_id % 8 shares one of 8 snippet preludes across docs, so
# cross-doc duplicate windows provably exist; the word-soup bodies supply
# the unique windows).
# --------------------------------------------------------------------------

DUP_SPAN_K = 5  # tokens per window
DUP_SPAN_MAX_FRAC = 0.5  # keep gate: at most half the windows duplicated


def _window_hashes(toks_col, k: int):
    """k-token window md5-prefix60 hashes from a MATERIALIZED token-array
    column (must sit behind an exchange — HOF lambdas re-evaluate a regexp
    argument per window; see operators/dedup._shingle_col)."""
    from .functions.hashing import md5_prefix60_spark

    # sequence(0, n) DESCENDS for n < 0 — guard short docs to an empty list
    starts = F.when(
        F.size(toks_col) >= k, F.sequence(F.lit(0), F.size(toks_col) - k)
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        starts,
        lambda i: md5_prefix60_spark(
            F.concat_ws(" ", F.slice(toks_col, i + 1, k))
        ),
    )


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", _clinical_col().alias("ctext"))
    k = DUP_SPAN_K
    toked = token_barrier(
        docs,
        F.regexp_extract_all(F.lower(F.col("ctext")), F.lit(_TOKEN_PATTERN), 0),
        keep_cols=("doc_id",),
    )
    windows = toked.select(
        "doc_id", F.explode(_window_hashes(F.col("t"), k)).alias("whash")
    )
    wc = windows.groupBy("whash").agg(
        F.count_distinct("doc_id").alias("ndocs")
    )
    per = (
        windows.join(wc, "whash")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_windows"),
            F.sum((F.col("ndocs") >= 2).cast("long")).alias("n_dup_windows"),
        )
    )
    frac = F.round(
        F.col("n_dup_windows") / F.greatest(F.col("n_windows"), F.lit(1)), 6
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.coalesce(frac, F.lit(0.0)).alias("dup_frac"),
            (F.coalesce(frac, F.lit(0.0)) <= DUP_SPAN_MAX_FRAC)
            .cast("long")
            .alias("keep"),
        )
    )


def _sql_dup_spans() -> str:
    from .functions.hashing import md5_prefix60_sql

    k = DUP_SPAN_K
    whash = md5_prefix60_sql(f"array_to_string(t[i + 1 : i + {k}], ' ')")
    return f"""
WITH d AS (
  SELECT doc_id, {_clinical_sql()} AS ctext FROM documents
), toks AS (
  SELECT doc_id, regexp_extract_all(lower(ctext), '{_TOKEN_PATTERN}') AS t
  FROM d
), wins AS (
  SELECT doc_id, {whash} AS whash
  FROM (
    SELECT doc_id, t,
           unnest(range(0, greatest(len(t) - {k} + 1, 0))) AS i
    FROM toks
  )
), wc AS (
  SELECT whash, count(DISTINCT doc_id) AS ndocs FROM wins GROUP BY whash
), per AS (
  SELECT w.doc_id, count(*) AS n_windows,
         sum(CASE WHEN c.ndocs >= 2 THEN 1 ELSE 0 END) AS n_dup_windows
  FROM wins w JOIN wc c USING (whash) GROUP BY w.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(p.n_windows, 0) AS BIGINT) AS n_windows,
       CAST(coalesce(p.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
       coalesce(round(p.n_dup_windows / greatest(p.n_windows, 1), 6), 0.0)
         AS dup_frac,
       CAST(CASE WHEN coalesce(
                round(p.n_dup_windows / greatest(p.n_windows, 1), 6), 0.0)
                <= {DUP_SPAN_MAX_FRAC} THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM d LEFT JOIN per p USING (doc_id)
"""


# --------------------------------------------------------------------------
# From-scratch HyperLogLog distinct-count sketch (`approx_distinct`):
# neither engine's built-in approx_count_distinct can cross-check the
# other (different hash families), so the sketch is built from first
# principles on the SHARED md5-prefix60 hash — bucket = h % m, rho =
# leading-zero rank of the remaining 54 bits computed EXACTLY via integer
# base-2 string length (no float log2, whose power-of-two boundaries could
# disagree cross-engine) — making the whole estimator hash-checkable.
# Flajolet et al. 2007 estimator with the small-range linear-counting
# correction; the register fold runs in pinned bucket order (sorted list
# aggregation) so the double sum is bitwise identical in both engines.
# Scale shape: one hash agg to m=64 registers (map-side combinable), then
# a 64-row fold — the sketch every 100 TB cardinality dashboard needs,
# with the exact count alongside for the (small-SF) honesty check.
# --------------------------------------------------------------------------

HLL_M = 64  # registers
_HLL_ALPHA = 0.709  # alpha_64 (Flajolet et al. 2007, m >= 64)


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.hashing import md5_prefix60_spark

    toks = _docs(spark, sf_dir).select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(_TOKEN_PATTERN), 0)
        ).alias("token")
    )
    h = md5_prefix60_spark(F.col("token"))
    bucket = F.pmod(h, F.lit(HLL_M))
    # integer shift, NOT h/64.0: a 60-bit value exceeds double precision
    # (2^53) and float division would corrupt the low bits cross-engine
    rest = F.shiftrightunsigned(h, 6)  # 54 remaining bits
    # exact bit length via base-2 string: bit_length(0) handled by the
    # rho cap (rest = 0 → rho = 55, the all-zeros rank)
    bitlen = F.length(F.conv(rest.cast("string"), 10, 2))
    rho = F.when(rest == 0, F.lit(55)).otherwise(55 - bitlen)
    regs = (
        toks.select(bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("reg"))
    )
    # fold registers in bucket order; absent buckets count as register 0
    folded = regs.agg(
        F.sort_array(F.collect_list(F.struct("bucket", "reg"))).alias("rs")
    ).select(
        F.aggregate(
            F.col("rs"), F.lit(0.0), lambda acc, x: acc + F.pow(2.0, -x["reg"])
        ).alias("present_sum"),
        F.size("rs").alias("n_present"),
    )
    m = float(HLL_M)
    raw_est = F.lit(_HLL_ALPHA * m * m) / (
        F.col("present_sum") + (F.lit(HLL_M) - F.col("n_present"))
    )
    zeros = (F.lit(HLL_M) - F.col("n_present")).cast("double")
    est = F.when(
        (raw_est <= 2.5 * m) & (zeros > 0),
        F.lit(m) * F.log(F.lit(m) / zeros),
    ).otherwise(raw_est)
    exact = toks.agg(F.count_distinct("token").alias("n_exact"))
    return folded.crossJoin(exact).select(
        F.col("n_exact").cast("long").alias("n_exact"),
        F.round(est, 6).alias("hll_estimate"),
        F.round(F.abs(est - F.col("n_exact")) / F.col("n_exact"), 6).alias(
            "rel_error"
        ),
    )


def _sql_approx_distinct() -> str:
    from .functions.hashing import md5_prefix60_sql

    h = md5_prefix60_sql("token")
    m = HLL_M
    return f"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(lower(text), '{_TOKEN_PATTERN}')) AS token
  FROM documents
), hashed AS (
  -- integer shift, not /64.0: 60-bit values exceed double precision
  SELECT ({h}) % {m} AS bucket,
         ({h}) >> 6 AS rest
  FROM toks
), regs AS (
  SELECT bucket,
         max(CASE WHEN rest = 0 THEN 55
                  ELSE 55 - length(bin(rest)) END) AS reg
  FROM hashed GROUP BY bucket
), folded AS (
  SELECT list_sum(list(pow(2.0, -reg) ORDER BY bucket)) AS present_sum,
         count(*) AS n_present
  FROM regs
), est AS (
  SELECT CASE
           WHEN ({_HLL_ALPHA} * {m} * {m})
                / (present_sum + ({m} - n_present)) <= 2.5 * {m}
                AND ({m} - n_present) > 0
           THEN {m} * ln({m} / CAST({m} - n_present AS DOUBLE))
           ELSE ({_HLL_ALPHA} * {m} * {m})
                / (present_sum + ({m} - n_present))
         END AS e
  FROM folded
)
SELECT CAST((SELECT count(DISTINCT token) FROM toks) AS BIGINT) AS n_exact,
       round(e, 6) AS hll_estimate,
       round(abs(e - (SELECT count(DISTINCT token) FROM toks))
             / (SELECT count(DISTINCT token) FROM toks), 6) AS rel_error
FROM est
"""


# --------------------------------------------------------------------------
# difflib scorer oracle (`difflib_match`): hash-checks the LAST remaining
# non-trivially-SQL scorer — difflib's Ratcliff/Obershelp ratio, the T4
# TokenCorrector's close-match layer (functions/textops.py:93,
# CloseMatchIndex; ref src/nlp/block_parser.py:281-322) — against a DuckDB
# work-list recursive CTE. Per (term, token) pair the recursion repeatedly
# finds the LEFTMOST-LONGEST common substring (difflib find_longest_match
# tie-break: max k, then min i, then min j — computed as the lexicographic
# min of [-k, i, j] over all (i, j) start pairs, where the common-prefix
# length at (i, j) is max(L · [substr equal at length L]) — exact because
# prefixes are nested) and recurses on the left/right flanks; matched
# chars M = sum of block sizes, ratio = 2·M/(la+lb) — bitwise-identical
# integer arithmetic. Candidates are pruned by difflib's own provable
# length bound 2·min(la,lb)/(la+lb) >= cutoff; the lookup tie-break
# (highest ratio, then lexicographically LARGEST word — difflib
# nlargest over (ratio, word)) is row_number() ORDER BY ratio DESC, term
# DESC. Direction matters in principle (set_seq1(cand)/set_seq2(word)),
# so the SQL fixes a=term, b=token exactly like the kernel. With this,
# the genuinely non-SQL residue is the HTML parser and strategy
# keep-best only. DRIVER_CAP_OVERFLOW; replayed by check_oracles.
# --------------------------------------------------------------------------

DIFFLIB_CUTOFF = 0.84  # TokenCorrector's medical similarity_cutoff


def q_difflib_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dictionaries import DRUGS_SINGLE

    subs, dels = _fuzzy_prelude_terms()
    idx = (F.col("doc_id") % 16 + 1).cast("int")

    def lit_at(terms):
        return F.element_at(F.array(*[F.lit(t) for t in terms]), idx)

    toks = F.concat(
        F.array(lit_at(subs), lit_at(dels)),
        F.slice(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]{3,}"), 0),
            1,
            1,
        ),
    )
    words = _docs(spark, sf_dir).select(
        "doc_id", F.posexplode(toks).alias("word_idx", "token")
    )
    vocab = sorted({t.lower() for t in DRUGS_SINGLE})
    cutoff = DIFFLIB_CUTOFF

    @F.pandas_udf("match_term string, ratio double")
    def score(tokens: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        import difflib

        from htep_spark.functions.fuzzy import CloseMatchIndex

        index = CloseMatchIndex(vocab)
        memo: dict = {}
        for series in tokens:
            rows = []
            for tok in series:
                if tok not in memo:
                    hit = index.lookup(tok, cutoff)
                    if hit is None:
                        memo[tok] = {"match_term": None, "ratio": None}
                    else:
                        sm = difflib.SequenceMatcher(None, hit, tok)
                        memo[tok] = {
                            "match_term": hit,
                            "ratio": sm.ratio(),
                        }
                rows.append(memo[tok])
            yield pd.DataFrame(rows, columns=["match_term", "ratio"])

    return words.select(
        "doc_id",
        F.col("word_idx").cast("long").alias("word_idx"),
        "token",
        score(F.col("token")).alias("r"),
    ).select(
        "doc_id",
        "word_idx",
        "token",
        F.col("r.match_term").alias("match_term"),
        F.round("r.ratio", 6).alias("ratio"),
    )


def _sql_difflib_match() -> str:
    from .dictionaries import DRUGS_SINGLE

    subs, dels = _fuzzy_prelude_terms()
    vocab = sorted({t.lower() for t in DRUGS_SINGLE})

    def sql_list(terms):
        return "[" + ", ".join(f"'{t}'" for t in terms) + "]"

    dict_rows = ",\n    ".join(f"('{t}')" for t in vocab)
    cutoff = DIFFLIB_CUTOFF
    # leftmost-longest common substring of (a, b) as lexicographic min of
    # [-k, i, j]; prefix length via max(L * eq(L)) (nested prefixes)
    best = """
      list_sort(flatten(list_transform(range(1, length(a) + 1), i ->
        list_transform(range(1, length(b) + 1), j ->
          [- list_max(list_transform(
                 range(0, least(length(a) - i + 1, length(b) - j + 1) + 1),
                 L -> CASE WHEN substr(a, i, L) = substr(b, j, L)
                           THEN L ELSE 0 END)),
           i, j]))))[1]
    """
    return f"""
WITH RECURSIVE dict(term) AS (
  VALUES {dict_rows}
), toks AS (
  SELECT doc_id,
         list_concat(
           [{sql_list(subs)}[(doc_id % 16) + 1],
            {sql_list(dels)}[(doc_id % 16) + 1]],
           regexp_extract_all(lower(text), '[a-z]{{3,}}')[1:1]
         ) AS ws
  FROM documents
), words AS (
  SELECT doc_id, i - 1 AS word_idx, ws[i] AS token
  FROM (SELECT doc_id, ws, unnest(range(1, len(ws)+1)) AS i FROM toks)
), utoks AS (
  SELECT DISTINCT token FROM words
), cand AS (
  -- difflib's own provable bound: ratio <= 2*min(la,lb)/(la+lb)
  SELECT u.token, d.term
  FROM utoks u JOIN dict d
    ON 2.0 * least(length(u.token), length(d.term))
       / (length(u.token) + length(d.term)) >= {cutoff}
), seg AS (
  -- work-list recursion: a = candidate term, b = token (the kernel's
  -- set_seq1/set_seq2 direction); each pending (k = 0) segment either
  -- dies (no common substring) or emits one done row carrying the block
  -- size (part 1) plus left/right flank segments (parts 2/3)
  SELECT token, term, term AS a, token AS b, 0 AS k FROM cand
  UNION ALL
  SELECT token, term,
         CASE part WHEN 1 THEN '' WHEN 2 THEN substr(a, 1, bi - 1)
                   ELSE substr(a, bi + bk) END AS a,
         CASE part WHEN 1 THEN '' WHEN 2 THEN substr(b, 1, bj - 1)
                   ELSE substr(b, bj + bk) END AS b,
         CASE part WHEN 1 THEN bk ELSE 0 END AS k
  FROM (
    SELECT token, term, a, b, -(bt[1]) AS bk, bt[2] AS bi, bt[3] AS bj
    FROM (SELECT token, term, a, b, {best} AS bt FROM seg
          WHERE length(a) > 0 AND length(b) > 0 AND k = 0)
  ) s CROSS JOIN unnest([1, 2, 3]) AS u(part)
  WHERE bk > 0
    AND (part = 1
         OR (part = 2 AND bi > 1 AND bj > 1)
         OR (part = 3 AND bi + bk <= length(a) AND bj + bk <= length(b)))
), scores AS (
  SELECT token, term,
         2.0 * sum(k) / (length(token) + length(term)) AS ratio
  FROM seg GROUP BY token, term
), best_match AS (
  SELECT token, term, ratio FROM (
    SELECT token, term, ratio,
           row_number() OVER (
             PARTITION BY token ORDER BY ratio DESC, term DESC) AS rn
    FROM scores WHERE ratio >= {cutoff}
  ) WHERE rn = 1
)
SELECT w.doc_id, CAST(w.word_idx AS BIGINT) AS word_idx, w.token,
       b.term AS match_term, round(b.ratio, 6) AS ratio
FROM words w LEFT JOIN best_match b ON b.token = w.token
"""


# --------------------------------------------------------------------------
# Exact corpus quantiles (`token_quantiles`): the percentile dashboard an
# ingest pipeline reports (doc-length p25/p50/p75/p90/p99) computed
# EXACTLY at scale — rank-based selection over the range-partitioned
# `exact_global_rank` (no single-partition sort, no approx_percentile
# cross-engine mismatch): the q-quantile is the value at rank
# ceil(q * N), deterministic for any cluster size. One more consumer of
# the global-rank operator beyond the CCNet terciles.
# --------------------------------------------------------------------------

TOKEN_QUANTILES = (0.25, 0.5, 0.75, 0.9, 0.99)


def q_token_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ranking import exact_global_rank

    counts = _docs(spark, sf_dir).select(
        "doc_id",
        F.size(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(_TOKEN_PATTERN), 0)
        ).alias("n_tokens"),
    )
    ranked = exact_global_rank(counts, "n_tokens", tie_cols=("doc_id",))
    qdf = F.broadcast(
        spark.createDataFrame([(q,) for q in TOKEN_QUANTILES], "quantile double")
    )
    return (
        ranked.crossJoin(qdf)
        .filter(
            F.col("global_rank")
            == F.ceil(F.col("quantile") * F.col("global_count"))
        )
        .select(
            "quantile",
            F.col("n_tokens").cast("long").alias("value"),
            F.col("global_rank").cast("long").alias("rank"),
            F.col("global_count").cast("long").alias("n"),
        )
    )


def _sql_token_quantiles() -> str:
    qs = ", ".join(f"({q})" for q in TOKEN_QUANTILES)
    return f"""
WITH counts AS (
  SELECT doc_id,
         len(regexp_extract_all(lower(text), '{_TOKEN_PATTERN}')) AS n_tokens
  FROM documents
), ranked AS (
  SELECT n_tokens,
         row_number() OVER (ORDER BY n_tokens, doc_id) AS global_rank,
         count(*) OVER () AS n
  FROM counts
)
SELECT q.quantile, CAST(r.n_tokens AS BIGINT) AS value,
       CAST(r.global_rank AS BIGINT) AS rank, CAST(r.n AS BIGINT) AS n
FROM ranked r JOIN (VALUES {qs}) AS q(quantile)
  ON r.global_rank = CAST(ceil(q.quantile * r.n) AS BIGINT)
"""


# --------------------------------------------------------------------------
# Character-entropy quality signal (`char_entropy`): per-doc Shannon
# entropy of the character distribution plus the implied unigram-coding
# compression ratio (entropy/8 bits) — the standard cheap proxy for
# gibberish/boilerplate detection (low entropy = repetitive filler, high
# entropy = encrypted/binary junk; both tails get flagged). Fully
# relational: explode characters → per-doc histogram (one hash agg) →
# entropy fold in PINNED character order (sorted list aggregation) so the
# float sum is bitwise identical cross-engine — the same determinism
# discipline as lm_heldout. Flag thresholds sit well clear of the corpus
# distribution's interior so both verdicts fire.
# --------------------------------------------------------------------------

# thresholds sit INSIDE the corpus distribution's tails (2-14 low and
# 2-29 high flags at every SF) so both verdict branches provably fire
ENTROPY_MIN_BITS = 4.0  # below: repetitive/filler tail
ENTROPY_MAX_BITS = 4.6  # above: symbol-soup tail


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", _clinical_col().alias("ctext"))
    chars = docs.select(
        "doc_id", F.explode(F.split(F.col("ctext"), "")).alias("ch")
    ).filter(F.col("ch") != "")
    hist = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("cnt"))
    per = (
        hist.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_chars"),
            F.sort_array(F.collect_list(F.struct("ch", "cnt"))).alias("hs"),
        )
        .select(
            "doc_id",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.size("hs").cast("long").alias("n_distinct_chars"),
            # keep the UNROUNDED entropy: the ratio below must divide the
            # raw double, never the 6dp-rounded one — a 6dp value / 8 sits
            # exactly on .5 decimal boundaries where Spark (shortest-repr
            # BigDecimal HALF_UP) and DuckDB (exact binary expansion)
            # round differently (found by the oracle on first run)
            (
                -F.aggregate(
                    F.col("hs"),
                    F.lit(0.0),
                    lambda acc, x: acc
                    + (x["cnt"] / F.col("n_chars"))
                    * F.log2(x["cnt"] / F.col("n_chars")),
                )
            ).alias("_e"),
        )
    )
    ebits = F.round(F.col("_e"), 6)
    flagged = F.when(ebits < ENTROPY_MIN_BITS, "low_entropy")
    flagged = flagged.when(ebits > ENTROPY_MAX_BITS, "high_entropy")
    return per.select(
        "doc_id",
        "n_chars",
        "n_distinct_chars",
        ebits.alias("entropy_bits"),
        F.round(F.col("_e") / 8.0, 6).alias("unigram_ratio"),
        flagged.alias("flag"),
    )


def _sql_char_entropy() -> str:
    return f"""
WITH d AS (
  SELECT doc_id, {_clinical_sql()} AS ctext FROM documents
), chars AS (
  SELECT doc_id, unnest(str_split(ctext, '')) AS ch FROM d
), hist AS (
  SELECT doc_id, ch, count(*) AS cnt FROM chars WHERE ch <> ''
  GROUP BY doc_id, ch
), tot AS (
  SELECT doc_id, sum(cnt) AS n_chars FROM hist GROUP BY doc_id
), per AS (
  -- UNROUNDED entropy here; both outputs round the raw double (see the
  -- Spark-side comment on the .5-boundary double-rounding trap)
  SELECT h.doc_id, t.n_chars, count(*) AS n_distinct_chars,
         -list_sum(list(
             (h.cnt / CAST(t.n_chars AS DOUBLE))
             * log2(h.cnt / CAST(t.n_chars AS DOUBLE))
             ORDER BY h.ch)) AS e
  FROM hist h JOIN tot t USING (doc_id)
  GROUP BY h.doc_id, t.n_chars
)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       CAST(n_distinct_chars AS BIGINT) AS n_distinct_chars,
       round(e, 6) AS entropy_bits,
       round(e / 8.0, 6) AS unigram_ratio,
       CASE WHEN round(e, 6) < {ENTROPY_MIN_BITS} THEN 'low_entropy'
            WHEN round(e, 6) > {ENTROPY_MAX_BITS} THEN 'high_entropy'
            END AS flag
FROM per
"""


# --------------------------------------------------------------------------
# Curation funnel (`curation_funnel`): the composed end-to-end keep-gate
# cascade a real training-data run executes (the Dolma / RefinedWeb /
# FineWeb recipe shape) — Gopher length/ratio rules → Gopher repetition
# rules → cross-doc exact-substring dedup gate → deterministic md5
# sampling — reported as per-source survivor counts at every stage plus
# the final token yield. Both engines COMPOSE the building blocks
# (the quality_filter, repetition_stats and dup_spans oracles, and the
# q_sample_hash gate) rather than restating them, so the funnel hash proves
# the gates agree doc-by-doc when chained, and the query doubles as the
# "switch your pipeline to this engine" integration demo. Sequential
# semantics: a doc must survive every earlier gate to count at a later
# stage.
# --------------------------------------------------------------------------


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ntok = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(_TOKEN_PATTERN), 0)
    )
    docs = _docs(spark, sf_dir).select("doc_id", "source", ntok.alias("ntok"))
    kq = q_quality_filter(spark, sf_dir).select("doc_id", F.col("keep").alias("kq"))
    kr = q_repetition_stats(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("kr")
    )
    kd = q_dup_spans(spark, sf_dir).select("doc_id", F.col("keep").alias("kd"))
    ks = q_sample_hash(spark, sf_dir).select("doc_id", F.lit(1).alias("ks"))
    j = (
        docs.join(kq, "doc_id")
        .join(kr, "doc_id")
        .join(kd, "doc_id")
        .join(ks, "doc_id", "left")
        .select(
            "source",
            "ntok",
            "kq",
            (F.col("kq") * F.col("kr")).alias("s2"),
            (F.col("kq") * F.col("kr") * F.col("kd")).alias("s3"),
            (
                F.col("kq")
                * F.col("kr")
                * F.col("kd")
                * F.coalesce("ks", F.lit(0))
            ).alias("s4"),
        )
    )
    return j.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("kq").cast("long").alias("pass_quality"),
        F.sum("s2").cast("long").alias("pass_repetition"),
        F.sum("s3").cast("long").alias("pass_dedup"),
        F.sum("s4").cast("long").alias("sampled"),
        F.sum(F.col("ntok") * F.col("s4")).cast("long").alias("kept_tokens"),
    )


def _sql_curation_funnel() -> str:
    return f"""
WITH qf AS ({SQL_QUALITY_FILTER}),
rep AS ({SQL_REPETITION_STATS}),
ds AS ({_sql_dup_spans()}),
sh AS ({SQL_SAMPLE_HASH}),
base AS (
  SELECT doc_id, source,
         len(regexp_extract_all(lower(text), '{_TOKEN_PATTERN}')) AS ntok
  FROM documents
), j AS (
  SELECT b.source, b.ntok, qf.keep AS kq,
         qf.keep * rep.keep AS s2,
         qf.keep * rep.keep * ds.keep AS s3,
         qf.keep * rep.keep * ds.keep *
           (CASE WHEN sh.doc_id IS NULL THEN 0 ELSE 1 END) AS s4
  FROM base b
  JOIN qf USING (doc_id)
  JOIN rep USING (doc_id)
  JOIN ds USING (doc_id)
  LEFT JOIN sh USING (doc_id)
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(kq) AS BIGINT) AS pass_quality,
       CAST(sum(s2) AS BIGINT) AS pass_repetition,
       CAST(sum(s3) AS BIGINT) AS pass_dedup,
       CAST(sum(s4) AS BIGINT) AS sampled,
       CAST(sum(ntok * s4) AS BIGINT) AS kept_tokens
FROM j GROUP BY source
"""


# --------------------------------------------------------------------------
# From-scratch Count-Min sketch (`count_min`): point-frequency estimation
# under sublinear memory (Cormode & Muthukrishnan 2005) — the counter
# sketch behind streaming frequency caps and join-skew detection. Built on
# the shared md5 hash (row j's counter for a token = md5(token|cmj) % w)
# so both engines materialize the IDENTICAL d×w counter table via one
# hash aggregation; the estimate for a probe token is the MIN over its d
# counters. w is sized tight against the corpus token stream so real
# over-counting occurs: the probe surface reports est vs true count per
# corpus token, hash-checking the guarantee true <= est everywhere AND the
# concrete collision behavior. Scale: counters are a (row, col) groupBy —
# map-side combinable, state d×w regardless of stream length.
# --------------------------------------------------------------------------

CM_D = 3  # depth (hash rows)
CM_W = 32  # width — tight: collisions guaranteed on the 31-token vocab


def _cm_pos_sql(expr: str, j: int) -> str:
    from .functions.hashing import md5_prefix60_sql

    salted = expr + " || '|cm" + str(j) + "'"
    return f"({md5_prefix60_sql(salted)}) % {CM_W}"


def q_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.hashing import md5_prefix60_spark

    def pos(token_col, j):
        return F.pmod(
            md5_prefix60_spark(F.concat(token_col, F.lit(f"|cm{j}"))),
            F.lit(CM_W),
        )

    toks = _docs(spark, sf_dir).select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(_TOKEN_PATTERN), 0)
        ).alias("token")
    )
    cells = toks.select(
        F.posexplode(
            F.array(*[pos(F.col("token"), j) for j in range(CM_D)])
        ).alias("row", "col")
    )
    counters = cells.groupBy("row", "col").agg(F.count("*").alias("cnt"))
    truth = toks.groupBy("token").agg(F.count("*").alias("true_count"))
    probe_cells = truth.select(
        "token",
        "true_count",
        F.posexplode(
            F.array(*[pos(F.col("token"), j) for j in range(CM_D)])
        ).alias("row", "col"),
    )
    est = (
        probe_cells.join(F.broadcast(counters), ["row", "col"])
        .groupBy("token", "true_count")
        .agg(F.min("cnt").alias("est_count"))
    )
    return est.select(
        "token",
        F.col("true_count").cast("long").alias("true_count"),
        F.col("est_count").cast("long").alias("est_count"),
        (F.col("est_count") - F.col("true_count")).cast("long").alias("overcount"),
    )


def _sql_count_min() -> str:
    pos_list = ", ".join(_cm_pos_sql("token", j) for j in range(CM_D))
    return f"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(lower(text), '{_TOKEN_PATTERN}')) AS token
  FROM documents
), cells AS (
  SELECT i - 1 AS row, p[i] AS col
  FROM (SELECT [{pos_list}] AS p, unnest(range(1, {CM_D} + 1)) AS i FROM toks)
), counters AS (
  SELECT row, col, count(*) AS cnt FROM cells GROUP BY row, col
), truth AS (
  SELECT token, count(*) AS true_count FROM toks GROUP BY token
), probe_cells AS (
  SELECT token, true_count, i - 1 AS row, p[i] AS col
  FROM (SELECT token, true_count, [{pos_list}] AS p,
               unnest(range(1, {CM_D} + 1)) AS i
        FROM truth)
), est AS (
  SELECT p.token, p.true_count, min(c.cnt) AS est_count
  FROM probe_cells p JOIN counters c USING (row, col)
  GROUP BY p.token, p.true_count
)
SELECT token, CAST(true_count AS BIGINT) AS true_count,
       CAST(est_count AS BIGINT) AS est_count,
       CAST(est_count - true_count AS BIGINT) AS overcount
FROM est
"""


# --------------------------------------------------------------------------
# From-scratch Bloom filter (`bloom_probe`): the membership/join-pruning
# primitive (semi-join filters, dynamic partition pruning) built on the
# shared md5 hash so both engines construct the IDENTICAL filter: k
# positions per element = md5(token|j) % m, the filter is just the
# DISTINCT set of positions (relational — no bitmap type needed), and a
# probe claims presence iff all k of its positions exist. m is sized
# SMALL (BLOOM_M = 128) against the corpus vocabulary so false positives actually
# occur on the fixed probe list — the probe surface hash-checks both the
# no-false-negative guarantee and the concrete FP behavior, not just the
# happy path. Scale shape: build = one distinct-agg over positions (the
# real thing would OR a bitmap per partition — same shuffle volume);
# probe = k-position explode + broadcast semi-join + all-k count.
# --------------------------------------------------------------------------

BLOOM_M = 128  # bits — deliberately tight: 9 of the 48 absent probes
# false-positive at this size on the fixed corpus vocabulary (verified at
# all three SFs), so the FP branch is provably exercised, not just possible
BLOOM_K = 3  # hash functions

# probes that are NOT corpus tokens (some will false-positive at this m/k)
BLOOM_ABSENT_PROBES = [f"absent{i:02d}" for i in range(48)]


def _bloom_pos_spark(token_col, j: int):
    from .functions.hashing import md5_prefix60_spark

    return F.pmod(
        md5_prefix60_spark(F.concat_ws("|", token_col, F.lit(str(j)))),
        F.lit(BLOOM_M),
    )


def q_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _docs(spark, sf_dir).select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(_TOKEN_PATTERN), 0)
        ).alias("token")
    )
    vocab = toks.distinct()
    bits = (
        vocab.select(
            F.explode(
                F.array(*[_bloom_pos_spark(F.col("token"), j) for j in range(BLOOM_K)])
            ).alias("pos")
        )
        .distinct()
    )
    # probe list: every corpus token (must all claim present — the
    # no-false-negative guarantee) + the fixed absent probes. The absent
    # list is anti-joined against the vocab first (ADVICE r05): if a probe
    # string ever occurred as a corpus token at some future SF it would
    # otherwise emit two contradictory rows for that token. The vocab side
    # is pre-filtered with isin() (pushed into the scan) so the anti-join
    # broadcasts a ≤48-row frame — never a vocab shuffle.
    absent = spark.createDataFrame(
        [(t, 0) for t in BLOOM_ABSENT_PROBES], "token string, in_corpus int"
    ).join(
        F.broadcast(vocab.filter(F.col("token").isin(BLOOM_ABSENT_PROBES))),
        "token",
        "left_anti",
    )
    probes = vocab.select("token", F.lit(1).alias("in_corpus")).unionByName(absent)
    ppos = probes.select(
        "token",
        "in_corpus",
        F.explode(
            F.array(*[_bloom_pos_spark(F.col("token"), j) for j in range(BLOOM_K)])
        ).alias("pos"),
    )
    hit = (
        ppos.join(F.broadcast(bits), "pos", "left_semi")
        .groupBy("token")
        .agg(F.count("*").alias("k_hits"))
    )
    return (
        probes.join(hit, "token", "left")
        .select(
            "token",
            F.col("in_corpus").cast("long").alias("in_corpus"),
            (F.coalesce("k_hits", F.lit(0)) == BLOOM_K)
            .cast("long")
            .alias("claimed_present"),
        )
        .withColumn(
            "false_positive",
            ((F.col("claimed_present") == 1) & (F.col("in_corpus") == 0))
            .cast("long"),
        )
    )


def _sql_bloom_probe() -> str:
    from .functions.hashing import md5_prefix60_sql

    def pos(expr, j):
        return f"({md5_prefix60_sql(f'{expr} || {chr(39)}|{chr(39)} || {chr(39)}{j}{chr(39)}')}) % {BLOOM_M}"

    probe_rows = ",\n    ".join(f"('{t}', 0)" for t in BLOOM_ABSENT_PROBES)
    pos_list = ", ".join(pos("token", j) for j in range(BLOOM_K))
    return f"""
WITH vocab AS (
  SELECT DISTINCT unnest(regexp_extract_all(lower(text), '{_TOKEN_PATTERN}'))
    AS token
  FROM documents
), bits AS (
  SELECT DISTINCT unnest([{pos_list}]) AS pos FROM vocab
), probes AS (
  SELECT token, 1 AS in_corpus FROM vocab
  UNION ALL
  SELECT * FROM (VALUES {probe_rows}) AS a(token, in_corpus)
  WHERE a.token NOT IN (SELECT token FROM vocab)
), ppos AS (
  SELECT token, in_corpus, unnest([{pos_list}]) AS pos FROM probes
), hit AS (
  SELECT p.token, count(*) AS k_hits
  FROM ppos p WHERE p.pos IN (SELECT pos FROM bits)
  GROUP BY p.token
)
SELECT pr.token, CAST(pr.in_corpus AS BIGINT) AS in_corpus,
       CAST(CASE WHEN coalesce(h.k_hits, 0) = {BLOOM_K} THEN 1 ELSE 0 END
            AS BIGINT) AS claimed_present,
       CAST(CASE WHEN coalesce(h.k_hits, 0) = {BLOOM_K} AND pr.in_corpus = 0
                 THEN 1 ELSE 0 END AS BIGINT) AS false_positive
FROM probes pr LEFT JOIN hit h USING (token)
"""


# --------------------------------------------------------------------------
# Mixture sampling plan (`mixture_plan`): the bridge from domain-mix
# ACCOUNTING (per-source equalizing weights) to an EXECUTABLE sampling
# plan — per source, the md5-bucket permyriad rate that hits a uniform
# target mixture under a global token budget, the expected token yield,
# and (in the same query) the plan APPLIED: documents are filtered by the
# same seed-free md5 bucketing as q_sample_hash and the achieved doc/token
# counts reported next to the expectation. Plan derivation is a tiny
# post-aggregation window (20 source rows); plan application is a
# broadcast join of the rates against the corpus — cluster-size invariant
# end to end, the multi-epoch mixture recipe of the LLM data literature
# (e.g. the Pile / Gopher sampling tables).
# --------------------------------------------------------------------------

MIXTURE_BUDGET_FRAC = 0.5  # keep half the corpus tokens overall


def q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(_TOKEN_PATTERN), 0)
    )
    bucket = _md5_bucket_spark(
        F.concat_ws("|", F.lit("doc"), F.col("doc_id")), 10_000
    )
    base = docs.select("doc_id", "source", toks.alias("ntok"), bucket.alias("bucket"))
    per = base.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("ntok").alias("n_tokens")
    )
    # corpus totals as a 1-row map-side-combinable aggregate cross-joined
    # (broadcast) back — NOT an empty-partition window, which would plan an
    # Exchange SinglePartition over the per-source rows (ADVICE r05; same
    # pattern exact_global_rank documents). Arithmetic identical: long sums
    # and counts, promoted to double by the budget fraction.
    totals = per.agg(
        F.sum("n_tokens").alias("_tot_tokens"), F.count("*").alias("_n_sources")
    )
    desired = (
        F.col("_tot_tokens") * MIXTURE_BUDGET_FRAC / F.col("_n_sources")
    )
    rates = per.crossJoin(F.broadcast(totals)).select(
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.floor(
            10_000
            * F.least(F.lit(1.0), desired / F.col("n_tokens").cast("double"))
        )
        .cast("long")
        .alias("rate_permyriad"),
    ).withColumn(
        "expected_tokens",
        F.floor(F.col("n_tokens") * F.col("rate_permyriad") / 10_000).cast(
            "long"
        ),
    )
    kept = (
        base.join(F.broadcast(rates.select("source", "rate_permyriad")), "source")
        .filter(F.col("bucket") < F.col("rate_permyriad"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("kept_docs"),
            F.sum("ntok").cast("long").alias("kept_tokens"),
        )
    )
    return rates.join(kept, "source", "left").select(
        "source",
        "n_tokens",
        "rate_permyriad",
        "expected_tokens",
        F.coalesce("kept_docs", F.lit(0)).alias("kept_docs"),
        F.coalesce("kept_tokens", F.lit(0)).alias("kept_tokens"),
    )


def _sql_mixture_plan() -> str:
    bucket = _md5_bucket_sql("'doc' || '|' || CAST(doc_id AS VARCHAR)", 10_000)
    return f"""
WITH base AS (
  SELECT doc_id, source,
         len(regexp_extract_all(lower(text), '{_TOKEN_PATTERN}')) AS ntok,
         {bucket} AS bucket
  FROM documents
), per AS (
  SELECT source, count(*) AS n_docs, sum(ntok) AS n_tokens FROM base
  GROUP BY source
), rates AS (
  SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
         CAST(floor(10000 * least(1.0,
              (sum(n_tokens) OVER () * {MIXTURE_BUDGET_FRAC} / count(*) OVER ())
              / CAST(n_tokens AS DOUBLE))) AS BIGINT) AS rate_permyriad
  FROM per
), rates2 AS (
  SELECT *, CAST(floor(n_tokens * rate_permyriad / 10000) AS BIGINT)
           AS expected_tokens
  FROM rates
), kept AS (
  SELECT b.source, CAST(count(*) AS BIGINT) AS kept_docs,
         CAST(sum(b.ntok) AS BIGINT) AS kept_tokens
  FROM base b JOIN rates2 r USING (source)
  WHERE b.bucket < r.rate_permyriad
  GROUP BY b.source
)
SELECT r.source, r.n_tokens, r.rate_permyriad, r.expected_tokens,
       coalesce(k.kept_docs, 0) AS kept_docs,
       coalesce(k.kept_tokens, 0) AS kept_tokens
FROM rates2 r LEFT JOIN kept k USING (source)
"""


# --------------------------------------------------------------------------
# Benchmark contamination check (`contamination`): the GPT-3/PaLM
# eval-leakage methodology — does any k-token n-gram of a benchmark item
# occur verbatim in the training corpus? Benchmark grams are tiny and
# BROADCAST against the corpus window hashes (the same k-token md5 windows
# as `dup_spans`), so the plan at 100 TB is one token-linear corpus pass +
# a broadcast semi-join — never a corpus shuffle keyed by benchmark. The
# benchmark set = the clinical prelude snippets (present in every doc's
# ctext by construction → contaminated verdicts provably fire) + clean
# sentences that appear nowhere (→ clean verdicts provably fire).
# --------------------------------------------------------------------------

CONTAM_K = DUP_SPAN_K  # same window size as the duplication signal

# benchmark items that must NOT appear in the corpus (the clean branch)
CONTAM_CLEAN_ITEMS = [
    "the quick zebra vaulted over seventeen purple xylophones yesterday",
    "quantum marmalade oscillates beneath the ninth crimson lighthouse",
    "seven untranslatable verbs orbit a forgotten basalt observatory",
    "my gondola of paperclips dissolved into triangular moonlight",
]


def _contam_items():
    """(bench_id, text) benchmark list — clinical snippets first, then the
    clean items; single source for both engines."""
    items = list(CLINICAL_SNIPPETS) + CONTAM_CLEAN_ITEMS
    return [(i, t) for i, t in enumerate(items)]


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = CONTAM_K

    def tok(text_col):
        return F.regexp_extract_all(F.lower(text_col), F.lit(_TOKEN_PATTERN), 0)

    bench = spark.createDataFrame(
        _contam_items(), "bench_id long, btext string"
    )
    bgrams = bench.select("bench_id", tok(F.col("btext")).alias("t")).select(
        "bench_id", F.explode(_window_hashes(F.col("t"), k)).alias("whash")
    ).distinct()
    corpus = (
        token_barrier(
            _docs(spark, sf_dir).select(
                "doc_id", _clinical_col().alias("ctext")
            ),
            tok(F.col("ctext")),
            keep_cols=("doc_id",),
        )
        .select("doc_id", F.explode(_window_hashes(F.col("t"), k)).alias("whash"))
        # NO .distinct() here: the downstream count_distinct aggregations
        # dedupe already, and a distinct would be exactly the full-corpus
        # shuffle this operator's design avoids (review r05)
    )
    # broadcast the benchmark side: it is tiny by definition
    hits = corpus.join(F.broadcast(bgrams), "whash").groupBy("bench_id").agg(
        F.count_distinct("whash").alias("n_grams_hit"),
        F.count_distinct("doc_id").alias("n_docs_hit"),
    )
    totals = bgrams.groupBy("bench_id").agg(
        F.count("*").alias("n_grams")
    )
    return (
        bench.select("bench_id")
        .join(totals, "bench_id", "left")
        .join(hits, "bench_id", "left")
        .select(
            "bench_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_grams_hit", F.lit(0)).cast("long").alias("n_grams_hit"),
            F.coalesce("n_docs_hit", F.lit(0)).cast("long").alias("n_docs_hit"),
            (F.coalesce("n_grams_hit", F.lit(0)) > 0)
            .cast("long")
            .alias("contaminated"),
        )
    )


def _sql_contamination() -> str:
    from .functions.hashing import md5_prefix60_sql

    k = CONTAM_K
    whash = md5_prefix60_sql(f"array_to_string(t[i + 1 : i + {k}], ' ')")
    bench_rows = ",\n    ".join(
        f"({i}, {_sql_quote(t)})" for i, t in _contam_items()
    )
    return f"""
WITH bench(bench_id, btext) AS (
  VALUES {bench_rows}
), bgrams AS (
  SELECT DISTINCT bench_id, {whash} AS whash
  FROM (
    SELECT bench_id, t, unnest(range(0, greatest(len(t) - {k} + 1, 0))) AS i
    FROM (SELECT bench_id,
                 regexp_extract_all(lower(btext), '{_TOKEN_PATTERN}') AS t
          FROM bench)
  )
), corpus AS (
  -- no DISTINCT: the count(DISTINCT ...) aggregations below dedupe
  SELECT doc_id, {whash} AS whash
  FROM (
    SELECT doc_id, t, unnest(range(0, greatest(len(t) - {k} + 1, 0))) AS i
    FROM (SELECT doc_id,
                 regexp_extract_all(lower({_clinical_sql()}), '{_TOKEN_PATTERN}') AS t
          FROM documents)
  )
), hits AS (
  SELECT b.bench_id, count(DISTINCT b.whash) AS n_grams_hit,
         count(DISTINCT c.doc_id) AS n_docs_hit
  FROM corpus c JOIN bgrams b USING (whash) GROUP BY b.bench_id
), totals AS (
  SELECT bench_id, count(*) AS n_grams FROM bgrams GROUP BY bench_id
)
SELECT be.bench_id,
       CAST(coalesce(t.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(h.n_grams_hit, 0) AS BIGINT) AS n_grams_hit,
       CAST(coalesce(h.n_docs_hit, 0) AS BIGINT) AS n_docs_hit,
       CAST(CASE WHEN coalesce(h.n_grams_hit, 0) > 0 THEN 1 ELSE 0 END
            AS BIGINT) AS contaminated
FROM bench be
LEFT JOIN totals t USING (bench_id)
LEFT JOIN hits h USING (bench_id)
"""


# --------------------------------------------------------------------------
# T7 fuzzy-scorer oracle (`fuzzy_ratio`, VERDICT r04 #7 stretch): hash-checks
# the REAL indel-ratio kernel (functions/fuzzy.py::indel_ratio/extract_one —
# the scorer of the drug/disease fuzzy correction, ref
# src/nlp/ocr_postprocessor.py:188-283) against a DuckDB LCS computed as a
# recursive-CTE row DP. Indel similarity = 200*LCS/(la+lb) — exact integer
# arithmetic divided once, so the doubles are bitwise identical cross-engine.
# The DP's sequential curr[j-1] dependency is eliminated with the prefix-max
# identity (LCS DP rows are monotone non-decreasing):
#     curr[j] = max(prev[j], max_{k<=j}(prev[k-1] + eq(a_i, b_k)))
# so each recursion step is one list_transform + running list_max — no
# per-cell recursion. Candidates are pruned by the provable length bound
# 200*min(la,lb)/(la+lb) >= cutoff (over-include-only — the same bound
# FuzzyMatcher uses), and extract_one's tie-break (first-seen dictionary
# order on equal scores, cutoff inclusive) is row_number() ORDER BY ratio
# DESC, dict_idx ASC. A corrupted-term prelude (1-char substitution /
# deletion of len>=7 drugs → ratio >= 100*6/7 = 85.71 / 200*6/13 = 92.3,
# both above the production cutoff 85) makes the match branches
# non-vacuous; one corpus token per doc covers the below-cutoff None
# branch. Held as DRIVER_CAP_OVERFLOW (dict at 50) — replayed by
# tools/check_oracles.py.
# --------------------------------------------------------------------------

FUZZY_RATIO_CUTOFF = 85.0  # dictionary_correct_batch's production threshold


def _fuzzy_prelude_terms():
    """16 substitution-corrupted + 16 deletion-corrupted len>=7 drug terms
    keyed by ``doc_id % 16`` — single source for the Spark literal arrays
    and the DuckDB list literals. The +1 in the substitution shift keeps
    the replacement char != the original for every i in 0..15."""
    from .dictionaries import DRUGS_SINGLE

    longs = [t for t in DRUGS_SINGLE if len(t) >= 7]
    subs, dels = [], []
    for i in range(16):
        t = longs[(i * 7) % len(longs)]
        pos = i % len(t)
        repl = chr(ord("a") + (ord(t[pos]) - ord("a") + 1 + i) % 26)
        subs.append(t[:pos] + repl + t[pos + 1 :])
        t2 = longs[(i * 5 + 3) % len(longs)]
        p2 = i % len(t2)
        dels.append(t2[:p2] + t2[p2 + 1 :])
    return subs, dels


def q_fuzzy_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dictionaries import DRUGS_SINGLE

    subs, dels = _fuzzy_prelude_terms()
    idx = (F.col("doc_id") % 16 + 1).cast("int")

    def lit_at(terms):
        return F.element_at(F.array(*[F.lit(t) for t in terms]), idx)

    toks = F.concat(
        F.array(lit_at(subs), lit_at(dels)),
        F.slice(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]{3,}"), 0),
            1,
            1,
        ),
    )
    words = _docs(spark, sf_dir).select(
        "doc_id", F.posexplode(toks).alias("word_idx", "token")
    )
    drugs = list(DRUGS_SINGLE)
    cutoff = FUZZY_RATIO_CUTOFF

    @F.pandas_udf("match_term string, ratio double")
    def score(tokens: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        from htep_spark.functions.fuzzy import get_matcher

        matcher = get_matcher(drugs)
        memo: dict = {}
        for series in tokens:
            unseen = [t for t in dict.fromkeys(series) if t not in memo]
            memo.update(zip(unseen, matcher.extract_many(unseen, cutoff)))
            rows = []
            for tok in series:
                hit = memo[tok]
                rows.append(
                    {"match_term": None, "ratio": None}
                    if hit is None
                    else {"match_term": hit[0], "ratio": hit[1]}
                )
            yield pd.DataFrame(rows, columns=["match_term", "ratio"])

    return words.select(
        "doc_id",
        F.col("word_idx").cast("long").alias("word_idx"),
        "token",
        score(F.col("token")).alias("r"),
    ).select(
        "doc_id",
        "word_idx",
        "token",
        F.col("r.match_term").alias("match_term"),
        F.round("r.ratio", 6).alias("ratio"),
    )


def _sql_fuzzy_ratio() -> str:
    from .dictionaries import DRUGS_SINGLE

    subs, dels = _fuzzy_prelude_terms()

    def sql_list(terms):
        return "[" + ", ".join(f"'{t}'" for t in terms) + "]"

    dict_rows = ",\n    ".join(
        f"('{t}', {i + 1})" for i, t in enumerate(DRUGS_SINGLE)
    )
    cutoff = FUZZY_RATIO_CUTOFF
    return f"""
WITH RECURSIVE dict(term, didx) AS (
  VALUES {dict_rows}
), toks AS (
  SELECT doc_id,
         list_concat(
           [{sql_list(subs)}[(doc_id % 16) + 1],
            {sql_list(dels)}[(doc_id % 16) + 1]],
           regexp_extract_all(lower(text), '[a-z]{{3,}}')[1:1]
         ) AS ws
  FROM documents
), words AS (
  SELECT doc_id, i - 1 AS word_idx, ws[i] AS token
  FROM (SELECT doc_id, ws, unnest(range(1, len(ws)+1)) AS i FROM toks)
), utoks AS (
  SELECT DISTINCT token FROM words
), cand AS (
  -- provable length bound: true ratio <= 200*min(la,lb)/(la+lb), so any
  -- pair failing it can never reach the cutoff (over-include-only prune)
  SELECT u.token, d.term, d.didx
  FROM utoks u JOIN dict d
    ON 200.0 * least(length(u.token), length(d.term))
       / (length(u.token) + length(d.term)) >= {cutoff}
), dp AS (
  -- LCS row DP; row[k] (1-indexed) = prev DP row's column k-1.
  -- curr[j] = max(prev[j], max_{{k<=j}}(prev[k-1] + eq(a_i, b_k)))
  -- (prefix-max form — valid because LCS DP rows are non-decreasing)
  SELECT token, term, didx, 0 AS i,
         list_transform(range(0, length(term) + 1), x -> 0) AS row
  FROM cand
  UNION ALL
  SELECT token, term, didx, i + 1,
         list_transform(
           range(1, length(term) + 2),
           j -> CASE WHEN j = 1 THEN 0 ELSE
             greatest(
               row[j],
               list_max(list_transform(
                 range(1, j),
                 k -> row[k] + CASE WHEN substr(token, i + 1, 1)
                                         = substr(term, k, 1)
                               THEN 1 ELSE 0 END))
             ) END
         ) AS row
  FROM dp WHERE i < length(token)
), scores AS (
  SELECT token, term, didx,
         200.0 * row[length(term) + 1] / (length(token) + length(term))
           AS ratio
  FROM dp WHERE i = length(token)
), best AS (
  SELECT token, term, ratio FROM (
    SELECT token, term, ratio,
           row_number() OVER (
             PARTITION BY token ORDER BY ratio DESC, didx ASC) AS rn
    FROM scores WHERE ratio >= {cutoff}
  ) WHERE rn = 1
)
SELECT w.doc_id, CAST(w.word_idx AS BIGINT) AS word_idx, w.token,
       b.term AS match_term, round(b.ratio, 6) AS ratio
FROM words w LEFT JOIN best b ON b.token = w.token
"""


def _q_minhash_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keeper verdict over the at-scale MinHash-LSH pair source (the same
    connected-components operator as `dedup_keepers`, different pairs). The
    md5 base hash is the one ``SQL_MINHASH_KEEPERS`` models."""
    docs = _docs(spark, sf_dir)
    out = dedup_keepers(
        docs, "doc_id", "text", threshold=MINHASH_QUERY_THRESHOLD, base_hash="md5"
    )
    return out.select(
        "doc_id", "cluster_id", F.col("keep").cast("long").alias("keep")
    )


# --------------------------------------------------------------------------
# BlockTextParser correction waterfall (`block_correct`): the LAST composed
# non-SQL surface of the T2-T6 chain, now hash-checked end-to-end. The
# REAL kernel (the same ``TokenCorrector`` + ``_PARSER_TOKEN_RE`` walk
# that ``correct_text_regex`` / the `block_parse` rows-only query run,
# ref ``src/nlp/block_parser.py:281-322,359-373``) emits every token part
# with its correction and source layer; DuckDB re-derives the ENTIRE
# waterfall relationally: the lossless tokenization regex, the T2
# digit->letter confusion translate, the non-alpha strip, BOTH exact
# lookups, BOTH difflib close-match layers (medical cutoff 0.84, english
# 0.93 — the work-list recursive-CTE Ratcliff/Obershelp machinery of
# `difflib_match`, instantiated twice with the lexicographically-largest
# tie-break), and the T3 apply_case mapping (isupper/capitalize/islower
# branches). A per-doc prelude (doc_id % 16) plants each branch: an
# UPPERCASE confusion-corrupted medical term (normalize -> exact hit), a
# Title-case non-confusion-corrupted medical term (close-medical), a
# one-char-deleted long english term (close-english; 2(n-1)/(2n-1) >= .93
# needs len >= 8), 'hyper-tension' (hyphen token, exact after strip),
# 'ab' (len<3 pass-through) and '!' (non-word pass-through). Whitespace
# parts ride along unchanged, so reassembly order is verifiable.
# --------------------------------------------------------------------------

BLOCK_SIM_CUTOFF = 0.84  # TokenCorrector similarity_cutoff
BLOCK_ENG_CUTOFF = 0.93  # TokenCorrector english_similarity_cutoff

_CONFUSION_INV = {"o": "0", "l": "1", "e": "3", "s": "5", "g": "6", "b": "8"}


def _block_correct_prelude():
    """16 per-branch corrupted terms (doc_id % 16) — single source for the
    Spark literal arrays and the DuckDB list literals."""
    from .dictionaries import ENGLISH_COMMON, MEDICAL_TERMS

    meds = [
        t
        for t in sorted(set(MEDICAL_TERMS))
        if len(t) >= 7 and any(c in _CONFUSION_INV for c in t)
    ]
    engs = [t for t in sorted(set(ENGLISH_COMMON)) if len(t) >= 7]
    exacts, closes, edels = [], [], []
    for i in range(16):
        t = meds[(i * 5) % len(meds)]
        # branch A: first confusable letter -> its digit, shown UPPERCASE
        # (T2 normalize undoes the digit -> exact medical; T3 upper branch)
        pos = next(j for j, c in enumerate(t) if c in _CONFUSION_INV)
        exacts.append((t[:pos] + _CONFUSION_INV[t[pos]] + t[pos + 1 :]).upper())
        # branch B: non-confusion letter substitution, Title-case
        # (1 sub in len>=7 -> ratio (n-1)/n >= 0.857 >= 0.84 close-medical)
        t2 = meds[(i * 7 + 3) % len(meds)]
        p2 = i % len(t2)
        repl = chr(ord("a") + (ord(t2[p2]) - ord("a") + 2 + i) % 26)
        while repl in _CONFUSION_INV or repl == t2[p2]:
            repl = chr(ord("a") + (ord(repl) - ord("a") + 1) % 26)
        closes.append((t2[:p2] + repl + t2[p2 + 1 :]).capitalize())
        # branch C: one-char INSERTION into a len>=7 english term,
        # lowercase (ratio 2n/(2n+1) >= 14/15 = 0.933 >= 0.93
        # close-english; the corpus dictionary has no len>=8 terms, so
        # deletion can't clear the 0.93 bar but insertion can)
        t3 = engs[(i * 3 + 1) % len(engs)]
        p3 = i % (len(t3) + 1)
        ins = chr(ord("a") + (7 * i + 4) % 26)
        edels.append(t3[:p3] + ins + t3[p3:])
    return exacts, closes, edels


_BLOCK_CORRECT_TYPE = "array<struct<part:string,corrected:string,source:string>>"


def q_block_correct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dictionaries import ENGLISH_COMMON, MEDICAL_TERMS

    exacts, closes, edels = _block_correct_prelude()
    idx = (F.col("doc_id") % 16 + 1).cast("int")
    lit_at = lambda terms: F.element_at(F.array(*[F.lit(t) for t in terms]), idx)
    btext = F.concat(
        lit_at(exacts), F.lit(" "), lit_at(closes), F.lit(" "), lit_at(edels),
        F.lit(" hyper-tension ab !\n"), F.col("text"),
    )
    staged = (
        _docs(spark, sf_dir)
        .select("doc_id", btext.alias("btext"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    med, eng = list(MEDICAL_TERMS), list(ENGLISH_COMMON)

    @F.pandas_udf(_BLOCK_CORRECT_TYPE)
    def correct_parts(texts: Iterator[pd.Series]) -> Iterator[pd.Series]:
        from htep_spark.functions.textops import _PARSER_TOKEN_RE, TokenCorrector

        corrector = TokenCorrector(med, eng, BLOCK_SIM_CUTOFF, BLOCK_ENG_CUTOFF)
        for series in texts:
            out = []
            for text in series:
                rows = []
                for part in _PARSER_TOKEN_RE.findall(
                    text if isinstance(text, str) else ""
                ):
                    corrected, source = corrector.correct(part)
                    rows.append(
                        {"part": part, "corrected": corrected, "source": source}
                    )
                out.append(rows)
            yield pd.Series(out)

    return staged.select(
        "doc_id", F.posexplode(correct_parts(F.col("btext"))).alias("part_idx", "p")
    ).select(
        "doc_id",
        F.col("part_idx").cast("long").alias("part_idx"),
        F.col("p.part").alias("part"),
        F.col("p.corrected").alias("corrected"),
        F.col("p.source").alias("source"),
    )


def _sql_difflib_best_layer(name: str, terms, cutoff: float) -> str:
    """One difflib close-match layer as recursive-CTE text: distinct
    unmatched cleaned tokens vs a term list, SequenceMatcher ratio via the
    work-list leftmost-longest-block recursion (the `difflib_match`
    machinery), winner = (ratio DESC, term DESC) — get_close_matches'
    nlargest tie-break — at an INCLUSIVE cutoff."""
    dict_rows = ",\n    ".join(f"('{t}')" for t in sorted(set(terms)))
    best = """
      list_sort(flatten(list_transform(range(1, length(a) + 1), i ->
        list_transform(range(1, length(b) + 1), j ->
          [- list_max(list_transform(
                 range(0, least(length(a) - i + 1, length(b) - j + 1) + 1),
                 L -> CASE WHEN substr(a, i, L) = substr(b, j, L)
                           THEN L ELSE 0 END)),
           i, j]))))[1]
    """
    return f"""{name}_dict(term) AS (
  VALUES {dict_rows}
), {name}_cand AS (
  SELECT u.cleaned AS token, d.term
  FROM fuzz_toks u JOIN {name}_dict d
    ON 2.0 * least(length(u.cleaned), length(d.term))
       / (length(u.cleaned) + length(d.term)) >= {cutoff}
), {name}_seg AS (
  SELECT token, term, term AS a, token AS b, 0 AS k FROM {name}_cand
  UNION ALL
  SELECT token, term,
         CASE part WHEN 1 THEN '' WHEN 2 THEN substr(a, 1, bi - 1)
                   ELSE substr(a, bi + bk) END AS a,
         CASE part WHEN 1 THEN '' WHEN 2 THEN substr(b, 1, bj - 1)
                   ELSE substr(b, bj + bk) END AS b,
         CASE part WHEN 1 THEN bk ELSE 0 END AS k
  FROM (
    SELECT token, term, a, b, -(bt[1]) AS bk, bt[2] AS bi, bt[3] AS bj
    FROM (SELECT token, term, a, b, {best} AS bt FROM {name}_seg
          WHERE length(a) > 0 AND length(b) > 0 AND k = 0)
  ) s CROSS JOIN unnest([1, 2, 3]) AS u(part)
  WHERE bk > 0
    AND (part = 1
         OR (part = 2 AND bi > 1 AND bj > 1)
         OR (part = 3 AND bi + bk <= length(a) AND bj + bk <= length(b)))
), {name}_best AS (
  SELECT token, term FROM (
    SELECT token, term,
           row_number() OVER (
             PARTITION BY token ORDER BY
               2.0 * ratio_num / (length(token) + length(term)) DESC,
               term DESC) AS rn
    FROM (SELECT token, term, sum(k) AS ratio_num
          FROM {name}_seg GROUP BY token, term)
    WHERE 2.0 * ratio_num / (length(token) + length(term)) >= {cutoff}
  ) WHERE rn = 1
)"""


def _sql_block_correct() -> str:
    from .dictionaries import ENGLISH_COMMON, MEDICAL_TERMS

    exacts, closes, edels = _block_correct_prelude()
    sql_list = lambda terms: (
        "list_value(" + ", ".join(f"'{t}'" for t in terms) + ")"
    )
    med_rows = ",\n    ".join(f"('{t}')" for t in sorted(set(MEDICAL_TERMS)))
    eng_rows = ",\n    ".join(f"('{t}')" for t in sorted(set(ENGLISH_COMMON)))
    # Python str.isupper()/islower(): at least one cased char, all cased
    # chars in that case — for ASCII tokens: s = upper(s) AND s <> lower(s)
    isupper = "(part = upper(part) AND part <> lower(part))"
    first = "substr(part, 1, 1)"
    rest = "substr(part, 2)"
    iscap = (
        f"({first} = upper({first}) AND {first} <> lower({first})"
        f" AND {rest} = lower({rest}) AND {rest} <> upper({rest}))"
    )
    islower = "(part = lower(part) AND part <> upper(part))"
    apply_case = (
        f"CASE WHEN {isupper} THEN upper(hit)"
        f" WHEN {iscap} THEN upper(substr(hit, 1, 1)) || lower(substr(hit, 2))"
        f" WHEN {islower} THEN lower(hit)"
        f" ELSE hit END"
    )
    return f"""
WITH RECURSIVE base AS (
  SELECT doc_id,
         {sql_list(exacts)}[(doc_id % 16) + 1] || ' ' ||
         {sql_list(closes)}[(doc_id % 16) + 1] || ' ' ||
         {sql_list(edels)}[(doc_id % 16) + 1] ||
         ' hyper-tension ab !' || chr(10) || text AS btext
  FROM documents
), parts AS (
  SELECT doc_id, i - 1 AS part_idx, ps[i] AS part
  FROM (SELECT doc_id,
               regexp_extract_all(btext,
                 '\\s+|[A-Za-z0-9]+(?:[-''][A-Za-z0-9]+)?|[^\\w\\s]') AS ps,
               unnest(range(1, len(regexp_extract_all(btext,
                 '\\s+|[A-Za-z0-9]+(?:[-''][A-Za-z0-9]+)?|[^\\w\\s]')) + 1))
                 AS i
        FROM base)
), toks AS (
  SELECT doc_id, part_idx, part,
         length(part) >= 3 AND regexp_matches(part, '[A-Za-z]') AS is_word,
         lower(regexp_replace(translate(part, '013568', 'olesgb'),
                              '[^A-Za-z]', '', 'g')) AS cleaned
  FROM parts
), med_dict(term) AS (
  VALUES {med_rows}
), eng_dict(term) AS (
  VALUES {eng_rows}
), fuzz_toks AS (
  -- distinct word tokens that fail BOTH exact lookups (the only ones the
  -- close-match layers ever see)
  SELECT DISTINCT cleaned FROM toks
  WHERE is_word AND cleaned <> ''
    AND cleaned NOT IN (SELECT term FROM med_dict)
    AND cleaned NOT IN (SELECT term FROM eng_dict)
), {_sql_difflib_best_layer("fm", sorted(set(MEDICAL_TERMS)), BLOCK_SIM_CUTOFF)},
{_sql_difflib_best_layer("fe", sorted(set(ENGLISH_COMMON)), BLOCK_ENG_CUTOFF)},
resolved AS (
  SELECT t.doc_id, t.part_idx, t.part,
         CASE WHEN NOT t.is_word OR t.cleaned = '' THEN NULL
              WHEN em.term IS NOT NULL THEN em.term
              WHEN ee.term IS NOT NULL THEN ee.term
              WHEN bm.term IS NOT NULL THEN bm.term
              WHEN be.term IS NOT NULL THEN be.term
              ELSE NULL END AS hit,
         CASE WHEN NOT t.is_word OR t.cleaned = '' THEN NULL
              WHEN em.term IS NOT NULL THEN 'medical'
              WHEN ee.term IS NOT NULL THEN 'english'
              WHEN bm.term IS NOT NULL THEN 'medical'
              WHEN be.term IS NOT NULL THEN 'english'
              ELSE NULL END AS source
  FROM toks t
  LEFT JOIN med_dict em ON t.is_word AND t.cleaned = em.term
  LEFT JOIN eng_dict ee ON t.is_word AND t.cleaned = ee.term
  LEFT JOIN fm_best bm ON t.is_word AND t.cleaned = bm.token
  LEFT JOIN fe_best be ON t.is_word AND t.cleaned = be.token
)
SELECT doc_id, CAST(part_idx AS BIGINT) AS part_idx, part,
       CASE WHEN hit IS NULL THEN part ELSE {apply_case} END AS corrected,
       source
FROM resolved
"""


# --------------------------------------------------------------------------
# Dictionary-correction application (`dict_correct`): the T7
# ocr_postprocessor waterfall APPLIED — the twin of `block_correct` for
# the other correction path (ref ``src/nlp/ocr_postprocessor.py:188-283``).
# The REAL ``dictionary_correct_batch`` runs in a pandas UDF (drugs layer,
# multi_dict empty — the n-gram detection pass is oracled separately via
# `multiword_disease`); DuckDB re-derives per token: whitespace split,
# strip-all-non-alpha + lower, the len<3 pass, the exact-set fast path,
# the fuzzy extract_one at cutoff 85 (the `fuzzy_ratio` recursive-CTE LCS
# machinery, first-seen-dict-order tie-break), the non-alpha
# prefix/suffix PEEL on the original token, the UPPER/Capitalize recase,
# the single-space rejoin (newline-collapsing quirk — exercised by the
# prelude's newline), the correction lineage records and the sorted-dedup
# matched list. Prelude per doc (doc_id % 16): '(SUB)'-wrapped UPPER
# substitution-corrupted drug (both peels + upper), Title deletion-
# corrupted drug + ',' (suffix peel + capitalize), an exact drug term
# (fast path), and 'ab!' / '12' pass-throughs.
# --------------------------------------------------------------------------


def q_dict_correct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dictionaries import DRUG_SET, DRUGS_SINGLE

    subs, dels = _fuzzy_prelude_terms()
    idx = (F.col("doc_id") % 16 + 1).cast("int")
    lit_at = lambda terms: F.element_at(F.array(*[F.lit(t) for t in terms]), idx)
    exact_terms = [DRUGS_SINGLE[(i * 3) % len(DRUGS_SINGLE)] for i in range(16)]
    btext = F.concat(
        F.lit("("), lit_at([s.upper() for s in subs]), F.lit(") "),
        lit_at([d.capitalize() for d in dels]), F.lit(", "),
        lit_at(exact_terms), F.lit(" ab! 12\n"), F.col("text"),
    )
    staged = (
        _docs(spark, sf_dir)
        .select("doc_id", btext.alias("btext"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    drugs, dset = list(DRUGS_SINGLE), frozenset(DRUG_SET)

    @F.pandas_udf("corrected_text string, corrections string, matched string")
    def dc(texts: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        from htep_spark.functions.textops import dictionary_correct_batch

        memo: dict = {}
        for series in texts:
            rows = []
            for corrected, corrections, matched in dictionary_correct_batch(
                [text if isinstance(text, str) else "" for text in series],
                drugs, [], dset, FUZZY_RATIO_CUTOFF, "drug", memo,
            ):
                rows.append(
                    {
                        "corrected_text": corrected,
                        "corrections": "|".join(
                            f"{c['from']}>{c['to']}:{c['score']}"
                            for c in corrections
                        ),
                        "matched": "|".join(matched),
                    }
                )
            yield pd.DataFrame(
                rows, columns=["corrected_text", "corrections", "matched"]
            )

    return staged.select("doc_id", dc(F.col("btext")).alias("r")).select(
        "doc_id",
        F.col("r.corrected_text").alias("corrected_text"),
        F.col("r.corrections").alias("corrections"),
        F.col("r.matched").alias("matched"),
    )


def _sql_dict_correct() -> str:
    from .dictionaries import DRUG_SET, DRUGS_SINGLE

    subs, dels = _fuzzy_prelude_terms()
    exact_terms = [DRUGS_SINGLE[(i * 3) % len(DRUGS_SINGLE)] for i in range(16)]
    sql_list = lambda terms: (
        "list_value(" + ", ".join(f"'{t}'" for t in terms) + ")"
    )
    dict_rows = ",\n    ".join(
        f"('{t}', {i + 1})" for i, t in enumerate(DRUGS_SINGLE)
    )
    exact_rows = ",\n    ".join(f"('{t}')" for t in sorted(DRUG_SET))
    cutoff = FUZZY_RATIO_CUTOFF
    # isupper/first-upper on the peeled core (Python str semantics, ASCII)
    isupper = "(core = upper(core) AND core <> lower(core))"
    firstup = (
        "(substr(core, 1, 1) = upper(substr(core, 1, 1))"
        " AND substr(core, 1, 1) <> lower(substr(core, 1, 1)))"
    )
    return f"""
WITH RECURSIVE dict(term, didx) AS (
  VALUES {dict_rows}
), exact(term) AS (
  VALUES {exact_rows}
), base AS (
  SELECT doc_id,
         '(' || {sql_list([s.upper() for s in subs])}[(doc_id % 16) + 1]
         || ') ' || {sql_list([d.capitalize() for d in dels])}[(doc_id % 16) + 1]
         || ', ' || {sql_list(exact_terms)}[(doc_id % 16) + 1]
         || ' ab! 12' || chr(10) || text AS btext
  FROM documents
), words AS (
  SELECT doc_id, i AS word_idx, ws[i] AS word
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(btext, '\\s+'),
                           x -> x <> '') AS ws,
               unnest(range(1, len(list_filter(
                 regexp_split_to_array(btext, '\\s+'), x -> x <> '')) + 1))
                 AS i
        FROM base)
), tok AS (
  SELECT doc_id, word_idx, word,
         lower(regexp_replace(word, '[^A-Za-z]', '', 'g')) AS clean
  FROM words
), fuzz_clean AS (
  SELECT DISTINCT clean FROM tok
  WHERE length(clean) >= 3 AND clean NOT IN (SELECT term FROM exact)
), cand AS (
  SELECT u.clean AS token, d.term, d.didx
  FROM fuzz_clean u JOIN dict d
    ON 200.0 * least(length(u.clean), length(d.term))
       / (length(u.clean) + length(d.term)) >= {cutoff}
), dp AS (
  SELECT token, term, didx, 0 AS i,
         list_transform(range(0, length(term) + 1), x -> 0) AS row
  FROM cand
  UNION ALL
  SELECT token, term, didx, i + 1,
         list_transform(
           range(1, length(term) + 2),
           j -> CASE WHEN j = 1 THEN 0 ELSE
             greatest(
               row[j],
               list_max(list_transform(
                 range(1, j),
                 k -> row[k] + CASE WHEN substr(token, i + 1, 1)
                                         = substr(term, k, 1)
                               THEN 1 ELSE 0 END))
             ) END
         ) AS row
  FROM dp WHERE i < length(token)
), scores AS (
  SELECT token, term, didx,
         200.0 * row[length(term) + 1] / (length(token) + length(term))
           AS ratio
  FROM dp WHERE i = length(token)
), best AS (
  SELECT token, term, ratio FROM (
    SELECT token, term, ratio,
           row_number() OVER (
             PARTITION BY token ORDER BY ratio DESC, didx ASC) AS rn
    FROM scores WHERE ratio >= {cutoff}
  ) WHERE rn = 1
), resolved AS (
  SELECT t.doc_id, t.word_idx, t.word, t.clean,
         CASE WHEN length(t.clean) < 3 THEN NULL
              WHEN e.term IS NOT NULL THEN t.clean
              WHEN b.term IS NOT NULL THEN b.term
              ELSE NULL END AS matchterm,
         CASE WHEN length(t.clean) >= 3 AND e.term IS NULL
                   AND b.term IS NOT NULL AND b.term <> t.clean
              THEN b.term ELSE NULL END AS applied_term,
         b.ratio AS ratio,
         regexp_extract(t.word, '^[^A-Za-z]*') AS pre,
         regexp_extract(t.word, '[^A-Za-z]*$') AS suf
  FROM tok t
  LEFT JOIN exact e ON length(t.clean) >= 3 AND t.clean = e.term
  LEFT JOIN best b
    ON length(t.clean) >= 3 AND e.term IS NULL AND t.clean = b.token
), rebuilt AS (
  SELECT doc_id, word_idx, word, matchterm, applied_term, ratio, pre, suf,
         CASE WHEN applied_term IS NULL THEN NULL
              ELSE substr(word, length(pre) + 1,
                          length(word) - length(pre) - length(suf)) END
           AS core
  FROM resolved
), finalw AS (
  SELECT doc_id, word_idx, word, matchterm, ratio,
         CASE WHEN applied_term IS NULL THEN word
              ELSE pre ||
                   CASE WHEN {isupper} THEN upper(applied_term)
                        WHEN core <> '' AND {firstup}
                          THEN upper(substr(applied_term, 1, 1))
                               || lower(substr(applied_term, 2))
                        ELSE applied_term END
                   || suf END AS fword,
         applied_term IS NOT NULL AS applied
  FROM rebuilt
)
SELECT doc_id,
       string_agg(fword, ' ' ORDER BY word_idx) AS corrected_text,
       coalesce(string_agg(
         CASE WHEN applied THEN word || '>' || fword || ':'
                   || CAST(CAST(floor(ratio) AS BIGINT) AS VARCHAR) END,
         '|' ORDER BY word_idx) FILTER (applied), '') AS corrections,
       coalesce(array_to_string(list_sort(list_distinct(
         list(matchterm) FILTER (matchterm IS NOT NULL))), '|'), '')
         AS matched
FROM finalw GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# Conversation-rollup merge semantics (`conv_rollup_merge`): the REAL
# ``conversation_rollup`` operator (the built-in aggregation behind the
# rows-only `conv_rollup` query) run over SYNTHETIC per-turn result
# structs planted from md5 constants, vs a DuckDB re-derivation of every
# merge rule: first non-null non-EMPTY string per name field in turn
# order (empty strings are planted and must be skipped), drug/disease
# union-sort across turns with NULL and [] arrays planted, max-urgency
# escalation by rank (routine<high<urgent; an unknown value ranks -1 and
# is planted, including conversations where EVERY turn is unknown), and
# sorted-distinct document types. This pins the cross-turn merge rules
# cross-engine; the remaining conv_rollup residue is only the upstream
# extraction structs (pytest byte-equality) and plumbing.
# --------------------------------------------------------------------------

ROLLUP_NAMES = [None, "", "Alice Smith", "Bob Jones", "Cara Line"]
ROLLUP_DOCTORS = [None, "", "Dr Adams", "Dr Baker", "Dr Chen"]
ROLLUP_HOSPITALS = [None, "", "St Mary", "City General", "Lakeside"]
ROLLUP_DRUG_SETS = [None, [], ["aspirin"], ["metformin", "aspirin"]]
ROLLUP_DISEASE_SETS = [None, [], ["diabetes"], ["hypertension", "diabetes"]]
ROLLUP_URGENCIES = ["routine", "high", "urgent", "mystery"]  # mystery -> -1
ROLLUP_DOCTYPES = ["consultation", "prescription", "lab_report"]


def _rollup_k_spark(salt: str, mod: int):
    from .functions.hashing import md5_prefix60_spark

    return F.pmod(
        md5_prefix60_spark(
            F.concat_ws("|", F.lit(salt), F.col("doc_id").cast("string"))
        ),
        F.lit(mod),
    )


def _rollup_k_sql(salt: str, mod: int) -> str:
    from .functions.hashing import md5_prefix60_sql

    expr = f"'{salt}' || '|' || CAST(doc_id AS VARCHAR)"
    return f"({md5_prefix60_sql(expr)}) % {mod}"


def q_conv_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.conversation import conversation_rollup

    def pick(salt, values):
        k = _rollup_k_spark(salt, len(values))
        expr = None
        for i, v in enumerate(values):
            cond = k == i
            col = F.lit(v) if v is not None else F.lit(None).cast("string")
            expr = F.when(cond, col) if expr is None else expr.when(cond, col)
        return expr

    def pick_arr(salt, sets):
        k = _rollup_k_spark(salt, len(sets))
        expr = None
        for i, v in enumerate(sets):
            col = (
                F.lit(None).cast("array<string>")
                if v is None
                else F.array(*[F.lit(x) for x in v]).cast("array<string>")
            )
            expr = F.when(k == i, col) if expr is None else expr.when(k == i, col)
        return expr

    # small conversations (source x doc_id%7 -> ~3-4 turns each) so the
    # non-escalated branches (no-urgent, even all-unknown conversations)
    # actually appear in the output, not just the saturated maximum
    synth = _docs(spark, sf_dir).select(
        F.concat_ws(
            "-", F.col("source"), (F.col("doc_id") % 7).cast("string")
        ).alias("conv_id"),
        F.col("doc_id").cast("int").alias("turn_idx"),
        F.struct(
            F.struct(
                pick("pn", ROLLUP_NAMES).alias("patient_name"),
                pick("dn", ROLLUP_DOCTORS).alias("doctor_name"),
                pick("ho", ROLLUP_HOSPITALS).alias("hospital"),
            ).alias("extracted"),
            pick_arr("dr", ROLLUP_DRUG_SETS).alias("matched_drugs"),
            pick_arr("di", ROLLUP_DISEASE_SETS).alias("matched_diseases"),
            pick("ur", ROLLUP_URGENCIES).alias("urgency"),
            pick("dt", ROLLUP_DOCTYPES).alias("document_type"),
        ).alias("result"),
    )
    rolled = conversation_rollup(synth)
    return rolled.select(
        "conv_id",
        F.col("n_turns").cast("long").alias("n_turns"),
        "patient_name",
        "doctor_name",
        "hospital",
        F.array_join("all_drugs", "|").alias("all_drugs"),
        F.array_join("all_diseases", "|").alias("all_diseases"),
        "max_urgency",
        F.array_join("document_types", "|").alias("document_types"),
    )


def _sql_conv_rollup_merge() -> str:
    def case_str(salt, values):
        k = _rollup_k_sql(salt, len(values))
        whens = "".join(
            f" WHEN {i} THEN " + ("NULL" if v is None else _sql_quote(v))
            for i, v in enumerate(values)
        )
        return f"CASE {k}{whens} END"

    def case_arr(salt, sets):
        k = _rollup_k_sql(salt, len(sets))
        whens = "".join(
            " WHEN {} THEN {}".format(
                i,
                "CAST(NULL AS VARCHAR[])"
                if v is None
                else "[" + ", ".join(_sql_quote(x) for x in v) + "]"
                if v
                else "CAST([] AS VARCHAR[])",
            )
            for i, v in enumerate(sets)
        )
        return f"CASE {k}{whens} END"

    urank = (
        "CASE urgency WHEN 'routine' THEN 0 WHEN 'high' THEN 1"
        " WHEN 'urgent' THEN 2 ELSE -1 END"
    )
    first = (
        lambda c: f"(list({c} ORDER BY turn_idx) FILTER ({c} IS NOT NULL AND {c} <> ''))[1]"
    )
    # outer coalesce: DuckDB array_to_string([]) is NULL, Spark
    # array_join([]) is '' — an all-NULL-array conversation must read ''
    union = (
        lambda c: "coalesce(array_to_string(list_sort(list_distinct(coalesce("
        f"flatten(list({c} ORDER BY turn_idx) FILTER ({c} IS NOT NULL)),"
        " CAST([] AS VARCHAR[])))), '|'), '')"
    )
    return f"""
WITH synth AS (
  SELECT source || '-' || CAST(doc_id % 7 AS VARCHAR) AS conv_id,
         doc_id AS turn_idx,
         {case_str("pn", ROLLUP_NAMES)} AS patient_name,
         {case_str("dn", ROLLUP_DOCTORS)} AS doctor_name,
         {case_str("ho", ROLLUP_HOSPITALS)} AS hospital,
         {case_arr("dr", ROLLUP_DRUG_SETS)} AS matched_drugs,
         {case_arr("di", ROLLUP_DISEASE_SETS)} AS matched_diseases,
         {case_str("ur", ROLLUP_URGENCIES)} AS urgency,
         {case_str("dt", ROLLUP_DOCTYPES)} AS document_type
  FROM documents
)
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       {first("patient_name")} AS patient_name,
       {first("doctor_name")} AS doctor_name,
       {first("hospital")} AS hospital,
       {union("matched_drugs")} AS all_drugs,
       {union("matched_diseases")} AS all_diseases,
       (list(urgency ORDER BY {urank} DESC, turn_idx ASC))[1] AS max_urgency,
       array_to_string(list_sort(list_distinct(list(document_type))), '|')
         AS document_types
FROM synth GROUP BY conv_id
"""


# --------------------------------------------------------------------------
# O3 block keep/drop over the REAL HTML parser (`block_keep`, VERDICT r05
# #2, generalizing the G1 10%-of-max rule at
# src/segmentation/line_segmenter.py:19): per doc a deterministic HTML page
# is synthesized around the clinical text — title, nav boilerplate, two
# main <p> blocks, three branch-exercising blocks (a short linky <p>:
# n<10 ∧ anchor>0; a link-dense <p>: density 19/26 > 0.33; an anchored
# long <p> that must be KEPT: density 4/53), and an entity-bearing footer
# (&copy; → '©' checks entity decoding). The Spark side runs the REAL
# stream parser (`tokenize_blocks`) + the REAL `_keep_block` rule in a
# pandas UDF; DuckDB reconstructs every expected block's reading-order
# index, normalized text, char/anchor counts, boilerplate flag and depth
# relationally from the same constants and re-derives keep via the
# documented thresholds — so BOTH the O2 parser event stream (on this
# synthesized-HTML family) and the O3 arithmetic are hash-checked, not
# just the rule. Link-density floats are exact int ratios compared to the
# same 0.33 double on both engines (bitwise-identical division), so the
# verdicts cannot diverge. Scale shape: one narrow Arrow projection — the
# same per-row UDF plan as extract_full.
# --------------------------------------------------------------------------


def _block_html_col():
    arr = F.array(*[F.lit(s) for s in CLINICAL_SNIPPETS])
    idx = (F.col("doc_id") % len(CLINICAL_SNIPPETS) + 1).cast("int")
    return F.concat(
        F.lit("<html><head><title>record "),
        F.col("doc_id").cast("string"),
        F.lit(
            "</title><script>var x=1;</script><style>p{margin:0}</style>"
            "</head><body>"
            "<nav><a href='/'>Home</a> <a href='/records'>Records</a> "
            "<a href='/help'>Help</a></nav>"
            "<div class='main'><p>"
        ),
        F.element_at(arr, idx),
        F.lit("</p><p>"),
        F.col("text"),
        F.lit(
            "</p></div>"
            "<p>a b <a href='/z'>c</a> d</p>"
            "<p>See <a href='/ref'>reference page here</a> ok</p>"
            "<p>Related: <a href='/a'>link</a> plus much longer surrounding"
            " prose text</p>"
            "<footer><a href='/terms'>Terms</a> &copy; clinic "
        ),
        (F.col("doc_id") % 100).cast("string"),
        F.lit("</footer></body></html>"),
    )


_BLOCK_ROWS_TYPE = (
    "array<struct<block_idx:int,text:string,n_chars:int,anchor_chars:int,"
    "in_boilerplate:boolean,depth:int,keep:boolean>>"
)


def q_block_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        _docs(spark, sf_dir)
        .select("doc_id", _block_html_col().alias("html"))
        .repartition(spark.sparkContext.defaultParallelism)
    )

    @F.pandas_udf(_BLOCK_ROWS_TYPE)
    def blocks_udf(htmls: Iterator[pd.Series]) -> Iterator[pd.Series]:
        from htep_spark.functions.html_extract import _keep_block, tokenize_blocks

        for series in htmls:
            out = []
            for h in series:
                bs = tokenize_blocks(h if isinstance(h, str) else "")
                out.append(
                    [
                        {
                            "block_idx": b["block_idx"],
                            "text": b["text"],
                            "n_chars": b["n_chars"],
                            "anchor_chars": b["anchor_chars"],
                            "in_boilerplate": b["in_boilerplate"],
                            "depth": b["depth"],
                            "keep": _keep_block(b),
                        }
                        for b in bs
                    ]
                )
            yield pd.Series(out)

    return docs.select("doc_id", F.explode(blocks_udf(F.col("html"))).alias("b")).select(
        "doc_id",
        F.col("b.block_idx").cast("long").alias("block_idx"),
        F.col("b.text").alias("text"),
        F.col("b.n_chars").cast("long").alias("n_chars"),
        F.col("b.anchor_chars").cast("long").alias("anchor_chars"),
        F.col("b.in_boilerplate").cast("long").alias("in_boilerplate"),
        F.col("b.depth").cast("long").alias("depth"),
        F.col("b.keep").cast("long").alias("keep"),
    )


def _sql_block_keep() -> str:
    from .functions.html_extract import LINK_DENSITY_MAX, MIN_BLOCK_CHARS

    whens = "".join(
        f" WHEN {i} THEN {_sql_quote(s)}" for i, s in enumerate(CLINICAL_SNIPPETS)
    )
    return f"""
WITH docs AS (
  SELECT doc_id,
         CASE (doc_id % {len(CLINICAL_SNIPPETS)}){whens} END AS line1,
         text AS line2
  FROM documents
), blocks AS (
  SELECT doc_id, 0 AS block_idx, 'record ' || CAST(doc_id AS VARCHAR) AS text,
         0 AS anchor_chars, 0 AS in_boilerplate, 3 AS depth FROM docs
  UNION ALL SELECT doc_id, 1, 'Home Records Help', 15, 1, 3 FROM docs
  UNION ALL SELECT doc_id, 2, trim(regexp_replace(line1, '\\s+', ' ', 'g')),
         0, 0, 4 FROM docs
  UNION ALL SELECT doc_id, 3, trim(regexp_replace(line2, '\\s+', ' ', 'g')),
         0, 0, 4 FROM docs
  UNION ALL SELECT doc_id, 4, 'a b c d', 1, 0, 3 FROM docs
  UNION ALL SELECT doc_id, 5, 'See reference page here ok', 19, 0, 3 FROM docs
  UNION ALL SELECT doc_id, 6,
         'Related: link plus much longer surrounding prose text', 4, 0, 3
         FROM docs
  UNION ALL SELECT doc_id, 7,
         'Terms © clinic ' || CAST(doc_id % 100 AS VARCHAR), 5, 1, 3 FROM docs
)
SELECT doc_id, CAST(block_idx AS BIGINT) AS block_idx, text,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(anchor_chars AS BIGINT) AS anchor_chars,
       CAST(in_boilerplate AS BIGINT) AS in_boilerplate,
       CAST(depth AS BIGINT) AS depth,
       CAST(CASE WHEN in_boilerplate = 1 THEN 0
                 WHEN CAST(anchor_chars AS DOUBLE) / length(text)
                      > CAST({LINK_DENSITY_MAX!r} AS DOUBLE) THEN 0
                 WHEN length(text) < {MIN_BLOCK_CHARS} AND anchor_chars > 0
                      THEN 0
                 ELSE 1 END AS BIGINT) AS keep
FROM blocks
"""


QUERIES: Dict[str, Tuple[Callable[[SparkSession, str], DataFrame], Optional[str]]] = {
    "fusion": (q_fusion, SQL_FUSION),
    "fusion_events": (q_fusion_events, SQL_FUSION_EVENTS),
    "sections": (q_sections, SQL_SECTIONS),
    "urgency": (q_urgency, SQL_URGENCY),
    "classify": (q_classify, SQL_CLASSIFY),
    "classify_segments": (q_classify_segments, SQL_CLASSIFY_SEGMENTS),
    "conv_class_rollup": (q_conv_class_rollup, SQL_CONV_CLASS_ROLLUP),
    "dedup_keepers": (q_dedup_keepers, SQL_DEDUP_KEEPERS),
    "simhash": (q_simhash, SQL_SIMHASH),
    "winnow_fingerprints": (q_winnow_fingerprints, SQL_WINNOW),
    "minhash_lsh": (q_minhash_lsh, SQL_MINHASH_LSH),
    "dedup_keepers_minhash": (_q_minhash_keepers, SQL_MINHASH_KEEPERS),
    "winnow_overlap": (q_winnow_overlap, SQL_WINNOW_OVERLAP),
    "ann_lsh": (_q_ann_lsh, make_ann_lsh_sql(ANN_N_QUERIES, ANN_K)),
    "ann_ivf": (_q_ann_ivf, make_ann_ivf_sql(ANN_N_QUERIES, ANN_K)),
    "conv_metrics": (_q_conv_metrics, None),
    "conv_metrics_order": (_q_conv_metrics_order, SQL_CONV_METRICS_ORDER),
    "extract_class": (_q_extract_class, SQL_EXTRACT_CLASS),
    "greedy_decode": (q_greedy_decode, SQL_GREEDY_DECODE),
    "beam_replace": (q_beam_replace, _sql_beam_replace()),
    "dict_match": (q_dict_match, SQL_DICT_MATCH),
    "multiword_disease": (q_multiword_disease, SQL_MULTIWORD_DISEASE),
    "vitals_fields": (q_vitals_fields, SQL_VITALS_FIELDS),
    "extract_fields_scalar": (q_extract_fields_scalar, SQL_EXTRACT_FIELDS_SCALAR),
    "measurements": (q_measurements, SQL_MEASUREMENTS),
    "text_stats": (q_text_stats, SQL_TEXT_STATS),
    "quality_filter": (q_quality_filter, SQL_QUALITY_FILTER),
    "bm25": (q_bm25, SQL_BM25),
    "ngram_jaccard": (q_ngram_jaccard, SQL_NGRAM_JACCARD),
    "ann_cosine": (q_ann_cosine, SQL_ANN_COSINE),
    "sentences": (q_sentences, SQL_SENTENCES),
    "deid_dates": (q_deid_dates, SQL_DEID_DATES),
    "deid_spans": (q_deid_spans, SQL_DEID_SPANS),
    "deid_mask": (q_deid_mask, SQL_DEID_MASK),
    "cer": (q_cer, SQL_CER),
    "embed_near_dup": (q_embed_near_dup, SQL_EMBED_NEAR_DUP),
    "sessionize": (q_sessionize, SQL_SESSIONIZE),
    "asof_events": (q_asof_events, SQL_ASOF_EVENTS),
    "range_join_sessions": (q_range_join_sessions, SQL_RANGE_JOIN_SESSIONS),
    "events_hourly": (q_events_hourly, SQL_EVENTS_HOURLY),
    "top_ngrams": (q_top_ngrams, SQL_TOP_NGRAMS),
    "repetition_stats": (q_repetition_stats, SQL_REPETITION_STATS),
    "embed_keepers": (q_embed_keepers, SQL_EMBED_KEEPERS),
    "lm_heldout": (q_lm_heldout, sql_lm_heldout()),
    "bpe_train": (q_bpe_train, sql_bpe_train()),
    "bpe_encode": (q_bpe_encode, sql_bpe_encode()),
    "fuzzy_ratio": (q_fuzzy_ratio, _sql_fuzzy_ratio()),
    "dup_spans": (q_dup_spans, _sql_dup_spans()),
    "contamination": (q_contamination, _sql_contamination()),
    "mixture_plan": (q_mixture_plan, _sql_mixture_plan()),
    "approx_distinct": (q_approx_distinct, _sql_approx_distinct()),
    "bloom_probe": (q_bloom_probe, _sql_bloom_probe()),
    "count_min": (q_count_min, _sql_count_min()),
    "curation_funnel": (q_curation_funnel, _sql_curation_funnel()),
    "char_entropy": (q_char_entropy, _sql_char_entropy()),
    "token_quantiles": (q_token_quantiles, _sql_token_quantiles()),
    "difflib_match": (q_difflib_match, _sql_difflib_match()),
    "block_keep": (q_block_keep, _sql_block_keep()),
    "block_correct": (q_block_correct, _sql_block_correct()),
    "conv_rollup_merge": (q_conv_rollup_merge, _sql_conv_rollup_merge()),
    "dict_correct": (q_dict_correct, _sql_dict_correct()),
}
