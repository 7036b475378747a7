"""Physical-plan quality gates: pushdown, pruning, broadcast joins.

The 100 TB story depends on these plan shapes, not just on small-SF
correctness — a scan that reads every column for a two-column projection
or a shuffle join against a 200-row dimension table is wrong at scale
regardless of output equality.
"""

from __future__ import annotations


def test_parquet_scan_pushdown_and_pruning(spark):
    """Catalyst must push filters into the parquet scan and prune columns:
    a filtered 2-column projection over documents should show PushedFilters
    and a ReadSchema restricted to the projected columns."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    q = docs.filter(F.col("doc_id") < 100).select("doc_id", "n_chars")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "LessThan(doc_id,100)" in plan, plan
    # ReadSchema carries only the pruned columns, never `text`
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "doc_id" in read_schema and "n_chars" in read_schema
    assert "text" not in read_schema, read_schema


def test_broadcast_join_for_small_dims(spark):
    """dict_match's term table must broadcast, never shuffle-join."""
    from htep_spark.driver_queries import q_dict_match

    plan = (
        q_dict_match(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_extraction_scan_prunes_unused_columns(spark):
    """The flagship extraction reads transcripts: its parquet scan must not
    materialize columns the pipeline never touches."""
    from pyspark.sql import functions as F

    from htep_spark.plans.pipeline import run_extraction

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    transcripts = docs.select(
        F.concat(F.lit("c"), F.col("doc_id")).alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit("").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    out = run_extraction(transcripts).select("conv_id", "result.document_type")
    plan = out._jdf.queryExecution().executedPlan().toString()
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    # only doc_id + text feed this projection; source/n_chars must be pruned
    assert "source" not in read_schema and "n_chars" not in read_schema, read_schema


def test_aqe_handles_skewed_join(spark):
    """AQE skew-join handling must be on and the runtime plan adaptive: a
    heavily-skewed key join still completes with bounded task sizes (AQE
    splits the skewed partition at runtime)."""
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    left = spark.range(200_000).select(
        F.when(F.col("id") % 100 < 99, F.lit(0)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.range(64).select(F.col("id").alias("k"), F.lit("dim").alias("d"))
    # force a shuffle join so the skewed side actually shuffles
    joined = left.hint("merge").join(right, "k")
    n = joined.count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "AdaptiveSparkPlan" in plan, plan.splitlines()[0]
    # 99 of every 100 ids collapse to k=0 (matching dim k=0); the passthrough
    # ids (id%100==99) are all >63 and match nothing
    assert n == 198_000


def test_ann_lsh_expr_plan_stays_jvm_side(spark):
    """The LSH signatures must compile to pure column expressions: no
    Python evaluation node anywhere in the LSH candidate/re-rank plan."""
    from pyspark.sql import functions as F

    from htep_spark.operators.similarity import ann_lsh_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ann_lsh_topk(emb, queries, k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, "Python eval node in the ANN plan"


def test_conv_metrics_order_partial_aggregation(spark):
    """Both stages of the ordering rollup must hash-aggregate with
    map-side partial aggregation (partial_* before each exchange), and the
    scan must prune to the two referenced columns."""
    from htep_spark.driver_queries import _q_conv_metrics_order

    df = _q_conv_metrics_order(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan and "partial_min" in plan, plan[:2000]
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "text" not in read_schema and "n_chars" not in read_schema


def test_temporal_join_plans_avoid_cross_products(spark):
    """asof_join must be window-over-union (single keyed exchange, no join
    operator at all); range_join must be an equi-join on (key, bucket) —
    neither may plan a cartesian/nested-loop product."""
    from datetime import datetime

    from htep_spark.operators.joins import asof_join, range_join

    T = datetime
    left = spark.createDataFrame(
        [(1, T(2024, 1, 1, 10, 0), 10)], ["user_id", "ts", "v"]
    )
    right = spark.createDataFrame(
        [(1, T(2024, 1, 1, 9, 0), 77)], ["user_id", "ts", "rid"]
    )
    aplan = asof_join(left, right)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in aplan and "NestedLoop" not in aplan
    assert "Window" in aplan and "Union" in aplan
    # no join node: the as-of is pure union + window
    assert "SortMergeJoin" not in aplan and "BroadcastHashJoin" not in aplan

    intervals = spark.createDataFrame(
        [(1, T(2024, 1, 1, 9, 0), T(2024, 1, 1, 11, 0), "I")],
        ["user_id", "s", "e", "iv"],
    )
    rplan = (
        range_join(left, intervals, point_col="ts", start_col="s", end_col="e",
                   by=("user_id",))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in rplan and "NestedLoop" not in rplan
    assert "Join" in rplan  # a real equi-join on (user_id, bucket)


def test_round4_operator_plan_shapes(spark):
    """Round-4 operators keep their scale-sane plans: sample_hash is a
    pure scan→filter→project (no exchange, pruned 2-column scan);
    repetition_stats does ONE hash exchange on doc_id reused by the lead
    window, the bigram count aggregate, and the rank-1 window (Spark plans
    the row_number<=1 filter as WindowGroupLimit, no second exchange)."""
    from htep_spark.driver_queries import q_repetition_stats, q_sample_hash

    sf = "/root/testdata/sf0.001"
    splan = q_sample_hash(spark, sf)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in splan, splan
    read_schema = next(l for l in splan.splitlines() if "ReadSchema" in l)
    assert "text" not in read_schema, read_schema

    rdf = q_repetition_stats(spark, sf)
    rplan = rdf._jdf.queryExecution().executedPlan().toString()
    n_exchanges = rplan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"{n_exchanges} exchanges\n{rplan}"
    assert "WindowGroupLimit" in rplan, rplan


def test_exact_global_rank_has_no_single_partition_window(spark):
    """The whole point of exact_global_rank: a globally-ordered rank with
    NO Exchange SinglePartition anywhere in the plan (the naive
    row_number-over-unpartitioned-window collapses the dataset into one
    task)."""
    from htep_spark.operators.ranking import q_lm_heldout

    plan = (
        q_lm_heldout(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange SinglePartition" not in plan, plan
    # the range sort ran ONCE inside the localCheckpoint materialization
    # job; the final plan reads the checkpointed partitions and adds only
    # a broadcast exchange — no second full-data shuffle of any kind
    assert "Scan ExistingRDD" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BroadcastExchange" in plan, plan
    # rank-selected quantiles: same construction, same gate
    from htep_spark.driver_queries import q_token_quantiles

    qplan = (
        q_token_quantiles(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange SinglePartition" not in qplan, qplan


def test_mixture_plan_no_window(spark):
    """ADVICE r05: q_mixture_plan's corpus totals formerly used an
    empty-partition window (Exchange SinglePartition over the per-source
    rows, WindowExec warning during replay). They are now a 1-row
    map-side-combinable aggregate broadcast back via crossJoin — the plan
    must contain NO window operator at all; the only single-partition
    exchange permitted is the one feeding the 1-row global aggregate
    (partial-agg rows, one per partition — not data rows)."""
    from htep_spark.driver_queries import q_mixture_plan

    plan = (
        q_mixture_plan(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan, plan
    # plan application: the derived rates join back as a broadcast
    assert "BroadcastExchange" in plan, plan


def test_round6_operator_plan_shapes(spark):
    """block_keep is one narrow Arrow projection (scan → exchange → UDF →
    explode), no shuffle of parsed rows, no joins."""
    from htep_spark.driver_queries import QUERIES

    bplan = (
        QUERIES["block_keep"][0](spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert bplan.count("ArrowEvalPython") == 1, bplan
    assert "Exchange hashpartitioning" not in bplan, bplan
    assert "CartesianProduct" not in bplan, bplan


def test_dup_spans_plan_shape(spark):
    """dup_spans' scale claim: token-linear explode + two hash aggregations
    + equi-joins — NO cartesian product, NO single-partition exchange, and
    the window-hash computation stays JVM-side (no Python UDF in the
    plan)."""
    from htep_spark.driver_queries import q_dup_spans

    plan = (
        q_dup_spans(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_stage_udf_pruning(spark):
    """Round-7 split-UDF surface (guide §4.1): consumers that read only a
    slice of the extraction struct must NOT evaluate the stage UDFs for the
    fields they never touch. conv_metrics reads core-group fields only →
    exactly one ArrowEvalPython (extract_core_udf); the flagship surface
    (document_type/urgency/matched/corrected/n_segments) must drop the
    fields/entities/deid kernels; the full struct runs every group."""
    import __spark_entry__ as entrymod
    from htep_spark.plans.pipeline import per_conversation_metrics, run_extraction
    from htep_spark.sources.io import synthesize_transcripts

    tr = synthesize_transcripts(spark, 200, partitions=2)

    def udf_names(df):
        import re

        plan = df._jdf.queryExecution().executedPlan().toString()
        return set(re.findall(r"(\w+_udf)", plan))

    cm = udf_names(per_conversation_metrics(run_extraction(tr)))
    assert cm == {"extract_core_udf"}, cm

    fl = udf_names(entrymod.entry(spark))  # the flagship at sf0.001
    assert fl == {"extract_core_udf", "classify_udf", "segments_udf"}, fl

    full = udf_names(run_extraction(tr))
    assert full == {
        "extract_core_udf",
        "segments_udf",
        "fields_udf",
        "classify_udf",
        "entities_udf",
        "deid_udf",
    }, full


def test_stage_udfs_are_arrow_udfs_in_two_nodes(spark):
    """The six stage UDFs are scalar Arrow UDFs (Arrow array in, Arrow
    array out, no pandas frame), and the full-struct extraction still
    fuses them into exactly two ArrowEvalPython nodes: core, then the five
    stages that read its output."""
    from pyspark.util import PythonEvalType

    from htep_spark.operators import extract as ops
    from htep_spark.plans.pipeline import run_extraction
    from htep_spark.sources.io import synthesize_transcripts

    assert {u.evalType for u in ops._STAGE_UDFS} == {PythonEvalType.SQL_SCALAR_ARROW_UDF}
    tr = synthesize_transcripts(spark, 200, partitions=2)
    plan = run_extraction(tr)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 2, plan
    assert "BatchEvalPython" not in plan, plan


def test_conversation_rollup_plan_is_jvm_aggregation(spark):
    """The per-conversation rollup is one aggregation of built-in
    expressions: no grouped-map Python node, no Python node besides the
    extraction's own ArrowEvalPython stages (pruned to the fields the
    rollup reads), and a map-side partial aggregate below its one
    exchange, so a mega-conversation reaches its final task pre-reduced."""
    import re

    from htep_spark.operators.conversation import conversation_rollup
    from htep_spark.plans.pipeline import run_extraction
    from htep_spark.schema import TRANSCRIPT_SCHEMA
    from htep_spark.sources.io import synthesize_transcripts_pdf

    # a local source, so every Python node in the plan is the rollup's own
    tr = spark.createDataFrame(synthesize_transcripts_pdf(200, n_convs=4), TRANSCRIPT_SCHEMA)
    plan = (
        conversation_rollup(run_extraction(tr))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "FlatMapGroupsInPandas" not in plan, plan
    python_nodes = {
        m for m in re.findall(r"\b(\w*(?:Python|Pandas)\w*)\b", plan)
        if not m.startswith("pythonUDF")
    }
    assert python_nodes == {"ArrowEvalPython"}, python_nodes
    assert set(re.findall(r"(\w+_udf)", plan)) == {
        "extract_core_udf",
        "fields_udf",
        "classify_udf",
    }, plan

    lines = plan.splitlines()
    exchanges = [i for i, l in enumerate(lines) if "Exchange " in l]
    assert len(exchanges) == 1, plan
    below = "\n".join(lines[exchanges[0] + 1 :])
    above = "\n".join(lines[: exchanges[0]])
    assert "partial_count" in below and "partial_min" in below, plan
    assert "partial_" not in above, plan


def test_bm25_no_single_partition_window(spark):
    """VERDICT r06 #2: bm25's global top-K must be a distributed
    TakeOrderedAndProject, never an unpartitioned row_number window that
    sorts the corpus-proportional scored frame in one task. (The rank
    window that remains runs over a frame already bounded at
    BM25_TOP_DOCS rows by the limit.)"""
    from htep_spark.driver_queries import q_bm25

    plan = (
        q_bm25(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
