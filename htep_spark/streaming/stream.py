"""Structured Streaming variant of the extraction pipeline.

The reference has no streaming (SURVEY.md §2.7) — this is the Spark-native
extension for continuously-arriving transcript turns: same per-turn
extraction UDF over a stream, plus a watermarked sliding aggregation of
extraction metrics (late turns tolerated up to the watermark).

The per-turn operator chain is stateless, so the hot path needs no state
store; the windowed metrics stage uses standard watermark + window state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.extract import extract_transcripts

__all__ = [
    "stream_extraction",
    "stream_windowed_metrics",
    "stream_conversation_state",
    "stream_dedup_turns",
    "stream_interval_join",
    "stream_heavy_hitters",
    "merge_heavy_hitters",
    "stream_sessionized_counts",
    "stream_windowed_count_min",
    "stream_windowed_qdigest_histogram",
    "stream_windowed_topk",
    "merge_windowed_topk",
]


def stream_interval_join(
    turns: DataFrame,
    events: DataFrame,
    by: str = "conv_id",
    turns_watermark: str = "10 minutes",
    events_watermark: str = "10 minutes",
    max_lag_sec: int = 300,
) -> DataFrame:
    """Stream-stream inner interval join: each streaming transcript turn
    matched to the streaming tool events of the same conversation that
    arrive within ``[turn.ts, turn.ts + max_lag_sec]`` — the
    "which tool calls did this turn trigger" correlation, continuously.

    Canonical Spark stream-stream join discipline (the batch analogue is
    ``operators/joins.range_join``): BOTH sides carry an event-time
    watermark AND the join condition carries an explicit time-range bound
    — that pair is what lets the state store evict rows once they can no
    longer match (left rows older than watermark+lag, right rows older
    than the watermark). Without the range bound, join state grows
    O(stream) and a 10^12-turn stream dies; with it, state is O(rows per
    watermark window per side). Equality on ``by`` keeps the join
    hash-partitioned — same shuffle shape as a batch equi-join."""
    l = turns.select(
        F.col(by),
        F.col("turn_idx"),
        F.col("ts").alias("turn_ts"),
    ).withWatermark("turn_ts", turns_watermark)
    r = events.select(
        F.col(by).alias(f"_{by}_r"),
        F.col("event_id"),
        F.col("kind"),
        F.col("ts").alias("event_ts"),
    ).withWatermark("event_ts", events_watermark)
    cond = (
        (F.col(by) == F.col(f"_{by}_r"))
        & (F.col("event_ts") >= F.col("turn_ts"))
        & (
            F.col("event_ts")
            <= F.col("turn_ts") + F.expr(f"INTERVAL {max_lag_sec} SECONDS")
        )
    )
    return l.join(r, cond, "inner").select(
        by, "turn_idx", "turn_ts", "event_id", "kind", "event_ts"
    )


def stream_extraction(stream_df: DataFrame) -> DataFrame:
    """streaming transcripts → streaming extraction results (stateless),
    through the batch trunk: same stage UDFs, same per-stage fallback."""
    return extract_transcripts(stream_df).select("conv_id", "turn_idx", "ts", "result")


def stream_dedup_turns(
    stream_df: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming exact dedup on ``(conv_id, turn_idx)`` — the ingestion
    guard for at-least-once transcript feeds (replayed turns must not
    double-count downstream metrics or re-run extraction).

    Uses ``dropDuplicatesWithinWatermark``: state is bounded by the
    watermark horizon (keys older than the event-time watermark are
    evicted), so state size is O(keys per watermark window), not O(stream)
    — the only dedup state policy that survives a 10^12-turn stream.
    Placed BEFORE the extraction UDF so duplicate payloads never reach the
    expensive kernel."""
    return stream_df.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["conv_id", "turn_idx"]
    )


def stream_conversation_state(
    stream_df: DataFrame,
    watermark: str = "10 minutes",
    idle_timeout_ms: int = 0,
) -> DataFrame:
    """Custom stateful operator: per-conversation running progress via
    ``applyInPandasWithState`` (GroupState).

    State per ``conv_id``: turns seen, max turn_idx, contiguity-so-far (the
    streaming form of the batch ``ordered_ok`` invariant), drug-turn count.
    Emits one updated row per conversation per micro-batch; a conversation
    idle past ``idle_timeout_ms`` (when > 0) emits a final ``closed=true``
    row and drops its state — bounded state under 10^12-turn streams: state
    size is O(live conversations), not O(turns). Timeout-based closing uses
    ``ProcessingTimeTimeout`` and suits continuously-running queries; with
    ``Trigger.AvailableNow`` leave it at 0 (``NoTimeout``) so the query
    terminates once the backlog drains."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    output_schema = (
        "conv_id string, n_turns long, max_turn long, distinct_turns long, "
        "contiguous boolean, n_drug_turns long, closed boolean"
    )
    state_schema = (
        "n_turns long, max_turn long, distinct_turns long, "
        "n_drug_turns long, seen_hash long"
    )

    out_cols = [
        "conv_id", "n_turns", "max_turn", "distinct_turns",
        "contiguous", "n_drug_turns", "closed",
    ]

    def update(key, pdfs, state: GroupState):
        (conv_id,) = key
        if state.hasTimedOut:
            n, mx, dstn, drugs, _ = state.get
            state.remove()
            yield pd.DataFrame(
                [[conv_id, n, mx, dstn, dstn == mx + 1 == n, drugs, True]],
                columns=out_cols,
            )
            return
        if state.exists:
            n, mx, dstn, drugs, seen_hash = state.get
        else:
            n, mx, dstn, drugs, seen_hash = 0, -1, 0, 0, 0
        seen = set()
        for pdf in pdfs:
            for turn_idx, drug_hits in zip(pdf["turn_idx"], pdf["n_drug"]):
                n += 1
                ti = int(turn_idx)
                if ti > mx:
                    mx = ti
                if ti not in seen:
                    seen.add(ti)
                drugs += int(drug_hits)
        # distinct count approximation across batches: exact within batch,
        # cross-batch via max-turn bound (state stores no per-turn set —
        # bounded state); contiguity check is (distinct == max+1 == total)
        dstn += len(seen)
        state.update((n, mx, dstn, drugs, seen_hash))
        if idle_timeout_ms > 0:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            [[conv_id, n, mx, dstn, dstn == mx + 1 == n, drugs, False]],
            columns=out_cols,
        )

    extracted = stream_extraction(stream_df).select(
        "conv_id",
        "turn_idx",
        "ts",
        (F.size("result.matched_drugs") > 0).cast("long").alias("n_drug"),
    )
    return (
        extracted.withWatermark("ts", watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            update,
            outputStructType=output_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if idle_timeout_ms > 0
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


def stream_sessionized_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming sessionization via Spark's native ``session_window``:
    per-user dynamic-gap session aggregation — the streaming counterpart
    of the batch ``q_sessionize`` lag-gap rule. A session closes once no
    event arrives within ``gap`` of the previous one; the watermark lets
    the state store finalize and evict closed sessions (state is O(open
    sessions), bounded by the watermark horizon — the property that makes
    this viable on an unbounded event stream). Emits one row per closed
    session in append mode: user, session span, event count."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.col("user_id"), F.session_window("ts", gap).alias("win"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )


def stream_heavy_hitters(
    tokens: DataFrame,
    capacity: int = 64,
    n_shards: int = 8,
) -> DataFrame:
    """Streaming heavy hitters: distributed SpaceSaving (Metwally et al.
    2005) over a ``(token, ts)`` stream via ``applyInPandasWithState``.

    Scale design: tokens are SHARDED BY TOKEN HASH, so every occurrence of
    a given token lands in exactly one shard's summary — per-shard
    SpaceSaving bounds therefore hold for the global stream restricted to
    that shard, and the global top-k is a plain merge of the per-shard
    emissions (a token's count never splits across shards). State is
    O(n_shards × capacity) REGARDLESS of stream length or vocabulary —
    the property that lets this survive a 10^12-token stream where an
    exact groupBy-count's state is O(vocabulary).

    Guarantees (standard SpaceSaving, any processing order): every token
    with true shard count > shard_stream_len / capacity is present in the
    summary; for every summarized token,
    ``true <= est_count <= true + max_err``. Batch folding uses the
    weighted-update variant (whole per-batch counts folded at once;
    eviction inherits the evicted minimum as the error bound).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    output_schema = "shard long, token string, est_count long, max_err long"
    state_schema = "tokens array<string>, counts array<long>, errs array<long>"
    cap = capacity

    def update(key, pdfs, state):
        (shard,) = key
        if state.exists:
            toks, counts, errs = state.get
            summary = {t: [int(c), int(e)] for t, c, e in zip(toks, counts, errs)}
        else:
            summary = {}
        for pdf in pdfs:
            vc = pdf["token"].value_counts()
            # deterministic fold order: (count desc, token asc) — the
            # bounds hold for any order; pinning one makes replays and
            # the exact-capacity regime byte-stable
            for tok in sorted(vc.index, key=lambda t: (-int(vc[t]), t)):
                cnt = int(vc[tok])
                if tok in summary:
                    summary[tok][0] += cnt
                elif len(summary) < cap:
                    summary[tok] = [cnt, 0]
                else:  # evict the minimum-count item (ties: smallest token)
                    mtok = min(summary, key=lambda t: (summary[t][0], t))
                    mcnt = summary[mtok][0]
                    del summary[mtok]
                    summary[tok] = [mcnt + cnt, mcnt]
        items = sorted(summary.items(), key=lambda kv: (-kv[1][0], kv[0]))
        state.update(
            (
                [t for t, _ in items],
                [v[0] for _, v in items],
                [v[1] for _, v in items],
            )
        )
        yield pd.DataFrame(
            [[shard, t, v[0], v[1]] for t, v in items],
            columns=["shard", "token", "est_count", "max_err"],
        )

    sharded = tokens.select(
        F.pmod(F.xxhash64("token"), F.lit(n_shards)).alias("shard"),
        "token",
        "ts",
    )
    # no watermark: with NoTimeout and a non-event-time groupBy key a
    # watermark would have no effect on state or output (ADVICE r05 — a
    # misleading knob, removed). State is bounded by the SpaceSaving
    # capacity itself (O(n_shards × capacity) forever), not by eviction.
    return (
        sharded
        .groupBy("shard")
        .applyInPandasWithState(
            update,
            outputStructType=output_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def merge_heavy_hitters(summaries: DataFrame, k: int = 10) -> DataFrame:
    """Global top-k from the per-shard SpaceSaving emissions — the batch
    finalize step over a `stream_heavy_hitters` sink table.

    Because tokens are SHARDED BY TOKEN HASH, a token's whole count lives
    in exactly one shard, so the global merge is NOT a sketch merge (no
    error compounding): take each (shard, token)'s LATEST emission (the
    update-mode sink may hold several generations — latest = max
    est_count, since SpaceSaving counts are monotone per token while the
    token stays resident) and rank by estimated count with the standard
    (est desc, err asc, token asc) tie-break. The result carries each
    survivor's error bound unchanged."""
    # take the latest generation ATOMICALLY (struct max): pairing the max
    # est_count with the min max_err across sink generations could
    # fabricate an (est, err) pair that never existed — a token evicted
    # and re-inserted between micro-batches re-emits with a larger
    # max_err, and the fabricated pair can violate
    # true <= est_count <= true + max_err (ADVICE r06)
    latest = (
        summaries.groupBy("shard", "token")
        .agg(F.max(F.struct("est_count", "max_err")).alias("m"))
        .select(
            "shard",
            "token",
            F.col("m.est_count").alias("est_count"),
            F.col("m.max_err").alias("max_err"),
        )
    )
    w = Window.orderBy(
        F.desc("est_count"), F.asc("max_err"), F.asc("token")
    )
    # a global top-k over O(n_shards x capacity) summary rows — tiny by
    # construction, so the single-partition window is over the SUMMARY,
    # never the stream
    return (
        latest.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("token", "est_count", "max_err", "rank")
    )


def stream_windowed_count_min(
    tokens: DataFrame,
    window_duration: str = "10 minutes",
    watermark: str = "5 minutes",
    depth: int = None,
    width: int = None,
) -> DataFrame:
    """Streaming per-window Count-Min sketch over a ``(token, ts)`` stream
    (the TODO #5 streaming variant of the batch `count_min` oracle).

    The CM counter table IS a relational aggregation — cell (d, pos) of a
    window counts the tokens hashing there — so the streaming form needs
    no custom state operator at all: explode each token into its ``depth``
    salted cells (same md5 positions as the batch sketch, so the batch
    oracle validates the counter math) and run a watermarked tumbling-
    window groupBy. Emits one row per (window, row, col) counter in append
    mode once the watermark closes the window.

    Scale/state: the state store holds depth x width counters PER OPEN
    WINDOW — fixed size regardless of stream rate or vocabulary (the
    sketch property), bounded in window count by the watermark horizon.
    Point estimates are a post-hoc min over a probe's cells per window
    (plain batch join on the sink table)."""
    from ..driver_queries import CM_D, CM_W
    from ..functions.hashing import md5_prefix60_spark

    d = depth or CM_D
    w = width or CM_W

    def pos(token_col, j):
        return F.pmod(
            md5_prefix60_spark(F.concat(token_col, F.lit(f"|cm{j}"))),
            F.lit(w),
        )

    cells = tokens.select(
        "ts",
        F.posexplode(
            F.array(*[pos(F.col("token"), j) for j in range(d)])
        ).alias("row", "col"),
    )
    return (
        cells.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("win"), "row", "col")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "row",
            "col",
            "cnt",
        )
    )


def stream_windowed_qdigest_histogram(
    values: DataFrame,
    window_duration: str = "10 minutes",
    watermark: str = "5 minutes",
    universe_bits: int = None,
) -> DataFrame:
    """Streaming per-window q-digest FEED: the bounded-universe value
    histogram as a watermarked tumbling-window aggregation over a
    ``(value, ts)`` stream. The q-digest compaction is a pure function of
    this histogram (operators/qdigest.py), so per-window quantile sketches
    are a plain batch post-step over the sink (``qdigest_compact`` on each
    window's rows) — the same feed/finalize split as
    ``stream_windowed_count_min``. State per open window is <= 2^D
    counters regardless of stream rate (the sketch property), bounded in
    window count by the watermark horizon."""
    from ..operators.qdigest import QDIGEST_U

    u = (1 << universe_bits) if universe_bits else QDIGEST_U
    # clip BOTH ends: the q-digest domain is [0, 2^D); a negative value
    # would silently corrupt the family merges and node bounds (review r6)
    clipped = values.select(
        "ts",
        F.greatest(F.lit(0), F.least(F.col("value"), F.lit(u - 1))).alias("v"),
    )
    return (
        clipped.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("win"), "v")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "v",
            "cnt",
        )
    )


def stream_windowed_metrics(
    stream_df: DataFrame,
    window_duration: str = "10 minutes",
    watermark: str = "5 minutes",
) -> DataFrame:
    """Watermarked tumbling-window rollup of extraction metrics."""
    extracted = stream_extraction(stream_df)
    return (
        extracted.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("win"))
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.col("result.metrics.failed").cast("int")).alias("n_failed"),
            F.sum("result.metrics.n_corrections").alias("n_corrections"),
            F.sum(
                (F.size("result.matched_drugs") > 0).cast("int")
            ).alias("n_drug_turns"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "n_turns",
            "n_failed",
            "n_corrections",
            "n_drug_turns",
        )
    )


def stream_windowed_topk(
    tokens: DataFrame,
    window_duration: str = "10 minutes",
    watermark: str = "5 minutes",
    capacity: int = 64,
    n_shards: int = 8,
) -> DataFrame:
    """Per-window streaming heavy hitters (the TODO #5 windowed emit):
    distributed SpaceSaving keyed by ``(tumbling window, token-hash
    shard)`` via ``applyInPandasWithState`` with EVENT-TIME TIMEOUT — each
    window's per-shard summary is emitted exactly once, when the watermark
    passes the window end, then its state is dropped (append semantics,
    unlike the endless update stream of `stream_heavy_hitters`).

    Scale design: same token-hash sharding as `stream_heavy_hitters` (a
    token's in-window count lives in exactly one shard, so the per-window
    global merge in `merge_windowed_topk` is NOT a sketch merge — no error
    compounding). State is O(open_windows × n_shards × capacity): bounded
    by the SpaceSaving capacity per (window, shard) and by the watermark
    horizon in window count — survives unbounded vocabulary per window
    where an exact windowed groupBy-count's state is O(per-window vocab).

    Guarantees per (window, shard): standard SpaceSaving — every token
    with in-window shard count > shard_window_len / capacity is present;
    ``true <= est_count <= true + max_err`` for every summarized token.
    Rows later than the watermark are filtered before the stateful
    operator (standard semantics), so a closed window can never re-open.

    Timeout timestamps are epoch ms of the window end; the group key
    arrives as a naive datetime in the session timezone, so this assumes
    host tz == session tz (both UTC in this deployment).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    output_schema = (
        "window_start timestamp, window_end timestamp, shard long, "
        "token string, est_count long, max_err long"
    )
    state_schema = "tokens array<string>, counts array<long>, errs array<long>"
    cap = capacity
    cols = ["window_start", "window_end", "shard", "token", "est_count", "max_err"]

    def update(key, pdfs, state):
        win_start, win_end, shard = key
        if state.hasTimedOut:
            toks, counts, errs = state.get
            state.remove()
            yield pd.DataFrame(
                [
                    [win_start, win_end, shard, t, c, e]
                    for t, c, e in zip(toks, counts, errs)
                ],
                columns=cols,
            )
            return
        if state.exists:
            toks, counts, errs = state.get
            summary = {t: [int(c), int(e)] for t, c, e in zip(toks, counts, errs)}
        else:
            summary = {}
        for pdf in pdfs:
            vc = pdf["token"].value_counts()
            # deterministic fold order: (count desc, token asc) — bounds
            # hold for any order; pinning one makes replays byte-stable
            for tok in sorted(vc.index, key=lambda t: (-int(vc[t]), t)):
                cnt = int(vc[tok])
                if tok in summary:
                    summary[tok][0] += cnt
                elif len(summary) < cap:
                    summary[tok] = [cnt, 0]
                else:  # evict the minimum-count item (ties: smallest token)
                    mtok = min(summary, key=lambda t: (summary[t][0], t))
                    mcnt = summary[mtok][0]
                    del summary[mtok]
                    summary[tok] = [mcnt + cnt, mcnt]
        items = sorted(summary.items(), key=lambda kv: (-kv[1][0], kv[0]))
        state.update(
            (
                [t for t, _ in items],
                [v[0] for _, v in items],
                [v[1] for _, v in items],
            )
        )
        # fire when the WATERMARK (event time, delay already applied)
        # passes the window end — the append-mode close rule
        state.setTimeoutTimestamp(int(win_end.timestamp() * 1000))
        yield pd.DataFrame([], columns=cols)

    sharded = (
        tokens.withWatermark("ts", watermark)
        .select(
            F.window("ts", window_duration).alias("win"),
            F.pmod(F.xxhash64("token"), F.lit(n_shards)).alias("shard"),
            "token",
            "ts",
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "shard",
            "token",
            # the watermark-tagged column must stay visible to the
            # stateful operator or the analyzer rejects EventTimeTimeout
            "ts",
        )
    )
    return sharded.groupBy(
        "window_start", "window_end", "shard"
    ).applyInPandasWithState(
        update,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def merge_windowed_topk(summaries: DataFrame, k: int = 10) -> DataFrame:
    """Per-window global top-k finalize over a `stream_windowed_topk`
    sink table. Each (window, shard, token) summary row is final (emitted
    once at window close) and a token's whole in-window count lives in one
    shard, so this is a plain per-window rank — no sketch merge, no error
    compounding. The window partitioning keeps the rank exchange keyed
    (no single-partition window): per-window summary rows are bounded by
    n_shards × capacity regardless of stream rate."""
    w = Window.partitionBy("window_start").orderBy(
        F.desc("est_count"), F.asc("max_err"), F.asc("token")
    )
    return (
        summaries.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "window_start",
            "window_end",
            "token",
            "est_count",
            "max_err",
            "rank",
        )
    )


JSD_STREAM_OTHER = "~other"  # tail bucket (sorts after [a-z0-9]+ tokens)


def stream_windowed_jsd(
    tokens: DataFrame,
    ref_tokens,
    window_duration: str = "10 minutes",
    watermark: str = "5 minutes",
) -> DataFrame:
    """Streaming per-window unigram histogram over a FIXED reference
    support (top-K reference tokens plus one OTHER tail bucket) — the
    feed half of a windowed distribution-drift monitor. A pure watermarked tumbling-window
    aggregation: no custom state operator, and the state store holds at
    most |ref_tokens| + 1 rows PER OPEN WINDOW regardless of stream rate
    or vocabulary (the fixed-support property; same bound class as
    `stream_windowed_count_min`). Emits (window, term, cnt) rows in
    append mode at watermark close; `merge_windowed_jsd` is the batch
    finalize that turns sink rows into per-window JSD scores."""
    support = [str(t) for t in ref_tokens]
    term = F.when(F.col("token").isin(support), F.col("token")).otherwise(
        F.lit(JSD_STREAM_OTHER)
    )
    return (
        tokens.select(term.alias("term"), "ts")
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("win"), "term")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "term",
            "cnt",
        )
    )


def merge_windowed_jsd(summaries: DataFrame, ref_counts: dict) -> DataFrame:
    """Per-window Jensen-Shannon divergence finalize over a
    `stream_windowed_jsd` sink table, against a reference unigram
    distribution (``ref_counts``: term -> count over the SAME support,
    including the OTHER bucket). Pure batch post-step: the per-window
    support grid keeps zero-count terms (the p = 0 branch), and the KL
    sums run as pinned-order folds over the term-sorted list, so the
    result does not depend on shuffle arrival order."""
    spark = summaries.sparkSession
    ref = F.broadcast(
        spark.createDataFrame(
            sorted(ref_counts.items()), "term string, rc long"
        )
    )
    qtot = float(sum(ref_counts.values()))
    # rename the aggregated keys before re-joining the sink table — the
    # grid is summaries⋈summaries-derived and Spark rejects the ambiguous
    # self-join attributes otherwise
    wins = (
        summaries.groupBy("window_start", "window_end")
        .agg(F.sum("cnt").alias("wtot"))
        .withColumnsRenamed({"window_start": "ws", "window_end": "we"})
    )
    grid = (
        wins.crossJoin(ref.withColumnRenamed("term", "rterm"))
        .join(
            summaries,
            (F.col("ws") == F.col("window_start"))
            & (F.col("we") == F.col("window_end"))
            & (F.col("rterm") == F.col("term")),
            "left",
        )
        .select(
            F.col("ws").alias("window_start"),
            F.col("we").alias("window_end"),
            "wtot",
            F.col("rterm").alias("term"),
            F.coalesce("cnt", F.lit(0)).cast("long").alias("c"),
            "rc",
        )
    )
    lst = F.sort_array(
        F.collect_list(F.struct(F.col("term"), F.col("c"), F.col("rc")))
    )
    folded = grid.groupBy("window_start", "window_end", "wtot").agg(
        lst.alias("l"),
        F.sum(F.when(F.col("c") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_present"),
    )

    def kl(which):
        def term_val(x):
            p = x["c"] / F.col("wtot")
            q = x["rc"] / F.lit(qtot)
            m = (p + q) / F.lit(2.0)
            if which == "p":
                return F.when(x["c"] > 0, p * F.log(p / m)).otherwise(
                    F.lit(0.0)
                )
            return F.when(x["rc"] > 0, q * F.log(q / m)).otherwise(F.lit(0.0))

        return F.aggregate(
            F.col("l"), F.lit(0.0), lambda a, x: a + term_val(x)
        )

    return folded.select(
        "window_start",
        "window_end",
        F.col("wtot").cast("long").alias("n_tokens"),
        "n_present",
        F.round(kl("p"), 6).alias("kl_p_m"),
        F.round(kl("q"), 6).alias("kl_q_m"),
        F.round((kl("p") + kl("q")) / F.lit(2.0), 6).alias("jsd"),
    )


def stream_active_users(
    events: DataFrame,
    window_duration: str = "1 day",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming per-window distinct active users (daily actives at the
    default one-day window), built from the two chained stateful
    operators Structured Streaming supports since the
    multi-stateful-operator lift: a watermark-bounded ``dropDuplicates``
    on (window, user) followed by a windowed count.

    State is O(distinct users per open window) for the dedup plus one
    counter per window; the watermark bounds open windows, so state is
    bounded regardless of stream length — the same guarantee family as
    ``stream_windowed_count_min``. The emitted counts equal the batch
    ``COUNT(DISTINCT user)`` per tumbling window exactly (pytest replay;
    exactly-once per window under append mode once the watermark passes
    the window end)."""
    keyed = (
        events.withWatermark("ts", watermark)
        .select(
            F.window("ts", window_duration).alias("win"), F.col("user_id")
        )
        .dropDuplicates(["win", "user_id"])
    )
    return (
        keyed.groupBy("win")
        .agg(F.count("*").alias("dau"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            F.col("dau").cast("long").alias("dau"),
        )
    )
