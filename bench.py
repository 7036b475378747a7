"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: ``{"metric", "value", "unit", "queries", "sf", ...}``.

Timing: one warm-up action first (JVM/codegen warm), then each query runs
to a ``noop`` sink (forces full computation — a bare ``count()`` would let
Catalyst prune the extraction UDF away).

Contention defenses (VERDICT r03 #1 — the r3 record regressed on
byte-identical code because a single contended sample is the round
record):

- per-query **best-of-3** for the operator queries (the minimum is the
  least-contended sample on this shared VM),
- a **fixed-work sentinel** (JVM sum over 100M ids + a fixed numpy kernel
  in the driver process) timed at start and end and emitted in the JSON —
  if the sentinel reads far above its quiet-host band (see
  BENCH/BASELINE.md), the whole sample is contended and self-evidently so.

The headline set (``value`` = sum) is FROZEN at the round-2/3 18 queries
for round-over-round comparability; operators added later are timed the
same way but reported under ``extra_queries`` (not in ``value``).

The authoritative throughput number (BASELINE.md) is ``turns_per_sec``:
the full per-turn extraction chain over a deterministic synthetic
transcript corpus sized by sf. Scaling evidence across two parallelism
levels lives in ``tools/bench_scaling.py`` → ``BENCH/BASELINE.md``.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# transcript turns for the throughput measurement, scaled by sf
_sf_match = re.search(r"sf([0-9.]+)", SF_DIR)
SF = float(_sf_match.group(1)) if _sf_match else 0.1
N_TURNS = int(os.environ.get("SPARK_GRAFT_TURNS", str(int(200_000 * SF / 0.1))))


def _run(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _sentinel(spark) -> float:
    """Fixed-work contention probe: a JVM-side 100M-id sum plus a fixed
    numpy kernel in the driver process. Work is constant across rounds, so
    its wall time tracks host contention only (quiet-host band in
    BENCH/BASELINE.md); best-of-3 like the queries."""
    import numpy as np

    best = float("inf")
    for _ in range(3):
        t0 = time.time()
        spark.range(100_000_000).selectExpr("sum(id)").collect()
        a = np.arange(4_000_000, dtype=np.float64)
        float((np.sqrt(a) * 1.0000001).sum())
        best = min(best, time.time() - t0)
    return round(best, 3)


def main() -> None:
    from htep_spark.driver_queries import QUERIES
    from htep_spark.plans.pipeline import per_conversation_metrics, run_extraction
    from htep_spark.sources.io import get_spark, synthesize_transcripts

    spark = get_spark("htep-bench", cores=CPUS, shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    # warm-up: JVM, codegen, Python workers
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    sentinel_start = _sentinel(spark)

    timings: dict[str, float] = {}

    # headline 1: full per-turn extraction throughput over transcripts
    transcripts = synthesize_transcripts(
        spark, N_TURNS, partitions=CPUS * 2
    ).cache()
    n = transcripts.count()  # materialize input outside the timed window
    # one untimed pass: JVM/codegen/Python-worker/memo warm-up → the timed
    # pass measures steady state (the regime of a long-running 10^12 job)
    _run(run_extraction(transcripts))
    extract_sec = float("inf")
    for _ in range(2):
        t0 = time.time()
        _run(run_extraction(transcripts))
        extract_sec = min(extract_sec, time.time() - t0)
    timings["extract_transcripts"] = round(extract_sec, 3)

    # note: conv_metrics re-runs the extraction UDF upstream of the rollup —
    # this timing is the full grouped-pipeline cost, not the rollup alone.
    # best-of-3 (was 2): this query showed the widest clean-sentinel swing
    # on record (8.5-13s for identical code, round 5) — one more sample
    # tightens the minimum without changing the frozen query set.
    # Round 6 (VERDICT r05 #6): the kernel (Arrow extraction UDF) and the
    # aggregation (per-conversation rollup) phases are timed separately so
    # the ±20% swing is attributable — the extraction output is pinned with
    # localCheckpoint and the rollup timed over the pinned frame; the
    # headline number stays the full-pipeline best-of-3 as before.
    best = float("inf")
    for _ in range(3):
        t0 = time.time()
        _run(per_conversation_metrics(run_extraction(transcripts)))
        best = min(best, time.time() - t0)
    timings["conv_metrics"] = round(best, 3)
    t0 = time.time()
    pinned = run_extraction(transcripts).localCheckpoint(eager=True)
    conv_kernel_sec = round(time.time() - t0, 3)
    best = float("inf")
    for _ in range(3):
        t0 = time.time()
        _run(per_conversation_metrics(pinned))
        best = min(best, time.time() - t0)
    conv_agg_sec = round(best, 3)
    pinned.unpersist()
    transcripts.unpersist()

    # headline 2: operator queries over the driver testdata tables
    import __spark_entry__ as entrymod

    # minhash benches the production xxhash64 base-hash path (the driver's
    # correctness query runs the md5 oracle mode; pair/keeper agreement
    # between the two modes is pytest-gated — see BENCH/BASELINE.md)
    from htep_spark.operators.dedup import q_minhash_lsh_fast
    from htep_spark.operators.text_analysis import q_winnow_fingerprints

    extra = {
        "extract_full_docs": entrymod._flagship,
        "minhash_lsh": q_minhash_lsh_fast,
        "winnow": q_winnow_fingerprints,
        "conv_rollup": entrymod._conv_rollup,
    }
    for name in (
        "extract_full_docs",
        "conv_rollup",
        "classify",
        "sections",
        "dict_match",
        "text_stats",
        "cer",
        "sentences",
        "deid_dates",
        "sessionize",
        "ngram_jaccard",
        "minhash_lsh",
        "winnow",
        "ann_cosine",
        "embed_near_dup",
        "events_hourly",
    ):
        fn = extra.get(name) or QUERIES[name][0]
        # best of 3: this shared VM shows up to 4x noisy-neighbor variance
        # on one-shot timings; the minimum is the least-contended sample.
        # Round 6 (VERDICT r05 #4): headline queries now ALSO get the
        # per-query untimed warm pass the extras got in round 5, so
        # plan-compile state bleeding from a neighboring query can never
        # masquerade as a regression (the r5 sessionize/cer/sentences/
        # deid_dates/text_stats phantom). Protocol change is flagged in the
        # emitted JSON (headline_protocol) per ADVICE r05.
        _run(fn(spark, SF_DIR))  # untimed warm pass
        best = float("inf")
        for _ in range(3):
            t0 = time.time()
            _run(fn(spark, SF_DIR))
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)

    # round-3+ operators: same protocol plus ONE UNTIMED WARM PASS per
    # query (VERDICT r04 #4 — plan-compile/codegen state from neighboring
    # queries inflated one-shot extras up to 6x vs isolated best-of-3;
    # the warm pass makes extras trustworthy round-over-round), reported
    # outside the frozen headline sum so `value` stays comparable with
    # BENCH_r02/r03
    extra_timings: dict[str, float] = {}
    for name in (
        "asof_events",
        "range_join_sessions",
        "bm25",
        "quality_filter",
        "top_ngrams",
        "beam_replace",
        "repetition_stats",
        "bpe_train",
        "embed_keepers",
        "lm_heldout",
        "bpe_encode",
        "fuzzy_ratio",
        "dup_spans",
        "contamination",
        "mixture_plan",
        "approx_distinct",
        "bloom_probe",
        "count_min",
        "curation_funnel",
        "char_entropy",
        "token_quantiles",
        "difflib_match",
        "block_keep",
        "block_correct",
        "conv_rollup_merge",
        "dict_correct",
    ):
        _run(QUERIES[name][0](spark, SF_DIR))  # untimed warm pass
        best = float("inf")
        for _ in range(3):
            t0 = time.time()
            _run(QUERIES[name][0](spark, SF_DIR))
            best = min(best, time.time() - t0)
        extra_timings[name] = round(best, 3)

    sentinel_end = _sentinel(spark)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_total_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "extra_queries": extra_timings,
                # protocol-version markers (ADVICE r05): r3/r4 extras were
                # one-shot best-of-3; r5 extras and r6+ headline add an
                # untimed per-query warm pass — cross-round per-query
                # comparisons must be like-for-like on these markers
                "headline_protocol": "warm+bo3",
                "extras_protocol": "warm+bo3",
                # conv_metrics phase split (VERDICT r05 #6): kernel = one
                # Arrow-extraction pass pinned via localCheckpoint;
                # agg = best-of-3 rollup over the pinned frame
                "conv_metrics_phases": {
                    "kernel_sec": conv_kernel_sec,
                    "agg_sec": conv_agg_sec,
                },
                "sentinel_sec": [sentinel_start, sentinel_end],
                "sf": SF,
                "turns": n,
                "turns_per_sec": round(n / extract_sec, 1),
                "cores": CPUS,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
