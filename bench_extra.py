"""Round-7 isolation bench (bench.py is frozen for measurement — guide §1.4).

Times a selectable subset of queries with bench.py's exact protocol (noop
sink, one untimed warm pass, best-of-3) so per-change deltas can be
attributed without paying the full 127-extra sweep. Also emits the
fixed-work sentinel so contended samples are self-evident.

Usage: python bench_extra.py [name1,name2,...]
  names: extract_transcripts / conv_metrics / conv_rollup plus any QUERIES
  key or bench.py alias (extract_full_docs, minhash_lsh, winnow).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
_sf_match = re.search(r"sf([0-9.]+)", SF_DIR)
SF = float(_sf_match.group(1)) if _sf_match else 0.1
N_TURNS = int(os.environ.get("SPARK_GRAFT_TURNS", str(int(200_000 * SF / 0.1))))

DEFAULT = "extract_transcripts,conv_metrics,conv_rollup,extract_full_docs"


def _run(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    names = (sys.argv[1] if len(sys.argv) > 1 else DEFAULT).split(",")

    import __spark_entry__ as entrymod
    from bench import _sentinel
    from htep_spark.driver_queries import QUERIES
    from htep_spark.operators.dedup import q_minhash_lsh_fast
    from htep_spark.operators.text_analysis import q_winnow_fingerprints
    from htep_spark.plans.pipeline import per_conversation_metrics, run_extraction
    from htep_spark.sources.io import get_spark, synthesize_transcripts

    spark = get_spark("htep-bench-extra", cores=CPUS, shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    sentinel_start = _sentinel(spark)

    transcripts = None
    if any(n in ("extract_transcripts", "conv_metrics") for n in names):
        transcripts = synthesize_transcripts(spark, N_TURNS, partitions=CPUS * 2).cache()
        transcripts.count()

    aliases = {
        "extract_full_docs": entrymod._flagship,
        "minhash_lsh": q_minhash_lsh_fast,
        "winnow": q_winnow_fingerprints,
        "conv_rollup": entrymod._conv_rollup,
    }

    timings = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        if name == "extract_transcripts":
            fn = lambda: run_extraction(transcripts)
        elif name == "conv_metrics":
            fn = lambda: per_conversation_metrics(run_extraction(transcripts))
        elif name in aliases:
            fn = lambda f=aliases[name]: f(spark, SF_DIR)
        else:
            fn = lambda f=QUERIES[name][0]: f(spark, SF_DIR)
        _run(fn())  # untimed warm pass
        best = float("inf")
        for _ in range(3):
            t0 = time.time()
            _run(fn())
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)
        spark.sparkContext.setJobDescription(None)

    sentinel_end = _sentinel(spark)
    print(
        json.dumps(
            {
                "metric": "bench_extra",
                "queries": timings,
                "sentinel_sec": [sentinel_start, sentinel_end],
                "sf": SF,
                "cores": CPUS,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
