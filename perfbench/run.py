"""Benchmark of the htep-spark extraction system.

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Generates the workload's inputs from the
seed, starts a ``local[nproc]`` session through the program's own
``get_spark``, checks the outputs, times passes for ``--seconds`` and
prints, as its last stdout line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it records the input properties, host load and pass counts.
Working files go to ``.perfbench-work/`` in the checkout; a traced run
writes its spans there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from random import Random
from typing import Dict, List

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
KERNEL_SAMPLE = 120  # turns profiled single-process in a traced run
# timed passes at least, whatever --seconds is; a traced run makes two more.
# Two, not more, to keep a run near a minute: set-up and the checked batch
# take the rest of it.
MIN_PASSES = 2


def _median(values: List[float]) -> float:
    return statistics.median(values) if values else 0.0


def make_session(cores: int, work: str):
    """A ``local[cores]`` session from the program's ``get_spark``.

    The JVM compiles with C1 only (``TieredStopAtLevel=1``). With the
    default tiered compiler the driver JVM spends its first five to eight
    passes compiling: on a 4-vCPU host a conv_downstream pass of 300 turns
    took 52 JVM CPU seconds cold and 12 after five passes, and the timed
    passes of a one-minute run fell on that slope, so they measured how
    fast the host let the compiler threads run. With C1 the JVM is warm
    after the checked batch.
    """
    from htep_spark.sources.io import get_spark

    spark = get_spark("perfbench", cores=cores, shuffle_partitions=cores, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:TieredStopAtLevel=1",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def tiny_extraction(spark, rows: List[Dict]) -> None:
    """One small extraction with a task per core, so every Python worker
    has started and imported the kernel."""
    from htep_spark.plans.pipeline import run_extraction
    from htep_spark.schema import TRANSCRIPT_SCHEMA

    cols = [f.name for f in TRANSCRIPT_SCHEMA]
    # a local collection is split into defaultParallelism = cores slices
    df = spark.createDataFrame([tuple(r[c] for c in cols) for r in rows], schema=TRANSCRIPT_SCHEMA)
    run_extraction(df).write.format("noop").mode("overwrite").save()


def stop_session(spark, tree) -> None:
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    tree.stop_descendants()


def run(args) -> int:
    work = os.path.join(ROOT, ".perfbench-work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    import gen
    import kernel
    import workloads
    from probes import ProcTree, SqlMetrics, Tracer, host_load

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cores = len(os.sched_getaffinity(0))
    host_before = host_load()
    tracer = Tracer(bool(args.trace))
    tree = ProcTree(os.getpid())
    phases = {}  # wall seconds of each phase of this run
    t0 = time.perf_counter()
    wl = workloads.WORKLOADS[args.workload](args.seed, work)
    phases["generate"] = time.perf_counter() - t0
    layer: Dict[str, float] = {}
    if args.trace:
        rng = Random(f"kernel:{args.seed}")
        texts = [r["text"] for r in rng.sample(wl.corpus.rows, KERNEL_SAMPLE)]
        with tracer.span("kernel.profile"):
            layer.update(kernel.profile(texts))

    t0 = time.perf_counter()
    spark = None
    try:
        spark = make_session(cores, work)
        with tracer.span("setup.tiny_extraction"):
            tiny_extraction(spark, wl.corpus.rows[: 4 * cores])
        setup_s = phases["setup"] = time.perf_counter() - t0
        ctx = workloads.Ctx(spark, cores, tracer, SqlMetrics(spark), tree)
        t0 = time.perf_counter()
        with tracer.span("check"):
            check = wl.check(ctx)
        phases["check"] = time.perf_counter() - t0
        passes, timed_input = [], None
        t0 = time.perf_counter()
        deadline = t0 + args.seconds
        while time.perf_counter() < deadline or len(passes) < MIN_PASSES + 2 * args.trace:
            # a traced run traces every other pass from the third on (the
            # first pass runs slow), so the tracing overhead is measured
            # within one run; spans are recorded in the traced passes only
            traced = bool(args.trace) and len(passes) % 2 == 0 and len(passes) > 0
            corpus, path = wl.batch(len(passes) + 1)  # every pass reads a fresh batch
            timed_input = timed_input or gen.input_properties(corpus)
            # every pass starts from a collected JVM heap, so its peak RSS does
            # not depend on how much garbage the previous pass left behind
            spark.sparkContext._jvm.System.gc()
            tracer.enabled = traced
            with tracer.span("pass"):
                passes.append((traced, wl.timed_pass(ctx, traced, path)))
            tracer.enabled = bool(args.trace)
            shutil.rmtree(path)
        phases["passes"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        with tracer.span("finish"):
            finish_layer, finish_check = wl.finish(ctx, bool(args.trace))
        check.merge(finish_check)
        phases["finish"] = time.perf_counter() - t0
    finally:
        t0 = time.perf_counter()
        stop_session(spark, tree)
        phases["stop"] = time.perf_counter() - t0
    host_after = host_load()

    n = wl.n_turns  # turns of each timed batch
    plain = [p for traced, p in passes if not traced]
    end_to_end = {
        # the fastest pass: load from other tenants of the host only ever
        # adds time, and can slow one pass of a run by a third while
        # another runs at speed
        "turns_per_sec": max(n / p.job.wall for p in plain),
        "cpu_ms_per_turn": _median([p.job.cpu / n * 1000 for p in plain]),
        "setup_s": setup_s,
        # the peak over all timed passes: one pass's peak depends on when the
        # JVM grows its heap, the largest over the passes much less so
        "peak_rss_mb": max(p.job.peak for p in plain) / 2 ** 20,
        "correct_share": 1 - check.failed / max(1, check.attempted),
    }
    if args.trace:
        layer.update(finish_layer)
        traced = [p for t, p in passes if t]
        for key in sorted({k for p in traced for k in p.layer}):
            layer[key] = _median([p.layer[key] for p in traced if key in p.layer])
        if "kernel.extract_turn_ms" in layer:
            layer["extract.framework_eff"] = end_to_end["turns_per_sec"] / (
                cores * 1000 / layer["kernel.extract_turn_ms"])
        # each traced pass against the mean of the untraced passes on either
        # side, so that a drift across passes (JIT, worker memos) cancels
        walls = [p.job.wall for _, p in passes]
        layer["trace.overhead_pct"] = 100 * (_median([
            walls[i] / ((walls[i - 1] + walls[i + 1]) / 2)
            for i in range(1, len(passes) - 1) if passes[i][0]]) - 1)
        # a layer the workload does not run reports 0 (no time, no work)
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        tracer.write(os.path.join(work, f"trace-seed{args.seed}.json"))
    else:
        metrics = {m["name"]: {"value": float(end_to_end[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}

    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "input": timed_input, "checked_input": gen.input_properties(wl.corpus),
        "host_before": host_before, "host_after": host_after,
        "passes": len(passes), "traced_passes": sum(t for t, _ in passes),
        "phase_s": phases,
        "pass_wall_s": [round(p.job.wall, 3) for _, p in passes],
        "pass_cpu_s": [round(p.job.cpu, 2) for _, p in passes],
        "pass_peak_mb": [round(p.job.peak / 2 ** 20) for _, p in passes],
        "pass_procs": [p.job.procs for _, p in passes],
        "end_to_end_in_this_run": end_to_end,
    }))
    print(json.dumps({"correct": check.failed == 0, "attempted": check.attempted,
                      "failed": check.failed, "metrics": metrics}), flush=True)
    return 0


def main(argv=None) -> int:
    sys.path[:0] = [ROOT, HERE]
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "htep_spark", "__init__.py")):
        print(f"htep_spark not found under {ROOT}: run from a checkout of the repository",
              file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
