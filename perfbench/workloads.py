"""The workloads: inputs, one timed pass, and the correctness checks.

Every workload calls only the program's public entry points
(``plans.pipeline``, ``plans.checkpoint``, ``operators.conversation``,
``operators.dedup``) on inputs read back from parquet, and writes results
to Spark's ``noop`` sink unless the call itself writes. A pass returns the
wall, process-tree CPU and peak RSS of its timed region (``Meter``), and,
when traced, the per-layer figures of that pass.

Why these two: on ``extract_mixed`` the Python kernel and the Arrow
crossing do nearly all the work and nothing shuffles, so a kernel or
crossing gain shows there and a downstream-only change should read flat;
in a traced run its closing checkpoint cycle adds parquet writes, one Spark
job per input file and the resume path. On ``conv_downstream`` the kernel
work per turn is small and shuffle, aggregation, the grouped-Python
mega-conversation and the dedup joins dominate, so a kernel gain should
barely register there.
"""

from __future__ import annotations

import glob
import math
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from random import Random
from typing import Dict, Iterator, List, Tuple

import gen
from probes import PeakSampler, ProcTree, SqlMetrics, Tracer, node_sum

DEDUP_THRESHOLD = 0.6  # dedup_keepers' default
SAMPLE_TURNS = 48  # turns compared byte for byte per check


@dataclass
class Ctx:
    spark: object
    cores: int
    tracer: Tracer
    sql: SqlMetrics
    tree: ProcTree


@dataclass
class Meter:
    wall: float = 0.0
    cpu: float = 0.0
    peak: int = 0
    procs: int = 0


@dataclass
class Check:
    attempted: int = 0
    failed: int = 0

    def add(self, attempted: int, failed: int) -> None:
        self.attempted += attempted
        self.failed += failed

    def merge(self, other: "Check") -> None:
        self.add(other.attempted, other.failed)


@dataclass
class PassResult:
    job: Meter
    layer: Dict[str, float] = field(default_factory=dict)


@contextmanager
def metered(tree: ProcTree) -> Iterator[Meter]:
    m = Meter()
    with PeakSampler(tree) as sampler:
        cpu0 = tree.cpu_s()
        t0 = time.perf_counter()
        yield m
        m.wall = time.perf_counter() - t0
        m.cpu = tree.cpu_s() - cpu0
    m.peak, m.procs = sampler.peak, sampler.procs


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _normalize(value):
    """Spark Rows/arrays → plain Python, as in
    ``tests/test_spark_pipeline.py::test_spark_equals_oracle_byte_for_byte``."""
    if hasattr(value, "asDict"):
        return {k: _normalize(v) for k, v in value.asDict().items()}
    if isinstance(value, list):
        return [_normalize(v) for v in value]
    if isinstance(value, dict):
        return {k: _normalize(v) for k, v in value.items()}
    if isinstance(value, float) and math.isnan(value):
        return None
    return value


def compare_sample(extracted, corpus: gen.Corpus, seed: int) -> Check:
    """Seeded sample of output rows vs ``reference.extract_turn``."""
    from pyspark.sql import functions as F

    from htep_spark.reference import extract_turn

    sample = Random(f"sample:{seed}").sample(corpus.rows, min(SAMPLE_TURNS, len(corpus.rows)))
    keys = [f"{r['conv_id']}:{r['turn_idx']}" for r in sample]
    got = {
        f"{row['conv_id']}:{row['turn_idx']}": row["result"]
        for row in extracted.where(
            F.concat_ws(":", "conv_id", F.col("turn_idx").cast("string")).isin(keys)
        ).select("conv_id", "turn_idx", "result").collect()
    }
    failed = sum(
        1 for key, r in zip(keys, sample)
        if key not in got or _normalize(got[key]) != _normalize(extract_turn(r["text"]))
    )
    return Check(len(sample), failed)


def compare_counts(counts: Dict[str, tuple], corpus: gen.Corpus) -> Check:
    """``counts[conv_id] = (rows, distinct turn_idx, min, max)`` vs the
    generated sizes → turns lost or duplicated."""
    bad = 0
    for conv, size in corpus.conv_sizes.items():
        n, distinct, lo, hi = counts.get(conv, (0, 0, None, None))
        bad += (n - distinct) + max(0, size - distinct)
        if distinct and (lo != 0 or hi != size - 1):
            bad += 1
    bad += sum(c[0] for conv, c in counts.items() if conv not in corpus.conv_sizes)
    return Check(len(corpus.rows), bad)


def key_counts(df) -> Dict[str, tuple]:
    from pyspark.sql import functions as F

    return {
        r["conv_id"]: (r["n"], r["d"], r["lo"], r["hi"])
        for r in df.groupBy("conv_id").agg(
            F.count("*").alias("n"), F.countDistinct("turn_idx").alias("d"),
            F.min("turn_idx").alias("lo"), F.max("turn_idx").alias("hi"),
        ).collect()
    }


def arrow_layer(nodes: List[Dict], cores: int, wall: float) -> Dict[str, float]:
    """Arrow-crossing figures of the ArrowEvalPython nodes of one write that
    took ``wall`` seconds.

    Spark times a Python node per task from the start of its runner to the
    worker's last output. The two pipelined nodes of ``run_extraction``
    start together, so the outer node's time spans the inner one's: times
    are reported per node, never summed. Spark's init and boot times are
    left out: a reused worker stamps its boot time when it starts waiting
    for its next task, so its "init" time counts the idle time in between.
    """
    arrow = [n for n in nodes if n["name"] == "ArrowEvalPython"]
    executions = sorted({n["execution"] for n in arrow})
    chains = [sorted((n for n in arrow if n["execution"] == e), key=lambda n: n["id"])
              for e in executions]
    run = "time to run Python workers"
    python_s = node_sum([c[0] for c in chains], run)  # outermost: the whole Python section
    share = python_s / (cores * wall)
    if share > 1.05:
        print(f"warning: extract.python_s {python_s:.1f} s exceeds {cores} cores x "
              f"{wall:.1f} s of the write", file=sys.stderr)
    return {
        "extract.arrow_nodes": len(arrow) / max(1, len(executions)),
        "extract.python_s": python_s,
        # nearest the scan: extract_core_udf (payload decode + dictionary post-processing)
        "extract.core_python_s": node_sum([c[-1] for c in chains], run),
        "extract.python_share": share,
        "extract.bytes_to_python": node_sum(arrow, "data sent to Python workers"),
        "extract.bytes_from_python": node_sum(arrow, "data returned from Python workers"),
    }


class Workload:
    """Batch 0 (``n_check`` turns) is checked in an untimed pass that also
    warms the JVM and the Python workers; timed pass ``k`` reads batch
    ``k`` of ``n_turns`` turns."""

    name = ""
    n_turns = 0
    n_check = 0  # turns of the checked batch; 0: n_turns
    n_files = 8

    def __init__(self, seed: int, work: str) -> None:
        self.seed, self.work = seed, work
        self.corpus, self.input_dir = self.batch(0, self.n_check or self.n_turns)

    def batch(self, k: int, n_turns: int = 0):
        """Generate and write batch ``k`` → (corpus, parquet directory)."""
        corpus = self.generate(self.seed, k, n_turns or self.n_turns)
        path = os.path.join(self.work, f"input-{k}")
        gen.write_parquet(corpus.rows, path, self.n_files)
        return corpus, path

    def generate(self, seed: int, batch: int, n_turns: int) -> gen.Corpus:
        raise NotImplementedError

    def check(self, ctx: Ctx) -> Check:
        raise NotImplementedError

    def timed_pass(self, ctx: Ctx, traced: bool, path: str) -> PassResult:
        raise NotImplementedError

    def finish(self, ctx: Ctx, traced: bool) -> Tuple[Dict[str, float], Check]:
        """Work after the timed passes → (per-layer figures, check)."""
        return {}, Check()


class ExtractMixed(Workload):
    """``run_extraction`` → full result struct → noop sink; a traced run
    then makes a ``CheckpointCycle``.

    A pass of 6,000 turns runs ~6 s on 4 cores. Throughput against pass
    size on a 4-vCPU host: 1,200 turns ~420/s, 4,800 ~975/s, 6,000 ~1,000/s,
    9,600 ~1,050/s, so a fixed ~2 s per Spark job is about a third of a
    pass here, against four fifths at 1,200. The checked batch is half a
    pass, to keep a run within its time budget."""

    name = "extract_mixed"
    n_turns = 6000
    n_check = 3000

    def generate(self, seed: int, batch: int, n_turns: int) -> gen.Corpus:
        return gen.clinical_corpus(seed, batch, n_turns)

    def check(self, ctx: Ctx) -> Check:
        from pyspark.sql import functions as F

        from htep_spark.plans.pipeline import run_extraction

        extracted = run_extraction(ctx.spark.read.parquet(self.input_dir))
        # to_json(result) makes every stage UDF run, as the timed pass does
        forced = extracted.where(F.length(F.to_json("result")) > 0)
        check = compare_counts(key_counts(forced), self.corpus)
        check.merge(compare_sample(extracted, self.corpus, self.seed))
        return check

    def timed_pass(self, ctx: Ctx, traced: bool, path: str) -> PassResult:
        from htep_spark.plans.pipeline import run_extraction

        mark = ctx.sql.mark()
        with ctx.tracer.span("extract.write"), metered(ctx.tree) as m:
            noop(run_extraction(ctx.spark.read.parquet(path)))
        layer = arrow_layer(ctx.sql.nodes_since(mark), ctx.cores, m.wall) if traced else {}
        return PassResult(m, layer)

    def finish(self, ctx: Ctx, traced: bool) -> Tuple[Dict[str, float], Check]:
        """Traced runs only: the same kind of turns through the
        checkpointed writer, crashes and resumes, checked and timed. An
        untraced run leaves it out: its ~12 s would bring the runs of both
        workloads near their time budget on a busy host."""
        if not traced:
            return {}, Check()
        return CheckpointCycle(self.seed, self.work).run(ctx)


class ConvDownstream(Workload):
    """``run_extraction`` then the per-conversation rollups and dedup over
    ``corrected_text``, each to a noop sink.

    A pass runs ~12 s on 4 cores at 800, 2,400 and 4,000 turns alike:
    ``dedup_keepers`` takes ~7 s whatever the size (its connected-components
    loop runs one Spark job per round), the extraction and the JVM rollup
    ~3 s. 4,000 turns is the largest size before the candidate pairs of
    the templated agent turns make dedup grow (~15 s at 8,000). The checked
    batch is small: the first pass costs the same at any size."""

    name = "conv_downstream"
    n_turns = 4000
    n_check = 600

    def generate(self, seed: int, batch: int, n_turns: int) -> gen.Corpus:
        return gen.agent_corpus(seed, batch, n_turns)

    @staticmethod
    def docs(extracted):
        from pyspark.sql import functions as F

        doc_id = F.shiftleft(F.substring("conv_id", 2, 16).cast("long"), 20).bitwiseOR(
            F.col("turn_idx").cast("long"))
        return extracted.select(doc_id.alias("doc_id"),
                                F.col("result.corrected_text").alias("corrected_text"))

    def check(self, ctx: Ctx) -> Check:
        from htep_spark.operators.conversation import conversation_rollup
        from htep_spark.operators.dedup import dedup_keepers
        from htep_spark.plans.pipeline import per_conversation_metrics, run_extraction

        extracted = run_extraction(ctx.spark.read.parquet(self.input_dir)).persist()
        sizes = self.corpus.conv_sizes
        metrics = {r["conv_id"]: r for r in per_conversation_metrics(extracted).collect()}
        check = compare_counts(
            {c: (r["n_turns"], r["n_distinct_turns"], r["min_turn"], r["max_turn"])
             for c, r in metrics.items()}, self.corpus)
        check.add(0, sum(sizes[c] for c, r in metrics.items()
                         if c in sizes and not r["ordered_ok"]))
        rollup = {r["conv_id"]: r["n_turns"] for r in conversation_rollup(extracted).collect()}
        check.add(0, sum(size for c, size in sizes.items() if rollup.get(c) != size))
        keep = {r["doc_id"]: r["keep"]
                for r in dedup_keepers(self.docs(extracted), "doc_id", "corrected_text").collect()}
        rows = self.corpus.rows
        planted = [gen.doc_id(int(rows[d]["conv_id"][1:]), rows[d]["turn_idx"])
                   for d in self.corpus.planted]
        check.add(len(planted), sum(1 for d in planted if keep.get(d) is not False))
        check.add(0, abs(len(keep) - len(rows)))
        check.merge(compare_sample(extracted, self.corpus, self.seed))
        extracted.unpersist(blocking=True)
        return check

    def timed_pass(self, ctx: Ctx, traced: bool, path: str) -> PassResult:
        from htep_spark.operators.conversation import conversation_rollup
        from htep_spark.operators.dedup import dedup_keepers
        from htep_spark.plans.pipeline import per_conversation_metrics, run_extraction

        tr, sql = ctx.tracer, ctx.sql
        layer: Dict[str, float] = {}
        with metered(ctx.tree) as m:
            # extracted once per pass and kept for the three consumers, as a
            # pipeline that feeds several stages from one extraction would
            extracted = run_extraction(ctx.spark.read.parquet(path)).persist()
            mark = sql.mark()
            with tr.span("extract.write"):
                t0 = time.perf_counter()
                noop(extracted)
                write_s = time.perf_counter() - t0
            if traced:
                layer.update(arrow_layer(sql.nodes_since(mark), ctx.cores, write_s))
            mark = sql.mark()
            with tr.span("pipeline.per_conversation_metrics"):
                t0 = time.perf_counter()
                noop(per_conversation_metrics(extracted))
                layer["pipeline.conv_metrics_s"] = time.perf_counter() - t0
            if traced:
                nodes = sql.nodes_since(mark)
                layer["pipeline.shuffle_bytes"] = node_sum(nodes, "shuffle bytes written")
            mark = sql.mark()
            with tr.span("conversation.rollup"):
                t0 = time.perf_counter()
                noop(conversation_rollup(extracted))
                layer["conversation.rollup_s"] = time.perf_counter() - t0
            if traced:
                groups = [n for n in sql.nodes_since(mark) if n["name"] == "FlatMapGroupsInPandas"]
                layer["conversation.python_s"] = node_sum(groups, "time to run Python workers")
            pinned = sql.persisted_rdds()
            with tr.span("dedup.keepers"):
                t0 = time.perf_counter()
                noop(dedup_keepers(self.docs(extracted), "doc_id", "corrected_text"))
                layer["dedup.keepers_s"] = time.perf_counter() - t0
            layer["dedup.pinned_rdds_after"] = sql.persisted_rdds() - pinned
            extracted.unpersist(blocking=True)
        if not traced:
            layer = {}
        return PassResult(m, layer)

    def finish(self, ctx: Ctx, traced: bool) -> Tuple[Dict[str, float], Check]:
        """Traced runs only: dedup's candidate pairs and the grouped
        rollup's task skew, on one more batch of pass size (untimed)."""
        if not traced:
            return {}, Check()
        from htep_spark.plans.pipeline import run_extraction

        _, path = self.batch(-1)
        extracted = run_extraction(ctx.spark.read.parquet(path)).persist()
        layer = self.candidate_pairs(ctx, extracted)
        layer["conversation.task_skew"] = self.rollup_skew(ctx, extracted)
        extracted.unpersist(blocking=True)
        shutil.rmtree(path)
        return layer, Check()

    def candidate_pairs(self, ctx: Ctx, extracted) -> Dict[str, float]:
        """Candidate pairs and their yield, from the same public stages
        ``dedup_keepers`` composes."""
        from pyspark.sql import functions as F

        from htep_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

        with ctx.tracer.span("dedup.candidate_pairs"):
            docs = self.docs(extracted)
            cand = lsh_candidate_pairs(minhash_signatures(docs, "doc_id", "corrected_text"))
            row = cand.agg(F.count("*").alias("n"),
                           F.sum((F.col("est_jaccard") >= DEDUP_THRESHOLD).cast("long")).alias("hit")
                           ).collect()[0]
        n = row["n"] or 0
        return {"dedup.candidate_pairs": float(n),
                "dedup.pair_yield": (row["hit"] or 0) / n if n else 0.0}

    @staticmethod
    def rollup_skew(ctx: Ctx, extracted) -> float:
        """Slowest ÷ median task of ``conversation_rollup``'s grouped-Python
        stage. Adaptive partition coalescing is switched off for this one
        call: at this size it merges the stage into a single task, which
        would hide the mega-conversation."""
        from htep_spark.operators.conversation import conversation_rollup

        key = "spark.sql.adaptive.coalescePartitions.enabled"
        before = ctx.spark.conf.get(key)
        ctx.spark.conf.set(key, "false")
        try:
            with ctx.tracer.span("conversation.rollup_skew"):
                mark = ctx.sql.mark()
                noop(conversation_rollup(extracted))
                groups = [n for n in ctx.sql.nodes_since(mark)
                          if n["name"] == "FlatMapGroupsInPandas"]
        finally:
            ctx.spark.conf.set(key, before)
        if not groups:
            return 0.0
        _, _, med, slowest = groups[0]["metrics"]["time to run Python workers"]
        return slowest / max(1e-3, med)


class CheckpointCycle:
    """``run_with_checkpoint`` over one input file per unit, then four
    rounds, each of one seeded unit: a simulated crash between that unit's
    data write and its manifest append, and the re-submit that finishes the
    job. The output after the last round must equal the uninterrupted
    run's, row for row. ``checkpoint.resume_s`` is the median over the
    rounds after the first: a run's first re-submit takes up to twice as
    long as the next ones. Each round starts from a collected JVM heap."""

    n_turns = 200
    n_files = 3
    rounds = 4

    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.corpus = gen.clinical_corpus(seed, -1, self.n_turns)
        self.input_dir = os.path.join(work, "checkpoint-input")
        gen.write_parquet(self.corpus.rows, self.input_dir, self.n_files)
        self.run_dir = os.path.join(work, "checkpoint-run")

    @staticmethod
    def _rows(ctx: Ctx, out_dir: str) -> List[Tuple[str, int, int]]:
        """Every output row as (conv_id, turn_idx, hash of its result);
        duplicates kept."""
        from pyspark.sql import functions as F

        parts = sorted(glob.glob(os.path.join(out_dir, "part-*")))
        df = ctx.spark.read.parquet(*parts)
        return [(r["conv_id"], r["turn_idx"], r["h"])
                for r in df.select("conv_id", "turn_idx",
                                   F.xxhash64(F.to_json("result")).alias("h")).collect()]

    def _compare(self, before: List[Tuple[str, int, int]],
                 after: List[Tuple[str, int, int]]) -> Check:
        """Resumed rows vs the uninterrupted run's: a key whose rows differ
        from its one uninterrupted row, a key that is new, and every turn
        lost or duplicated count as failures."""
        expected = {(c, t): h for c, t, h in before}
        got: Dict[Tuple[str, int], List[int]] = {}
        for c, t, h in after:
            got.setdefault((c, t), []).append(h)
        check = Check(len(expected), sum(1 for k, h in expected.items() if got.get(k) != [h])
                      + len(set(got) - set(expected)))
        turns: Dict[str, List[int]] = {}
        for c, t, _ in after:
            turns.setdefault(c, []).append(t)
        check.merge(compare_counts(
            {c: (len(t), len(set(t)), min(t), max(t)) for c, t in turns.items()}, self.corpus))
        return check

    @staticmethod
    def _crash(manifest_dir: str, unit: str) -> None:
        """Delete one unit's manifest row, as if the job died before it."""
        import pyarrow.parquet as pq

        for path in glob.glob(os.path.join(manifest_dir, "*.parquet")):
            if unit in pq.read_table(path, columns=["partition_id"]).column(0).to_pylist():
                os.remove(path)

    def run(self, ctx: Ctx):
        """→ (per-layer figures, check)."""
        from htep_spark.plans.checkpoint import (
            pending_units, plan_units, read_manifest, run_with_checkpoint,
        )

        out, manifest = os.path.join(self.run_dir, "out"), os.path.join(self.run_dir, "manifest")
        tr = ctx.tracer
        with tr.span("checkpoint.run"), metered(ctx.tree) as job:
            run_with_checkpoint(ctx.spark, self.input_dir, out, manifest, "run-full")
        walls = [r["wall_sec"] for r in read_manifest(ctx.spark, manifest).collect()]
        layer = {
            "checkpoint.unit_s_p50": statistics.median(walls),
            "checkpoint.unit_s_p90": statistics.quantiles(walls, n=10, method="inclusive")[8],
            "checkpoint.cpu_util": job.cpu / (job.wall * ctx.cores),
            "checkpoint.bytes_written": float(sum(
                os.path.getsize(p) for p in glob.glob(os.path.join(self.run_dir, "**"), recursive=True)
                if os.path.isfile(p))),
        }
        before = self._rows(ctx, out)
        units = [u["partition_id"] for u in plan_units(self.input_dir)]
        crashed = Random(f"crash:{self.seed}").choices(units, k=self.rounds)
        plan_s, resume_s, redone, check = [], [], 0, Check()
        for unit in crashed:
            self._crash(manifest, unit)
            ctx.spark.sparkContext._jvm.System.gc()
            with tr.span("checkpoint.pending_units"):
                t0 = time.perf_counter()
                pending = pending_units(ctx.spark, self.input_dir, manifest)
                plan_s.append(time.perf_counter() - t0)
            with tr.span("checkpoint.resume"):
                t0 = time.perf_counter()
                resumed = run_with_checkpoint(ctx.spark, self.input_dir, out, manifest, "run-resume")
                resume_s.append(time.perf_counter() - t0)
            redone += resumed["processed"]
            check.add(1, int([u["partition_id"] for u in pending] != [unit]))
        layer["checkpoint.plan_s"] = statistics.median(plan_s[1:] or plan_s)
        layer["checkpoint.resume_s"] = statistics.median(resume_s[1:] or resume_s)
        layer["checkpoint.units_redone"] = redone / len(crashed)

        check.merge(self._compare(before, self._rows(ctx, out)))
        parts = sorted(glob.glob(os.path.join(out, "part-*")))
        check.merge(compare_sample(ctx.spark.read.parquet(*parts), self.corpus, self.seed))
        shutil.rmtree(self.run_dir, ignore_errors=True)
        return layer, check


WORKLOADS = {w.name: w for w in (ExtractMixed, ConvDownstream)}
