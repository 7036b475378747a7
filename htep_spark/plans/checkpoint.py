"""Per-partition checkpoint manifest with lineage + metrics, exact resume.

The north_rule requires the 10^12-turn job to checkpoint per-partition
progress with lineage and extraction metrics and resume exactly. Work units
are input *files* (the parquet analogue of Iceberg manifest entries; with an
Iceberg catalog the unit becomes a data file from the snapshot's manifest
list and ``input_snapshot_id`` is recorded — same protocol, config-only
swap, see ``sources/io.py``).

Protocol (write-ordering gives idempotent exactly-once resume):
  1. list input files → stable ``partition_id`` per file
  2. anti-join against manifest rows with ``status = 'done'`` → pending
  3. per pending unit: extract → write data to its own output subdir
     (overwrite — a re-run of a crashed unit is idempotent) → only then
     append the manifest row with metrics
A crash between data write and manifest append re-runs that unit; the
overwrite makes it harmless. The manifest doubles as the run's lineage +
metrics table (blocks kept/dropped, span counts, failures per unit).
"""

from __future__ import annotations

import hashlib
import os
import time
from typing import Dict, List, Optional

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .pipeline import run_extraction

__all__ = ["plan_units", "pending_units", "run_with_checkpoint", "read_manifest"]

MANIFEST_COLUMNS = [
    "run_id", "partition_id", "input_file", "status", "n_turns", "n_failed",
    "n_segments", "blocks_kept", "blocks_dropped", "wall_sec", "finished_at",
]


def _partition_id(input_file: str) -> str:
    return hashlib.sha1(os.path.basename(input_file).encode()).hexdigest()[:16]


def plan_units(input_path: str) -> List[Dict[str, str]]:
    """Input files of a parquet dataset → work units (deterministic order)."""
    if os.path.isfile(input_path):
        files = [input_path]
    else:
        files = sorted(
            os.path.join(input_path, f)
            for f in os.listdir(input_path)
            if f.endswith(".parquet")
        )
    return [{"partition_id": _partition_id(f), "input_file": f} for f in files]


def read_manifest(spark: SparkSession, manifest_dir: str) -> Optional[DataFrame]:
    """The manifest table, or None when no run has written one yet. Any
    other read failure (a corrupt manifest) raises: reading it as "no
    manifest" would re-run every unit and keep appending to it."""
    try:
        return spark.read.parquet(manifest_dir)
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            return None
        raise


def pending_units(spark: SparkSession, input_path: str, manifest_dir: str) -> List[Dict]:
    units = plan_units(input_path)
    manifest = read_manifest(spark, manifest_dir)
    if manifest is None:
        return units
    done = {
        r["partition_id"]
        for r in manifest.filter(F.col("status") == "done")
        .select("partition_id")
        .distinct()
        .collect()
    }
    return [u for u in units if u["partition_id"] not in done]


def run_with_checkpoint(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    manifest_dir: str,
    run_id: str = "run-0",
) -> Dict[str, int]:
    """Process all pending units; returns ``{processed, skipped}``."""
    all_units = plan_units(input_path)
    todo = pending_units(spark, input_path, manifest_dir)
    processed = 0
    for unit in todo:
        t0 = time.time()
        df = spark.read.parquet(unit["input_file"])
        extracted = run_extraction(df)
        out_path = os.path.join(output_dir, f"part-{unit['partition_id']}")
        # manifest metrics come out of the write pass itself via observe()
        # — a second full read of the just-written output per unit would be
        # a second scan of the whole extraction at 10^12-turn scale
        obs = Observation(f"unit-{unit['partition_id']}")
        extracted.observe(
            obs,
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.col("result.metrics.failed").cast("int")).alias("n_failed"),
            F.sum("result.metrics.n_segments").alias("n_segments"),
            F.sum("result.metrics.blocks_kept").alias("blocks_kept"),
            F.sum("result.metrics.blocks_dropped").alias("blocks_dropped"),
        ).write.mode("overwrite").parquet(out_path)
        stats = obs.get
        row = [
            (
                run_id,
                unit["partition_id"],
                unit["input_file"],
                "done",
                int(stats["n_turns"] or 0),
                int(stats["n_failed"] or 0),
                int(stats["n_segments"] or 0),
                int(stats["blocks_kept"] or 0),
                int(stats["blocks_dropped"] or 0),
                float(round(time.time() - t0, 3)),
                time.strftime("%Y-%m-%dT%H:%M:%S"),
            )
        ]
        spark.createDataFrame(row, MANIFEST_COLUMNS).write.mode("append").parquet(
            manifest_dir
        )
        processed += 1
    return {"processed": processed, "skipped": len(all_units) - len(todo)}
