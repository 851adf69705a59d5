"""Checkpoint / lineage / metrics for resumable multi-stage runs
(north rule: "resumable from checkpoint with per-partition lineage +
metrics").

A pipeline is a sequence of named stages.  Each stage's output is written
to ``<root>/<stage>/data`` (parquet) with a ``_stage_manifest.json``
recording per-spark-partition row counts (the lineage), wall time, and a
DONE marker.  The lineage is read from the parquet footers of the files
the write just produced — Spark names each task's file
``part-<partition id>-…`` — so it costs no Spark job and adds no column
to the stage output.  The manifest swap is atomic (temp file +
``os.replace``): a crash mid-commit leaves no manifest, never a torn one.
``run_stage`` skips stages whose manifest is already complete — a
restarted driver resumes exactly after the last finished stage, reading
its predecessor's parquet instead of recomputing.

This is deliberately storage-level resume (the only kind that survives a
driver loss), not Spark's in-session ``.checkpoint()``.
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..sources.iceberg_like import _data_files, _swap_manifest

STAGE_MANIFEST = "_stage_manifest.json"


class CheckpointedRun:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _stage_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def stage_manifest(self, name: str) -> dict | None:
        p = os.path.join(self._stage_dir(name), STAGE_MANIFEST)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            m = json.load(f)
        return m if m.get("done") else None

    def run_stage(self, name: str, build: Callable[[], DataFrame]) -> DataFrame:
        """Produce stage ``name``: reuse the checkpointed output if its
        manifest is complete, else build → write → manifest.

        The write is the stage's only Spark job.  ``partition_rows`` sums
        the footer row counts of each task's ``part-<partition id>-…``
        files; partitions that wrote no rows are absent.  The returned
        frame reads the written files with the build's schema (no
        schema-inference job)."""
        sdir = self._stage_dir(name)
        data = os.path.join(sdir, "data")
        if self.stage_manifest(name) is not None:
            return self.spark.read.parquet(data)

        t0 = time.time()
        df = build()
        df.write.mode("overwrite").parquet(data)
        part_counts: dict[str, int] = {}
        for fname, n in _data_files(data):
            part = str(int(fname.split("-")[1]))
            part_counts[part] = part_counts.get(part, 0) + n
        manifest = {
            "stage": name,
            "done": True,
            "wall_sec": round(time.time() - t0, 3),
            "rows": sum(part_counts.values()),
            "partition_rows": part_counts,
            "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        _swap_manifest(sdir, manifest, STAGE_MANIFEST)
        return self.spark.read.schema(df.schema).parquet(data)

    def metrics(self) -> dict:
        out = {}
        if not os.path.isdir(self.root):
            return out
        for name in sorted(os.listdir(self.root)):
            m = self.stage_manifest(name)
            if m:
                out[name] = {k: m[k] for k in ("wall_sec", "rows", "finished_at")}
        return out
