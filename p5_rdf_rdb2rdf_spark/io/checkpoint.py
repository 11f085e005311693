"""Per-stage checkpoints with lineage + resume (BASELINE.json north_rule:
"resumable from checkpoint with per-partition lineage + metrics").

Each pipeline stage writes its output DataFrame as a checkpoint table plus a
``_lineage`` entry: stage name, input snapshot ids, per-partition row counts,
row total, wall time, and the mapping-IR JSON in force (SURVEY.md §3.6).
``run_stage`` skips stages whose checkpoint is already complete, so a killed
run resumes from the last complete stage with byte-identical results
(deterministic transforms by construction — no rand(), no wall-clock values
inside data).
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LINEAGE = "_lineage.json"


class StageCheckpointer:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- lineage manifest ----------------------------------------------------
    def _lineage_path(self) -> str:
        return os.path.join(self.root, LINEAGE)

    def lineage(self) -> dict:
        try:
            with open(self._lineage_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"stages": {}}

    def _save_lineage(self, lin: dict) -> None:
        tmp = self._lineage_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(lin, f, indent=1)
        os.replace(tmp, self._lineage_path())

    # -- stages ----------------------------------------------------------------
    def stage_dir(self, stage: str) -> str:
        return os.path.join(self.root, f"stage-{stage}")

    def is_complete(self, stage: str) -> bool:
        return stage in self.lineage()["stages"]

    def read(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self.stage_dir(stage))

    def run_stage(
        self,
        stage: str,
        fn: Callable[[], DataFrame],
        inputs: list[str] | None = None,
        meta: dict | None = None,
    ) -> DataFrame:
        """Run (or resume) one stage. ``fn`` builds the stage's DataFrame;
        it only executes when the checkpoint is missing/incomplete
        (``reset_from`` forces a re-run)."""
        if self.is_complete(stage):
            return self.read(stage)
        t0 = time.time()
        out_dir = self.stage_dir(stage)
        df = fn()
        df.write.mode("overwrite").parquet(out_dir)
        back = self.spark.read.parquet(out_dir)
        # Per-partition row counts come from the PARQUET FOOTERS of the files
        # just written — O(files) metadata reads, ZERO data scans. (The first
        # footer version used os.listdir + a sorted file index, which only
        # worked on the driver's local filesystem and mis-assigned partition
        # ids when a task committed several files — ADVICE r4. Now: any
        # Hadoop-supported URI via io.footers, partition ids parsed from the
        # part-file names and summed per id. Before THAT it was an
        # rdd.mapPartitions Python count: a full re-read of the checkpoint
        # per stage at 100 TB.)
        from .footers import parquet_file_rows, task_partition_id

        # Two passes: real task pids first, THEN tail slots for non-Spark-
        # named files — interleaving them let an alphabetically-early alien
        # file claim pid 0 and absorb a real partition's counts (review r5).
        file_rows = parquet_file_rows(self.spark, out_dir)
        rows_by_pid: dict[int, int] = {}
        unnamed: list[int] = []
        for fpath, rows in file_rows:
            pid = task_partition_id(fpath)
            if pid is None:
                unnamed.append(rows)
            else:
                rows_by_pid[pid] = rows_by_pid.get(pid, 0) + rows
        next_pid = max(rows_by_pid, default=-1) + 1
        for rows in unnamed:
            rows_by_pid[next_pid] = rows
            next_pid += 1
        per_part = [
            {"partition": pid, "rows": rows_by_pid[pid]} for pid in sorted(rows_by_pid)
        ]
        lin = self.lineage()
        lin["stages"][stage] = {
            "dir": out_dir,
            "inputs": inputs or [],
            "rows": int(sum(p["rows"] for p in per_part)),
            "partitions": per_part,
            "wall_sec": round(time.time() - t0, 3),
            "completed_at": time.time(),
            "meta": meta or {},
        }
        self._save_lineage(lin)
        return back

    def reset_from(self, stage: str) -> None:
        """Invalidate a stage and everything recorded after it."""
        lin = self.lineage()
        if stage not in lin["stages"]:
            return
        cutoff = lin["stages"][stage]["completed_at"]
        lin["stages"] = {
            k: v for k, v in lin["stages"].items() if v["completed_at"] < cutoff
        }
        self._save_lineage(lin)
