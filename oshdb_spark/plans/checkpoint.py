"""Stage-boundary checkpointing with per-partition lineage + metrics.

North-rule requirement: every stage resumable from a durable checkpoint,
with per-partition lineage and metrics. In the reference, resumability
doesn't exist (a crashed MapReducer query restarts from scratch); here
each pipeline stage materializes to a table and a JSON manifest:

    <base>/<stage>/data/...            parquet (Iceberg on a real cluster)
    <base>/<stage>/manifest.json       {stage, status, rows, wall_s,
                                        inputs, partitions: [{pid, rows}],
                                        written_at}

Re-running a pipeline skips stages whose manifest says complete — an
idempotent, coarse-grained recovery model that matches how 100 TB batch
jobs actually restart (stage granularity, not task granularity — tasks
are Spark's own retry domain).
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class Pipeline:
    """A named sequence of checkpointed stages."""

    def __init__(self, spark: SparkSession, base_path: str, name: str = "pipeline"):
        self.spark = spark
        self.base = base_path
        self.name = name

    def _paths(self, stage: str) -> tuple[str, str]:
        root = os.path.join(self.base, stage)
        return os.path.join(root, "data"), os.path.join(root, "manifest.json")

    def manifest(self, stage: str) -> dict | None:
        _, mpath = self._paths(stage)
        if os.path.exists(mpath):
            with open(mpath) as f:
                return json.load(f)
        return None

    def is_complete(self, stage: str) -> bool:
        m = self.manifest(stage)
        return bool(m and m.get("status") == "complete")

    def stage(
        self,
        stage: str,
        fn: Callable[[], DataFrame],
        inputs: list[str] | None = None,
        partition_by: str | None = None,
        force: bool = False,
        external: bool = False,
    ) -> DataFrame:
        """Run (or resume) one stage. `fn` builds the stage's DataFrame
        lazily; it is not invoked at all when the checkpoint is complete.

        external=True: `fn(dpath)` performs its own write to the stage
        data path (e.g. layout.write_typed_store with custom partitioning);
        the pipeline only records the manifest."""
        dpath, mpath = self._paths(stage)
        if not force and self.is_complete(stage):
            return self.spark.read.parquet(dpath)

        t0 = time.time()
        if external:
            fn(dpath)
        else:
            df = fn()
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(partition_by)
            writer.parquet(dpath)
        wall = time.time() - t0

        # per-partition lineage: rows per output partition of the written
        # table (one cheap scan of the checkpoint, columnar count only)
        written = self.spark.read.parquet(dpath)
        parts = (
            written.withColumn("_pid", F.spark_partition_id())
            .groupBy("_pid")
            .agg(F.count(F.lit(1)).alias("rows"))
            .collect()
        )
        rows = sum(p["rows"] for p in parts)
        manifest = {
            "pipeline": self.name,
            "stage": stage,
            "status": "complete",
            "rows": rows,
            "wall_s": round(wall, 3),
            "inputs": inputs or [],
            "partitions": sorted(
                [{"pid": int(p["_pid"]), "rows": int(p["rows"])} for p in parts],
                key=lambda x: x["pid"],
            ),
            "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "written_at_epoch": time.time(),
        }
        os.makedirs(os.path.dirname(mpath), exist_ok=True)
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, mpath)  # atomic: readers never see a half manifest
        return written

    def lineage(self) -> list[dict]:
        """All stage manifests, topologically by written_at."""
        out = []
        if not os.path.isdir(self.base):
            return out
        for stage in sorted(os.listdir(self.base)):
            m = self.manifest(stage)
            if m:
                out.append(m)
        return sorted(out, key=lambda m: m.get("written_at_epoch", 0.0))
