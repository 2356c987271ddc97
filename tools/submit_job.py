"""spark-submit entry point for the flagship snapshot pipeline.

Launch (what a cluster deployment runs; north-rule launch contract):

    python tools/make_pyfiles.py                  # builds dist/oshdb_spark.zip
    spark-submit --master local[8] \
        --py-files dist/oshdb_spark.zip \
        tools/submit_job.py /root/testdata/sf0.001 /tmp/oshdb_out

The job: events → docs → checkpointed typed store (Hilbert-prefix
partitioned, salted, decoded once) → snapshot spatial join → aggregate, with each stage
resumable via the Pipeline checkpoint manifests.
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main(sf_dir: str, out_base: str) -> None:
    spark = SparkSession.builder.appName("oshdb-spark-flagship").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    from oshdb_spark.kernels.snapshot import snapshots
    from oshdb_spark.model.history import SNAPSHOT_TS, docs_from_events
    from oshdb_spark.plans.checkpoint import Pipeline
    from oshdb_spark.plans.layout import write_typed_store

    p = Pipeline(spark, out_base, "flagship")

    def build_docs():
        return docs_from_events(spark.read.parquet(f"{sf_dir}/events.parquet"))

    docs = p.stage("docs", build_docs)

    store = p.stage(
        "store",
        lambda path: write_typed_store(docs, path, prefix_len=2),
        inputs=["docs"],
        external=True,
    )

    def build_snap():
        return snapshots(
            store,
            SNAPSHOT_TS,
            bbox=(-90.0, 0.0, 90.0, 85.0),
            filter_spec=[("tag_eq", "event_type", "click")],
        )

    snap = p.stage("snapshots", build_snap, inputs=["store"])
    result = (
        snap.groupBy("ts").agg(F.count(F.lit(1)).alias("cnt")).orderBy("ts").collect()
    )
    print(json.dumps({
        "rows": [(int(r.ts), int(r.cnt)) for r in result],
        "lineage": [
            {k: m[k] for k in ("stage", "rows", "wall_s", "status")}
            for m in p.lineage()
        ],
    }))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001",
         sys.argv[2] if len(sys.argv) > 2 else "/tmp/oshdb_out")
