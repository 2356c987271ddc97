"""Skew demonstration: hot-tile typed store write with vs without salting.

90% of docs land in one dense tile (synth hot_fraction=0.9 — the urban
hot-cell case the north rule mandates explicit handling for). Without
salting, one write task owns ~90% of all rows (stragglers + giant files);
with histogram-derived salting the hot prefix fans out over k tasks.

Prints one JSON line with write wall times and the max/median output file
sizes for both layouts. Read-side skew is handled by parquet row-group
splitting (maxPartitionBytes) + AQE either way; the write/shuffle balance
is where explicit salting matters.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def file_sizes(root: str) -> list[int]:
    out = []
    for dirpath, _, files in os.walk(root):
        for fn in files:
            if fn.endswith(".parquet"):
                out.append(os.path.getsize(os.path.join(dirpath, fn)))
    return sorted(out)


def main():
    from pyspark.sql import functions as F

    from oshdb_spark.model.synth import synth_docs_sql
    from oshdb_spark.plans.layout import _typed_tokenized, salt_plan, with_salt
    from oshdb_spark.session import build_session

    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 300_000
    spark = build_session("skew-bench")
    docs = synth_docs_sql(spark, n_docs, versions_per_doc=4, hot_fraction=0.9)
    toked = _typed_tokenized(docs, prefix_len=2)
    toked.write.mode("overwrite").parquet(
        os.path.join(tempfile.mkdtemp(prefix="skewsrc"), "toked.parquet")
    )  # warm codegen/workers
    base = tempfile.mkdtemp(prefix="skew")

    # unsalted: shuffle/write keyed by cell_prefix only
    t0 = time.time()
    (
        toked.repartition(F.col("cell_prefix"))
        .sortWithinPartitions("cell")
        .write.mode("overwrite")
        .partitionBy("cell_prefix")
        .parquet(f"{base}/unsalted")
    )
    t_unsalted = time.time() - t0

    # salted: per-prefix fan-out from the observed histogram
    t0 = time.time()
    plan = salt_plan(toked, target_rows=max(n_docs // 32, 1))
    salted = with_salt(toked, plan)
    (
        salted.repartition(F.col("cell_prefix"), F.col("cell_salt"))
        .sortWithinPartitions("cell")
        .write.mode("overwrite")
        .partitionBy("cell_prefix")
        .parquet(f"{base}/salted")
    )
    t_salted = time.time() - t0

    u = file_sizes(f"{base}/unsalted")
    s = file_sizes(f"{base}/salted")
    print(json.dumps({
        "n_docs": n_docs,
        "hot_fraction": 0.9,
        "unsalted": {"write_s": round(t_unsalted, 2), "files": len(u),
                     "max_file_mb": round(u[-1] / 1e6, 2),
                     "median_file_mb": round(u[len(u) // 2] / 1e6, 2)},
        "salted": {"write_s": round(t_salted, 2), "files": len(s),
                   "max_file_mb": round(s[-1] / 1e6, 2),
                   "median_file_mb": round(s[len(s) // 2] / 1e6, 2),
                   "hot_prefix_salts": max(plan.values())},
        "max_file_reduction": round(u[-1] / max(s[-1], 1), 2),
    }))


if __name__ == "__main__":
    main()
