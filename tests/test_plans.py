"""Layout (partitioning/salting/pruning) + checkpoint/lineage tests."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from oshdb_spark.model.history import SNAPSHOT_TS, docs_from_events
from oshdb_spark.plans.checkpoint import Pipeline
from oshdb_spark.plans.layout import (
    _typed_tokenized,
    read_typed_store,
    salt_plan,
    with_salt,
    write_typed_store,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def docs(spark):
    return docs_from_events(spark.read.parquet(f"{SF}/events.parquet"))


def test_store_roundtrip_and_pruning(spark, docs, tmp_path):
    path = str(tmp_path / "store")
    write_typed_store(docs, path, prefix_len=2, target_rows=5)
    full = read_typed_store(spark, path)
    assert full.count() == docs.count()
    # partition dirs exist
    parts = [d for d in os.listdir(path) if d.startswith("cell_prefix=")]
    assert len(parts) > 1

    bbox = (0.0, 0.0, 90.0, 60.0)
    pruned = read_typed_store(spark, path, bbox=bbox)
    # pruning must not lose any doc whose bbox intersects the AOI:
    # compare snapshot results computed from the pruned store (typed
    # input, and its stored spans re-decoded) vs raw docs
    from oshdb_spark.kernels.snapshot import snapshots

    def counts(d):
        return [
            (r.ts, r["count"])
            for r in snapshots(d, SNAPSHOT_TS, bbox=bbox)
            .groupBy("ts").count().orderBy("ts").collect()
        ]

    want = counts(docs)
    assert counts(pruned) == want
    assert counts(pruned.select("doc_id", "spans")) == want
    # and the partition filter really prunes (physical plan shows it)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "cell_prefix" in plan


def test_salting_bounds_partition_size(spark, docs):
    toked = _typed_tokenized(docs, 2)
    # force extreme skew: everything in one prefix
    skew = toked.withColumn("cell_prefix", F.lit("00"))
    plan = salt_plan(skew, target_rows=3)
    assert plan["00"] > 1
    salted = with_salt(skew, plan)
    per = (
        salted.groupBy("cell_prefix", "cell_salt")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert 1 < len(per) <= plan["00"]  # hash may leave some buckets empty
    sizes = [r.n for r in per]
    assert max(sizes) < skew.count()  # skew actually spread


def test_pipeline_checkpoint_resume(spark, docs, tmp_path):
    base = str(tmp_path / "ckpt")
    p = Pipeline(spark, base, "t")
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return docs.select("doc_id")

    a = p.stage("ids", build)
    n = a.count()
    assert calls["n"] == 1
    # resume: fn NOT invoked again, same data
    b = p.stage("ids", build)
    assert calls["n"] == 1
    assert b.count() == n
    m = p.manifest("ids")
    assert m["status"] == "complete" and m["rows"] == n
    assert sum(pt["rows"] for pt in m["partitions"]) == n
    assert p.lineage()[0]["stage"] == "ids"
    # force recompute
    p.stage("ids", build, force=True)
    assert calls["n"] == 2


def test_pipeline_multi_stage_lineage(spark, docs, tmp_path):
    base = str(tmp_path / "ckpt2")
    p = Pipeline(spark, base, "t2")
    s1 = p.stage("docs", lambda: docs)
    s2 = p.stage(
        "counts",
        lambda: s1.select(F.length("doc_id").alias("l")).groupBy("l").count(),
        inputs=["docs"],
    )
    assert s2.count() > 0
    lin = p.lineage()
    assert [m["stage"] for m in lin] == ["docs", "counts"]
    assert lin[1]["inputs"] == ["docs"]


def test_store_manifest_cell_counts(spark, tmp_path):
    """write_typed_store emits the cell-count histogram manifest. Docs whose
    insert-level token is SHORTER than the manifest level (features
    spanning manifest cells) are excluded — the histogram is a LOWER
    bound per cell (knn_batch's proven-radius rule needs counts that
    never overstate a cell; undercounting only grows the radius). The
    histogram must therefore sum to exactly the number of docs with
    tokens of manifest length or deeper."""
    from pyspark.sql import functions as F

    from oshdb_spark.model.history import docs_from_events
    from oshdb_spark.plans.layout import read_cell_counts

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    docs = docs_from_events(ev)
    path = str(tmp_path / "store")
    write_typed_store(docs, path, prefix_len=2)
    m = read_cell_counts(path)
    assert m is not None and m["level"] == 6
    deep = _typed_tokenized(docs, 2).filter(F.length("cell") >= 6).count()
    assert sum(m["counts"].values()) == deep
    assert 0 < deep <= docs.count()
    assert all(len(t) == 6 for t in m["counts"])


def test_polygon_pruned_store_read(spark, docs, tmp_path):
    # a diagonal polygon AOI: the polygon cover reads FEWER partitions
    # than the bbox cover while kernel results stay identical
    import numpy as np

    from oshdb_spark.kernels.snapshot import snapshots

    path = str(tmp_path / "pstore")
    write_typed_store(docs, path, prefix_len=2, target_rows=5)
    poly = [np.array(
        [(-60.0, -60.0), (-40.0, -60.0), (60.0, 60.0), (40.0, 60.0),
         (-60.0, -60.0)], dtype=np.float64)]
    bbox = (-60.0, -60.0, 60.0, 60.0)

    by_bbox = read_typed_store(spark, path, bbox=bbox)
    by_poly = read_typed_store(spark, path, bbox=bbox, polygon=poly)
    assert by_poly.count() <= by_bbox.count()

    def counts(d):
        return [
            (r.ts, r["count"])
            for r in snapshots(d, SNAPSHOT_TS, bbox=bbox, polygon=poly)
            .groupBy("ts").count().orderBy("ts").collect()
        ]

    want = counts(docs)
    assert counts(by_poly) == want
    assert counts(by_poly.select("doc_id", "spans")) == want
    plan = by_poly._jdf.queryExecution().executedPlan().toString()
    assert "cell_prefix" in plan
