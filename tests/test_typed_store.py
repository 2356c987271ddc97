"""Typed docs store (plans.layout.write_typed_store): ETL-time decode,
query-time parity with the raw interleaved-JSON docs path.

The store is the engine's analog of the reference's ETL into binary grid
cells — queries over it skip the per-query from_json entirely, so every
kernel result must be IDENTICAL to the raw-docs pipeline (including
general-path docs, whose spans are re-synthesized on demand)."""

from __future__ import annotations

import sys

import pandas as pd
import pytest

sys.path.insert(0, "tests")

from oshdb_spark.kernels.contribution import contributions  # noqa: E402
from oshdb_spark.kernels.snapshot import snapshots  # noqa: E402
from oshdb_spark.plans.layout import read_typed_store, write_typed_store  # noqa: E402

from test_fast_paths import (  # noqa: E402
    _canon,
    _tricky_docs,
    _tricky_rel_docs,
    _tricky_way_docs,
    NOOP,
    SNAP_TS,
    _ts,
)


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    out = {}
    for name, mk in (
        ("node", _tricky_docs),
        ("way", _tricky_way_docs),
        ("rel", _tricky_rel_docs),
    ):
        raw = mk(spark)
        path = str(tmp_path_factory.mktemp("tstore") / name)
        write_typed_store(raw, path)
        out[name] = (raw, read_typed_store(spark, path))
    return out


@pytest.mark.parametrize("kind", ["node", "way", "rel"])
def test_snapshot_parity(spark, stores, kind):
    raw, typed = stores[kind]
    a = _canon(snapshots(raw, SNAP_TS))
    b = _canon(snapshots(typed, SNAP_TS))
    pd.testing.assert_frame_equal(a, b)
    assert len(a) > 0


@pytest.mark.parametrize("kind", ["node", "way", "rel"])
def test_contribution_parity(spark, stores, kind):
    raw, typed = stores[kind]
    interval = (_ts(0), _ts(3) + 1)
    a = _canon(contributions(raw, interval))
    b = _canon(contributions(typed, interval))
    pd.testing.assert_frame_equal(a, b)
    assert len(a) > 0


def test_general_path_parity_via_py_filter(spark, stores):
    """Force the typed store through the GENERAL per-doc path (python
    filter disables fast arrays): the to_json spans synthesis must
    round-trip every field the kernel reads."""
    for kind in ("node", "way", "rel"):
        raw, typed = stores[kind]
        a = _canon(snapshots(raw, SNAP_TS, filter_spec=[NOOP]))
        b = _canon(snapshots(typed, SNAP_TS, filter_spec=[NOOP]))
        pd.testing.assert_frame_equal(a, b)


def test_polygon_aoi_parity(spark, stores):
    """Polygon AOIs over the typed store: boundary docs demote with
    synthesized spans and clip exactly like the raw path."""
    poly = [[(-62.0000013, -62.0000021), (62.0000017, -62.0000011),
             (62.0000019, 62.0000023), (0.4000001, 62.0000027),
             (0.5000003, 0.5000001), (-0.6000007, 62.0000025),
             (-62.0000015, 62.0000027), (-62.0000013, -62.0000021)]]
    for kind in ("way", "rel"):
        raw, typed = stores[kind]
        a = _canon(snapshots(raw, SNAP_TS, polygon=poly))
        b = _canon(snapshots(typed, SNAP_TS, polygon=poly))
        pd.testing.assert_frame_equal(a, b)


def test_store_pruning_and_manifest(spark, tmp_path):
    """Partition pruning on cell_prefix + bbox row-group predicates reach
    the parquet scan; the cell-count manifest rides along."""
    from oshdb_spark.model.history import docs_from_events
    from oshdb_spark.plans.layout import read_cell_counts

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    docs = docs_from_events(ev)
    path = str(tmp_path / "store")
    write_typed_store(docs, path)
    m = read_cell_counts(path)
    assert m is not None and sum(m["counts"].values()) > 0
    pruned = read_typed_store(spark, path, bbox=(0.0, 0.0, 40.0, 40.0))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    explained = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    assert "cell_prefix" in explained
    assert "bbox_min_lon" in explained  # row-group predicate pushdown
    # pruned read returns a strict subset, all inside-or-overlapping
    n_all = spark.read.parquet(path).count()
    n_pruned = pruned.count()
    assert 0 < n_pruned < n_all


def test_level1_cover_keeps_every_child_partition(spark, tmp_path):
    """A level-1 cover token ('0') must keep all of its level-2 child
    partitions 00–03. Inferred as ints, the prefixes 01–03 read back as
    1–3 and `cell_prefix LIKE '0%'` kept only 00; the store schema pins
    cell_prefix to its string form. The read itself starts no job."""
    import os

    from pyspark.sql import functions as F

    from oshdb_spark.geo import cells
    from oshdb_spark.model import synth

    fp = 10_000_000
    docs = [
        synth.make_doc("node", i + 1, [synth.make_version(
            1, "2010-01-01T00:00:00Z", 1, lon=lon * fp, lat=lat * fp)])
        for i, (lon, lat) in enumerate(
            (lon, lat) for lon in range(-175, 176, 10)
            for lat in range(-85, 86, 10)
        )
    ]
    path = str(tmp_path / "store")
    write_typed_store(synth.docs_df(spark, docs), path)
    parts = {d.split("=", 1)[1] for d in os.listdir(path)
             if d.startswith("cell_prefix=")}
    assert {"00", "01", "02", "03"} <= parts

    bbox = (-180.0, -90.0, -1.0, -1.0)
    assert cells.cover_prefixes(
        tuple(int(x * fp) for x in bbox), level=2, enlarge=True
    ) == ["0"]
    sc = spark.sparkContext
    sc.setJobGroup("typed-store-read", "read_typed_store")
    try:
        pruned = read_typed_store(spark, path, bbox=bbox)
        pruned.schema
    finally:
        sc.setJobGroup("", "")
    assert sc.statusTracker().getJobIdsForGroup("typed-store-read") == []
    b7 = tuple(int(x * fp) for x in bbox)
    want = read_typed_store(spark, path).filter(
        (F.col("bbox_min_lon") <= b7[2]) & (F.col("bbox_max_lon") >= b7[0])
        & (F.col("bbox_min_lat") <= b7[3]) & (F.col("bbox_max_lat") >= b7[1])
    )
    assert sorted(r.doc_id for r in pruned.select("doc_id").collect()) == \
        sorted(r.doc_id for r in want.select("doc_id").collect())
    assert {r.cell_prefix for r in pruned.select("cell_prefix").collect()} \
        == {"00", "01", "02", "03"}


def test_node_sql_path_on_typed_store(spark, tmp_path):
    """The pure-Catalyst node path (versions_table) accepts the typed
    store directly — same counts as the raw docs path."""
    from pyspark.sql import functions as F

    from oshdb_spark.api.engine import OSHDB
    from oshdb_spark.model.history import SNAPSHOT_TS, docs_from_events

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    raw = docs_from_events(ev)
    path = str(tmp_path / "store")
    write_typed_store(raw, path)
    typed = read_typed_store(spark, path)

    def q(docs):
        return sorted(
            tuple(r)
            for r in OSHDB(docs)
            .snapshot_view()
            .timestamps(SNAPSHOT_TS)
            .osm_type("node")
            .without_geometry()
            .aggregate_by_timestamp()
            .count()
            .collect()
        )

    assert q(raw) == q(typed)


def _store_json(spark, path):
    """Canonical store content: one JSON string per row over every
    non-physical column (maps/arrays serialize; file layout, salt, and
    row order are excluded — they are layout, not content)."""
    from pyspark.sql import functions as F

    df = read_typed_store(spark, path)
    cols = sorted(c for c in df.columns if c != "cell_salt")
    return sorted(
        r[0] for r in df.select(
            F.to_json(F.struct(*cols)).alias("j")
        ).collect()
    )


def test_incremental_update_matches_full_rebuild(spark, tmp_path):
    """update_typed_store: build a store from stale docs, merge the
    changed docs incrementally, and require BYTE-IDENTICAL logical
    content vs a from-scratch write_typed_store of the final docs —
    stale copies removed (including docs whose insert cell MOVED),
    manifest patched, untouched partitions untouched."""
    import json
    import os

    from pyspark.sql import functions as F

    from oshdb_spark.model.history import docs_from_events
    from oshdb_spark.plans.layout import update_typed_store

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    full = docs_from_events(ev)
    # stale view: drop a third of the events — affected entities' docs
    # differ (fewer versions, possibly different insert cell)
    stale = docs_from_events(ev.filter(F.col("event_id") % 3 != 0))
    # the doc unit: every entity owning a dropped event gets its FULL doc
    owner = docs_from_events(ev.filter(F.col("event_id") % 3 == 0)).select(
        "doc_id"
    ).distinct()
    changed = full.join(owner, "doc_id", "left_semi")
    assert changed.count() > 0
    # the fixture must exercise stale-copy removal: at least one changed
    # doc's insert cell lands in a DIFFERENT partition prefix
    from oshdb_spark.plans.layout import _typed_tokenized

    moved = (
        _typed_tokenized(full, 2).select("doc_id", "cell_prefix")
        .join(
            _typed_tokenized(stale, 2).select(
                "doc_id", F.col("cell_prefix").alias("p2")
            ),
            "doc_id",
        )
        .filter("cell_prefix <> p2").count()
    )
    assert moved >= 1

    p_inc = str(tmp_path / "incremental")
    p_ref = str(tmp_path / "rebuild")
    write_typed_store(stale, p_inc, target_rows=50)
    res = update_typed_store(changed, p_inc, target_rows=50)
    write_typed_store(full, p_ref, target_rows=50)

    assert res["affected_prefixes"]
    assert _store_json(spark, p_inc) == _store_json(spark, p_ref)

    # manifest parity after the patch
    with open(os.path.join(p_inc, "_manifest", "cell_counts.json")) as f:
        m_inc = json.load(f)
    with open(os.path.join(p_ref, "_manifest", "cell_counts.json")) as f:
        m_ref = json.load(f)
    assert m_inc == m_ref


def test_incremental_update_empty_batch_is_noop(spark, tmp_path):
    """An empty changed-docs batch leaves the store byte-identical."""
    from pyspark.sql import functions as F

    from oshdb_spark.model.history import docs_from_events
    from oshdb_spark.plans.layout import update_typed_store

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    docs = docs_from_events(ev)
    p = str(tmp_path / "store")
    write_typed_store(docs, p, target_rows=50)
    before = _store_json(spark, p)
    res = update_typed_store(docs.filter(F.lit(False)), p, target_rows=50)
    assert res["affected_prefixes"] == []
    assert _store_json(spark, p) == before


def test_time_travel_snapshots(spark, tmp_path):
    """Snapshot manifests: every retained version reads back exactly the
    store content as of that version; live reads are untouched; vacuum
    expires only what no retained version references."""
    import pytest
    from pyspark.sql import functions as F

    from oshdb_spark.model.history import docs_from_events
    from oshdb_spark.plans.layout import (
        read_typed_store,
        store_snapshots,
        update_typed_store,
        vacuum_typed_store,
        write_typed_store,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    v1_docs = docs_from_events(ev.filter(F.col("event_id") % 3 != 0))
    full = docs_from_events(ev)
    path = str(tmp_path / "tt_store")
    write_typed_store(v1_docs, path)
    assert [s["id"] for s in store_snapshots(path)] == [1]

    def content(df):
        return sorted(
            (r["doc_id"], r["n_versions"])
            for r in df.select(
                "doc_id", F.size("versions").alias("n_versions")
            ).collect()
        )

    v1_content = content(read_typed_store(spark, path))

    # merge 1: docs owning the dropped events get their full history
    owner = docs_from_events(
        ev.filter(F.col("event_id") % 3 == 0)
    ).select("doc_id").distinct()
    changed = full.join(owner, "doc_id", "left_semi")
    update_typed_store(changed, path)
    assert [s["id"] for s in store_snapshots(path)] == [1, 2]
    v2_content = content(read_typed_store(spark, path))
    assert v2_content != v1_content

    # merge 2: touch a small disjoint doc subset with extra versions
    changed2 = full.filter(F.abs(F.xxhash64("doc_id")) % 7 == 0)
    update_typed_store(changed2, path)
    assert [s["id"] for s in store_snapshots(path)] == [1, 2, 3]

    # time travel: v1 and v2 reconstruct exactly; v3 == live
    assert content(read_typed_store(spark, path, version=1)) == v1_content
    assert content(read_typed_store(spark, path, version=2)) == v2_content
    assert content(read_typed_store(spark, path, version=3)) == content(
        read_typed_store(spark, path)
    )
    # time-travel read composes with pruning
    pruned = read_typed_store(
        spark, path, bbox=(0.0, 0.0, 40.0, 40.0), version=1
    )
    assert pruned.count() <= len(v1_content)

    # vacuum to the last 2 versions: v1 gone, v2 + v3 still readable
    vacuum_typed_store(path, keep_last=2)
    ids = [s["id"] for s in store_snapshots(path)]
    assert ids == [2, 3]
    with pytest.raises(ValueError):
        read_typed_store(spark, path, version=1)
    assert content(read_typed_store(spark, path, version=2)) == v2_content


def test_compaction_preserves_content_and_history(spark, tmp_path):
    """compact_typed_store: file counts drop, logical content is
    identical, the pre-compaction version stays readable, untouched
    partitions keep their files."""
    import os

    from pyspark.sql import functions as F

    from oshdb_spark.model.history import docs_from_events
    from oshdb_spark.plans.layout import (
        compact_typed_store,
        read_typed_store,
        store_snapshots,
        write_typed_store,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    docs = docs_from_events(ev)
    path = str(tmp_path / "c_store")
    write_typed_store(docs, path)

    # simulate the fragmentation repeated small merges leave behind:
    # split two partitions' rows across 5 tiny files each
    import shutil

    frag = sorted(
        d for d in os.listdir(path) if d.startswith("cell_prefix=")
    )[:2]
    for d in frag:
        sub = spark.read.parquet(f"{path}/{d}")
        stage = str(tmp_path / f"frag_{d}")
        sub.repartition(5).write.parquet(stage)
        shutil.rmtree(f"{path}/{d}")
        os.makedirs(f"{path}/{d}")
        for fn in os.listdir(stage):
            if fn.endswith(".parquet"):
                shutil.move(f"{stage}/{fn}", f"{path}/{d}/{fn}")

    def files_per_part():
        return {
            d.split("=", 1)[1]: sorted(
                fn for fn in os.listdir(f"{path}/{d}")
                if fn.endswith(".parquet")
            )
            for d in os.listdir(path)
            if d.startswith("cell_prefix=")
        }

    before = files_per_part()
    assert any(len(v) > 2 for v in before.values())

    def content(df):
        return sorted(
            (r["doc_id"], r["n_versions"])
            for r in df.select(
                "doc_id", F.size("versions").alias("n_versions")
            ).collect()
        )

    want = content(read_typed_store(spark, path))
    fat = compact_typed_store(spark, path, max_files_per_partition=2)
    assert fat
    after = files_per_part()
    for p in fat:
        assert len(after[p]) < len(before[p])
    for p, fs in before.items():
        if p not in fat:
            assert after[p] == fs  # untouched partitions keep their files
    assert content(read_typed_store(spark, path)) == want
    # compaction is a snapshot: the pre-compaction version reads back
    ids = [s["id"] for s in store_snapshots(path)]
    assert ids == [1, 2]
    assert content(read_typed_store(spark, path, version=1)) == want


@pytest.mark.parametrize(
    "fast_arrays,fast_ways,fast_rels",
    [
        (False, False, None),
        (True, False, None),
        (True, True, None),
        (True, True, "default"),
        (True, True, "never"),
    ],
    ids=["nofast", "node", "way", "rel_default", "rel_never"],
)
@pytest.mark.parametrize(
    "flt",
    [None, [("tag_key", "a")], [NOOP]],
    ids=["nofilter", "tagkey", "py"],
)
def test_prepared_docs_schema_same_for_every_input(
    spark, stores, fast_arrays, fast_ways, fast_rels, flt
):
    """Raw (doc_id, spans), native-typed and typed-store input of the same
    docs reach the kernels with one schema: same column names, order and
    types, whatever the routing mode or filter. (Nullability is left out:
    a parquet read marks every field nullable.)"""
    from oshdb_spark.kernels.aoi import AOI
    from oshdb_spark.kernels.snapshot import prepared_docs
    from oshdb_spark.model.docs import typed_docs

    def shape(docs):
        df = prepared_docs(
            docs, flt, AOI(bbox=(-60.0, -60.0, 60.0, 60.0)),
            fast_arrays=fast_arrays, fast_ways=fast_ways, fast_rels=fast_rels,
        )
        return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]

    for kind in ("node", "way", "rel"):
        raw, typed = stores[kind]
        want = shape(raw)
        assert shape(typed_docs(raw)) == want, kind
        assert shape(typed) == want, kind
    if fast_arrays:
        assert [n for n, _ in want][:9] == [
            "doc_id", "entity_type", "id", "bbox_min_lon", "bbox_min_lat",
            "bbox_max_lon", "bbox_max_lat", "spans", "fast_kind",
        ]


def test_append_snapshot_archives_under_the_logged_id(tmp_path):
    """The snapshot id that names a merge's archive is the id the log
    records — with and without an existing snapshot log."""
    import json
    import os

    from oshdb_spark.plans.layout import _append_snapshot, store_snapshots

    for name, log in (("nolog", None), ("logged", [1])):
        path = str(tmp_path / name)
        os.makedirs(f"{path}/cell_prefix=01")
        open(f"{path}/cell_prefix=01/part.parquet", "w").close()
        os.makedirs(f"{path}/_manifest")
        if log:
            with open(f"{path}/_manifest/snapshots.json", "w") as f:
                json.dump(
                    [{"id": i, "op": "write", "affected": None} for i in log], f
                )
        assert _append_snapshot(path, ["01"], lambda: "swapped") == "swapped"
        new_id = store_snapshots(path)[-1]["id"]
        assert os.listdir(f"{path}/_archive") == [str(new_id)]
        assert os.path.isfile(
            f"{path}/_archive/{new_id}/cell_prefix=01/part.parquet"
        )
        assert [s["id"] for s in store_snapshots(path)] == (log or []) + [2]
