"""Fluent API façade tests: builder immutability, ISO timestamps,
group_by_entity full-history analysis."""

from __future__ import annotations

import pandas as pd

from oshdb_spark.api.engine import OSHDB
from oshdb_spark.model.history import SNAPSHOT_TS, docs_from_events

SF = "/root/testdata/sf0.001"


def _view(spark):
    docs = docs_from_events(spark.read.parquet(f"{SF}/events.parquet"))
    return OSHDB(docs).snapshot_view().timestamps(SNAPSHOT_TS).osm_type("node")


def test_builder_is_immutable(spark):
    base = _view(spark)
    a = base.osm_tag("event_type", "click")
    b = base.osm_tag("event_type", "error")  # error versions are invisible
    ca = a.without_geometry().aggregate_by_timestamp().count().collect()
    cb = b.without_geometry().aggregate_by_timestamp().count().collect()
    assert sum(r.cnt for r in ca) > 0
    assert sum(r.cnt for r in cb) == 0
    # base view unaffected by the two derived builders
    c0 = base.without_geometry().aggregate_by_timestamp().count().collect()
    assert sum(r.cnt for r in c0) > sum(r.cnt for r in ca)


def test_iso_timestamps_spec(spark):
    docs = docs_from_events(spark.read.parquet(f"{SF}/events.parquet"))
    v = (
        OSHDB(docs)
        .snapshot_view()
        .timestamps("2024-01-01", "2024-02-05", "P1W")
        .osm_type("node")
        .without_geometry()
    )
    out = v.aggregate_by_timestamp().count().collect()
    assert len(out) == 6  # weekly Mondays Jan-1 .. Feb-5


def test_group_by_entity(spark):
    v = _view(spark).without_geometry()

    def lifespan(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            [
                {
                    "id": int(pdf["id"].iloc[0]),
                    "n_snaps": len(pdf),
                    "span_s": int(pdf["ts"].max() - pdf["ts"].min()),
                }
            ]
        )

    rows = v.group_by_entity(
        lifespan, "id long, n_snaps long, span_s long"
    ).collect()
    assert len(rows) == 15  # one row per entity
    assert all(r.n_snaps >= 1 for r in rows)
    # full snapshot row count preserved across groups
    assert sum(r.n_snaps for r in rows) == v.dataframe().count()


def test_stream_and_collect(spark):
    from oshdb_spark.api.engine import OSHDB
    from oshdb_spark.model.history import SNAPSHOT_TS, docs_from_events

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    v = (
        OSHDB(docs_from_events(ev))
        .snapshot_view().timestamps(SNAPSHOT_TS)
        .osm_type("node").without_geometry()
    )
    streamed = sum(1 for _ in v.stream())
    assert streamed == len(v.collect()) > 0


def test_aggregate_by_timestamp_custom_indexer(spark):
    """aggregateByTimestamp(indexer) (MapReducer.java:836-844): custom ts
    expression floored to the grid."""
    from pyspark.sql import functions as F

    from oshdb_spark.api.engine import OSHDB
    from oshdb_spark.model.history import SNAPSHOT_TS, docs_from_events

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    base = (
        OSHDB(docs_from_events(ev))
        .snapshot_view().timestamps(SNAPSHOT_TS)
        .osm_type("node").without_geometry()
    )
    # identity indexer must equal the default
    a = {tuple(r) for r in base.aggregate_by_timestamp().count().collect()}
    b = {tuple(r) for r in
         base.aggregate_by_timestamp(indexer=F.col("ts")).count().collect()}
    assert a == b
    # shifted indexer: shift each row one grid step forward
    c = base.aggregate_by_timestamp(indexer="ts + 604800").count().collect()
    assert sum(r.cnt for r in c) > 0


def test_custom_tag_interpreter_on_view(spark):
    from oshdb_spark.api.engine import OSHDB
    from oshdb_spark.kernels.geometry_builder import NeverArea
    from oshdb_spark.model.history import SNAPSHOT_TS, way_docs_from_events

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    v = (
        OSHDB(way_docs_from_events(ev))
        .snapshot_view().timestamps([SNAPSHOT_TS[-1]])
        .osm_type("way")
        .tag_interpreter(NeverArea())
    )
    rows = v.dataframe().select("geom_wkb").collect()
    assert len(rows) > 0
    # NeverArea: every way stays a LineString (wkb type byte 2)
    assert all(bytes(r.geom_wkb)[1] == 2 for r in rows if r.geom_wkb)


def test_count_uniq_approx_matches_exact_on_small_cardinality(spark):
    """HLL++ estimated countUniq: at small cardinality the sparse HLL
    representation is exact, so the estimate must equal count_uniq; the
    zerofill contract (0 for absent groups) matches count_uniq's."""
    from oshdb_spark.api.engine import OSHDB
    from oshdb_spark.model.history import SNAPSHOT_TS, docs_from_events

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    base = (
        OSHDB(docs_from_events(ev))
        .snapshot_view().timestamps(SNAPSHOT_TS[:2])
        .osm_type("node").without_geometry()
    )
    exact = {
        (r.ts,): r.uniq
        for r in base.aggregate_by_timestamp().count_uniq("changeset").collect()
    }
    approx = {
        (r.ts,): r.uniq_approx
        for r in base.aggregate_by_timestamp()
        .count_uniq_approx("changeset", rsd=0.01)
        .collect()
    }
    assert set(exact) == set(approx)
    for k, ex in exact.items():
        assert abs(approx[k] - ex) <= max(1, 0.05 * ex)


def test_registry_count_pinned():
    """The driver-contract registry is exactly 201 oracle-backed
    queries, every one with an oracle_sql twin — the count BASELINE.md
    and CORRECTNESS files must agree on (a round-4 doc said 202; the
    AST count was and is 201). Update this pin ONLY together with
    BASELINE.md when adding a query."""
    import sys

    sys.path.insert(0, ".")
    import __spark_entry__ as E

    q, o = E.queries(), E.oracle_sql()
    assert len(q) == 201
    assert set(q) == set(o)


def test_node_route_applies_id_and_python_filters(spark):
    """The geometry-free node route (a plain timestamp count) and the
    kernel count the same rows under `id_in` and python filters: `id_in`
    runs as the route's doc pre-filter, and a python filter sends the
    view to the kernel."""
    import pytest
    from pyspark.sql import functions as F

    from oshdb_spark.api.timestamps import timestamp_list
    from oshdb_spark.kernels.snapshot import node_snapshots_sql
    from oshdb_spark.model import synth

    ts = timestamp_list("2010-01-01", "2014-01-01", "P1Y")
    docs = synth.synth_docs_sql(spark, 200, versions_per_doc=3)
    base = OSHDB(docs).snapshot_view().timestamps(ts).osm_type("node")
    for view, want in (
        (base.osm_entity_filter(lambda v, et, i: i % 2 == 0), 100),
        (base._with(filter_spec=base._s.filter_spec + (("id_in", [1, 2, 3]),)), 3),
    ):
        route = {r.ts: r.cnt for r in view.aggregate_by_timestamp().count().collect()}
        free = {
            r.ts: r.cnt for r in
            view.without_geometry().aggregate_by_timestamp().count().collect()
        }
        kernel = {
            r.ts: r.cnt for r in
            view.dataframe().groupBy("ts").agg(F.count(F.lit(1)).alias("cnt")).collect()
        }
        assert route == free == kernel == {t: want for t in ts}
        assert view.count() == want * len(ts)
    plan = base.aggregate_by_timestamp().count()._jdf.queryExecution()
    assert "MapInPandas" not in plan.executedPlan().toString()
    with pytest.raises(ValueError):
        node_snapshots_sql(docs, ts, filter_spec=[("py", lambda v, et, i: True)])
