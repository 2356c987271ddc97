"""Spark integration: docs table → typed decode → kernels → DataFrames.

Checks that the distributed path produces exactly what the per-doc golden
logic produces, that the span-sequence invariant survives the pipeline
(FIXTURES.md F9), and that results are identical across parallelism levels
(backend-equivalence ≙ the reference's H2-vs-Ignite equivalence tests).
"""

import os

import pytest

from oshdb_spark.api.timestamps import timestamp_list
from oshdb_spark.kernels.contribution import contributions
from oshdb_spark.kernels.snapshot import node_snapshots_sql, snapshots
from oshdb_spark.model import docs as docs_mod
from oshdb_spark.model import synth

REF = "/root/reference/oshdb-util/src/test/resources"
YEARLY = timestamp_list("2000-01-01", "2018-01-01", "P1Y")


def _ref_docs(name: str):
    path = f"{REF}/different-timestamps/{name}"
    if not os.path.exists(path):
        pytest.skip("reference fixtures not available")
    return synth.parse_osm_xml(path)


@pytest.fixture(scope="module")
def node_docs_df(spark):
    docs = _ref_docs("node.osm")
    return synth.docs_df(spark, docs).cache()


@pytest.fixture(scope="module")
def way_docs_df(spark):
    docs = _ref_docs("way.osm")
    return synth.docs_df(spark, docs).cache()


class TestTypedDecode:
    def test_versions_table(self, spark, node_docs_df):
        vt = docs_mod.versions_table(node_docs_df)
        rows = vt.filter("entity_type = 'node' and id = 1").orderBy("version").collect()
        assert len(rows) == 3
        assert rows[0].valid_to == rows[1].valid_from
        assert rows[2].valid_to is None
        assert rows[0].tags == {"created_by": "test"}

    def test_span_passthrough(self, spark):
        doc = synth.make_doc(
            "node", 99,
            [synth.make_version(1, "2010-01-01T00:00:00Z", 5, lon=10, lat=10)],
            media=[("a photo", "0")],
        )
        df = synth.docs_df(spark, [doc])
        typed = docs_mod.typed_docs(df)
        row = typed.collect()[0]
        got = [(s.kind, s.text, s.media_ref, s.offset) for s in row.spans]
        want = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in doc["spans"]]
        assert got == want  # span-sequence invariant


class TestSnapshotKernel:
    def test_node_counts_match_golden(self, spark, node_docs_df):
        snap = snapshots(node_docs_df, YEARLY)
        counts = {
            r.id: r.cnt
            for r in snap.groupBy("id").count().withColumnRenamed("count", "cnt").collect()
        }
        assert {i: counts[i] for i in (1, 2, 3, 4)} == {1: 11, 2: 12, 3: 5, 4: 11}

    def test_way_counts_match_golden(self, spark, way_docs_df):
        snap = snapshots(way_docs_df, YEARLY, filter_spec=[("type_in", ["way"])])
        counts = {r.id: r.cnt for r in snap.groupBy("id").count()
                  .withColumnRenamed("count", "cnt").collect()}
        assert counts[100] == 10
        assert counts[101] == 10
        assert counts[102] == 10
        assert counts[103] == 11
        assert counts[104] == 8
        assert counts[105] == 7
        assert counts[106] == 11
        assert counts[107] == 11

    def test_sql_fast_path_agrees_with_kernel(self, spark, node_docs_df):
        k = snapshots(node_docs_df, YEARLY).select("ts", "id", "version").orderBy(
            "id", "ts"
        ).collect()
        s = node_snapshots_sql(node_docs_df, YEARLY).select(
            "ts", "id", "version"
        ).orderBy("id", "ts").collect()
        assert [tuple(r) for r in k] == [tuple(r) for r in s]

    def test_tag_filter_pushdown_and_exactness(self, spark, node_docs_df):
        snap = snapshots(
            node_docs_df, YEARLY, filter_spec=[("tag_eq", "highway", "traffic_signals")]
        )
        rows = snap.select("id", "ts").collect()
        ids = {r.id for r in rows}
        assert 1 not in ids  # node 1 never has the tag
        assert 2 in ids and 3 in ids


class TestContributionKernel:
    def test_node_contribution_types(self, spark, node_docs_df):
        c = contributions(node_docs_df, (YEARLY[0], YEARLY[-1]))
        got = {
            (r.id, r.ts): tuple(r.contrib_types)
            for r in c.collect()
        }
        n1 = sorted((k[1], v) for k, v in got.items() if k[0] == 1)
        assert [v for _, v in n1] == [
            ("CREATION",), ("GEOMETRY_CHANGE",), ("GEOMETRY_CHANGE",),
        ]

    def test_parallelism_equivalence(self, spark, way_docs_df):
        # same results regardless of partitioning (≙ backend equivalence)
        a = contributions(way_docs_df.repartition(1), (YEARLY[0], YEARLY[-1]))
        b = contributions(way_docs_df.repartition(16), (YEARLY[0], YEARLY[-1]))
        ka = sorted((r.id, r.ts, tuple(r.contrib_types)) for r in a.collect())
        kb = sorted((r.id, r.ts, tuple(r.contrib_types)) for r in b.collect())
        assert ka == kb and len(ka) > 0


class TestSynthGenerator:
    def test_synth_docs_sql_decodes(self, spark):
        docs = synth.synth_docs_sql(spark, 200, versions_per_doc=3)
        vt = docs_mod.versions_table(docs)
        assert vt.count() == 600
        assert vt.filter("lon is null").count() == 0
        snap = node_snapshots_sql(
            docs, timestamp_list("2010-01-01", "2014-01-01", "P1Y")
        )
        assert snap.count() > 0

    def test_media_spans_survive(self, spark):
        docs = synth.synth_docs_sql(spark, 50)
        media = docs.selectExpr(
            "size(filter(spans, s -> s.kind = 'media')) as m"
        ).agg({"m": "sum"}).collect()[0][0]
        assert media == 50

    def test_typed_columns_match_raw_span_decode(self, spark):
        """The store-v2 typed layout (default) must carry spans
        bit-identical to the raw 2-column shape (they derive from the
        same structs), produce identical snapshots, and compile to a
        plan with ZERO from_json (the raw path keeps the decode)."""
        from oshdb_spark.kernels.snapshot import snapshots
        from oshdb_spark.model.history import SNAPSHOT_TS

        typed = synth.synth_docs_sql(spark, 200, versions_per_doc=4)
        raw = synth.synth_docs_sql(
            spark, 200, versions_per_doc=4, typed_columns=False
        )
        a = sorted(
            (r.doc_id, tuple(tuple(s) for s in r.spans))
            for r in typed.select("doc_id", "spans").collect()
        )
        b = sorted(
            (r.doc_id, tuple(tuple(s) for s in r.spans))
            for r in raw.collect()
        )
        assert a == b

        def snap(d):
            return sorted(
                map(
                    tuple,
                    snapshots(
                        d,
                        SNAPSHOT_TS,
                        filter_spec=[("type_in", ["node"]),
                                     ("tag_eq", "amenity", "cafe")],
                    ).groupBy("ts").count().collect(),
                )
            )

        assert snap(typed) == snap(raw)
        plan_typed = (
            snapshots(typed, SNAPSHOT_TS, filter_spec=[("type_in", ["node"])])
            ._jdf.queryExecution().optimizedPlan().toString()
        )
        plan_raw = (
            snapshots(raw, SNAPSHOT_TS, filter_spec=[("type_in", ["node"])])
            ._jdf.queryExecution().optimizedPlan().toString()
        )
        assert "from_json" not in plan_typed
        assert "from_json" in plan_raw


def test_filter_values_with_quotes(spark):
    """SQL-compiled filters must survive quotes/backslashes in tag values
    (real OSM names carry both)."""
    from oshdb_spark.kernels.snapshot import snapshots
    from oshdb_spark.model.synth import docs_df, make_doc, make_version

    docs = docs_df(spark, [
        make_doc("node", 1, [make_version(
            1, 1_200_000_000, 1, tags={"name": "O'Hare \\ Int'l"},
            lon=0, lat=0)]),
        make_doc("node", 2, [make_version(
            1, 1_200_000_000, 1, tags={"name": "plain"}, lon=0, lat=0)]),
    ])
    out = snapshots(
        docs, [1_300_000_000],
        filter_spec=[("tag_eq", "name", "O'Hare \\ Int'l")],
    ).collect()
    assert [r.id for r in out] == [1]
    out2 = snapshots(
        docs, [1_300_000_000],
        filter_spec=[("tag_any", [("name", "O'Hare \\ Int'l"), ("x", None)])],
    ).collect()
    assert [r.id for r in out2] == [1]
