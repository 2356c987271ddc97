"""Seeded corpora. The seed picks id offsets, replica ids and event
timings; sizes and partition counts are fixed constants, so the amount of
work does not depend on the seed or on the machine. The engine only ever
sees the generated tables.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# node_history: synth_docs_sql node docs
NODE_DOCS = 4_000
NODE_VERSIONS = 4
NODE_HOT_FRACTION = 0.4
GEN_PARTITIONS = 4

# member_history: way + relation docs derived from a generated events table
MEMBER_USERS = 150
MEMBER_EVENTS_PER_USER = 30
MEMBER_REPLICAS = 3

# etl_update: raw (doc_id, spans) node + way docs, changed in batches
ETL_NODE_DOCS = 4_000
ETL_USERS = 150
ETL_EVENTS_PER_USER = 30
ETL_BATCHES = 2  # merges per round: 0 = in-place tag edit, 1 = move
ETL_BATCH_MOD = 20  # each batch changes the docs with pmod(hash(doc_id), 20) = k
ETL_EDIT_TS = "2024-02-10T00:00:00Z"  # after every generated version
RAW_PARTITIONS = 4

EVENT_T0_US = 1704067200_000_000  # 2024-01-01, the span the oracles expect
EVENT_SPAN_US = 30 * 86400 * 1_000_000
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])


def node_offset(seed: int) -> int:
    return (seed % 1000) * 1000


def node_docs(spark, seed: int, n: int = NODE_DOCS, typed: bool = True):
    """synth_docs_sql docs with ids [offset, offset + n)."""
    from oshdb_spark.model.synth import synth_docs_sql
    from pyspark.sql import functions as F

    off = node_offset(seed)
    docs = synth_docs_sql(
        spark, off + n, versions_per_doc=NODE_VERSIONS,
        hot_fraction=NODE_HOT_FRACTION, partitions=GEN_PARTITIONS,
        typed_columns=typed,
    )
    if typed:
        return docs.filter(F.col("id") >= off)
    return docs.filter(
        F.expr("cast(substring(doc_id, 6) as bigint)") >= off
    )


def write_events(path: str, seed: int, n_users: int, per_user: int) -> None:
    """An events table with the testdata schema: every user has exactly
    ``per_user`` events spread over January 2024."""
    rng = np.random.default_rng(seed)
    n = n_users * per_user
    user_off = 10_000 + (seed % 1000) * 10_000
    users = np.repeat(np.arange(n_users, dtype=np.int64) + user_off, per_user)
    ts = EVENT_T0_US + rng.integers(0, EVENT_SPAN_US, n)
    order = np.argsort(ts, kind="stable")
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64) + (seed % 1000) * n),
        "ts": pa.array(ts[order], pa.timestamp("us")),
        "user_id": pa.array(users[order]),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.random(n) * 100, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    pq.write_table(table, path)


def replica_ids(seed: int, r: int = MEMBER_REPLICAS) -> list[int]:
    rng = np.random.default_rng(10_000 + seed)
    return sorted(int(x) for x in rng.choice(1000, r, replace=False))


def member_docs(spark, events_path: str, reps: list[int]):
    """Way and relation docs (native typed columns + spans), each copied
    once per replica id under doc id ``<doc_id>#<rep>``."""
    from oshdb_spark.model.history import (
        relation_docs_from_events,
        way_docs_from_events,
    )
    from pyspark.sql import functions as F

    ev = spark.read.parquet(events_path)
    rep_df = spark.createDataFrame([(r,) for r in reps], "rep long")
    parts = []
    for d in (way_docs_from_events(ev), relation_docs_from_events(ev)):
        parts.append(
            d.crossJoin(rep_df).select(
                F.concat("doc_id", F.lit("#"), "rep").alias("doc_id"),
                "spans", "entity_type", d["id"], "versions", "members",
            )
        )
    return parts[0].unionByName(parts[1])


def etl_raw_docs(spark, seed: int, events_path: str):
    """The raw two-column (doc_id, spans) input shape: node and way docs."""
    from oshdb_spark.model.history import way_docs_from_events

    nodes = node_docs(spark, seed, ETL_NODE_DOCS, typed=False)
    ways = way_docs_from_events(spark.read.parquet(events_path))
    return nodes.unionByName(ways.select("doc_id", "spans"))


def changed_docs(raw, k: int, mod: int, move: bool, cs_base: int):
    """Full replacement rows for the raw docs with pmod(hash(doc_id), mod)
    = k: each gets one new newest version (tag ``bench=edit``, new
    changeset, ts ETL_EDIT_TS). With ``move`` the new version sits 90°
    further east, so the doc's bbox and cell change."""
    from oshdb_spark.model import schemas
    from pyspark.sql import functions as F

    vschema = schemas.VERSION_JSON.simpleString()
    shift = 900_000_000 if move else 0
    newest = F.expr(
        f"from_json(filter(spans, s -> s.kind = 'version')[0].text, '{vschema}')"
    )
    new_version = F.expr(
        f"""to_json(named_struct(
          'version', _v.version + 1, 'visible', true, 'ts', '{ETL_EDIT_TS}',
          'changeset', {cs_base} + _v.changeset, 'uid', _v.uid,
          'tags', map_concat(_v.tags, map('bench', 'edit')),
          'lon', pmod(_v.lon + 1800000000 + {shift}, 3600000000) - 1800000000,
          'lat', _v.lat, 'refs', _v.refs))"""
    )
    # spans stay newest-first: meta, the new version, then the old spans
    spans = F.expr(
        """transform(
          concat(slice(spans, 1, 1),
                 array(named_struct('kind', 'version', 'text', _new,
                                    'media_ref', '', 'offset', 0)),
                 slice(spans, 2, size(spans))),
          (s, i) -> named_struct('kind', s.kind, 'text', s.text,
                                 'media_ref', s.media_ref, 'offset', i))"""
    )
    return (
        raw.filter(F.expr(f"pmod(hash(doc_id), {mod}) = {k}"))
        .withColumn("_v", newest)
        .withColumn("_new", new_version)
        .select("doc_id", spans.alias("spans"))
    )


def post_merge_docs(raw, batches):
    """The raw corpus with every changed doc replaced by its new row."""
    out = raw
    for b in batches:
        out = out.join(b.select("doc_id"), "doc_id", "left_anti").unionByName(b)
    return out
