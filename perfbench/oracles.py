"""Expected answers computed apart from the engine.

- node_history: the synth generator's integer formulas evaluated in numpy,
  with a ray-casting point-in-polygon of our own for the polygon query;
- member_history: the DuckDB oracle SQL of ``__spark_entry__.oracle_sql()``
  over the generated events table, times the replica count;
- etl_update: a DuckDB as-of count straight from the raw JSON spans.
"""

from __future__ import annotations

import numpy as np

from . import corpora

# --------------------------------------------------------------------------
# node_history
# --------------------------------------------------------------------------


def node_states(seed: int, n: int = corpora.NODE_DOCS) -> dict:
    """Per-doc, per-version arrays (shape docs × versions) straight from the
    formulas in ``model.synth.synth_docs_sql``."""
    i = np.arange(corpora.node_offset(seed), corpora.node_offset(seed) + n,
                  dtype=np.int64)
    hot = (i * 2654435761) % 1000 < int(corpora.NODE_HOT_FRACTION * 1000)
    lon7 = np.where(hot, 86_800_000 + (i * 104729) % 500_000 - 250_000,
                    (i * 7919) % 3_600_000_000 - 1_800_000_000)
    lat7 = np.where(hot, 494_100_000 + (i * 93719) % 500_000 - 250_000,
                    (i * 6101) % 1_700_000_000 - 850_000_000)
    v = np.arange(1, corpora.NODE_VERSIONS + 1, dtype=np.int64)
    year = 31_536_000
    return {
        "ts": 1_199_145_600 + (i % year)[:, None] + (v - 1) * year,
        "cafe": (i[:, None] + v) % 4 == 0,
        "lon": (lon7[:, None] + (v - 1) * np.where(v % 3 == 0, 100, 0)) * 1e-7,
        "lat": np.broadcast_to(lat7[:, None], (n, len(v))) * 1e-7,
    }


def in_bbox(lon, lat, bbox):
    w, s, e, n = bbox
    return (lon >= w) & (lon <= e) & (lat >= s) & (lat <= n)


def in_polygon(lon, lat, ring):
    """Even-odd ray casting against one closed ring (degrees)."""
    inside = np.zeros(np.shape(lon), dtype=bool)
    for (x0, y0), (x1, y1) in zip(ring[:-1], ring[1:]):
        crosses = (y0 > lat) != (y1 > lat)
        with np.errstate(divide="ignore", invalid="ignore"):
            xcross = x0 + (lat - y0) * (x1 - x0) / (y1 - y0)
        inside ^= crosses & (lon < xcross)
    return inside


def node_snapshot_counts(st: dict, timestamps, where) -> dict:
    """{ts: docs whose as-of version is tagged amenity=cafe and lies in the
    AOI}; ``where(lon, lat)`` is the AOI test."""
    ts = st["ts"]
    rows = np.arange(ts.shape[0])
    out = {}
    for t in timestamps:
        k = (ts <= t).sum(axis=1) - 1  # as-of version index, -1 = not yet
        live = k >= 0
        kk = np.where(live, k, 0)
        hit = live & st["cafe"][rows, kk] & where(st["lon"][rows, kk],
                                                  st["lat"][rows, kk])
        out[int(t)] = int(hit.sum())
    return out


def node_contribution_counts(st: dict, grid, bbox) -> dict:
    """{grid key: contributions} for an untagged node contribution view
    whose interval holds every version: a version is a contribution when
    it or its predecessor lies in the AOI (creation, change or deletion);
    each is keyed by the last grid timestamp at or before it."""
    pres = in_bbox(st["lon"], st["lat"], bbox)
    prev = np.zeros_like(pres)
    prev[:, 1:] = pres[:, :-1]
    emitted = pres | prev
    keys = np.asarray(grid[:-1], dtype=np.int64)
    pos = np.searchsorted(keys, st["ts"][emitted], side="right") - 1
    counts = np.bincount(pos[pos >= 0], minlength=len(keys))
    return {int(k): int(c) for k, c in zip(keys, counts)}


# --------------------------------------------------------------------------
# member_history
# --------------------------------------------------------------------------


def duckdb_events(events_path: str, tmp_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_path}')"
    )
    return con


def member_oracles(events_path: str, tmp_dir: str) -> dict:
    """The repository's DuckDB oracles for the three member query shapes,
    for ONE copy of the derived docs."""
    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb_events(events_path, tmp_dir)
    try:
        out = {}
        for name in ("way_snapshot_length", "relation_snapshot_length",
                     "way_polygon_clip", "relation_contrib_types"):
            out[name] = con.execute(sql[name]).fetchall()
        return out
    finally:
        con.close()


# --------------------------------------------------------------------------
# etl_update
# --------------------------------------------------------------------------

_RAW_ASOF = """
WITH spans AS (
  SELECT doc_id, unnest(spans) AS s FROM read_parquet('{path}')
),
meta AS (
  SELECT doc_id, json_extract_string(s.text, '$.entity_type') AS etype
  FROM spans WHERE s.kind = 'meta'
),
ver AS (
  SELECT doc_id,
         epoch(strptime(json_extract_string(s.text, '$.ts'),
                        '%Y-%m-%dT%H:%M:%SZ')) AS ts,
         CAST(json_extract(s.text, '$.version') AS BIGINT) AS version,
         CAST(json_extract(s.text, '$.visible') AS BOOLEAN) AS visible,
         coalesce(json_extract_string(s.text, '$.tags.bench'), '-') AS edit
  FROM spans WHERE s.kind = 'version'
),
grid AS (SELECT unnest({grid}) AS t),
cur AS (
  SELECT g.t, v.doc_id,
         arg_max(v.visible, v.ts * 1000000 + v.version) AS vis,
         arg_max(v.edit, v.ts * 1000000 + v.version) AS edit
  FROM grid g JOIN ver v ON v.ts <= g.t
  GROUP BY 1, 2
)
SELECT a.t, m.etype, a.edit, count(*) AS cnt
FROM cur a JOIN meta m USING (doc_id)
WHERE a.vis
GROUP BY 1, 2, 3
"""


def raw_snapshot_counts(raw_path: str, timestamps, tmp_dir: str) -> dict:
    """{(ts, entity_type, bench tag or '-'): visible as-of versions} read
    from the JSON version spans of a raw docs parquet."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{tmp_dir}'")
        grid = "[" + ", ".join(str(int(t)) for t in timestamps) + "]"
        rows = con.execute(
            _RAW_ASOF.replace("{path}", raw_path).replace("{grid}", grid)
        ).fetchall()
    finally:
        con.close()
    return {(int(t), e, x): int(c) for t, e, x, c in rows}
