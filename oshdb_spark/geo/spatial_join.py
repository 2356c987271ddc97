"""Spatial-join + tiling layer: region splitting, kNN, zonal aggregation.

The three capabilities the north rule names beyond the reference's own
operator set, built on the Hilbert cell grid (geo.cells):

- split_by_regions   ≙ aggregateByGeometry's GeometrySplitter
  (oshdb-api/.../GeometrySplitter.java:80-203): match each row to ALL
  intersecting subregions, one output row per (row, region) pair.
  Rectangular regions compile to pure-Catalyst predicates (the scale
  path); polygon regions use a vectorized point-in-polygon pandas UDF
  over a broadcast region list.
- knn                 kNN via cell-ring expansion (ring ≙
  XYGrid.getNeighbours, oshdb/.../index/XYGrid.java:383-397 generalized
  to radius r): probe an expanding Hilbert-cell disk around the query
  until ≥k candidates are guaranteed correct, exact re-rank with the
  reference's equirectangular distance (Geo.java:37-45).
- zonal_aggregate     raster↔vector zonal statistics: vector zones are
  rasterized to cells once (driver-side, broadcast); interior cells
  aggregate by cell lookup alone, boundary cells fall back to the exact
  point-in-polygon test (the Raptor/GeoBlocks pattern — PAPERS.md).

Scale posture: region/zone indexes are tiny broadcasts; the only shuffle
in every operator is the final keyed aggregation. Candidate filters are
cell-prefix predicates that Iceberg/Parquet can prune on.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame
from . import cells
from .clip import points_in_polygon
from .geodesy import EARTH_RADIUS

_FP = 10_000_000


# ---------------------------------------------------------------------------
# region splitting (aggregateByGeometry)
# ---------------------------------------------------------------------------

def _is_bbox(region) -> bool:
    return (
        isinstance(region, (tuple, list))
        and len(region) == 4
        and all(isinstance(x, (int, float)) for x in region)
    )


def split_by_regions(
    df: DataFrame,
    regions: dict[str, object],
    lon_col: str = "lon",
    lat_col: str = "lat",
    fixed_point: bool = True,
    level: int = 8,
) -> DataFrame:
    """One output row per (input row, matching region) — region key in a
    new `region` column. Regions: {key: bbox4 | [rings]} (degrees).

    All-bbox region sets compile to a Catalyst explode+filter (whole-stage
    codegen). Polygon regions are rasterized ONCE driver-side to a MERGED
    cell index (token → containing regions / boundary fragments, the
    blocked-polygon pattern of zonal_aggregate): membership per point is
    then a token lookup plus an exact parity test against the few
    fragment edges in ITS cell — O(points + cells), independent of the
    REGION count, so a 3,000-district split costs the same per point as a
    3-region one. Bbox regions in a mixed set keep the inclusive >=/<=
    comparison (boundary-point parity with the all-bbox path)."""
    scale = 1e-7 if fixed_point else 1.0
    if all(_is_bbox(r) for r in regions.values()):
        structs = ", ".join(
            f"named_struct('k', '{k}', 'w', cast({r[0]} as double),"
            f" 's', cast({r[1]} as double), 'e', cast({r[2]} as double),"
            f" 'n', cast({r[3]} as double))"
            for k, r in regions.items()
        )
        lon = f"({lon_col} * {scale})"
        lat = f"({lat_col} * {scale})"
        matched = (
            f"transform(filter(array({structs}),"
            f" r -> {lon} >= r.w AND {lon} <= r.e"
            f" AND {lat} >= r.s AND {lat} <= r.n), r -> r.k)"
        )
        return df.withColumn("region", F.explode(F.expr(matched)))

    keys = list(regions.keys())
    bbox_keys = [
        (k, tuple(float(x) for x in regions[k])) for k in keys
        if _is_bbox(regions[k])
    ]
    poly_zones = {k: regions[k] for k in keys if not _is_bbox(regions[k])}
    interior, boundary, fragments = rasterize_zones(
        poly_zones, level, with_fragments=True
    )
    # merged token index: token → region keys (interior) / (key, frags)
    int_map: dict[str, list[str]] = {}
    bnd_map: dict[str, list[tuple[str, list]]] = {}
    for k in poly_zones:
        for t in interior[k]:
            int_map.setdefault(t, []).append(k)
        for t in boundary[k]:
            bnd_map.setdefault(t, []).append((k, fragments[k].get(t, [])))

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def match_regions(lon: pd.Series, lat: pd.Series) -> pd.Series:
        px = lon.to_numpy(dtype=np.float64) * scale
        py = lat.to_numpy(dtype=np.float64) * scale
        hits: list[list[str]] = [[] for _ in range(len(px))]
        for key, (w, s, e, n) in bbox_keys:
            inside = (px >= w) & (px <= e) & (py >= s) & (py <= n)
            for i in np.nonzero(inside)[0]:
                hits[i].append(key)
        if int_map or bnd_map:
            l7 = (px * _FP).astype(np.int64)
            t7 = (py * _FP).astype(np.int64)
            toks = np.asarray(cells.token_of_points(l7, t7, level), dtype=object)
            uniq, inv = np.unique(toks, return_inverse=True)
            for ti, tok in enumerate(uniq):
                ik = int_map.get(tok)
                bk = bnd_map.get(tok)
                if ik is None and bk is None:
                    continue
                at = np.nonzero(inv == ti)[0]
                if ik:
                    for i in at:
                        hits[i].extend(ik)
                if bk:
                    for key, frags in bk:
                        inside = _points_in_rings_parity(px[at], py[at], frags)
                        for i in at[inside]:
                            hits[i].append(key)
        # region-key order must not depend on cell layout: emit in the
        # caller's declaration order
        order = {k: j for j, k in enumerate(keys)}
        return pd.Series([sorted(h, key=order.get) for h in hits])

    return df.withColumn(
        "region", F.explode(match_regions(F.col(lon_col), F.col(lat_col)))
    )


def aggregate_by_geometry(
    df: DataFrame,
    regions: dict[str, object],
    group_cols: list[str],
    agg_exprs: list[Column],
    lon_col: str = "lon",
    lat_col: str = "lat",
    fixed_point: bool = True,
) -> DataFrame:
    """aggregateByGeometry: split + groupBy(region, *group_cols).agg(...)."""
    return (
        split_by_regions(df, regions, lon_col, lat_col, fixed_point)
        .groupBy("region", *group_cols)
        .agg(*agg_exprs)
    )


def _cell_range(w, s, e, n, ncell):
    """Grid-cell index range of a degree bbox at an ncell×(ncell/2)-ish
    resolution (lon cells = ncell over 360°, lat cells = ncell over
    180°) — pure arithmetic, no numpy, so the per-row probe stays
    microseconds."""
    x0 = min(max(int((w + 180.0) * ncell / 360.0), 0), ncell - 1)
    x1 = min(max(int((e + 180.0) * ncell / 360.0), 0), ncell - 1)
    y0 = min(max(int((s + 90.0) * ncell / 180.0), 0), ncell - 1)
    y1 = min(max(int((n + 90.0) * ncell / 180.0), 0), ncell - 1)
    return x0, x1, y0, y1


def _aoi_grid_index(aois: list[tuple[str, object]]):
    """Grid-cell candidate index over region AOIs (the STRtree analog of
    GeometrySplitter.java:60-66): (x, y) cell at the chosen level →
    indexes of the AOIs whose bbox covers it. Probing a feature's own
    bbox cells returns a candidate superset — two bboxes intersect only
    if they share a cell — so the per-row region loop becomes
    O(candidates) instead of O(regions). The level is the finest one
    whose total cover stays ≤ 32 cells/region on average (driver-side,
    broadcast with the closure). Plain integer keys, not Hilbert tokens:
    the probe runs per ROW, so it must cost microseconds."""
    boxes = [aoi.bbox for _, aoi in aois]
    budget = 32 * len(aois)
    ncell = 1
    for lv in range(8, -1, -1):
        nc = 1 << lv
        total = 0
        for (w, s, e, n) in boxes:
            x0, x1, y0, y1 = _cell_range(w, s, e, n, nc)
            total += (x1 - x0 + 1) * (y1 - y0 + 1)
            if total > budget:
                break
        if total <= budget:
            ncell = nc
            break
    index: dict[tuple[int, int], list[int]] = {}
    for i, (w, s, e, n) in enumerate(boxes):
        x0, x1, y0, y1 = _cell_range(w, s, e, n, ncell)
        for x in range(x0, x1 + 1):
            for y in range(y0, y1 + 1):
                index.setdefault((x, y), []).append(i)
    return ncell, index


def _candidates(aois, grid, fbbox_deg):
    """Candidate AOI list for a feature bbox (degrees): via the grid
    index when one was built, else all AOIs."""
    if grid is None:
        return aois
    ncell, index = grid
    x0, x1, y0, y1 = _cell_range(*fbbox_deg, ncell)
    seen: set[int] = set()
    for x in range(x0, x1 + 1):
        for y in range(y0, y1 + 1):
            hit = index.get((x, y))
            if hit:
                seen.update(hit)
    return [aois[i] for i in sorted(seen)]


def split_geoms_by_regions(
    df: DataFrame,
    regions: dict[str, object],
    geom_col: str = "geom_wkb",
    out_col: str = "region_wkb",
) -> DataFrame:
    """Geometry-aware region splitter — full GeometrySplitter parity
    (oshdb-api/.../GeometrySplitter.java:80-124): one output row per
    (input row, intersecting region), with the row's geometry RE-CLIPPED
    to that region in `out_col`, so a boundary-straddling way's length
    (or polygon's area) splits across regions instead of being assigned
    whole. Rows whose clip is empty for a region produce no row for it.

    Plan shape: narrow map (pandas UDF over the broadcast region list, no
    shuffle); each row's WKB decodes once. Beyond 16 regions a cell-token
    candidate index (the reference's STRtree analog) bounds the per-row
    work by the number of bbox-overlapping regions, not the region count;
    each surviving candidate still runs the 3-state bbox cull before any
    exact clip."""
    from ..kernels.aoi import AOI
    from . import geom as G

    aois = [(k, AOI(bbox=r) if _is_bbox(r) else AOI(polygon=r))
            for k, r in regions.items()]
    index_lv = _aoi_grid_index(aois) if len(aois) > 16 else None
    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("region", T.StringType()),
            T.StructField(out_col, T.BinaryType()),
        ]
    )
    in_cols = df.columns

    def splitter(batches):
        for pdf in batches:
            idx: list[int] = []
            keys: list[str] = []
            wkbs: list[bytes] = []
            for i, buf in enumerate(pdf[geom_col]):
                if buf is None:
                    continue
                g = G.from_wkb(bytes(buf))
                if g is None or G.is_empty(g):
                    continue
                fb = G.bbox_of(g)
                for key, aoi in _candidates(aois, index_lv, fb):
                    rel = aoi.relation_of_bbox(fb)
                    if rel == 0:
                        continue
                    clipped = g if rel == 1 else aoi.clip(g)
                    if clipped is not None and not G.is_empty(clipped):
                        idx.append(i)
                        keys.append(key)
                        wkbs.append(G.to_wkb(clipped))
            out = pdf.iloc[idx].reset_index(drop=True)
            out["region"] = pd.Series(keys, dtype=object)
            out[out_col] = pd.Series(wkbs, dtype=object)
            if len(out) == 0:
                out = pd.DataFrame(
                    {c: pd.Series([], dtype=object)
                     for c in in_cols + ["region", out_col]}
                )
            yield out

    return df.mapInPandas(splitter, schema=out_schema)


def split_contribution_geoms_by_regions(
    df: DataFrame,
    regions: dict[str, object],
    before_col: str = "before_wkb",
    after_col: str = "after_wkb",
    out_before: str = "region_before_wkb",
    out_after: str = "region_after_wkb",
) -> DataFrame:
    """Contribution-view geometry splitter — GeometrySplitter parity for
    contributions (oshdb-api/.../GeometrySplitter.java:141-203): regions
    are matched on the UNION of the before/after envelopes (creation →
    after only, deletion → before only, :159-175), a fully-inside match
    passes both geometries through unclipped (:151-153,:183-185), and a
    boundary-straddling match RE-CLIPS both sides to the region
    (:188-195) — so "way length added per district" splits the delta at
    the district edge instead of assigning it whole. A region where both
    clips come out empty produces no row (:190-192); a one-sided empty
    clip emits NULL for that side (the measure of nothing is 0).

    Plan shape mirrors split_geoms_by_regions: narrow mapInPandas over
    the broadcast AOI list, token-index candidates beyond 16 regions,
    3-state bbox cull before any exact clip, no shuffle."""
    from ..kernels.aoi import AOI
    from . import geom as G

    aois = [(k, AOI(bbox=r) if _is_bbox(r) else AOI(polygon=r))
            for k, r in regions.items()]
    index_lv = _aoi_grid_index(aois) if len(aois) > 16 else None
    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("region", T.StringType()),
            T.StructField(out_before, T.BinaryType()),
            T.StructField(out_after, T.BinaryType()),
        ]
    )
    in_cols = df.columns

    def splitter(batches):
        for pdf in batches:
            idx: list[int] = []
            keys: list[str] = []
            bwkbs: list[bytes | None] = []
            awkbs: list[bytes | None] = []
            for i, (bbuf, abuf) in enumerate(
                zip(pdf[before_col], pdf[after_col])
            ):
                gb = G.from_wkb(bytes(bbuf)) if bbuf is not None else None
                ga = G.from_wkb(bytes(abuf)) if abuf is not None else None
                if gb is not None and G.is_empty(gb):
                    gb = None
                if ga is not None and G.is_empty(ga):
                    ga = None
                if gb is None and ga is None:
                    continue
                # union envelope: creation → after, deletion → before,
                # else before ∪ after (GeometrySplitter.java:159-175)
                bbs = [G.bbox_of(g) for g in (gb, ga) if g is not None]
                fb = (
                    min(b[0] for b in bbs), min(b[1] for b in bbs),
                    max(b[2] for b in bbs), max(b[3] for b in bbs),
                )
                for key, aoi in _candidates(aois, index_lv, fb):
                    rel = aoi.relation_of_bbox(fb)
                    if rel == 0:
                        continue
                    if rel == 1:
                        cb, ca = gb, ga
                    else:
                        cb = aoi.clip(gb) if gb is not None else None
                        ca = aoi.clip(ga) if ga is not None else None
                        if cb is not None and G.is_empty(cb):
                            cb = None
                        if ca is not None and G.is_empty(ca):
                            ca = None
                        if cb is None and ca is None:
                            continue
                    idx.append(i)
                    keys.append(key)
                    bwkbs.append(G.to_wkb(cb) if cb is not None else None)
                    awkbs.append(G.to_wkb(ca) if ca is not None else None)
            out = pdf.iloc[idx].reset_index(drop=True)
            out["region"] = pd.Series(keys, dtype=object)
            out[out_before] = pd.Series(bwkbs, dtype=object)
            out[out_after] = pd.Series(awkbs, dtype=object)
            if len(out) == 0:
                out = pd.DataFrame(
                    {c: pd.Series([], dtype=object)
                     for c in in_cols + ["region", out_before, out_after]}
                )
            yield out

    return df.mapInPandas(splitter, schema=out_schema)


def split_contributions_by_regions(
    df: DataFrame,
    regions: dict[str, object],
    lon_before: str,
    lat_before: str,
    lon_after: str,
    lat_after: str,
    fixed_point: bool = True,
) -> DataFrame:
    """Contribution-view splitter: a contribution matches a region when its
    BEFORE or AFTER position does (the reference matches on the union of
    before/after bboxes, GeometrySplitter.java:159-175). Null positions
    (pure creations/deletions) contribute only their non-null side."""
    scale = 1e-7 if fixed_point else 1.0
    if not all(_is_bbox(r) for r in regions.values()):
        # polygon path: vectorized test over BOTH positions, region match =
        # union of the before/after sides (GeometrySplitter.java:159-175).
        # Bbox regions in a mixed set keep the inclusive >=/<= comparison
        # (parity with the all-bbox Catalyst path below); only polygon
        # regions ray-cast.
        keys = list(regions.keys())
        matchers = [
            (k, ("bbox", tuple(float(x) for x in regions[k])))
            if _is_bbox(regions[k])
            else (k, ("poly",
                      [np.asarray(r, dtype=np.float64) for r in regions[k]]))
            for k in keys
        ]

        @F.pandas_udf(T.ArrayType(T.StringType()))
        def match_either(
            blon: pd.Series, blat: pd.Series, alon: pd.Series, alat: pd.Series
        ) -> pd.Series:
            def side(lon, lat):
                ok = lon.notna().to_numpy()
                px = lon.fillna(0).to_numpy(dtype=np.float64) * scale
                py = lat.fillna(0).to_numpy(dtype=np.float64) * scale
                return ok, px, py

            okb, bx, by = side(blon, blat)
            oka, ax, ay = side(alon, alat)
            hits = [[] for _ in range(len(blon))]
            for key, (kind, spec) in matchers:
                if kind == "bbox":
                    w, s, e, n = spec
                    inb = (bx >= w) & (bx <= e) & (by >= s) & (by <= n) & okb
                    ina = (ax >= w) & (ax <= e) & (ay >= s) & (ay <= n) & oka
                else:
                    inb = points_in_polygon(bx, by, spec) & okb
                    ina = points_in_polygon(ax, ay, spec) & oka
                for i in np.nonzero(inb | ina)[0]:
                    hits[i].append(key)
            return pd.Series(hits)

        return df.withColumn(
            "region",
            F.explode(
                match_either(
                    F.col(lon_before), F.col(lat_before),
                    F.col(lon_after), F.col(lat_after),
                )
            ),
        )
    structs = ", ".join(
        f"named_struct('k', '{k}', 'w', cast({r[0]} as double),"
        f" 's', cast({r[1]} as double), 'e', cast({r[2]} as double),"
        f" 'n', cast({r[3]} as double))"
        for k, r in regions.items()
    )

    def inside(lon_col: str, lat_col: str) -> str:
        lon = f"({lon_col} * {scale})"
        lat = f"({lat_col} * {scale})"
        return (
            f"{lon_col} is not null AND {lon} >= r.w AND {lon} <= r.e"
            f" AND {lat} >= r.s AND {lat} <= r.n"
        )

    matched = (
        f"transform(filter(array({structs}),"
        f" r -> ({inside(lon_before, lat_before)})"
        f" OR ({inside(lon_after, lat_after)})), r -> r.k)"
    )
    return df.withColumn("region", F.explode(F.expr(matched)))


# ---------------------------------------------------------------------------
# kNN via cell-ring expansion
# ---------------------------------------------------------------------------

def equirect_distance_col(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """The reference's equirectangular distance (Geo.java:37-45) as a
    Catalyst column (meters)."""
    dlat = F.radians(lat2 - lat1)
    dlng = F.radians(lon2 - lon1) * F.cos(F.radians((lat1 + lat2) / 2.0))
    return F.lit(EARTH_RADIUS) * F.sqrt(dlng * dlng + dlat * dlat)


def knn(
    df: DataFrame,
    query_lon: float,
    query_lat: float,
    k: int = 10,
    lon_col: str = "lon",
    lat_col: str = "lat",
    id_cols: list[str] | None = None,
    level: int = 6,
    fixed_point: bool = True,
    cell_counts: dict[str, int] | None = None,
) -> DataFrame:
    """k nearest rows to (query_lon, query_lat) by equirectangular
    distance — the single-query form of knn_batch: the proven disk radius
    comes from the cell-count histogram (pass `cell_counts` from the
    store manifest, plans.layout.read_cell_counts, for ONE scan total;
    without it one histogram job runs first), then one scan of the disk
    takes the exact top-k. No per-ring driver loop of Spark jobs
    (replaced the round-1 radius-doubling probe; XYGrid.getNeighbours
    semantics live on inside the disk construction)."""
    out = knn_batch(
        df,
        [("q", float(query_lon), float(query_lat))],
        k=k,
        lon_col=lon_col,
        lat_col=lat_col,
        id_cols=id_cols,
        level=level,
        fixed_point=fixed_point,
        cell_counts=cell_counts,
    )
    return out.orderBy("dist_m", *(id_cols or [])).select(
        *(id_cols or []), "dist_m"
    )


def knn_batch(
    df: DataFrame,
    queries: list[tuple],
    k: int = 10,
    lon_col: str = "lon",
    lat_col: str = "lat",
    id_cols: list[str] | None = None,
    level: int = 6,
    fixed_point: bool = True,
    cell_counts: dict[str, int] | None = None,
) -> DataFrame:
    """Exact kNN for a BATCH of query points in exactly TWO Spark jobs —
    no per-ring driver loop (the scale-safe replacement for `knn`'s
    radius-doubling probe). Pass `cell_counts` (the typed store's
    `_manifest/cell_counts.json` histogram at the same `level`,
    plans.layout.read_cell_counts) to skip the histogram job entirely —
    ONE action total.

    queries: [(qid, lon_deg, lat_deg), ...].

    Job 1 collects per-cell counts at `level` (at 10^12 rows this is the
    store manifest / partition metadata, not a scan). The driver then
    expands rings over the COUNT MAP until each query's disk holds ≥ k
    points (pure python, no jobs), and converts that disk radius r* into a
    PROVEN radius: every true neighbor lies within distance ≤ the disk's
    outer radius, so a final disk whose guaranteed INNER radius covers the
    r* disk's outer radius contains the exact top-k. Job 2 scans the union
    of final disks once, explodes rows into the queries whose disk they
    fall in (broadcast token→query map), and takes the per-query top-k
    with one window."""
    import math

    scale = 1e-7 if fixed_point else 1.0

    @F.pandas_udf(T.StringType())
    def tok_of(lon: pd.Series, lat: pd.Series) -> pd.Series:
        l7 = (lon.to_numpy(dtype=np.float64) * (scale * _FP)).astype(np.int64)
        t7 = (lat.to_numpy(dtype=np.float64) * (scale * _FP)).astype(np.int64)
        return pd.Series(cells.token_of_points(l7, t7, level))

    pts = df.withColumn("_tok", tok_of(F.col(lon_col), F.col(lat_col)))
    if cell_counts is not None:
        counts = cell_counts
    else:
        # job 1: per-cell histogram (manifest-sized: ≤ 4^level entries)
        counts = {r["_tok"]: r["cnt"] for r in
                  pts.groupBy("_tok").agg(F.count(F.lit(1)).alias("cnt")).collect()}

    n_axis = 1 << level
    cell_h_deg = 180.0 / n_axis
    cell_h_m = cell_h_deg * 111_194.9
    full_cap = n_axis * n_axis // 2

    def disk_for(qlon: float, qlat: float) -> list[str] | None:
        qtok = cells.token_of_points(
            np.array([int(qlon * _FP)], dtype=np.int64),
            np.array([int(qlat * _FP)], dtype=np.int64),
            level,
        )[0]
        r = 1
        while True:
            disk = cells.ring_tokens(qtok, r)
            if len(disk) >= full_cap:
                return None  # full scan for this query
            if sum(counts.get(t, 0) for t in disk) >= k:
                break
            r *= 2
        # outer radius of disk(r): ≤ (r+1) cells in each axis; EW cells
        # are 2× taller in degrees but shrink by cos(lat) in meters
        outer_m = (r + 1) * cell_h_m * math.sqrt(1.0 + 4.0)
        worst = lambda rr: min(abs(qlat) + rr * cell_h_deg, 89.0)  # noqa: E731
        rf = r
        while True:
            ew = min(1.0, 2.0 * math.cos(math.radians(worst(rf))))
            if ew > 0 and rf * cell_h_m * ew >= outer_m:
                break
            rf += max(rf // 2, 1)
            if rf >= n_axis:
                return None
        disk = cells.ring_tokens(qtok, rf)
        if len(disk) >= full_cap:
            return None
        return disk

    tok2q: dict[str, list[str]] = {}
    full_qs = []
    qmeta = []
    for qid, qlon, qlat in queries:
        disk = disk_for(float(qlon), float(qlat))
        qmeta.append((str(qid), float(qlon), float(qlat)))
        if disk is None:
            full_qs.append(str(qid))
        else:
            for t in disk:
                tok2q.setdefault(t, []).append(str(qid))

    spark = df.sparkSession
    entries = [(t, qs) for t, qs in tok2q.items()]
    map_df = local_frame(
        spark, entries or [("", [])], "tok string, qids array<string>"
    )
    cand = pts.join(
        F.broadcast(map_df), pts["_tok"] == map_df["tok"], "inner"
    ).withColumn("qid", F.explode("qids"))
    if full_qs:
        # full-scan queries (disk would cover the grid): every row is a
        # candidate for them
        all_q = F.array(*[F.lit(q) for q in full_qs])
        cand = cand.unionByName(
            pts.withColumn("tok", F.col("_tok"))
            .withColumn("qids", all_q)
            .withColumn("qid", F.explode("qids"))
            .select(cand.columns)
        )
    qdf = F.broadcast(
        local_frame(spark, qmeta, "qid string, qlon double, qlat double")
    )
    cand = cand.join(qdf, "qid")
    lon_deg = F.col(lon_col) * scale
    lat_deg = F.col(lat_col) * scale
    cand = cand.withColumn(
        "_dist",
        equirect_distance_col(F.col("qlat"), F.col("qlon"), lat_deg, lon_deg),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy("_dist", *(id_cols or []))
    out = (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("qid", *(id_cols or []), F.col("_dist").alias("dist_m"))
    )
    return out


# ---------------------------------------------------------------------------
# raster ↔ vector zonal aggregation
# ---------------------------------------------------------------------------

def _points_in_rings_parity(px, py, rings) -> np.ndarray:
    """Even-odd (crossing parity) membership over an arbitrary ring set —
    equals points_in_polygon for [outer, holes...] and extends to
    multi-piece clipped fragments."""
    acc = np.zeros(len(np.atleast_1d(px)), dtype=bool)
    for r in rings:
        acc ^= points_in_polygon(px, py, [np.asarray(r, dtype=np.float64)])
    return acc


def rasterize_zones(
    zones: dict[str, object], level: int = 8, with_fragments: bool = False
):
    """Zone polygons → (interior_cells, boundary_cells[, fragments])
    token maps at `level`. Interior cell ⇒ every point in it belongs to
    the zone; boundary cell ⇒ exact test needed. Runs once on the driver;
    result is broadcast-sized (cells at level 8 ⇒ ≤65k tokens/zone).

    With ``with_fragments=True`` additionally returns, per boundary cell,
    the zone∩cell FRAGMENT rings (the reference's blocked-polygon
    pattern, FastPolygonOperations.java:26-160): boundary membership then
    tests against the few fragment edges instead of the full zone ring —
    the 100 TB path for country-sized multi-thousand-vertex zones. Cells
    are enlarged by one fixed-point unit before clipping so points lying
    exactly on a cell edge stay strictly inside their own cell's
    fragment (the parity test is then EXACTLY equivalent to the full
    point-in-zone test)."""
    import math

    from ..geo.clip import _clip_ring_bbox
    from ..kernels.aoi import bbox_vs_polygon

    interior: dict[str, list[str]] = {}
    boundary: dict[str, list[str]] = {}
    fragments: dict[str, dict[str, list[np.ndarray]]] = {}
    eps = 1e-7  # one fixed-point unit
    for key, region in zones.items():
        if _is_bbox(region):
            w, s, e, n = region
            rings = [
                np.array([(w, s), (e, s), (e, n), (w, n), (w, s)], dtype=np.float64)
            ]
        else:
            rings = [np.asarray(r, dtype=np.float64) for r in region]
        xs = np.concatenate([r[:, 0] for r in rings])
        ys = np.concatenate([r[:, 1] for r in rings])
        # floor mins / ceil maxes: int() truncates toward zero, which for
        # negative coords shrinks the cover bbox by 1 fixed-point unit and
        # can drop a boundary cell whose zone edge sits exactly on it
        bbox7 = (
            math.floor(xs.min() * _FP), math.floor(ys.min() * _FP),
            math.ceil(xs.max() * _FP), math.ceil(ys.max() * _FP),
        )
        toks = cells.cover_tokens(bbox7, level, enlarge=False)
        ins, bnd = [], []
        frag: dict[str, list[np.ndarray]] = {}
        n_axis = 1 << level
        for t in toks:
            x, y = cells.hilbert_d2xy(level, int(t, 4) if t else 0)
            cw = 360.0 / n_axis
            ch = 180.0 / n_axis
            cell_bbox = (
                -180.0 + x * cw, -90.0 + y * ch,
                -180.0 + (x + 1) * cw, -90.0 + (y + 1) * ch,
            )
            rel = bbox_vs_polygon(cell_bbox, rings)
            if rel == 1:
                ins.append(t)
            elif rel == 2:
                bnd.append(t)
                if with_fragments:
                    grown = (
                        cell_bbox[0] - eps, cell_bbox[1] - eps,
                        cell_bbox[2] + eps, cell_bbox[3] + eps,
                    )
                    pieces = []
                    for r in rings:
                        c = _clip_ring_bbox(r, grown)
                        if c is not None:
                            pieces.append(c)
                    frag[t] = pieces
        interior[key] = ins
        boundary[key] = bnd
        fragments[key] = frag
    if with_fragments:
        return interior, boundary, fragments
    return interior, boundary


def zonal_aggregate(
    df: DataFrame,
    zones: dict[str, object],
    agg_exprs: list[Column],
    lon_col: str = "lon",
    lat_col: str = "lat",
    level: int = 8,
    fixed_point: bool = True,
) -> DataFrame:
    """Zonal statistics: assign each point to all zones containing it,
    via cell lookup for interior cells + exact boundary tests against the
    per-cell zone FRAGMENT (the blocked-polygon pattern,
    FastPolygonOperations.java:26-160 — a boundary point tests against
    the handful of fragment edges in ITS cell, not the full zone ring),
    then groupBy(zone).agg(...). Points in no zone are dropped.
    Fragment and full-ring tests are exactly equivalent (see
    rasterize_zones)."""
    scale = 1e-7 if fixed_point else 1.0
    interior, boundary, fragments = rasterize_zones(
        zones, level, with_fragments=True
    )
    keys = list(zones.keys())

    int_arrs = {k: np.array(interior[k], dtype=object) for k in keys}
    bnd_arrs = {k: np.array(boundary[k], dtype=object) for k in keys}

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def zones_of(lon: pd.Series, lat: pd.Series) -> pd.Series:
        l7 = (lon.to_numpy(dtype=np.float64) * (scale * _FP)).astype(np.int64)
        t7 = (lat.to_numpy(dtype=np.float64) * (scale * _FP)).astype(np.int64)
        toks = cells.token_of_points(l7, t7, level)
        px = lon.to_numpy(dtype=np.float64) * scale
        py = lat.to_numpy(dtype=np.float64) * scale
        hits = [[] for _ in range(len(toks))]
        for k in keys:
            # vectorized cell membership (np.isin on token arrays); exact
            # parity test against the cell's fragment where the point
            # sits in a boundary cell
            imask = np.isin(toks, int_arrs[k])
            for i in np.nonzero(imask)[0]:
                hits[i].append(k)
            bmask = np.isin(toks, bnd_arrs[k])
            if bmask.any():
                idx = np.nonzero(bmask)[0]
                frag_k = fragments[k]
                for t in np.unique(toks[idx]):
                    sub = idx[toks[idx] == t]
                    inside = _points_in_rings_parity(
                        px[sub], py[sub], frag_k.get(t, [])
                    )
                    for i in sub[inside]:
                        hits[i].append(k)
        return pd.Series(hits)

    return (
        df.withColumn("zone", F.explode(zones_of(F.col(lon_col), F.col(lat_col))))
        .groupBy("zone")
        .agg(*agg_exprs)
    )


def build_cell_partials(
    df: DataFrame,
    agg_exprs: list[Column],
    lon_col: str = "lon7",
    lat_col: str = "lat7",
    level: int = 6,
) -> DataFrame:
    """Per-cell partial aggregates at `level` — the GeoBlocks pattern
    (EDBT 2021): pre-aggregate once, then any polygon query whose
    interior covers a cell is answered from this table without touching
    the raw rows. One hash aggregate over the data; the result is
    O(4^level) rows (≤4k at level 6) — metadata-sized."""

    @F.pandas_udf(T.StringType())
    def tok_of(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(cells.token_of_points(
            lon.to_numpy(dtype=np.int64), lat.to_numpy(dtype=np.int64), level
        ))

    return (
        df.withColumn("cell", tok_of(lon_col, lat_col))
        .groupBy("cell")
        .agg(*agg_exprs)
    )


def polygon_aggregate_blocks(
    partials: DataFrame,
    raw: DataFrame,
    polygon,
    partial_cols: list[str],
    raw_exprs: list[Column],
    lon_col: str = "lon7",
    lat_col: str = "lat7",
    level: int = 6,
    raw_cell_col: str | None = None,
) -> DataFrame:
    """Polygon aggregation from pre-aggregated cell blocks + exact
    boundary refinement (GeoBlocks EDBT 2021, exact mode):

    - cells FULLY INSIDE the polygon contribute their stored partials —
      at 10^12 rows the interior mass (the overwhelming majority of a
      large AOI) never touches a raw row;
    - BOUNDARY cells re-aggregate their raw rows under the exact
      point-in-polygon test; the raw scan is restricted to those cells'
      tokens (a partition-prunable predicate over a token-partitioned
      store, same shape as read_typed_store's prefix pruning);
    - disjoint cells contribute nothing.

    `partial_cols` are the partials' aggregate columns; `raw_exprs` must
    compute THE SAME aggregates (same order) over raw rows. Aggregates
    must be decomposable (sum/count/min/max — the GeoBlocks contract).
    Returns one row with the combined aggregates, exactly equal to
    aggregating the polygon's rows directly."""
    rz_int, rz_bnd, frags = rasterize_zones(
        {"q": polygon}, level, with_fragments=True
    )
    interior, boundary = rz_int["q"], rz_bnd["q"]
    frag = frags["q"]

    parts = partials.filter(F.col("cell").isin(interior)).select(
        *[F.sum(c).alias(c) for c in partial_cols]
    ) if interior else None

    @F.pandas_udf(T.BooleanType())
    def in_boundary_poly(lon: pd.Series, lat: pd.Series) -> pd.Series:
        l7 = lon.to_numpy(dtype=np.int64)
        t7 = lat.to_numpy(dtype=np.int64)
        toks = cells.token_of_points(l7, t7, level)
        px, py = l7 * 1e-7, t7 * 1e-7
        out = np.zeros(len(toks), dtype=bool)
        for t in np.unique(toks):
            rings = frag.get(t)
            if rings is None:
                continue
            sel = toks == t
            out[sel] = _points_in_rings_parity(px[sel], py[sel], rings)
        return pd.Series(out)

    # with a token column (token-partitioned store) the boundary scan is
    # partition-prunable; without one the exact test alone is still
    # correct (interior rows test False — their mass came from partials)
    refined = (
        raw.filter(F.col(raw_cell_col).isin(sorted(set(boundary))))
        if raw_cell_col is not None
        else raw
    )
    refined = refined.filter(in_boundary_poly(lon_col, lat_col)).select(
        *[e.alias(c) for e, c in zip(raw_exprs, partial_cols)]
    )
    both = refined if parts is None else parts.unionByName(refined)
    # coalesce: a polygon disjoint from the data must aggregate to 0,
    # not NULL (sum over zero rows)
    return both.select(
        *[F.coalesce(F.sum(c), F.lit(0)).alias(c) for c in partial_cols]
    )


# ---------------------------------------------------------------------------
# distributed two-table spatial join (PBSM)
# ---------------------------------------------------------------------------

def _floor_cell_expr(coord_expr: str, offset: int, zoom: int) -> str:
    """SQL expr: exact floor((coord + offset) / cellWidth) at `zoom`,
    mirroring cells.xy_id_col's two arithmetic forms (integral width up
    to zoom 10, scaled int64 floor-div for the fractional widths above)."""
    from .cells import _N

    if zoom <= 10:
        w = _N << (10 - zoom)
        return f"floor(({coord_expr} + {offset}) / {w})"
    d = 1 << (zoom - 10)
    return f"floor((cast({coord_expr} as bigint) + {offset}) * {d} / {_N})"


def pip_join_regions_table(
    points: DataFrame,
    regions: DataFrame,
    zoom: int = 6,
    lon7_col: str = "lon7",
    lat7_col: str = "lat7",
    w_col: str = "w7",
    s_col: str = "s7",
    e_col: str = "e7",
    n_col: str = "n7",
    n_salts: int = 1,
) -> DataFrame:
    """Distributed point-in-region join where BOTH sides are DataFrames —
    the partition-based spatial-merge (PBSM) shape that takes over when
    the region set outgrows the broadcast paths (split_by_regions /
    zonal_aggregate hold to ~10^5 regions; an admin-boundary or
    land-parcel table at 10^7+ rows needs a real shuffle join):

    - each region row explodes to the grid cells its bbox covers at
      ``zoom`` (sequence × sequence, pure codegen);
    - each point computes its single cell (cells.xy_id_col);
    - candidates meet in an EQUI-join on the cell id — hash-partitioned
      both sides, broadcast only if Catalyst decides the exploded region
      side is small — followed by the exact inclusive bbox refinement.

    A (point, region) pair shares exactly ONE cell (the point's), so the
    join emits no duplicates and needs no distinct. Coordinates are
    int64 fixed-point (1e-7°). Regions must not wrap the date line and
    must satisfy w<=e<180°, s<=n<90° (callers split wrapping regions —
    the convention of xy_bbox2_cell_id_ranges' date-line handling).

    ``n_salts`` > 1 replicates each region-cell row across that many
    salt keys and routes each point to one pseudo-random salt — the
    explicit hot-tile treatment for skewed data (a dense urban cell's
    points then spread over n_salts reducers instead of one). Results
    are salt-invariant.

    Returns points' columns + regions' columns (callers disambiguate
    name clashes before the call). Parity: the per-pair semantics equal
    split_by_regions' inclusive bbox test; only the execution strategy
    differs."""
    joined = _pbsm_candidates(
        points, regions, zoom, lon7_col, lat7_col,
        w_col, s_col, e_col, n_col, n_salts,
    )
    return joined.filter(
        (F.col(lon7_col) >= F.col(w_col))
        & (F.col(lon7_col) <= F.col(e_col))
        & (F.col(lat7_col) >= F.col(s_col))
        & (F.col(lat7_col) <= F.col(n_col))
    ).drop("_cell", "_salt")


def _pbsm_candidates(
    points: DataFrame,
    regions: DataFrame,
    zoom: int,
    lon7_col: str,
    lat7_col: str,
    w_col: str,
    s_col: str,
    e_col: str,
    n_col: str,
    n_salts: int,
) -> DataFrame:
    """Candidate pairs of the PBSM join: regions exploded to their
    bbox-covering cells, points at their single cell, equi-joined on
    (_cell[, _salt]). Callers apply the exact refinement and drop the
    helper columns."""
    from .cells import _LAT_MAX, _LON_MAX, _clamp_zoom, xy_id_col

    zoom = _clamp_zoom(zoom)
    x0 = _floor_cell_expr(w_col, _LON_MAX, zoom)
    x1 = _floor_cell_expr(e_col, _LON_MAX, zoom)
    y0 = _floor_cell_expr(s_col, _LAT_MAX, zoom)
    y1 = _floor_cell_expr(n_col, _LAT_MAX, zoom)
    ncols = 1 << zoom
    cells_expr = (
        f"flatten(transform(sequence({y0}, {y1}), "
        f"y -> transform(sequence({x0}, {x1}), x -> y * {ncols} + x)))"
    )
    r = regions.withColumn("_cell", F.explode(F.expr(cells_expr)))
    p = points.withColumn(
        "_cell", xy_id_col(lon7_col, lat7_col, zoom)
    ).filter(F.col("_cell") >= 0)
    keys = ["_cell"]
    if n_salts > 1:
        r = r.withColumn(
            "_salt", F.explode(F.expr(f"sequence(0, {n_salts - 1})"))
        )
        p = p.withColumn(
            "_salt",
            F.pmod(
                F.xxhash64(F.col(lon7_col), F.col(lat7_col)),
                F.lit(n_salts),
            ).cast("int"),
        )
        keys = ["_cell", "_salt"]
    return p.join(r, keys)


def pip_join_polygons_table(
    points: DataFrame,
    polys: DataFrame,
    zoom: int = 6,
    lon7_col: str = "lon7",
    lat7_col: str = "lat7",
    rid_col: str = "rid",
    ring_col: str = "ring",
    n_salts: int = 1,
) -> DataFrame:
    """Polygon variant of pip_join_regions_table: the region table
    carries one closed outer ring per row (``ring_col``:
    array<array<double>> of [lon, lat] degree pairs). The candidate
    stage is identical — the ring's bbox (computed in Catalyst, widened
    by one fixed-point unit so double rounding can only enlarge it)
    explodes to covering cells and meets each point's cell in an
    equi-join — and the refinement is the vectorized ray-cast
    (clip.points_in_polygon, FastPointInPolygon parity) over an
    Arrow-batched boolean pandas UDF that groups each batch by region id
    so every polygon is tested against its batch's points in one numpy
    call, never per row.

    Same contracts as the bbox variant: no date-line wrap, exactly one
    shared cell per (point, polygon) pair (no dedup needed),
    ``n_salts`` for hot cells."""

    def bound(axis: int, agg: str, pad: int) -> Column:
        return (
            F.floor(
                F.expr(
                    f"{agg}(transform({ring_col}, v -> v[{axis}]))"
                ) * 1e7
            ).cast("long") + pad
        )

    r = (
        polys.withColumn("_w7", bound(0, "array_min", -1))
        .withColumn("_e7", bound(0, "array_max", 2))
        .withColumn("_s7", bound(1, "array_min", -1))
        .withColumn("_n7", bound(1, "array_max", 2))
    )
    cand = _pbsm_candidates(
        points, r, zoom, lon7_col, lat7_col,
        "_w7", "_s7", "_e7", "_n7", n_salts,
    )

    @F.pandas_udf(T.BooleanType())
    def inside(rid: pd.Series, lon7: pd.Series, lat7: pd.Series,
               ring: pd.Series) -> pd.Series:
        px = lon7.to_numpy(dtype=np.float64) * 1e-7
        py = lat7.to_numpy(dtype=np.float64) * 1e-7
        out = np.zeros(len(px), dtype=bool)
        rids = rid.to_numpy()
        for k in np.unique(rids):
            idx = np.nonzero(rids == k)[0]
            rg = np.asarray(
                [list(v) for v in ring.iloc[idx[0]]], dtype=np.float64
            )
            out[idx] = points_in_polygon(px[idx], py[idx], [rg])
        return pd.Series(out)

    return cand.filter(
        inside(F.col(rid_col), F.col(lon7_col), F.col(lat7_col),
               F.col(ring_col))
    ).drop("_cell", "_salt", "_w7", "_s7", "_e7", "_n7")


def distance_join(
    left: DataFrame,
    right: DataFrame,
    d_meters: float,
    lon7_col: str = "lon7",
    lat7_col: str = "lat7",
    lat_max: float = 70.0,
    dist_col: str = "dist_m",
) -> DataFrame:
    """Distributed distance join: every (left, right) pair within
    ``d_meters`` by the reference's equirectangular metric
    (Geo.java:37-45) — the "all pairs within d" primitive behind
    geo-entity near-duplicate detection and proximity features.

    Strategy (the neighbor-cell replication form of PBSM): a zoom is
    chosen so one cell is at least as wide as d in degrees even at
    ``lat_max`` (longitude degrees shrink by cos(lat)), the right side
    replicates into its cell plus the 8 neighbors, the left side sits in
    its single cell, so every qualifying pair meets in EXACTLY ONE cell
    (no dedup) via the equi-join; the exact distance predicate refines.
    Everything is whole-stage codegen; the only shuffle is the cell
    hash join.

    Contracts: rows with |lat| > lat_max are dropped from both sides
    (pick lat_max for your data; 70° already forces zoom ≤ 6 for
    d = 200 km), no date-line wrap (split inputs crossing it). Right
    columns must not collide with left's. Output appends ``dist_col``
    in meters."""
    import math

    d_deg = d_meters / (math.pi / 180.0 * EARTH_RADIUS)
    need = d_deg / math.cos(math.radians(lat_max))
    if need > 180.0:
        raise ValueError(
            "d_meters too large for lat_max: one grid cell cannot span "
            f"{need:.1f} degrees — lower lat_max or d_meters"
        )
    zoom = 0
    while zoom < 10 and 360.0 / (1 << (zoom + 1)) >= need:
        zoom += 1
    from .cells import _LAT_MAX, _LON_MAX, _N, _clamp_zoom

    zoom = _clamp_zoom(zoom)
    w = _N << (10 - zoom)  # integral cell width (zoom <= 10 by bound)
    ncols = 1 << zoom
    nrows = ncols // 2
    lat7_cap = int(lat_max * 1e7)

    def xy(df: DataFrame, lon_c: str, lat_c: str):
        return (
            df.filter(
                (F.col(lat_c) >= -lat7_cap) & (F.col(lat_c) <= lat7_cap)
            )
            .withColumn("_x", F.floor((F.col(lon_c) + _LON_MAX) / w))
            .withColumn("_y", F.floor((F.col(lat_c) + _LAT_MAX) / w))
        )

    l2 = xy(left, lon7_col, lat7_col).withColumn(
        "_cell", F.col("_y") * ncols + F.col("_x")
    ).drop("_x", "_y")
    # rename right's coord columns so the joined frame keeps both
    rlon, rlat = f"_r_{lon7_col}", f"_r_{lat7_col}"
    r2 = (
        xy(
            right.withColumnRenamed(lon7_col, rlon)
            .withColumnRenamed(lat7_col, rlat),
            rlon,
            rlat,
        )
        .withColumn(
            "_cell",
            F.explode(
                F.expr(
                    f"filter(flatten(transform(sequence(-1, 1), "
                    f"dy -> transform(sequence(-1, 1), "
                    f"dx -> named_struct('x', _x + dx, 'y', _y + dy)))), "
                    f"c -> c.x >= 0 AND c.x < {ncols} "
                    f"AND c.y >= 0 AND c.y < {nrows})"
                )
            ),
        )
        .withColumn("_cell", F.col("_cell.y") * ncols + F.col("_cell.x"))
        .drop("_x", "_y")
    )
    dist = equirect_distance_col(
        F.col(lat7_col) * 1e-7,
        F.col(lon7_col) * 1e-7,
        F.col(rlat) * 1e-7,
        F.col(rlon) * 1e-7,
    )
    return (
        l2.join(r2, "_cell")
        .withColumn(dist_col, dist)
        .filter(F.col(dist_col) <= d_meters)
        .drop("_cell")
    )


def radius_grid(d_meters: float, lat_max: float):
    """Grid parameters for the neighbor-cell replication joins: the
    coarsest XYGrid zoom whose cell spans ≥ d degrees even at ``lat_max``
    (longitude degrees shrink by cos lat), so points within d always sit
    in the same or adjacent cells. Returns (cell_width_fixed_point,
    ncols, nrows, lat7_cap) — shared by distance_join, colocation_join,
    and the streaming co-location operator."""
    import math

    d_deg = d_meters / (math.pi / 180.0 * EARTH_RADIUS)
    need = d_deg / math.cos(math.radians(lat_max))
    if need > 180.0:
        raise ValueError(
            "d_meters too large for lat_max: one grid cell cannot span "
            f"{need:.1f} degrees — lower lat_max or d_meters"
        )
    zoom = 0
    while zoom < 10 and 360.0 / (1 << (zoom + 1)) >= need:
        zoom += 1
    from .cells import _N, _clamp_zoom

    zoom = _clamp_zoom(zoom)
    w = _N << (10 - zoom)
    ncols = 1 << zoom
    return w, ncols, ncols // 2, int(lat_max * 1e7)


def colocation_join(
    left: DataFrame,
    right: DataFrame,
    d_meters: float,
    t_seconds: int,
    lon7_col: str = "lon7",
    lat7_col: str = "lat7",
    sec_col: str = "sec",
    lat_max: float = 70.0,
    dist_col: str = "dist_m",
) -> DataFrame:
    """Spatio-temporal co-location join: every (left, right) fix pair
    within ``d_meters`` (reference equirectangular metric, Geo.java:37-45)
    AND within ``t_seconds`` — the contact/co-movement primitive behind
    encounter detection, transfer inference, and co-traveler analytics.

    Strategy extends :func:`distance_join`'s neighbor-cell replication
    with a time dimension: space is gridded so one cell spans ≥ d even at
    ``lat_max`` and time is bucketed at width t, the right side replicates
    into its 9 spatial neighbors × 3 temporal buckets (27×), the left
    side keeps its single (cell, bucket), so every qualifying pair —
    |Δcell| ≤ 1 and |Δbucket| ≤ 1 by construction — meets in EXACTLY ONE
    (cell, bucket) key (no dedup, no distinct); the exact distance and
    |Δsec| predicates refine. The whole plan is one hash equi-join between
    whole-stage-codegen spans — no cartesian, no Python.

    At 100 TB the 27× build-side fan-out is the explicit price for a
    dedup-free single shuffle; it ships ids+coords only, and AQE handles
    residual hot (cell, bucket) keys. Contracts as distance_join: rows
    with |lat| > lat_max are dropped from both sides, no date-line wrap,
    right's non-coordinate columns must not collide with left's. Right's
    ``lon7/lat7/sec`` columns are exposed as ``_r_``-prefixed names."""
    if t_seconds <= 0:
        raise ValueError("t_seconds must be positive")
    from .cells import _LAT_MAX, _LON_MAX

    w, ncols, nrows, lat7_cap = radius_grid(d_meters, lat_max)

    def xy(df: DataFrame, lon_c: str, lat_c: str, sec_c: str):
        return (
            df.filter(
                (F.col(lat_c) >= -lat7_cap) & (F.col(lat_c) <= lat7_cap)
            )
            .withColumn("_x", F.floor((F.col(lon_c) + _LON_MAX) / w))
            .withColumn("_y", F.floor((F.col(lat_c) + _LAT_MAX) / w))
            .withColumn("_tb0", F.floor(F.col(sec_c) / F.lit(int(t_seconds))))
        )

    l2 = (
        xy(left, lon7_col, lat7_col, sec_col)
        .withColumn("_cell", F.col("_y") * ncols + F.col("_x"))
        .withColumn("_tb", F.col("_tb0"))
        .drop("_x", "_y", "_tb0")
    )
    rlon, rlat = f"_r_{lon7_col}", f"_r_{lat7_col}"
    rsec = f"_r_{sec_col}"
    r2 = (
        xy(
            right.withColumnRenamed(lon7_col, rlon)
            .withColumnRenamed(lat7_col, rlat)
            .withColumnRenamed(sec_col, rsec),
            rlon,
            rlat,
            rsec,
        )
        .withColumn(
            "_cell",
            F.explode(
                F.expr(
                    f"filter(flatten(transform(sequence(-1, 1), "
                    f"dy -> transform(sequence(-1, 1), "
                    f"dx -> named_struct('x', _x + dx, 'y', _y + dy)))), "
                    f"c -> c.x >= 0 AND c.x < {ncols} "
                    f"AND c.y >= 0 AND c.y < {nrows})"
                )
            ),
        )
        .withColumn("_cell", F.col("_cell.y") * ncols + F.col("_cell.x"))
        .withColumn(
            "_tb",
            F.explode(F.sequence(F.col("_tb0") - 1, F.col("_tb0") + 1)),
        )
        .drop("_x", "_y", "_tb0")
    )
    dist = equirect_distance_col(
        F.col(lat7_col) * 1e-7,
        F.col(lon7_col) * 1e-7,
        F.col(rlat) * 1e-7,
        F.col(rlon) * 1e-7,
    )
    return (
        l2.join(r2, ["_cell", "_tb"])
        .filter(
            F.abs(F.col(sec_col) - F.col(rsec)) <= F.lit(int(t_seconds))
        )
        .withColumn(dist_col, dist)
        .filter(F.col(dist_col) <= d_meters)
        .drop("_cell", "_tb")
    )


def knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    zoom: int = 6,
    lon7_col: str = "lon7",
    lat7_col: str = "lat7",
    left_id: str = "pid",
    right_id: str = "nid",
    right_lon7: str | None = None,
    right_lat7: str | None = None,
    local_escalation_max: int = 50_000,
) -> DataFrame:
    """EXACT distributed kNN join — k nearest right rows for EVERY left
    row (equirect metric, ties by right id), both sides DataFrames. The
    all-pairs generalization of knn/knn_batch's cell-ring expansion:

    Phase 1 (fully distributed): right replicates into its 3×3 cell
    neighborhood at ``zoom``, left sits in its single cell, candidates
    meet in the cell equi-join, one window takes the per-left top-k. A
    left row is PROVEN done when it has ≥ k candidates and its k-th
    distance is ≤ the guaranteed radius r_g — the least distance any
    point OUTSIDE its 3×3 block can have: outside means crossing the
    block's lat edge (dist ≥ R·rad(Δlat_min)) or its lon edge while
    staying within Δlat_min (mean lat then ≤ |lat|+Δlat_min/2, so
    dist ≥ R·rad(Δlon_min)·cos(that)); r_g = min of the two. Block
    sides at the grid edge cannot be crossed (no data beyond ±90°/±180°,
    and the metric itself does not wrap) and count as infinite.

    Escalation — hybrid by residual size (both branches exact):
    - residual ≤ `local_escalation_max`: collect the residual (never
      the corpus) and run knn_batch's count-map ring expansion — at
      small sizes the driver loop beats the distributed rounds' fixed
      per-stage costs (same-session A/B: 16.8 s vs 32.0 s on a 10k×10k
      join with a 1.5k residual, BASELINE.md);
    - larger residual (the 10^8-left regime where a collect is a hard
      wall): re-run the SAME block join FULLY DISTRIBUTED at zoom-2,
      zoom-4, … — each coarsening quadruples the guaranteed radius, and
      the right side is pre-filtered to the 3×3 neighborhoods of the
      still-pending cells (a broadcast semi-join). At the coarsest
      level (zoom 1) every right row replicates into every grid cell,
      so the window IS the exact brute force over whatever stragglers
      remain and the loop terminates with everything resolved —
      ≤ ceil(zoom/2)+1 rounds total, all Catalyst, nothing driver-side.

    Skew note: all candidates of one left row meet in ONE task (its
    cell), so a dense cell inflates that task's window input by its own
    population — pre-reduce with a coarser zoom or per-cell salting of
    the WINDOW (not the join) if a city cell dominates; the join itself
    is already salt-compatible.

    Returns (left_id, right_id, dist_m) with exactly k rows per left
    row (fewer only if |right| < k)."""
    from pyspark.sql import Window

    from .cells import _LAT_MAX, _LON_MAX, _N, _clamp_zoom

    zoom = _clamp_zoom(zoom)
    if not 1 <= zoom <= 10:
        raise ValueError("knn_join zoom must be in [1, 10]")
    rlon = right_lon7 or f"_r_{lon7_col}"
    rlat = right_lat7 or f"_r_{lat7_col}"
    if right_lon7 is None:
        right = right.withColumnRenamed(lon7_col, rlon).withColumnRenamed(
            lat7_col, rlat
        )

    lat_deg = F.col(lat7_col) * 1e-7
    lon_deg = F.col(lon7_col) * 1e-7
    dist = equirect_distance_col(
        lat_deg, lon_deg, F.col(rlat) * 1e-7, F.col(rlon) * 1e-7
    )
    win = Window.partitionBy(left_id).orderBy("_dist", right_id)

    def round_at(z: int, lefts: DataFrame, restrict_right: bool):
        """One block-join round at zoom z over the given lefts. Returns
        (topk, resolved_ids) — resolved by the r_g proof, or everything
        when z==1 (full-grid replication ⇒ exact brute force)."""
        w = _N << (10 - z)
        ncols = 1 << z
        nrows = ncols // 2
        cellw_deg = 360.0 / ncols
        l2 = (
            lefts.withColumn("_x", F.floor((F.col(lon7_col) + _LON_MAX) / w))
            .withColumn("_y", F.floor((F.col(lat7_col) + _LAT_MAX) / w))
            .withColumn("_cell", F.col("_y") * ncols + F.col("_x"))
        )
        r0 = right.withColumn(
            "_rx", F.floor((F.col(rlon) + _LON_MAX) / w)
        ).withColumn("_ry", F.floor((F.col(rlat) + _LAT_MAX) / w))
        if restrict_right:
            # rights that can reach a pending cell are those whose OWN
            # cell lies in some pending cell's 3×3 — a tiny broadcast
            # semi-join, so later rounds never re-replicate the corpus
            reach = (
                l2.select("_x", "_y")
                .distinct()
                .select(
                    F.explode(
                        F.expr(
                            f"filter(flatten(transform(sequence(-1, 1), "
                            f"dy -> transform(sequence(-1, 1), "
                            f"dx -> named_struct('x', _x + dx, "
                            f"'y', _y + dy)))), "
                            f"c -> c.x >= 0 AND c.x < {ncols} "
                            f"AND c.y >= 0 AND c.y < {nrows})"
                        )
                    ).alias("_nb")
                )
                .select(
                    F.col("_nb.x").alias("_rx"), F.col("_nb.y").alias("_ry")
                )
                .distinct()
            )
            r0 = r0.join(F.broadcast(reach), ["_rx", "_ry"], "left_semi")
        r2 = (
            r0.withColumn(
                "_nb",
                F.explode(
                    F.expr(
                        f"filter(flatten(transform(sequence(-1, 1), "
                        f"dy -> transform(sequence(-1, 1), "
                        f"dx -> named_struct('x', _rx + dx, 'y', _ry + dy)))), "
                        f"c -> c.x >= 0 AND c.x < {ncols} "
                        f"AND c.y >= 0 AND c.y < {nrows})"
                    )
                ),
            )
            .withColumn("_cell", F.col("_nb.y") * ncols + F.col("_nb.x"))
            .drop("_rx", "_ry", "_nb")
        )
        cand = l2.join(r2, "_cell").withColumn("_dist", dist)
        topk = (
            cand.withColumn("_rn", F.row_number().over(win))
            .filter(F.col("_rn") <= k)
        )
        if z <= 1:
            return topk, None  # full grid ⇒ exact; everything resolves
        # materialize the (≤ k·|lefts|-row) top-k once: the expensive
        # join+window feeds BOTH the resolution stats and the output —
        # without this every consumer recomputes the whole round
        topk = topk.localCheckpoint()
        # guaranteed radius r_g (codegen): block edges in degrees
        west = (F.col("_x") - 1) * cellw_deg - 180.0
        east = (F.col("_x") + 2) * cellw_deg - 180.0
        south = (F.col("_y") - 1) * cellw_deg - 90.0
        north = (F.col("_y") + 2) * cellw_deg - 90.0
        inf = F.lit(1e12)
        dlat_min = F.least(
            F.when(F.col("_y") - 1 >= 0, lat_deg - south).otherwise(inf),
            F.when(F.col("_y") + 2 <= nrows, north - lat_deg).otherwise(inf),
        )
        dlon_min = F.least(
            F.when(F.col("_x") - 1 >= 0, lon_deg - west).otherwise(inf),
            F.when(F.col("_x") + 2 <= ncols, east - lon_deg).otherwise(inf),
        )
        coslat = F.cos(
            F.radians(
                F.least(F.abs(lat_deg) + dlat_min / 2.0, F.lit(90.0))
            )
        )
        r_g = F.lit(EARTH_RADIUS) * F.least(
            F.radians(dlat_min), F.radians(dlon_min) * coslat
        )
        stats = topk.groupBy(left_id).agg(
            F.count(F.lit(1)).alias("_nc"),
            F.max("_dist").alias("_kth"),
            F.first(r_g).alias("_rg"),
        )
        resolved = stats.filter(
            (F.col("_nc") >= k) & (F.col("_kth") <= F.col("_rg"))
        ).select(left_id)
        return topk, resolved

    pending = left.select(left_id, lon7_col, lat7_col)
    parts: list[DataFrame] = []
    z = zoom
    while True:
        topk, resolved = round_at(z, pending, restrict_right=z != zoom)
        out_cols = [left_id, right_id, F.col("_dist").alias("dist_m")]
        if resolved is None:  # coarsest round: exact for all remaining
            parts.append(topk.select(*out_cols))
            break
        parts.append(
            topk.join(resolved, left_id, "left_semi").select(*out_cols)
        )
        # the residual derives from the checkpointed top-k — cheap
        pending = pending.join(resolved, left_id, "left_anti")
        n_pending = pending.count()
        if n_pending == 0:
            break
        if n_pending <= local_escalation_max:
            # small residual: the driver ring-expansion loop beats the
            # distributed rounds' per-stage fixed costs (A/B-measured);
            # only the RESIDUAL collects, never the corpus
            rows = pending.collect()
            queries = [
                (str(r[left_id]), r[lon7_col] * 1e-7, r[lat7_col] * 1e-7)
                for r in rows
            ]
            lid_type = dict(left.dtypes)[left_id]
            parts.append(
                knn_batch(
                    right, queries, k=k, lon_col=rlon, lat_col=rlat,
                    id_cols=[right_id], level=6,
                ).select(
                    F.col("qid").cast(lid_type).alias(left_id),
                    right_id,
                    F.col("dist_m"),
                )
            )
            break
        z = max(1, z - 2)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# polygon-overlay intersection join (two polygon TABLES)
# ---------------------------------------------------------------------------

def _bbox_pair_candidates(
    a: DataFrame,
    b: DataFrame,
    zoom: int,
    n_salts: int,
    salt_key,
) -> DataFrame:
    """Shared PBSM pair-candidate stage: both inputs already carry padded
    fixed-point bboxes (``_aw7/_ae7/_as7/_an7`` resp. ``_b*``). Explodes
    each side to its bbox's covering cells, equi-joins on the cell id,
    keeps bbox-overlapping pairs exactly once via the reference-point
    rule (the cell holding the intersection bbox's SW corner — pure
    codegen, no distinct). ``salt_key`` is a Column hashed to route B
    rows when ``n_salts`` > 1 (A replicates)."""
    from .cells import _LAT_MAX, _LON_MAX, _clamp_zoom

    zoom = _clamp_zoom(zoom)
    ncols = 1 << zoom

    def with_cells(df: DataFrame, p: str) -> DataFrame:
        x0 = _floor_cell_expr(f"_{p}w7", _LON_MAX, zoom)
        x1 = _floor_cell_expr(f"_{p}e7", _LON_MAX, zoom)
        y0 = _floor_cell_expr(f"_{p}s7", _LAT_MAX, zoom)
        y1 = _floor_cell_expr(f"_{p}n7", _LAT_MAX, zoom)
        d = (
            df.withColumn(f"_{p}x0", F.expr(x0).cast("long"))
            .withColumn(f"_{p}y0", F.expr(y0).cast("long"))
            .withColumn(f"_{p}x1", F.expr(x1).cast("long"))
            .withColumn(f"_{p}y1", F.expr(y1).cast("long"))
        )
        return d.withColumn(
            "_cell",
            F.explode(
                F.expr(
                    f"flatten(transform(sequence(_{p}y0, _{p}y1), "
                    f"y -> transform(sequence(_{p}x0, _{p}x1), "
                    f"x -> y * {ncols} + x)))"
                )
            ),
        )

    a = with_cells(a, "a")
    b = with_cells(b, "b")
    keys = ["_cell"]
    if n_salts > 1:
        a = a.withColumn(
            "_salt", F.explode(F.expr(f"sequence(0, {n_salts - 1})"))
        )
        b = b.withColumn(
            "_salt",
            F.pmod(F.xxhash64(salt_key), F.lit(n_salts)).cast("int"),
        )
        keys = ["_cell", "_salt"]
    return a.join(b, keys).filter(
        # bbox overlap (padded fixed point) ...
        (F.col("_aw7") <= F.col("_be7"))
        & (F.col("_bw7") <= F.col("_ae7"))
        & (F.col("_as7") <= F.col("_bn7"))
        & (F.col("_bs7") <= F.col("_an7"))
        # ... counted once: only in the cell holding the intersection
        # bbox's SW corner (reference-point dedup, pure codegen)
        & (
            F.col("_cell")
            == F.greatest("_ay0", "_by0") * ncols
            + F.greatest("_ax0", "_bx0")
        )
    )


def overlay_join(
    polys_a: DataFrame,
    polys_b: DataFrame,
    zoom: int = 6,
    ring_a_col: str = "ring_a",
    ring_b_col: str = "ring_b",
    n_salts: int = 1,
) -> DataFrame:
    """Distributed polygon-overlay intersection join: every pair of rows
    (one ring from each table) whose interiors overlap, with the
    Chamberlain-Duquette spherical area of the intersection region — the
    PBSM analog of a JTS ``a.intersection(b).getArea()`` overlay
    (Geo.java:94-179 area semantics over clip.ring_intersection pieces),
    for region tables too large to broadcast (land-use x admin overlay).

    Each side carries one simple closed ring per row (``ring_*_col``:
    array<array<double>> of [lon, lat] degree pairs, first == last, no
    date-line wrap). Plan shape:

    - both sides compute their ring's bbox in Catalyst (floor to 1e-7
      fixed point, pads -1/+2 so double rounding only enlarges) and
      explode to the grid cells the bbox covers at ``zoom``;
    - candidates meet in an EQUI-join on the cell id. A pair whose
      bboxes overlap shares a RECTANGLE of cells, so duplicates are
      culled by the PBSM reference-point rule — the pair survives only
      in the cell containing the intersection bbox's SW corner
      (``greatest`` of the per-side floor-cell coordinates, pure
      codegen) — no distinct pass, no second shuffle;
    - surviving pairs refine through clip.ring_intersection +
      geodesy.ring_area_signed in one Arrow-batched pandas UDF (pairs
      are independent rows, so the refine is a narrow map; no Python in
      the candidate path). Pairs with measure-zero contact (shared
      edge/corner) yield no intersection piece and are dropped with the
      disjoint ones by the ``area > 0`` filter.

    ``n_salts`` > 1 replicates side A's cell rows and routes each B row
    to one hash-chosen salt (hot-cell treatment; results salt-invariant
    because the reference-point rule is salt-independent). Dense single
    cells otherwise rely on AQE skew-join splitting.

    Returns polys_a columns + polys_b columns (disambiguate clashes
    before the call) + ``area_m2``. Scale: shuffle volume is the
    exploded cell covers (bounded by bbox size / cell size per row);
    the Python term touches only bbox-overlapping candidates."""
    from .clip import ring_intersection
    from .geodesy import ring_area_signed

    def with_bbox(df: DataFrame, ring_col: str, p: str) -> DataFrame:
        def bound(axis: int, agg: str, pad: int) -> Column:
            return (
                F.floor(
                    F.expr(
                        f"{agg}(transform({ring_col}, v -> v[{axis}]))"
                    ) * 1e7
                ).cast("long") + pad
            )

        return (
            df.withColumn(f"_{p}w7", bound(0, "array_min", -1))
            .withColumn(f"_{p}e7", bound(0, "array_max", 2))
            .withColumn(f"_{p}s7", bound(1, "array_min", -1))
            .withColumn(f"_{p}n7", bound(1, "array_max", 2))
        )

    cand = _bbox_pair_candidates(
        with_bbox(polys_a, ring_a_col, "a"),
        with_bbox(polys_b, ring_b_col, "b"),
        zoom,
        n_salts,
        F.col(ring_b_col),
    )

    @F.pandas_udf(T.DoubleType())
    def _ixn_area(ra: pd.Series, rb: pd.Series) -> pd.Series:
        out = np.zeros(len(ra))
        for i, (va, vb) in enumerate(zip(ra, rb)):
            pa = np.asarray([list(v) for v in va], dtype=np.float64)
            pb = np.asarray([list(v) for v in vb], dtype=np.float64)
            out[i] = sum(
                abs(ring_area_signed(p)) for p in ring_intersection(pa, pb)
            )
        return pd.Series(out)

    helper = [c for c in cand.columns if c.startswith("_")]
    return (
        cand.withColumn(
            "area_m2", _ixn_area(F.col(ring_a_col), F.col(ring_b_col))
        )
        .filter(F.col("area_m2") > 0)
        .drop(*helper)
    )


def clip_join_segments(
    segs: DataFrame,
    regions: DataFrame,
    zoom: int = 6,
    ax_col: str = "ax7",
    ay_col: str = "ay7",
    bx_col: str = "bx7",
    by_col: str = "by7",
    w_col: str = "w7",
    s_col: str = "s7",
    e_col: str = "e7",
    n_col: str = "n7",
    n_salts: int = 1,
) -> DataFrame:
    """Distributed line-clip overlay join: every (segment, rectangle)
    pair whose clipped portion has positive length, with the clipped
    equirectangular length in meters — the line sibling of overlay_join
    (points: pip_join_*; polygons: overlay_join; lines: this), e.g.
    "road length per admin cell" when the region table is itself too
    large to broadcast.

    Both sides carry int64 1e-7-degree fixed point: segments as
    (ax7, ay7, bx7, by7) endpoint rows, regions as (w7, s7, e7, n7)
    rects (no date-line wrap). Candidates use _bbox_pair_candidates
    (cell-cover equi-join + reference-point dedup); the refinement is
    Liang–Barsky clipping EXPRESSED ENTIRELY IN CATALYST — slab entry/
    exit parameters from greatest/least of the parametric boundary hits,
    clipped length by the reference equirect formula (Geo.java:37-45)
    over the t-interval — so the whole operator is one equi-join between
    two codegen spans with zero Python anywhere.

    The t-parameters use only subtraction/division/greatest/least over
    doubles derived as ``fixed_point * 1e-7``, so the hit decision
    (t1 > t0) is bit-reproducible across engines; only the final
    meters term touches radians/cos (callers round, mm is plenty).
    Axis-parallel segments (zero extent) hit iff the constant coordinate
    lies inside the slab — the CASE guards the 0-division. Output:
    segs columns + regions columns + ``clip_len_m`` (> 0 strictly;
    measure-zero grazes where the clipped interval collapses to a
    point are excluded on both engines by the bit-stable t1 > t0)."""
    deg = lambda c: F.col(c).cast("double") * F.lit(1e-7)  # noqa: E731
    a = (
        segs.withColumn("_aw7", F.least(ax_col, bx_col))
        .withColumn("_ae7", F.greatest(ax_col, bx_col))
        .withColumn("_as7", F.least(ay_col, by_col))
        .withColumn("_an7", F.greatest(ay_col, by_col))
    )
    b = (
        regions.withColumn("_bw7", F.col(w_col))
        .withColumn("_be7", F.col(e_col))
        .withColumn("_bs7", F.col(s_col))
        .withColumn("_bn7", F.col(n_col))
    )
    cand = _bbox_pair_candidates(
        a, b, zoom, n_salts,
        F.struct(F.col(w_col), F.col(s_col), F.col(e_col), F.col(n_col)),
    )
    ax, ay = deg(ax_col), deg(ay_col)
    dx, dy = deg(bx_col) - ax, deg(by_col) - ay
    w, s = deg(w_col), deg(s_col)
    e, n = deg(e_col), deg(n_col)

    def slab(pos, d, lo, hi):
        t_in = F.least((lo - pos) / d, (hi - pos) / d)
        t_out = F.greatest((lo - pos) / d, (hi - pos) / d)
        inside = (pos >= lo) & (pos <= hi)
        return (
            F.when(d == 0, F.when(inside, F.lit(0.0)).otherwise(F.lit(2.0)))
            .otherwise(t_in),
            F.when(d == 0, F.when(inside, F.lit(1.0)).otherwise(F.lit(-1.0)))
            .otherwise(t_out),
        )

    tx0, tx1 = slab(ax, dx, w, e)
    ty0, ty1 = slab(ay, dy, s, n)
    t0c, t1c = F.col("_t0"), F.col("_t1")
    dt = t1c - t0c
    mid_lat = ay + dy * (t0c + t1c) / F.lit(2.0)
    d_lat = F.radians(dy * dt)
    d_lng = F.radians(dx * dt) * F.cos(F.radians(mid_lat))
    length = F.lit(EARTH_RADIUS) * F.sqrt(d_lat * d_lat + d_lng * d_lng)
    out = (
        cand.withColumn("_t0", F.greatest(F.lit(0.0), tx0, ty0))
        .withColumn("_t1", F.least(F.lit(1.0), tx1, ty1))
        .filter(F.col("_t1") > F.col("_t0"))
        .withColumn("clip_len_m", length)
        # a point-degenerate segment inside the rect passes t1 > t0 with
        # an exactly-zero length (radians(0) == 0, sqrt(0) == 0 — no
        # float-noise boundary); the > 0 contract filters it bit-stably
        .filter(F.col("clip_len_m") > 0)
    )
    helper = [c for c in out.columns if c.startswith("_")]
    return out.drop(*helper)


def segment_snap_candidates(
    points: DataFrame,
    segments: DataFrame,
    d_meters: float,
    zoom: int = 6,
    lat_max: float = 70.0,
    n_salts: int = 1,
    sid_col: str = "sid",
    lon7_col: str = "lon7",
    lat7_col: str = "lat7",
    ax_col: str = "ax7",
    ay_col: str = "ay7",
    bx_col: str = "bx7",
    by_col: str = "by7",
) -> DataFrame:
    """Shared candidate stage of the snap-to-segment family
    (nearest_segment_join, hmm_map_match): every (probe, segment) pair
    within ``d_meters`` by the probe-anchored clamped point-to-segment
    equirect metric, exactly once (PBSM cell-cover equi-join +
    reference-point dedup), with the distance quantized to integer
    millimeters in ``_mm``. Pure whole-stage codegen; see
    nearest_segment_join for the metric and padding derivation. Output:
    all point columns + all segment columns + ``_mm`` (long)."""
    import math

    d_deg = d_meters / (math.pi / 180.0 * EARTH_RADIUS)
    pad_lat7 = int(math.ceil(d_deg * 1e7))
    pad_lon7 = int(math.ceil(d_deg / math.cos(math.radians(lat_max)) * 1e7))
    lat7_cap = int(lat_max * 1e7)

    a = (
        points.filter(
            (F.col(lat7_col) >= -lat7_cap) & (F.col(lat7_col) <= lat7_cap)
        )
        .withColumn("_aw7", F.col(lon7_col) - pad_lon7)
        .withColumn("_ae7", F.col(lon7_col) + pad_lon7)
        .withColumn("_as7", F.col(lat7_col) - pad_lat7)
        .withColumn("_an7", F.col(lat7_col) + pad_lat7)
    )
    b = (
        segments.filter(
            (F.least(ay_col, by_col) >= -lat7_cap)
            & (F.greatest(ay_col, by_col) <= lat7_cap)
        )
        .withColumn("_bw7", F.least(ax_col, bx_col))
        .withColumn("_be7", F.greatest(ax_col, bx_col))
        .withColumn("_bs7", F.least(ay_col, by_col))
        .withColumn("_bn7", F.greatest(ay_col, by_col))
    )
    cand = _bbox_pair_candidates(
        a, b, zoom, n_salts, F.struct(F.col(sid_col))
    )
    deg = lambda c: F.col(c).cast("double") * F.lit(1e-7)  # noqa: E731
    plon, plat = deg(lon7_col), deg(lat7_col)
    k = F.cos(F.radians(plat))
    dxa = F.radians(deg(ax_col) - plon) * k
    dya = F.radians(deg(ay_col) - plat)
    dxb = F.radians(deg(bx_col) - plon) * k
    dyb = F.radians(deg(by_col) - plat)
    vx, vy = dxb - dxa, dyb - dya
    den = vx * vx + vy * vy
    t_raw = -(dxa * vx + dya * vy) / den
    t = F.when(den == 0, F.lit(0.0)).otherwise(
        F.least(F.lit(1.0), F.greatest(F.lit(0.0), t_raw))
    )
    mm_cap = int(round(d_meters * 1000.0))
    out = (
        cand.withColumn("_t", t)
        .withColumn("_cx", dxa + F.col("_t") * vx)
        .withColumn("_cy", dya + F.col("_t") * vy)
        .withColumn(
            "_mm",
            F.round(
                F.lit(EARTH_RADIUS)
                * F.sqrt(
                    F.col("_cx") * F.col("_cx") + F.col("_cy") * F.col("_cy")
                )
                * F.lit(1000.0),
                0,
            ).cast("long"),
        )
        .filter(F.col("_mm") <= mm_cap)
    )
    helper = [c for c in out.columns if c.startswith("_") and c != "_mm"]
    return out.drop(*helper)


def nearest_segment_join(
    points: DataFrame,
    segments: DataFrame,
    d_meters: float,
    zoom: int = 6,
    lat_max: float = 70.0,
    n_salts: int = 1,
    pid_col: str = "pid",
    sid_col: str = "sid",
    lon7_col: str = "lon7",
    lat7_col: str = "lat7",
    ax_col: str = "ax7",
    ay_col: str = "ay7",
    bx_col: str = "bx7",
    by_col: str = "by7",
) -> DataFrame:
    """Map-matching primitive: snap every probe point to its nearest
    line SEGMENT within ``d_meters`` — the point→line sibling of
    knn_join (point→point) and the building block of "assign each GPS
    fix to a road". The reference has no line-snap operator; this fills
    the gap the north rule's spatial-join layer implies (point-in-
    polygon / kNN / raster↔vector / snap-to-network).

    Distance model: the probe-anchored equirectangular plane — both
    segment endpoints project to x = radians(lon - plon) * cos(radians
    (plat)), y = radians(lat - plat); the snap point clamps the
    perpendicular foot to t ∈ [0, 1]; meters = R * sqrt(x² + y²). The
    anchor makes the projection exact AT the probe (where the distance
    is measured), consistent with the reference's two-point equirect
    metric (Geo.java:37-45) to O((d/R)²).

    Plan shape (100 TB posture): probe bboxes pad by d (lon by
    d / cos(lat_max) — conservative for every kept row), segments carry
    their raw bbox; `_bbox_pair_candidates` explodes both to cell
    covers, equi-joins on the cell id and keeps each overlapping pair
    exactly once (reference-point rule, pure codegen) — so the argmin
    below needs NO distinct. Refinement + clamp + argmin all stay in
    whole-stage codegen; the only shuffles are the cell-id hash join
    and one partial+final agg on ``pid``. ``n_salts`` > 1 routes hot
    cells (dense urban tiles) exactly like the other PBSM joins.

    Determinism contract: per-pair meters are quantized to integer
    MILLIMETERS before both the ≤ d filter and the argmin, and ties
    break on the lowest ``sid`` by packing (mm << 33 | sid) into ONE
    BIGINT whose min is the lexicographic (dist, sid) min — a primitive
    agg buffer, so the argmin stays in whole-stage codegen
    (min(struct(...)) would fall back to SortAggregate). Identical
    candidate sets and identical picks on any engine evaluating the
    same IEEE formula. Requires 0 ≤ sid < 2^33 (caller contract,
    enforced per row by assert_true) and d_meters ≤ 10^6 (mm * 2^33
    must fit int64 — raised here).

    Rows with |lat| > lat_max (either endpoint) are dropped from both
    sides; no date-line wrap. Output: pid, lon7, lat7, sid, dist_m
    (mm-rounded meters); probes with no segment within d are absent
    (inner semantics)."""
    if d_meters > 1_000_000.0:
        raise ValueError("nearest_segment_join: d_meters > 1000 km "
                         "overflows the packed (mm, sid) argmin")
    cand = segment_snap_candidates(
        points, segments, d_meters, zoom, lat_max, n_salts,
        sid_col=sid_col, lon7_col=lon7_col, lat7_col=lat7_col,
        ax_col=ax_col, ay_col=ay_col, bx_col=bx_col, by_col=by_col,
    )
    out = (
        cand.withColumn(
            "_packed",
            F.when(
                F.assert_true(
                    (F.col(sid_col) >= 0)
                    & (F.col(sid_col) < F.lit(1 << 33)),
                    f"{sid_col} outside packed range [0, 2^33)",
                ).isNull(),
                F.shiftleft(F.col("_mm"), 33) + F.col(sid_col),
            ),
        )
        .groupBy(pid_col, lon7_col, lat7_col)
        .agg(F.min("_packed").alias("_best"))
        .select(
            pid_col,
            lon7_col,
            lat7_col,
            (
                F.col("_best")
                - F.shiftleft(F.shiftright(F.col("_best"), 33), 33)
            ).alias(sid_col),
            (
                F.shiftright(F.col("_best"), 33).cast("double")
                / F.lit(1000.0)
            ).alias("dist_m"),
        )
    )
    return out
