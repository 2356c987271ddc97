"""Areal interpolation: re-aggregate zone statistics onto UNALIGNED
target regions (GeoAlign, EDBT 2018 — the uniform-density baseline).

Given per-source-zone aggregates (the output of zonal_aggregate /
aggregateByGeometry) and a different target partitioning, estimate each
target's value as

    value(B) = Σ_A value(A) · area(A ∩ B) / area(A)

Areas are spherical (Chamberlain–Duquette, same kernel as the measure
functions); intersections use the exact polygon∩polygon clip.

Scale shape: region sets are broadcast-sized by nature (thousands of
admin zones, not billions) — the A×B weight matrix is computed once
driver-side over the clip kernels and shipped as a broadcast join
against the (large, distributed) aggregate table; the plan is one
broadcast hash join + one k-groups-wide hash aggregate, no shuffle of
the source data beyond the final groupBy(dst).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame
from . import geodesy
from .clip import clip_polygon_to_polygon


def _rings(region) -> list[np.ndarray]:
    """Accept a bbox 4-tuple (degrees, w/s/e/n) or a ring list."""
    if isinstance(region, (tuple, list)) and len(region) == 4 and np.isscalar(region[0]):
        w, s, e, n = (float(x) for x in region)
        return [np.array([(w, s), (e, s), (e, n), (w, n), (w, s)])]
    return [np.asarray(r, dtype=np.float64) for r in region]


def region_area_m2(region) -> float:
    return geodesy.polygon_area(_rings(region))


def intersection_area_m2(a, b) -> float:
    g = clip_polygon_to_polygon(_rings(a), _rings(b))
    if g is None:
        return 0.0
    t, payload = g
    if t == "Polygon":
        return geodesy.polygon_area(payload)
    if t == "MultiPolygon":
        return sum(geodesy.polygon_area(rings) for rings in payload)
    return 0.0


def interpolation_weights(
    src_regions: dict, dst_regions: dict
) -> list[tuple[str, str, float]]:
    """(src, dst, area(src∩dst)/area(src)) for overlapping pairs."""
    out = []
    for a, ra in src_regions.items():
        area_a = region_area_m2(ra)
        if area_a <= 0.0:
            continue
        for b, rb in dst_regions.items():
            inter = intersection_area_m2(ra, rb)
            if inter > 0.0:
                out.append((a, b, inter / area_a))
    return out


def areal_interpolate(
    src_agg: DataFrame,
    src_regions: dict,
    dst_regions: dict,
    value_col: str,
    key_col: str = "zone",
    out_key: str = "region",
    out_value: str = "value",
) -> DataFrame:
    """Re-aggregate `src_agg` (one row per source zone) onto the target
    regions under the uniform-density assumption. Target regions that
    overlap no source zone are absent from the output (no evidence —
    GeoAlign's baseline does the same)."""
    spark = src_agg.sparkSession
    w = local_frame(
        spark,
        interpolation_weights(src_regions, dst_regions),
        "src string, dst string, w double",
    )
    return (
        src_agg.join(F.broadcast(w), F.col(key_col) == F.col("src"))
        .groupBy(F.col("dst").alias(out_key))
        .agg(F.sum(F.col(value_col) * F.col("w")).alias(out_value))
    )
