"""Snapshot kernel: entity states as-of requested timestamps.

Spark plan shape (designed for 100 TB):

    parquet/iceberg scan of docs
      → Catalyst doc pre-filter (tag existence, type, id — pushed down)
      → JVM typed decode (higher-order fns; no shuffle)
      → JVM doc-bbox summary + bbox pre-filter (no shuffle)
      → mapInPandas snapshot kernel (narrow! one doc is self-contained,
        so reconstruction never shuffles; Arrow-batched)
      → downstream groupBy/agg (the only shuffle, partial+final via AQE)

Kernel semantics ≙ CellIterator.iterateByTimestamps
(oshdb-util/.../celliterator/CellIterator.java:181-347): filter-aware
modification timestamps, the queryTs carry-forward optimization (geometry
computed once per changed state, O5), visibility/empty-member skips,
3-state AOI culling with boundary clipping, emit-if-nonempty.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..geo import cells
from ..geo import geom as G
from ..model import docs as docs_mod
from ..model import schemas
from ..session import local_frame
from .aoi import AOI
from .filters import compile_doc_prefilter, compile_python
from .geometry_builder import (
    DEFAULT_INTERPRETER,
    AlwaysArea,
    DefaultTagInterpreter,
    NeverArea,
    build_geometry,
)
from .temporal import (
    get_by_timestamps,
    mod_timestamps,
    query_timestamps,
    sort_versions,
)

_FP = 10_000_000  # degrees → fixed-point


def with_doc_bbox(typed: DataFrame) -> DataFrame:
    """Doc-level bbox summary columns (fixed-point), computed JVM-side over
    own versions ∪ embedded member versions — the analog of the OSH
    entity's stored bounding box used by the reference pre-filter
    (CellIterator.java:201-204). Reads member coords from `members`
    (LITE) and `membersR` (relation docs' full decode — those docs carry
    NO LITE members, avoiding a double parse)."""
    all_lons = (
        "concat(versions.lon,"
        " flatten(transform(coalesce(members, array()), m -> m.versions.lon)),"
        " flatten(transform(coalesce(membersR, array()), m -> m.versions.lon)))"
    )
    all_lats = all_lons.replace(".lon", ".lat")
    return (
        typed.withColumn("_lons", F.expr(f"filter({all_lons}, x -> x is not null)"))
        .withColumn("_lats", F.expr(f"filter({all_lats}, x -> x is not null)"))
        .withColumn("bbox_min_lon", F.expr("array_min(_lons)"))
        .withColumn("bbox_max_lon", F.expr("array_max(_lons)"))
        .withColumn("bbox_min_lat", F.expr("array_min(_lats)"))
        .withColumn("bbox_max_lat", F.expr("array_max(_lats)"))
        .drop("_lons", "_lats")
    )


# null-coordinate sentinel for the flat member arrays (v.lon is null on
# deleted versions; 0 is a valid coordinate, so nulls map to -2^62)
_LON_SENTINEL = -(1 << 62)

# ISO span timestamps carry an explicit zone ('Z'), so the plain string →
# timestamp CAST parses them TZ-independently — and takes Spark's fast
# ISO-8601 parse path instead of the DateTimeFormatter one (measured ~2×
# on the member-history decode). Sorting uses array_sort's NATURAL struct
# ordering over (ts, version)-keyed structs: the fixed-width UTC ISO string
# is chronological under lexicographic order, and natural ordering avoids
# the interpreted per-comparison lambda of a custom comparator.
_TS_PARSE = "unix_timestamp(cast({0}.ts as timestamp))"
# reduced member-version struct: only the fields the way kernel needs and
# every type orderable (no map/array), so array_sort's NATURAL ordering —
# (ts, ver) leading, fixed-width ISO strings are chronological — applies;
# extra tiebreak fields only reorder exact (ts, version) duplicates
_MSORT = (
    "transform(members, m -> array_sort(transform(m.versions,"
    " v -> struct(v.ts as ts, v.version as ver, v.visible as vis,"
    " v.lon as lon, v.lat as lat, v.changeset as cs, v.uid as uid))))"
)


def prepared_docs(
    docs: DataFrame,
    filter_spec=None,
    aoi: AOI | None = None,
    fast_arrays: bool = False,
    fast_ways: bool = False,
    fast_rels: str | None = None,
) -> DataFrame:
    """Summarized + JVM-pre-filtered kernel input (shared by both kernels).

    Two steps, whatever the input:

    1. **Encode.** Raw ``(doc_id, spans)`` and native-typed docs run the
       doc encoder (``encode_docs`` — the same projection the typed store
       materializes at ETL time) in flight. Typed-store input
       (plans.layout.write_typed_store, recognised by its ``flat_kind``
       column) is already encoded and skips this step. The doc
       pre-filter and the AOI bbox-overlap filter run once, between the
       encoder's two barriers, so selective queries never flatten the
       docs they drop.
    2. **Gate** (``_routed_docs``, the only routing site): per-query
       routing flags over the encoded rows — ``fast_kind`` ('node' |
       'way' | 'relation' | null) picks each doc's kernel, the filter's
       tag predicates become the ``vmatch`` boolean array, and the flat
       arrays of docs that do not take their fast path are nulled.

    The kernel input carries only Arrow-safe columns (spans + scalars +
    single-level primitive arrays): shipping array<struct<...map...>>
    through the Arrow channel segfaults pyarrow's arrow_to_pandas, so
    general-path docs parse their span JSON in the kernel.

    With ``fast_arrays=False`` only the doc summary and spans are
    returned (no routing). Otherwise:

    - member-less NODE docs always take the vectorized path (NULL spans
      unless a python filter forces the general path);
    - with ``fast_ways``, WAY docs whose members are all nodes and whose
      doc bbox lies inside the AOI bbox get the flat member arrays
      (vref, vrefcnt, mid, mvcnt, mts, mvis, mlon, mlat, mcs, muid);
    - with ``fast_rels`` ('default' | 'never' — the area-decider mode),
      RELATION docs whose members are nodes/ways only, inside the AOI
      bbox, get the two-level flat member tables (rv*/rm* columns), so
      the kernel resolves relation→way-member→node-member as-of joins
      with pure searchsorted.

    Under a polygon AOI the bbox test is only necessary: way/relation
    docs keep their spans so the kernel can demote boundary docs to the
    general path after its exact 3-state test."""
    encoded = "flat_kind" in docs.columns
    if not encoded:
        docs = _decoded_docs(docs)
    pre = compile_doc_prefilter(filter_spec)
    if pre is not None:
        docs = docs.filter(pre)
    if aoi is not None and not aoi.is_world:
        b = [int(x * _FP) for x in aoi.bbox]
        docs = docs.filter(
            f"bbox_min_lon <= {b[2]} and bbox_max_lon >= {b[0]}"
            f" and bbox_min_lat <= {b[3]} and bbox_max_lat >= {b[1]}"
        )
    if not fast_arrays:
        return docs.select(*_BASE, "spans")
    if not encoded:
        docs = _flattened_docs(docs)
    return _routed_docs(docs, filter_spec, aoi, fast_ways, fast_rels)


def encode_docs(docs: DataFrame) -> DataFrame:
    """The doc encoder: raw ``(doc_id, spans)`` or native-typed docs →
    the typed-store row shape (the analog of the reference's ETL encoding
    OSH entities into binary cell blobs). It takes no query arguments:

    - doc summary: ``doc_id``, ``entity_type``, ``id`` and the
      fixed-point doc bbox;
    - ``spans`` for every doc (any later query may route any doc to the
      general path — python filters);
    - the structural routing fact ``flat_kind`` ('node' memberless /
      'way' all-node members / 'relation' node-and-way members / null);
    - the flat version arrays (_V_COLS) for every doc, the flat member
      tables (_W_COLS / _R_COLS) for docs of the matching ``flat_kind``;
    - the sorted nested ``versions`` column (vmatch, doc pre-filter).

    plans.layout.write_typed_store stores this projection; prepared_docs
    runs it in flight over raw and native input."""
    return _flattened_docs(_decoded_docs(docs))


_BASE = [
    "doc_id", "entity_type", "id",
    "bbox_min_lon", "bbox_min_lat", "bbox_max_lon", "bbox_max_lat",
]
# flat-array column groups of the encoder (same names and element types
# in flight and in the typed store)
_V_COLS = [
    "vts", "vversion", "vvisible", "vchangeset", "vuid", "vlon", "vlat",
    "vtags",
]
_W_COLS = [
    "vrefcnt", "vref", "mid", "mvcnt", "mts", "mvis", "mlon", "mlat",
    "mcs", "muid",
]
_R_COLS = [
    "rvrefcnt", "rvref", "rvreftype", "rvrefrole", "rmid", "rmtype",
    "rmvcnt", "rmts", "rmver", "rmvis", "rmlon", "rmlat", "rmcs", "rmuid",
    "rmtags", "rmrefcnt", "rmref",
]


def _decoded_docs(docs: DataFrame) -> DataFrame:
    """Encoder stage 1: typed decode behind the first materialization
    barrier, plus the doc bbox summary.

    RAW docs decode with from_json; the versions sort happens later, over
    a bound column (stage 2). NATIVE-TYPED derived docs (model.history)
    already carry entity_type/id/versions/members struct columns built by
    the same expressions whose to_json produced the spans — no from_json
    anywhere on that path.

    Barrier: a nondeterministic column blocks ProjectCollapse, so the
    decode of versions/members is evaluated ONCE per row here instead of
    being re-inlined into every downstream array column (lambda-bearing
    expressions are excluded from codegen subexpression elimination —
    without the barrier the wide flat projection re-decodes the doc
    ~18×). Relation docs decode members ONCE with the full REL schema
    (tags + ref ids for the 2-level flat tables) into ``membersR``; all
    other docs decode the LITE schema into ``members`` (neither the bbox
    summary nor the way tables need member tags/refs, and from_json
    skips absent fields)."""
    native = {"versions", "members", "entity_type", "id"} <= set(docs.columns)
    typed = docs_mod.typed_docs(docs, sort=False)
    if native:
        # struct re-projection instead of JSON parse: select the LITE /
        # REL field subsets straight off the native member structs
        lite_decode = (
            "transform(members, m -> named_struct("
            "'entity_type', m.entity_type, 'id', m.id,"
            " 'versions', transform(m.versions, v -> named_struct("
            "'version', v.version, 'visible', v.visible, 'ts', v.ts,"
            " 'changeset', v.changeset, 'uid', v.uid,"
            " 'lon', v.lon, 'lat', v.lat))))"
        )
        rel_decode = (
            "transform(members, m -> named_struct("
            "'entity_type', m.entity_type, 'id', m.id,"
            " 'versions', transform(m.versions, v -> named_struct("
            "'version', v.version, 'visible', v.visible, 'ts', v.ts,"
            " 'changeset', v.changeset, 'uid', v.uid, 'tags', v.tags,"
            " 'lon', v.lon, 'lat', v.lat,"
            " 'refs', transform(v.refs, r -> named_struct('ref', r.ref))))))"
        )
    else:
        lite_decode = (
            "transform(filter(spans, s -> s.kind = 'member'),"
            f" s -> from_json(s.text, '{schemas.MEMBER_LITE.simpleString()}'))"
        )
        rel_decode = (
            "transform(filter(spans, s -> s.kind = 'member'),"
            f" s -> from_json(s.text, '{schemas.MEMBER_REL.simpleString()}'))"
        )
    typed = typed.select(
        "doc_id", "entity_type", "id", "spans", "versions",
        F.expr(
            f"case when entity_type = 'relation' then {rel_decode} end"
        ).alias("membersR"),
        F.expr(
            f"case when entity_type <> 'relation' then {lite_decode} end"
        ).alias("members"),
        F.monotonically_increasing_id().alias("_barrier"),
    )
    return with_doc_bbox(typed)


def _flattened_docs(typed: DataFrame) -> DataFrame:
    """Encoder stage 2: structural ``flat_kind``, the sorted versions and
    member histories behind the second barrier, and the flat arrays."""
    fast_node = (F.col("entity_type") == "node") & (F.size("members") == 0)
    fast_way = (F.col("entity_type") == "way") & ~F.expr(
        "exists(members, m -> m.entity_type <> 'node')"
    )
    # relation fast path: members are node/way only (multipolygon-typed
    # versions are handled IN the vectorized kernel — per-state is_area
    # routes them through assemble_multipolygon on resolved flat chains,
    # with the geometry-collection fallback). coalesce: IN over a missing
    # map key is NULL, and exists() over nulls is NULL — which would
    # silently null out the kind and drop the doc from every path
    fast_rel = (F.col("entity_type") == "relation") & ~F.expr(
        "exists(membersR,"
        " m -> not coalesce(m.entity_type in ('node', 'way'), false))"
    )
    typed = typed.withColumn(
        "flat_kind",
        F.when(fast_node, F.lit("node"))
        .when(fast_way, F.lit("way"))
        .when(fast_rel, F.lit("relation")),
    )
    is_way = F.col("flat_kind").eqNullSafe("way")
    # second barrier: sort the OWN versions (index natural-sort over the
    # bound array — struct(ts, ver, i) keys are fully orderable, then
    # gather by i; no interpreted comparator, no re-decode) and
    # materialize the sorted member histories (they feed 7 flat member
    # columns below). Relation member versions are NOT sorted JVM-side:
    # an array_sort index-gather would re-materialize every member struct
    # (tags maps + ref arrays) a second time; the kernel's
    # _flat_rel_arrays sorts the flat primitive arrays with one numpy
    # lexsort instead (free when the store is already version-ordered).
    sorted_versions = F.expr(
        "transform(array_sort(transform(versions,"
        " (v, i) -> struct(v.ts as ts, v.version as ver, i as i))),"
        " k -> versions[k.i])"
    )
    others = [c for c in typed.columns if c != "versions"]
    typed = typed.select(
        *others,
        sorted_versions.alias("versions"),
        F.when(is_way, F.expr(_MSORT)).alias("_ms"),
        F.monotonically_increasing_id().alias("_barrier2"),
    )

    def warr(expr_sql: str):
        return F.when(is_way, F.expr(expr_sql))

    def rarr(expr_sql: str):
        return F.when(F.col("flat_kind").eqNullSafe("relation"), F.expr(expr_sql))

    mem_ts = (
        "flatten(transform(_ms, vs -> transform(vs, v -> "
        + _TS_PARSE.format("v")
        + ")))"
    )
    rmem_ts = (
        "flatten(transform(membersR, m -> transform(m.versions, v -> "
        + _TS_PARSE.format("v")
        + ")))"
    )
    return typed.select(
        *_BASE,
        "spans",
        "flat_kind",
        F.expr(
            "transform(versions, v -> " + _TS_PARSE.format("v") + ")"
        ).alias("vts"),
        F.expr("versions.version").alias("vversion"),
        F.expr("versions.visible").alias("vvisible"),
        F.expr("versions.changeset").alias("vchangeset"),
        F.expr("versions.uid").alias("vuid"),
        F.expr("versions.lon").alias("vlon"),
        F.expr("versions.lat").alias("vlat"),
        F.expr("transform(versions, v -> to_json(v.tags))").alias("vtags"),
        # way fast-path extras: per-version refs + flat member histories
        warr(
            "transform(versions, v -> size(coalesce(v.refs, array())))"
        ).alias("vrefcnt"),
        warr(
            "flatten(transform(versions,"
            " v -> transform(coalesce(v.refs, array()), r -> r.ref)))"
        ).alias("vref"),
        warr("transform(members, m -> m.id)").alias("mid"),
        warr("transform(_ms, vs -> size(vs))").alias("mvcnt"),
        warr(mem_ts).alias("mts"),
        warr("flatten(transform(_ms, vs -> vs.vis))").alias("mvis"),
        warr(
            "flatten(transform(_ms, vs -> transform(vs,"
            f" v -> coalesce(v.lon, cast({_LON_SENTINEL} as bigint)))))"
        ).alias("mlon"),
        warr(
            "flatten(transform(_ms, vs -> transform(vs,"
            f" v -> coalesce(v.lat, cast({_LON_SENTINEL} as bigint)))))"
        ).alias("mlat"),
        warr("flatten(transform(_ms, vs -> vs.cs))").alias("mcs"),
        warr("flatten(transform(_ms, vs -> vs.uid))").alias("muid"),
        # relation own refs keep their TYPE (node/way/other) so the
        # kernel resolves each to the right member table
        rarr(
            "transform(versions, v -> size(coalesce(v.refs, array())))"
        ).alias("rvrefcnt"),
        rarr(
            "flatten(transform(versions,"
            " v -> transform(coalesce(v.refs, array()), r -> r.ref)))"
        ).alias("rvref"),
        rarr(
            "flatten(transform(versions,"
            " v -> transform(coalesce(v.refs, array()),"
            " r -> case when r.type = 'node' then 0"
            " when r.type = 'way' then 1 else 2 end)))"
        ).alias("rvreftype"),
        # roles feed the multipolygon outer/inner split
        # (BaseTagInterpreter.java:139-151 via the area decider)
        rarr(
            "flatten(transform(versions,"
            " v -> transform(coalesce(v.refs, array()),"
            " r -> coalesce(r.role, ''))))"
        ).alias("rvrefrole"),
        rarr("transform(membersR, m -> m.id)").alias("rmid"),
        rarr(
            "transform(membersR,"
            " m -> case when m.entity_type = 'node' then 0 else 1 end)"
        ).alias("rmtype"),
        rarr("transform(membersR, m -> size(m.versions))").alias("rmvcnt"),
        rarr(rmem_ts).alias("rmts"),
        rarr(
            "flatten(transform(membersR, m -> m.versions.version))"
        ).alias("rmver"),
        rarr(
            "flatten(transform(membersR, m -> m.versions.visible))"
        ).alias("rmvis"),
        rarr(
            "flatten(transform(membersR, m -> transform(m.versions,"
            f" v -> coalesce(v.lon, cast({_LON_SENTINEL} as bigint)))))"
        ).alias("rmlon"),
        rarr(
            "flatten(transform(membersR, m -> transform(m.versions,"
            f" v -> coalesce(v.lat, cast({_LON_SENTINEL} as bigint)))))"
        ).alias("rmlat"),
        rarr(
            "flatten(transform(membersR, m -> m.versions.changeset))"
        ).alias("rmcs"),
        rarr(
            "flatten(transform(membersR, m -> m.versions.uid))"
        ).alias("rmuid"),
        # tags ride only for WAY member versions (the area decision);
        # node member tags are never read by the kernel — nulls keep the
        # flat offsets aligned without per-version to_json cost
        rarr(
            "flatten(transform(membersR, m ->"
            " case when m.entity_type = 'way'"
            " then transform(m.versions, v -> to_json(v.tags))"
            " else transform(m.versions, v -> cast(null as string)) end))"
        ).alias("rmtags"),
        # third level: way-member version ref-id lists (flat)
        rarr(
            "flatten(transform(membersR, m -> transform(m.versions,"
            " v -> size(coalesce(v.refs, array())))))"
        ).alias("rmrefcnt"),
        rarr(
            "flatten(transform(membersR, m -> flatten(transform("
            "m.versions,"
            " v -> transform(coalesce(v.refs, array()), r -> r.ref)))))"
        ).alias("rmref"),
        # the sorted nested versions ride along for the query-time
        # vmatch and doc pre-filter
        "versions",
    )


def _routed_docs(
    docs: DataFrame,
    filter_spec,
    aoi: AOI | None,
    fast_ways: bool,
    fast_rels: str | None,
) -> DataFrame:
    """The routing site: per-query gating of encoded docs — routing flags,
    the filter's vmatch, and when()-gating of the flat arrays. Structural
    facts were frozen by the encoder as ``flat_kind``; query-dependent
    conditions (AOI bbox containment, python filters, decider mode)
    compose on top here.

    One ``selectExpr`` of SQL strings with the routing flags inlined
    where they gate: the Spark driver makes one analysis pass and one
    Py4J call, not one per column (the column-by-column build took
    ~0.5 s of Spark-driver time per query)."""
    from .filters import _version_pred_sql

    # <=>: flat_kind is NULL for structurally-unroutable docs, and a
    # plain = would propagate that NULL into the fast flag and silently
    # null out the spans gate (dropping the doc from the general path)
    fastn, fastw, fastr = (
        f"flat_kind <=> '{k}'" for k in ("node", "way", "relation")
    )
    if aoi is not None and not aoi.is_world:
        # way/relation fast paths handle only docs whose bbox is inside
        # the AOI bbox (no clip step); boundary-crossing docs keep the
        # general per-doc path
        b = [int(x * _FP) for x in aoi.bbox]
        inside = (
            f" and bbox_min_lon >= {b[0]} and bbox_max_lon <= {b[2]}"
            f" and bbox_min_lat >= {b[1]} and bbox_max_lat <= {b[3]}"
        )
        fastw += inside
        fastr += inside
    if not fast_ways:
        fastw = "false"
    if not fast_rels:
        fastr = "false"
    if any(s[0] == "py" for s in (filter_spec or [])):
        fastn = fastw = fastr = "false"
    fastn, fastw, fastr = (f"({x})" for x in (fastn, fastw, fastr))
    fast = f"({fastn} or {fastw} or {fastr})"
    # fast-way/relation docs under a polygon AOI may demote to the
    # general path (kernel-side exact 3-state), so they keep their spans;
    # fast nodes never demote (their polygon test is exact in the
    # vectorized path)
    may_demote = aoi is not None and aoi.polygon is not None
    spans_keep = f"not {fastn}" if may_demote else f"not {fast}"
    preds = [
        p for s in (filter_spec or []) for p in [_version_pred_sql(s)] if p
    ]
    vmatch = "cast(null as array<boolean>)"
    if preds:
        conj = " and ".join(f"({p})" for p in preds)
        vmatch = (
            f"case when {fast} then"
            f" transform(versions, v -> coalesce({conj}, false)) end"
        )
    cols = [
        *_BASE,
        f"case when {spans_keep} then spans end as spans",
        f"case when {fastn} then 'node' when {fastw} then 'way'"
        f" when {fastr} then 'relation' end as fast_kind",
        *[f"case when {fast} then {c} end as {c}" for c in _V_COLS],
        f"{vmatch} as vmatch",
        *[f"case when {fastw} then {c} end as {c}" for c in _W_COLS],
    ]
    if fast_rels:
        cols += [f"case when {fastr} then {c} end as {c}" for c in _R_COLS]
    return docs.selectExpr(*cols)


def _doc_structs(row, token=None):
    """Arrow row → (versions, members_by_key, fbbox_degrees, cell_token).

    Parses version/member spans from their JSON payloads (the spans array
    itself is Arrow-safe; parsed nested structs with maps are not).

    Kernels pass the doc's cell token precomputed (one batched
    _doc_tokens call per batch — the per-doc single-element vectorized
    call was 1/3 of the whole general path); token=None computes it here
    (direct test callers)."""
    import json

    versions = []
    members = []
    spans = row["spans"]
    if len(spans) and not isinstance(spans[0], dict):
        spans = [
            {"kind": s["kind"], "text": s["text"]}
            if isinstance(s, dict)
            else {"kind": s.kind, "text": s.text}
            for s in spans
        ]
    for s in spans:
        if s["kind"] == "version":
            versions.append(json.loads(s["text"]))
        elif s["kind"] == "member":
            members.append(json.loads(s["text"]))
    versions = sort_versions(versions)
    members_by_key = {(m["entity_type"], m["id"]): m for m in members}
    if row["bbox_min_lon"] is None or pd.isna(row["bbox_min_lon"]):
        fbbox = None
        token = ""
    else:
        fbbox = (
            row["bbox_min_lon"] / _FP,
            row["bbox_min_lat"] / _FP,
            row["bbox_max_lon"] / _FP,
            row["bbox_max_lat"] / _FP,
        )
        if token is None:
            token = cells.token_of_bboxes(
                np.array([row["bbox_min_lon"]], dtype=np.int64),
                np.array([row["bbox_min_lat"]], dtype=np.int64),
                np.array([row["bbox_max_lon"]], dtype=np.int64),
                np.array([row["bbox_max_lat"]], dtype=np.int64),
            )[0]
    return versions, members_by_key, fbbox, token


def _normalize_ts(versions):
    """Version dicts carry ISO strings from JSON; kernels need unix secs."""
    from ..model.synth import unix

    for v in versions:
        if isinstance(v.get("ts"), str):
            v["ts"] = unix(v["ts"])
    return versions


def _point_wkb_vec(lon_deg: np.ndarray, lat_deg: np.ndarray) -> list[bytes]:
    """Vectorized ISO little-endian WKB Point encoding (byte-identical to
    geo.geom.to_wkb for Points)."""
    n = len(lon_deg)
    buf = np.empty((n, 21), dtype=np.uint8)
    buf[:, 0] = 1
    buf[:, 1] = 1
    buf[:, 2:5] = 0
    buf[:, 5:13] = (
        np.ascontiguousarray(lon_deg, dtype="<f8").view(np.uint8).reshape(n, 8)
    )
    buf[:, 13:21] = (
        np.ascontiguousarray(lat_deg, dtype="<f8").view(np.uint8).reshape(n, 8)
    )
    return [row.tobytes() for row in buf]


_SNAP_COLS = [f.name for f in schemas.SNAPSHOTS.fields]


def _empty_frame(cols: list[str]) -> pd.DataFrame:
    """Zero-row frame with all-object dtype columns — a plain
    pd.DataFrame({c: []}) defaults to float64, which pyarrow refuses to
    cast to map/binary types on the Arrow return path."""
    return pd.DataFrame({c: pd.Series([], dtype=object) for c in cols},
                        columns=cols)


def _flat_i64(col, fill: int = 0) -> np.ndarray:
    """Concatenate a pandas column of per-doc arrays into one int64 array,
    mapping nulls (e.g. missing coords on deleted versions) to `fill`."""
    x = np.concatenate([np.asarray(v) for v in col])
    if x.dtype == object or np.issubdtype(x.dtype, np.floating):
        mask = pd.isna(x)
        if mask.any():
            x = np.where(mask, fill, x)
    return x.astype(np.int64)


def _flat_bool(col) -> np.ndarray:
    x = np.concatenate([np.asarray(v) for v in col])
    if x.dtype == object or np.issubdtype(x.dtype, np.floating):
        mask = pd.isna(x)
        if mask.any():
            x = np.where(mask, False, x)
    return x.astype(bool)


def _flat_node_arrays(pdf: pd.DataFrame) -> dict:
    """Flat (all docs of the batch concatenated) version arrays + doc
    segmentation, for the vectorized node kernels. `combined` is globally
    monotonic: doc_index * 2^34 + ts (ts < 2^31 « 2^34)."""
    n_docs = len(pdf)
    lens = np.fromiter((len(v) for v in pdf["vts"]), dtype=np.int64, count=n_docs)
    starts = np.cumsum(lens) - lens
    a = {
        "n_docs": n_docs,
        "lens": lens,
        "starts": starts,
        "ts": _flat_i64(pdf["vts"]),
        "version": _flat_i64(pdf["vversion"]),
        "visible": _flat_bool(pdf["vvisible"]),
        "changeset": _flat_i64(pdf["vchangeset"]),
        "uid": _flat_i64(pdf["vuid"]),
        "lon": _flat_i64(pdf["vlon"]),
        "lat": _flat_i64(pdf["vlat"]),
        "tags": np.concatenate(
            [np.asarray(v, dtype=object) for v in pdf["vtags"]]
        ),
    }
    null_tags = pd.isna(a["tags"])
    if null_tags.any():
        a["tags"] = np.where(null_tags, "{}", a["tags"])
    first = pdf["vmatch"].iloc[0]
    if first is not None and not (isinstance(first, float) and pd.isna(first)):
        a["match"] = _flat_bool(pdf["vmatch"])
    else:
        a["match"] = np.ones(len(a["ts"]), dtype=bool)
    a["doc_idx"] = np.repeat(np.arange(n_docs, dtype=np.int64), lens)
    a["combined"] = a["doc_idx"] * (1 << 34) + a["ts"]
    return a


def _doc_rel_vec(pdf: pd.DataFrame, aoi: AOI) -> np.ndarray:
    """Vector of per-doc AOI 3-states (0 disjoint / 1 inside / 2 boundary)."""
    n_docs = len(pdf)
    if aoi.is_world:
        return np.ones(n_docs, dtype=np.int8)
    bmin_lon = pdf["bbox_min_lon"].to_numpy(dtype=np.float64) / _FP
    bmin_lat = pdf["bbox_min_lat"].to_numpy(dtype=np.float64) / _FP
    bmax_lon = pdf["bbox_max_lon"].to_numpy(dtype=np.float64) / _FP
    bmax_lat = pdf["bbox_max_lat"].to_numpy(dtype=np.float64) / _FP
    w, s, e, n = aoi.bbox
    inside = (bmin_lon >= w) & (bmax_lon <= e) & (bmin_lat >= s) & (bmax_lat <= n)
    overlap = (bmin_lon <= e) & (bmax_lon >= w) & (bmin_lat <= n) & (bmax_lat >= s)
    doc_rel = np.where(inside, 1, np.where(overlap, 2, 0)).astype(np.int8)
    if aoi.polygon is not None:
        from .aoi import bbox_vs_polygon

        for i in np.nonzero(doc_rel != 0)[0]:
            prel = bbox_vs_polygon(
                (bmin_lon[i], bmin_lat[i], bmax_lon[i], bmax_lat[i]), aoi.polygon
            )
            if prel == 0:
                doc_rel[i] = 0
            elif prel == 2 or doc_rel[i] == 2:
                doc_rel[i] = 2
    return doc_rel


def _points_in_aoi(lon_deg: np.ndarray, lat_deg: np.ndarray, aoi: AOI) -> np.ndarray:
    if aoi.polygon is not None:
        from ..geo.clip import points_in_polygon

        return points_in_polygon(lon_deg, lat_deg, aoi.polygon)
    w, s, e, n = aoi.bbox
    return (lon_deg >= w) & (lon_deg <= e) & (lat_deg >= s) & (lat_deg <= n)


def _nodes_snapshot_vec(
    pdf: pd.DataFrame, requested: list[int], aoi: AOI, with_geometry: bool
) -> pd.DataFrame:
    """Fully vectorized snapshot kernel for member-less node docs.

    As-of alignment across ALL docs of the batch in one searchsorted per
    requested timestamp: versions are sorted (ts, version) within each doc,
    so keying by doc_index * 2^34 + ts makes the flat array globally
    monotonic (ts < 2^31 « 2^34). Zero per-version Python
    (CellIterator.java:181-347 semantics; the queryTs/O5 reuse rule is
    subsumed — point geometry is computed straight from the state arrays).
    """
    import json

    fa = _flat_node_arrays(pdf)
    n_docs, starts = fa["n_docs"], fa["starts"]
    flat_ts, flat_ver = fa["ts"], fa["version"]
    flat_vis, flat_cs, flat_uid = fa["visible"], fa["changeset"], fa["uid"]
    flat_lon, flat_lat, flat_tags = fa["lon"], fa["lat"], fa["tags"]
    flat_match, combined = fa["match"], fa["combined"]

    # doc-level AOI 3-state (rel==0 rows were pruned JVM-side for bbox AOIs;
    # polygon AOIs still need the exact doc-level test here)
    doc_rel = _doc_rel_vec(pdf, aoi)

    tokens = _doc_tokens(pdf)
    ids = pdf["id"].to_numpy(np.int64)
    doc_ids = pdf["doc_id"].to_numpy(object)

    docs_arange = np.arange(n_docs, dtype=np.int64)
    frames = []
    for t in requested:
        pos = np.searchsorted(combined, docs_arange * (1 << 34) + t, side="right") - 1
        ok = (pos >= starts) & (doc_rel > 0)
        p = np.where(ok, pos, 0)
        ok &= flat_vis[p] & flat_match[p]
        # boundary docs: exact point-in-AOI test (the "clip" of a point)
        bnd = ok & (doc_rel == 2)
        if bnd.any():
            sel = np.nonzero(bnd)[0]
            pip = _points_in_aoi(
                flat_lon[pos[sel]] * 1e-7, flat_lat[pos[sel]] * 1e-7, aoi
            )
            keep = np.ones(n_docs, dtype=bool)
            keep[sel] = pip
            ok &= keep
        sel = np.nonzero(ok)[0]
        if len(sel) == 0:
            continue
        ps = pos[sel]
        if with_geometry:
            wkb = _point_wkb_vec(flat_lon[ps] * 1e-7, flat_lat[ps] * 1e-7)
        else:
            wkb = None
        # parse each DISTINCT tag-json once (real tag payloads repeat a lot)
        uniq, inv = np.unique(flat_tags[ps].astype(str), return_inverse=True)
        parsed = np.array([json.loads(x) for x in uniq], dtype=object)
        frames.append(
            pd.DataFrame(
                {
                    "ts": np.full(len(sel), t, dtype=np.int64),
                    "entity_type": "node",
                    "id": ids[sel],
                    "version": flat_ver[ps].astype(np.int32),
                    "changeset": flat_cs[ps],
                    "uid": flat_uid[ps].astype(np.int32),
                    "tags": parsed[inv],
                    "geom_wkb": wkb,
                    "geom_clipped_wkb": wkb,
                    "cell": tokens[sel],
                    "doc_id": doc_ids[sel],
                },
                columns=_SNAP_COLS,
            )
        )
    if not frames:
        return _empty_frame(_SNAP_COLS)
    return pd.concat(frames, ignore_index=True)


# ---------------------------------------------------------------------------
# vectorized WAY path: numpy as-of joins over the flat member tables
# ---------------------------------------------------------------------------

def _flat_way_arrays(pdf: pd.DataFrame) -> dict:
    """Batch-global flat ref + member tables for way fast docs.

    Member slots are numbered in (doc, span-order) order; each slot's
    sorted version history is a segment of the flat m_* arrays, keyed by
    slot * 2^34 + ts for one-searchsorted as-of resolution (same trick as
    the node path's combined key). Ref ids resolve to slots through a
    dense-rank composite key (doc * n_unique_ids + rank), avoiding any
    assumption about node-id magnitude."""
    n_docs = len(pdf)
    refcnt = _flat_i64(pdf["vrefcnt"])
    ref_flat = _flat_i64(pdf["vref"])
    ref_starts = np.cumsum(refcnt) - refcnt

    nm = np.fromiter((len(v) for v in pdf["mid"]), dtype=np.int64, count=n_docs)
    mem_doc = np.repeat(np.arange(n_docs, dtype=np.int64), nm)
    mem_id = _flat_i64(pdf["mid"])
    m_lens = _flat_i64(pdf["mvcnt"])
    m_starts = np.cumsum(m_lens) - m_lens
    slot_of_ver = np.repeat(np.arange(len(mem_id), dtype=np.int64), m_lens)
    m_ts = _flat_i64(pdf["mts"])

    all_ids = np.unique(np.concatenate([mem_id, ref_flat]))
    k_ids = max(len(all_ids), 1)
    mem_key = mem_doc * k_ids + np.searchsorted(all_ids, mem_id)
    order = np.argsort(mem_key)
    return {
        "refcnt": refcnt,
        "ref_flat": ref_flat,
        "ref_starts": ref_starts,
        "m_starts": m_starts,
        "m_combined": slot_of_ver * (1 << 34) + m_ts,
        "m_vis": _flat_bool(pdf["mvis"]),
        "m_lon": _flat_i64(pdf["mlon"], fill=_LON_SENTINEL),
        "m_lat": _flat_i64(pdf["mlat"], fill=_LON_SENTINEL),
        "m_cs": _flat_i64(pdf["mcs"]),
        "m_uid": _flat_i64(pdf["muid"]),
        "mem_doc": mem_doc,
        "all_ids": all_ids,
        "k_ids": k_ids,
        "sorted_mem_keys": mem_key[order],
        "mem_order": order,
    }


def _member_slots(wa: dict, doc: np.ndarray, ref_id: np.ndarray):
    """(slot, found) for each (doc, node_id) pair — missing members (the
    reference's redaction/incomplete-extract case) report found=False."""
    sk = wa["sorted_mem_keys"]
    if len(sk) == 0:
        z = np.zeros(len(doc), dtype=np.int64)
        return z, np.zeros(len(doc), dtype=bool)
    keys = doc * wa["k_ids"] + np.searchsorted(wa["all_ids"], ref_id)
    pos = np.minimum(np.searchsorted(sk, keys), len(sk) - 1)
    found = sk[pos] == keys
    return np.where(found, wa["mem_order"][pos], 0), found


def _member_asof(wa: dict, slot: np.ndarray, found: np.ndarray, t: np.ndarray):
    """As-of member version index per (slot, t); valid=False when the
    member has no version yet, is invisible, or has null coords
    (the filter chain of OSHDBGeometryBuilder._resolve refs, ref :87-93)."""
    if len(wa["m_combined"]) == 0:
        return np.zeros(len(slot), dtype=np.int64), np.zeros(len(slot), dtype=bool)
    mpos = (
        np.searchsorted(wa["m_combined"], slot * (1 << 34) + t, side="right") - 1
    )
    valid = found & (mpos >= wa["m_starts"][slot])
    mp = np.where(valid, mpos, 0)
    valid &= wa["m_vis"][mp] & (wa["m_lon"][mp] != _LON_SENTINEL)
    return mp, valid


def _area_flags(decider, parsed_tags: np.ndarray) -> tuple[np.ndarray, bool]:
    """(tags_area per unique tag-dict, require_closed_refs). Callers route
    custom deciders to the general path; the three built-in interpreters
    vectorize (BaseTagInterpreter.java:18-158 semantics)."""
    if isinstance(decider, AlwaysArea):
        return np.ones(len(parsed_tags), dtype=bool), False
    if isinstance(decider, NeverArea):
        return np.zeros(len(parsed_tags), dtype=bool), False
    assert isinstance(decider, DefaultTagInterpreter)
    return (
        np.fromiter(
            (decider._tags_area(t) for t in parsed_tags),
            dtype=bool,
            count=len(parsed_tags),
        ),
        True,
    )


def _doc_tokens(pdf: pd.DataFrame) -> np.ndarray:
    """Per-doc Hilbert cell token; '' for docs with no coordinates at all
    (null bbox — matches _doc_structs's empty-token case)."""
    nulls = pdf["bbox_min_lon"].isna().to_numpy()
    toks = cells.token_of_bboxes(
        pdf["bbox_min_lon"].fillna(0).to_numpy(np.int64),
        pdf["bbox_min_lat"].fillna(0).to_numpy(np.int64),
        pdf["bbox_max_lon"].fillna(0).to_numpy(np.int64),
        pdf["bbox_max_lat"].fillna(0).to_numpy(np.int64),
    )
    toks = np.asarray(toks, dtype=object)
    toks[nulls] = ""
    return toks


def _resolve_way_geometry(
    wa: dict,
    ps: np.ndarray,
    sdoc: np.ndarray,
    st: np.ndarray,
    tags_area: np.ndarray,
    need_closed_refs: bool,
):
    """Resolve geometry for (own-version index ps, doc sdoc, time st) rows:
    each ref id → member as-of coordinate (skipping missing/invisible/
    coordless members), then the way geometry ladder decision
    (OSHDBGeometryBuilder.java:81-110). Returns
    (kind, ncoords, cstart, c_row, c_lon7, c_lat7) where kind is
    0 empty Point / 1 Point / 2 LineString / 3 Polygon."""
    refcnt, ref_flat, ref_starts = wa["refcnt"], wa["ref_flat"], wa["ref_starts"]
    n_out = len(ps)
    rn = refcnt[ps]
    total = int(rn.sum())
    cand_row = np.repeat(np.arange(n_out, dtype=np.int64), rn)
    local = np.arange(total, dtype=np.int64) - np.repeat(np.cumsum(rn) - rn, rn)
    cand_ref = ref_flat[np.repeat(ref_starts[ps], rn) + local]
    slot, found = _member_slots(wa, sdoc[cand_row], cand_ref)
    mp, valid = _member_asof(wa, slot, found, st[cand_row])

    c_row = cand_row[valid]
    c_lon7 = wa["m_lon"][mp[valid]]
    c_lat7 = wa["m_lat"][mp[valid]]
    ncoords = np.bincount(c_row, minlength=n_out).astype(np.int64)
    cstart = np.cumsum(ncoords) - ncoords

    # polygon decision: decider(tags, refs) ∧ resolved ring closed (≥4,
    # first == last coord) — fixed-point equality, ref :94-98
    nz = ncoords >= 4
    coords_closed = np.zeros(n_out, dtype=bool)
    if nz.any():
        fi, li = cstart[nz], cstart[nz] + ncoords[nz] - 1
        coords_closed[nz] = (c_lon7[fi] == c_lon7[li]) & (c_lat7[fi] == c_lat7[li])
    is_area = tags_area.copy()
    if need_closed_refs and len(ref_flat):
        zero = rn == 0
        fr = ref_flat[np.where(zero, 0, ref_starts[ps])]
        lr = ref_flat[np.where(zero, 0, ref_starts[ps] + rn - 1)]
        is_area &= (rn >= 4) & (fr == lr)
    elif need_closed_refs:
        is_area &= False
    kind = np.select(
        [is_area & coords_closed, ncoords >= 2, ncoords == 1], [3, 2, 1], 0
    ).astype(np.int64)
    return kind, ncoords, cstart, c_row, c_lon7, c_lat7


_NAN_POINT = np.frombuffer(
    np.array([np.nan, np.nan], dtype="<f8").tobytes(), dtype=np.uint8
)


def _way_wkb_nbytes(kind: np.ndarray, ncoords: np.ndarray) -> np.ndarray:
    """Encoded byte length per row for the geometry-ladder WKB kinds."""
    return np.select(
        [kind <= 1, kind == 2, kind == 4],
        [21, 9 + 16 * ncoords, 9],
        13 + 16 * ncoords,
    ).astype(np.int64)


def _way_wkb_write(
    buf: np.ndarray,
    offs: np.ndarray,
    kind: np.ndarray,
    ncoords: np.ndarray,
    cstart: np.ndarray,
    c_row: np.ndarray,
    x: np.ndarray,
    y: np.ndarray,
) -> None:
    """Write each row's WKB at buf[offs[r]:] — caller-placed encoding so
    collections can embed components at their final positions with zero
    copy passes."""
    buf[offs] = 1  # little-endian marker
    # geometry type code (u32 LE; codes < 256 so one byte suffices)
    buf[offs + 1] = np.select([kind == 0, kind == 4], [1, 2], kind)

    def put_u32(pos: np.ndarray, val: np.ndarray):
        for b in range(4):
            buf[pos + b] = (val >> (8 * b)) & 0xFF

    ls = kind == 2
    pg = kind == 3
    if ls.any():
        put_u32(offs[ls] + 5, ncoords[ls])
    if pg.any():
        put_u32(offs[pg] + 5, np.ones(int(pg.sum()), dtype=np.int64))
        put_u32(offs[pg] + 9, ncoords[pg])
    empty = kind == 0
    if empty.any():
        buf[offs[empty][:, None] + (5 + np.arange(16))[None, :]] = _NAN_POINT[None, :]
    if len(x):
        pair_u8 = (
            np.ascontiguousarray(np.stack([x, y], axis=1), dtype="<f8")
            .view(np.uint8)
            .reshape(-1, 16)
        )
        coord_base = offs + np.select([kind == 1, kind == 2], [5, 9], 13)
        local = np.arange(len(x), dtype=np.int64) - cstart[c_row]
        dest = coord_base[c_row] + 16 * local
        buf[dest[:, None] + np.arange(16)[None, :]] = pair_u8


def _way_wkb_buf(
    kind: np.ndarray,
    ncoords: np.ndarray,
    cstart: np.ndarray,
    c_row: np.ndarray,
    x: np.ndarray,
    y: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized ISO little-endian WKB for the way geometry ladder —
    byte-identical to geo.geom.to_wkb. kind: 0 empty Point, 1 Point,
    2 LineString, 3 Polygon(single ring), 4 empty LineString (invisible
    way members inside relation collections, OSHDBGeometryBuilder.java:
    83-84). Coords (x, y degrees) are grouped by output row (c_row
    ascending), segment offsets in cstart.

    Returns the CONTIGUOUS (buf, offs, nbytes) encoding — row r's WKB is
    buf[offs[r] : offs[r] + nbytes[r]]."""
    nbytes = _way_wkb_nbytes(kind, ncoords)
    offs = np.cumsum(nbytes) - nbytes
    buf = np.zeros(int(nbytes.sum()), dtype=np.uint8)
    _way_wkb_write(buf, offs, kind, ncoords, cstart, c_row, x, y)
    return buf, offs, nbytes


def _way_wkb_vec(
    kind: np.ndarray,
    ncoords: np.ndarray,
    cstart: np.ndarray,
    c_row: np.ndarray,
    x: np.ndarray,
    y: np.ndarray,
) -> list[bytes]:
    """Per-row bytes view of _way_wkb_buf (kernel emission form)."""
    buf, offs, nbytes = _way_wkb_buf(kind, ncoords, cstart, c_row, x, y)
    return [buf[o : o + nb].tobytes() for o, nb in zip(offs, nbytes)]


def _ways_snapshot_vec(
    pdf: pd.DataFrame, requested: list[int], with_geometry: bool, decider
) -> pd.DataFrame:
    """Fully vectorized snapshot kernel for fully-inside WAY docs.

    Equivalent to the general path's mod-timestamp + queryTs walk
    (CellIterator.java:181-347): a snapshot row exists at t iff the as-of
    own version is visible, matches the filter, and has refs; its geometry
    resolves each ref to the member node's as-of state. Direct per-t
    computation matches the carry-forward optimization because any member
    or own change between two requested timestamps is by construction a
    modification timestamp (filter-aware member windows cover the visible
    matching span)."""
    import json

    fa = _flat_node_arrays(pdf)
    n_docs, starts = fa["n_docs"], fa["starts"]
    combined = fa["combined"]
    vis, match = fa["visible"], fa["match"]
    wa = _flat_way_arrays(pdf)
    refcnt = wa["refcnt"]

    uniq, inv = np.unique(fa["tags"].astype(str), return_inverse=True)
    parsed = np.array([json.loads(s) for s in uniq], dtype=object)
    tags_area_u, need_closed_refs = _area_flags(decider, parsed)

    n_ts = len(requested)
    row_doc = np.tile(np.arange(n_docs, dtype=np.int64), n_ts)
    row_t = np.repeat(np.asarray(requested, dtype=np.int64), n_docs)
    pos = np.searchsorted(combined, row_doc * (1 << 34) + row_t, side="right") - 1
    ok = pos >= starts[row_doc]
    p = np.where(ok, pos, 0)
    # zero-node ways skip (CellIterator.java:254-257)
    ok &= vis[p] & match[p] & (refcnt[p] > 0)
    sel = np.nonzero(ok)[0]
    if len(sel) == 0:
        return _empty_frame(_SNAP_COLS)
    ps, sdoc, st = pos[sel], row_doc[sel], row_t[sel]

    kind, ncoords, cstart, c_row, c_lon7, c_lat7 = _resolve_way_geometry(
        wa, ps, sdoc, st, tags_area_u[inv[ps]], need_closed_refs
    )
    n_out = len(sel)

    if with_geometry:
        wkb = np.array(
            _way_wkb_vec(
                kind, ncoords, cstart, c_row, c_lon7 * 1e-7, c_lat7 * 1e-7
            ),
            dtype=object,
        )
    else:
        wkb = np.full(n_out, None, dtype=object)

    tokens = _doc_tokens(pdf)
    ids = pdf["id"].to_numpy(np.int64)
    doc_ids = pdf["doc_id"].to_numpy(object)
    return pd.DataFrame(
        {
            "ts": st,
            "entity_type": "way",
            "id": ids[sdoc],
            "version": fa["version"][ps].astype(np.int32),
            "changeset": fa["changeset"][ps],
            "uid": fa["uid"][ps].astype(np.int32),
            "tags": parsed[inv[ps]],
            "geom_wkb": wkb,
            "geom_clipped_wkb": wkb,
            "cell": tokens[sdoc],
            "doc_id": doc_ids[sdoc],
        },
        columns=_SNAP_COLS,
    )


def _vectorizable_decider(decider) -> bool:
    return type(decider) in (DefaultTagInterpreter, AlwaysArea, NeverArea)


def _allowed_types(filter_spec) -> set[str] | None:
    """Entity types a filter_spec can match (None = unrestricted) — used
    to skip building member-table projections a query can never touch
    (a type_in('node') query pays nothing for way/relation machinery)."""
    types = None
    for s in filter_spec or []:
        if s[0] == "type_in":
            types = set(s[1]) if types is None else types & set(s[1])
    return types


def _route_way_fast(pdf: pd.DataFrame, way_mask: np.ndarray, aoi: AOI):
    """Refine the JVM way-fast routing under a polygon AOI with the exact
    per-doc bbox_vs_polygon 3-state (the FastBboxIn/OutsidePolygon cull,
    CellIterator.java:182-215): fully-inside docs stay on the vectorized
    path, boundary docs demote to the general per-doc path (they need the
    exact clip), disjoint docs drop. Returns (vec_mask, demote_mask)."""
    if aoi.polygon is None or not way_mask.any():
        return way_mask, np.zeros(len(pdf), dtype=bool)
    rel = _doc_rel_vec(pdf[way_mask], aoi)
    idx = np.nonzero(way_mask)[0]
    vec = np.zeros(len(pdf), dtype=bool)
    dem = np.zeros(len(pdf), dtype=bool)
    vec[idx] = rel == 1
    dem[idx] = rel == 2
    return vec, dem


def _routed_kernel(
    docs: DataFrame,
    filter_spec,
    aoi: AOI,
    decider,
    node_vec,
    way_vec,
    rel_vec,
    emit,
    cols: list[str],
    schema,
) -> DataFrame:
    """The routed kernel shared by snapshots() and contributions():
    prepared_docs with the fast paths the query can take, then per Arrow
    batch the ``fast_kind`` dispatch — ``node_vec``/``way_vec``/
    ``rel_vec`` (pdf → frame of ``cols``) on their routes, ``emit(row,
    out, token)`` per doc on the general path, which also takes way and
    relation docs the polygon 3-state demotes.

    Way/relation fast paths serve any AOI (bbox AND polygon — the
    kernel's exact 3-state keeps fully-inside docs vectorized and demotes
    boundary docs) as long as the area decider is a vectorizable
    built-in; relations additionally need a decider mode that can rule
    out multipolygon assembly JVM-side (relation_vec.rel_fast_mode)."""
    from .relation_vec import rel_fast_mode

    types = _allowed_types(filter_spec)
    fast_ways = _vectorizable_decider(decider) and (
        types is None or "way" in types
    )
    fast_rels = (
        rel_fast_mode(decider)
        if types is None or "relation" in types
        else None
    )
    typed = prepared_docs(
        docs, filter_spec, aoi, fast_arrays=True, fast_ways=fast_ways,
        fast_rels=fast_rels,
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            fk = pdf["fast_kind"]
            node_mask = (fk == "node").to_numpy()
            way_raw = (fk == "way").to_numpy()
            rel_raw = (fk == "relation").to_numpy()
            way_mask, way_demote = _route_way_fast(pdf, way_raw, aoi)
            rel_mask, rel_demote = _route_way_fast(pdf, rel_raw, aoi)
            gen_mask = (
                ~(node_mask | way_raw | rel_raw) | way_demote | rel_demote
            )
            frames = [
                vec(pdf[mask])
                for mask, vec in (
                    (node_mask, node_vec), (way_mask, way_vec),
                    (rel_mask, rel_vec),
                )
                if mask.any()
            ]
            if gen_mask.any():
                gpdf = pdf[gen_mask]
                out: list[tuple] = []
                for row, tok in zip(gpdf.to_dict("records"), _doc_tokens(gpdf)):
                    emit(row, out, tok)
                frames.append(pd.DataFrame(out, columns=cols))
            yield pd.concat(frames, ignore_index=True) if frames else _empty_frame(cols)

    return typed.mapInPandas(kernel, schema=schema)


def snapshots(
    docs: DataFrame,
    timestamps: list[int],
    bbox=None,
    polygon=None,
    filter_spec=None,
    area_decider=None,
    with_geometry: bool = True,
) -> DataFrame:
    """The snapshot view: one row per (entity, requested timestamp) where
    the entity exists, is visible, matches the filter, and intersects the
    AOI. Returns a DataFrame with schema model.schemas.SNAPSHOTS.

    Node, way and relation docs of the fast shapes run through the
    vectorized numpy paths (_nodes_snapshot_vec and siblings); the rest, and
    every doc under a python filter, go through the general per-doc path
    (routing: _routed_kernel)."""
    aoi = AOI(bbox=bbox, polygon=polygon)
    decider = area_decider or DEFAULT_INTERPRETER
    requested = sorted(timestamps)
    flt = compile_python(filter_spec)
    from .relation_vec import rels_snapshot_vec

    return _routed_kernel(
        docs, filter_spec, aoi, decider,
        node_vec=lambda p: _nodes_snapshot_vec(p, requested, aoi, with_geometry),
        way_vec=lambda p: _ways_snapshot_vec(
            p, requested, with_geometry, decider
        ),
        rel_vec=lambda p: rels_snapshot_vec(
            p, requested, with_geometry, decider
        ),
        emit=lambda row, out, tok: _emit_doc_snapshots(
            row, requested, aoi, flt, decider, with_geometry, out, token=tok
        ),
        cols=_SNAP_COLS,
        schema=schemas.SNAPSHOTS,
    )


def _emit_doc_snapshots(row, requested, aoi, flt, decider, with_geometry, out,
                        token=None):
    entity_type = row["entity_type"]
    eid = row["id"]
    versions, members_by_key, fbbox, token = _doc_structs(row, token)
    versions = _normalize_ts(versions)
    for m in members_by_key.values():
        _normalize_ts(m["versions"])

    rel = aoi.relation_of_bbox(fbbox) if fbbox is not None else (1 if aoi.is_world else 0)
    if rel == 0:
        return
    fully_inside = rel == 1

    vflt = (lambda v: flt(v, entity_type, eid)) if flt else None
    if vflt is not None and not any(
        v["visible"] and vflt(v) for v in versions
    ):
        return  # none of the versions matches (CellIterator.java:207-211)

    members = list(members_by_key.values())
    mod_ts = mod_timestamps(entity_type, versions, members, vflt)
    query_ts = query_timestamps(requested, mod_ts)
    if not query_ts:
        return
    asof = get_by_timestamps(versions, list(query_ts.keys()))

    for t, v in asof.items():
        if not v["visible"]:
            continue
        if entity_type == "way" and not (v.get("refs") or []):
            continue  # zero-node way (CellIterator.java:254-257)
        if entity_type == "relation" and not (v.get("refs") or []):
            continue
        if vflt is not None and not vflt(v):
            continue
        geom = None
        clipped = None
        if with_geometry or not fully_inside:
            geom = build_geometry(entity_type, v, t, members_by_key, decider)
            clipped = geom if fully_inside else aoi.clip(geom)
        if fully_inside or (clipped is not None and not G.is_empty(clipped)):
            gwkb = G.to_wkb(geom) if with_geometry else None
            cwkb = G.to_wkb(clipped) if with_geometry else None
            base = (
                v["version"],
                v["changeset"],
                v["uid"],
                v.get("tags") or {},
                gwkb,
                cwkb,
                token,
                row["doc_id"],
            )
            out.append((t, entity_type, eid) + base)
            for extra_t in query_ts[t]:
                out.append((extra_t, entity_type, eid) + base)


# ---------------------------------------------------------------------------
# node-only pure-Catalyst route (zero Python; geometry-free node views)
# ---------------------------------------------------------------------------

def node_snapshots_sql(
    docs: DataFrame, timestamps: list[int], bbox=None, filter_spec=None
) -> DataFrame:
    """Snapshot view of member-less node docs as one narrow Catalyst
    as-of over the routing site (``prepared_docs``, ``fast_kind =
    'node'``) — the JVM twin of ``_nodes_snapshot_vec`` without geometry.

    Per requested ``t`` the as-of version index is ``size(filter(vts,
    x -> x <= t)) - 1`` (the encoder sorts ``vts`` by (ts, version), so
    this is the kernel's searchsorted); the index is kept when it is
    ≥ 0, the version is visible, matches the filter (``vmatch``; the
    ``id_in``/``type_in`` parts ran as the doc pre-filter) and its point
    lies inside the bbox (inclusive, as ``_points_in_aoi``); then one
    explode. No window, no join, no shuffle: the plan is a single narrow
    stage up to whatever aggregate reads it.

    Columns: ts, entity_type, id, version, changeset, uid, tags, lon, lat
    (fixed-point), doc_id. ``tags`` is parsed from ``vtags`` with
    from_json, so Catalyst prunes the parse when nothing reads it.
    Python (``py``) filters need the kernel (``snapshots``)."""
    if any(s[0] == "py" for s in filter_spec or []):
        raise ValueError("python filters need the kernel path (snapshots)")
    typed = prepared_docs(docs, filter_spec, AOI(bbox=bbox), fast_arrays=True)
    grid = ", ".join(f"{int(t)}L" for t in sorted(timestamps))
    keep = "s.i >= 0 and vvisible[s.i] and coalesce(vmatch[s.i], true)"
    if bbox is not None:
        w, so, e, n = (f"{float(x)!r}D" for x in bbox)
        keep += (
            f" and vlon[s.i] * 1e-7 between {w} and {e}"
            f" and vlat[s.i] * 1e-7 between {so} and {n}"
        )
    asof = (
        f"filter(transform(cast(array({grid}) as array<bigint>),"
        " t -> named_struct('ts', t,"
        " 'i', size(filter(vts, x -> x <= t)) - 1)),"
        f" s -> {keep})"
    )
    # selectExpr: one analysis pass and one Py4J call per step
    out = typed.where("fast_kind = 'node'").selectExpr(
        "id", "doc_id", *_V_COLS, f"explode({asof}) as _s"
    ).selectExpr(
        "_s.ts as ts", "'node' as entity_type", "id",
        "vversion[_s.i] as version", "vchangeset[_s.i] as changeset",
        "vuid[_s.i] as uid",
        "from_json(vtags[_s.i], 'map<string,string>') as tags",
        "vlon[_s.i] as lon", "vlat[_s.i] as lat", "doc_id",
    )
    types = _allowed_types(filter_spec)
    if not timestamps or (types is not None and "node" not in types):
        return local_frame(docs.sparkSession, [], out.schema)
    return out
