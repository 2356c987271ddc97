"""Fluent query façade — the MapReducer/MapAggregator analog.

Reference chain (immutable copy-on-write builder state as IR,
oshdb-api/.../MapReducer.java:154-177) re-expressed as a thin builder that
compiles to a DataFrame plan:

    OSHDB(docs).snapshot_view()
        .area_of_interest(bbox=(w,s,e,n))
        .timestamps([t0, t1, ...])
        .osm_type("node")
        .osm_tag("amenity", "cafe")
        .aggregate_by_timestamp()
        .count()

Terminal reducers mirror MapReducer.java:1097-1370 (count/sum/average/
weightedAverage/uniq/countUniq/estimatedQuantile). Aggregation mirrors
MapAggregator.java:848-988 (group-by computed key, zerofill).

Physical strategy: the rows compile when the terminal reducer runs, and
the reducer decides. A nodes-only snapshot view with no polygon and no
python filter whose geometry nobody reads — ``.without_geometry()``, or a
reducer that reads no row column (``View.count``, or ``Aggregator.count``
over the plain timestamp key) — compiles to the narrow Catalyst as-of
route (kernels.snapshot.node_snapshots_sql): one JVM stage into the
aggregate, no Python worker, no window, no join. Every other view runs the
vectorized pandas kernels. Both read the one routing site
(kernels.snapshot.prepared_docs), so filter pushdown is shared. The
zerofill key frames are JVM-local (session.local_frame), and ``count``
zerofills by a union into its own aggregate, so a count's only exchange
is the aggregate's shuffle.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..kernels import contribution as contrib_mod
from ..kernels import snapshot as snap_mod
from ..session import local_frame


@dataclass(frozen=True)
class _State:
    docs: DataFrame
    view: str = "snapshot"  # or "contribution"
    bbox: tuple | None = None
    polygon: object | None = None
    timestamps: tuple = ()
    filter_spec: tuple = ()
    with_geometry: bool = True
    group_keys: tuple = ()  # ((name, colexpr_fn), ...)
    zerofill_frames: tuple = ()  # DataFrames of key values for zerofill
    area_decider: object | None = None  # custom TagInterpreter


class OSHDB:
    """Entry point over a docs DataFrame (input_hint shape)."""

    def __init__(self, docs: DataFrame):
        self.docs = docs

    def snapshot_view(self) -> "View":
        return View(_State(docs=self.docs, view="snapshot"))

    def contribution_view(self) -> "View":
        return View(_State(docs=self.docs, view="contribution"))


class View:
    def __init__(self, state: _State):
        self._s = state

    def _with(self, **kw) -> "View":
        return View(replace(self._s, **kw))

    # -- filters (MapReducer.java:242-632) --------------------------------
    def area_of_interest(self, bbox=None, polygon=None) -> "View":
        """Set the AOI; a second call INTERSECTS with the previous one
        (MapReducer.java:242-270 intersects rather than replaces).

        Composition mirrors the reference's JTS `Geometry.intersection`
        (MapReducer.java:242-270): when two composed polygon AOIs
        intersect into DISJOINT pieces the result is carried as a
        multi-piece AOI (list of ring-lists) and every predicate/clip
        stage handles it (points/bbox tests OR the pieces; clips run
        per piece and concatenate)."""
        s = self._s
        if s.bbox is None and s.polygon is None:
            return self._with(bbox=bbox, polygon=polygon)
        from ..geo.clip import intersect_aois

        nb, np_ = intersect_aois(s.bbox, s.polygon, bbox, polygon)
        return self._with(bbox=nb, polygon=np_)

    def timestamps(self, ts, end: str | None = None, period: str | None = None) -> "View":
        """Either an explicit unix-seconds list, or ISO strings —
        `.timestamps("2008-01-01", "2020-01-01", "P1Y")` — mirroring the
        reference's OSHDBTimestamps generator (time/OSHDBTimestamps.java)."""
        if isinstance(ts, str):
            from .timestamps import timestamp_list

            ts = timestamp_list(ts, end, period)
        return self._with(timestamps=tuple(sorted(int(t) for t in ts)))

    def osm_type(self, *types: str) -> "View":
        return self._with(filter_spec=self._s.filter_spec + (("type_in", list(types)),))

    def osm_tag(self, key: str, value: str | None = None, values=None, regex=None) -> "View":
        if value is not None:
            f = ("tag_eq", key, value)
        elif values is not None:
            f = ("tag_in", key, list(values))
        elif regex is not None:
            f = ("tag_regex", key, regex)
        else:
            f = ("tag_key", key)
        return self._with(filter_spec=self._s.filter_spec + (f,))

    def osm_tag_any(self, *tags) -> "View":
        """OR-of-tags: match any of the given alternatives — each a key
        string (presence) or a (key, value) pair
        (osmTag(Collection<OSMTagInterface>), MapReducer.java:595-632)."""
        if not tags:
            raise ValueError(
                "osm_tag_any requires at least one tag alternative "
                "(an empty OR matches nothing)"
            )
        alts = [
            (t, None) if isinstance(t, str) else (t[0], t[1]) for t in tags
        ]
        return self._with(
            filter_spec=self._s.filter_spec + (("tag_any", alts),)
        )

    def osm_entity_filter(self, fn) -> "View":
        return self._with(filter_spec=self._s.filter_spec + (("py", fn),))

    def without_geometry(self) -> "View":
        return self._with(with_geometry=False)

    def tag_interpreter(self, decider) -> "View":
        """Pluggable area-decision rules (MapReducer.tagInterpreter,
        :224-228) — any kernels.geometry_builder.TagInterpreter."""
        return self._with(area_decider=decider)

    # -- plan compilation ---------------------------------------------------
    def _nodes_only(self) -> bool:
        for s in self._s.filter_spec:
            if s[0] == "type_in" and set(s[1]) == {"node"}:
                return True
        return False

    def _node_route(self, geometry_read: bool) -> bool:
        """The narrow Catalyst node route serves a nodes-only snapshot
        view with no polygon and no python filter whose geometry nobody
        reads: ``.without_geometry()``, or a reducer that reads no row
        column (``count``)."""
        s = self._s
        return (
            s.view == "snapshot"
            and self._nodes_only()
            and s.polygon is None
            and not any(f[0] == "py" for f in s.filter_spec)
            and not (s.with_geometry and geometry_read)
        )

    def _rows(self, geometry_read: bool = True) -> DataFrame:
        s = self._s
        if s.view == "snapshot":
            if not s.timestamps:
                raise ValueError("snapshot view requires .timestamps([...])")
            if self._node_route(geometry_read):
                return snap_mod.node_snapshots_sql(
                    s.docs, list(s.timestamps), bbox=s.bbox,
                    filter_spec=list(s.filter_spec) or None,
                )
            return snap_mod.snapshots(
                s.docs, list(s.timestamps), bbox=s.bbox, polygon=s.polygon,
                filter_spec=list(s.filter_spec) or None,
                area_decider=s.area_decider,
                with_geometry=s.with_geometry,
            )
        interval = (s.timestamps[0], s.timestamps[-1])
        return contrib_mod.contributions(
            s.docs, interval, bbox=s.bbox, polygon=s.polygon,
            filter_spec=list(s.filter_spec) or None,
            area_decider=s.area_decider,
            with_geometry=s.with_geometry,
        )

    def dataframe(self) -> DataFrame:
        """Compile to the rows DataFrame (snapshots / contributions)."""
        return self._rows()

    def stream(self):
        """Lazy row cursor (MapReducer.stream, :1422-1431) — Spark's
        toLocalIterator: partitions stream to the driver one at a time."""
        return self.dataframe().toLocalIterator()

    def collect(self):
        return self.dataframe().collect()

    # -- aggregation (MapAggregator) ---------------------------------------
    def aggregate_by_timestamp(
        self, zerofill: bool = True, indexer: Column | str | None = None
    ) -> "Aggregator":
        """Snapshot: group by the snapshot ts. Contribution: FLOOR each
        contribution ts to the requested timestamp list
        (MapReducer.java:775-822; contribution view drops the last ts from
        the zerofill key set, MapReducer.java:1858-1866).

        `indexer` (MapReducer.java:836-844): a custom timestamp column
        expression evaluated per row, floored to the grid the same way.

        The rows compile when the reducer runs: a plain snapshot ``count``
        reads no row column, so it may take the geometry-free node route."""
        s = self._s
        keys = list(s.timestamps)
        if s.view == "snapshot" and indexer is None:
            def key(df):
                return df.withColumn("_key_ts", F.col("ts"))
        else:
            ts_col = (
                F.col("ts") if indexer is None
                else (F.expr(indexer) if isinstance(indexer, str) else indexer)
            )
            grid = "array(" + ",".join(str(t) for t in s.timestamps) + ")"

            def key(df):
                return df.withColumn("_ix_ts", ts_col).withColumn(
                    "_key_ts",
                    F.expr(f"array_max(filter({grid}, g -> g <= _ix_ts))"),
                ).filter(F.col("_key_ts").isNotNull()).drop("_ix_ts")

            if s.view != "snapshot":
                keys = keys[:-1]  # drop last (zerofill key set)
        zf = ()
        if zerofill:
            zf = (local_frame(
                s.docs.sparkSession, [(int(t),) for t in keys], "_key_ts long"
            ),)
        return Aggregator(
            self, (key,), ("_key_ts",), zf, ("ts",),
            reads_rows=not (s.view == "snapshot" and indexer is None),
        )

    def aggregate_by(self, name: str, col: Column | str, zerofill_values=None) -> "Aggregator":
        return Aggregator(self, (), (), (), ()).aggregate_by(
            name, col, zerofill_values
        )

    def group_by_entity(self, fn, schema) -> DataFrame:
        """groupByEntity (MapReducer.java:707-721): feed ALL view rows of
        one entity to `fn(pdf) -> pdf` (full-history analysis). Docs are
        already one-entity units, so this is a single applyInPandas over
        the natural key — the shuffle is by (entity_type, id)."""
        df = self.dataframe()
        return df.groupBy("entity_type", "id").applyInPandas(fn, schema=schema)

    # -- terminal reducers on the un-aggregated view ------------------------
    def count(self) -> int:
        return self._rows(geometry_read=False).count()


class Aggregator:
    """Grouped reducers with zerofill (MapAggregator.java:848-988).

    Holds the view and one key function per grouping key; the keyed rows
    compile when a reducer runs, so a reducer that reads no row column
    (``count``) over keys that read none either (the plain timestamp
    key) compiles the view geometry-free."""

    def __init__(self, view: View, keyers: tuple, keys: tuple,
                 zerofill: tuple, out_names: tuple, reads_rows: bool = True):
        self.view = view
        self.keyers = keyers
        self.keys = keys
        self.zerofill = zerofill
        self.out_names = out_names
        self.reads_rows = reads_rows

    @property
    def df(self) -> DataFrame:
        """The keyed rows, geometry included."""
        return self._keyed(True)

    def _keyed(self, geometry_read: bool) -> DataFrame:
        df = self.view._rows(geometry_read)
        for key in self.keyers:
            df = key(df)
        return df

    def aggregate_by(self, name: str, col: Column | str, zerofill_values=None) -> "Aggregator":
        """Chained combined-index aggregation (OSHDBCombinedIndex analog:
        native multi-column groupBy; zerofill becomes the cross product)."""
        c = F.expr(col) if isinstance(col, str) else col

        def key(df):
            return df.withColumn(f"_key_{name}", c)

        zf = self.zerofill
        if zerofill_values is not None:
            zf = zf + (local_frame(
                self.view._s.docs.sparkSession,
                [(v,) for v in zerofill_values], f"_key_{name} string",
            ),)
        return Aggregator(
            self.view, self.keyers + (key,), self.keys + (f"_key_{name}",),
            zf, self.out_names + (name,),
        )

    def _key_frame(self) -> DataFrame | None:
        """Every zerofill key combination (the cross product of the key
        frames); None unless every key has a zerofill frame."""
        if not self.zerofill or len(self.zerofill) != len(self.keys):
            return None
        frame = self.zerofill[0]
        for f in self.zerofill[1:]:
            frame = frame.crossJoin(f)
        return frame

    def _renamed(self, out: DataFrame) -> DataFrame:
        return out.withColumnsRenamed(dict(zip(self.keys, self.out_names)))

    def _finish(self, agg: DataFrame, fill) -> DataFrame:
        out = agg
        frame = self._key_frame()
        if frame is not None:
            val_cols = [c for c in agg.columns if c not in self.keys]
            # broadcast the AGGREGATED side (small: one row per key) —
            # the outer side of a left join cannot be broadcast, so
            # hinting the frame would silently fall back to a
            # sort-merge join (caught by tools/explain_audit.py)
            out = frame.join(F.broadcast(agg), list(self.keys), "left")
            for c in val_cols:
                out = out.withColumn(c, F.coalesce(F.col(c), F.lit(fill)))
        return self._renamed(out)

    def count(self, alias: str = "cnt") -> DataFrame:
        """Rows per key. Zerofill is a union, not a join: the key frame's
        rows count 0 in the same aggregate, so the aggregate's shuffle is
        the plan's only exchange (no broadcast job after it)."""
        rows = self._keyed(self.reads_rows).select(
            *self.keys, F.lit(1).alias(alias)
        )
        frame = self._key_frame()
        if frame is not None:
            rows = rows.unionByName(
                frame.select(*self.keys, F.lit(0).alias(alias))
            )
        return self._renamed(
            rows.groupBy(*self.keys).agg(F.sum(alias).alias(alias))
        )

    def sum(self, col, alias: str = "sum") -> DataFrame:
        c = F.expr(col) if isinstance(col, str) else col
        return self._finish(self.df.groupBy(*self.keys).agg(F.sum(c).alias(alias)), 0)

    def average(self, col, alias: str = "avg") -> DataFrame:
        c = F.expr(col) if isinstance(col, str) else col
        return self._finish(self.df.groupBy(*self.keys).agg(F.avg(c).alias(alias)), None)

    def weighted_average(self, col, weight, alias: str = "wavg") -> DataFrame:
        """Σ(v·w)/Σw (PayloadWithWeight.java:14-39)."""
        c = F.expr(col) if isinstance(col, str) else col
        w = F.expr(weight) if isinstance(weight, str) else weight
        return self._finish(
            self.df.groupBy(*self.keys).agg(
                (F.sum(c * w) / F.sum(w)).alias(alias)
            ),
            None,
        )

    def uniq(self, col, alias: str = "uniq_set") -> DataFrame:
        """Distinct-value SET per group (MapReducer.uniq, :1135-1150) —
        native collect_set, returned sorted for determinism."""
        c = F.expr(col) if isinstance(col, str) else col
        return self._finish(
            self.df.groupBy(*self.keys).agg(
                F.array_sort(F.collect_set(c)).alias(alias)
            ),
            None,
        )

    def count_uniq(self, col, alias: str = "uniq") -> DataFrame:
        """Exact distinct count (MapReducer.java:1135-1168 uses HashSet
        partials — exact, so approx_count_distinct is NOT the default)."""
        c = F.expr(col) if isinstance(col, str) else col
        return self._finish(
            self.df.groupBy(*self.keys).agg(F.countDistinct(c).alias(alias)), 0
        )

    def count_uniq_approx(
        self, col, alias: str = "uniq_approx", rsd: float = 0.05
    ) -> DataFrame:
        """HyperLogLog++ distinct estimate — the 10^12-row companion to
        count_uniq: the exact HashSet/countDistinct partials the reference
        merges (MapReducer.java:1135-1168) grow with the cardinality,
        while the HLL sketch is fixed-size (map-side partials, mergeable,
        one k-groups-wide shuffle). `rsd` is the target relative standard
        deviation (Spark's approx_count_distinct knob)."""
        c = F.expr(col) if isinstance(col, str) else col
        return self._finish(
            self.df.groupBy(*self.keys).agg(
                F.approx_count_distinct(c, rsd).alias(alias)
            ),
            0,
        )

    def quantile(self, col, q: float, alias: str = "quantile", exact: bool = True) -> DataFrame:
        """Exact interpolated percentile by default (test parity); the
        reference's t-digest (TDigestReducer.java:21-41) is a mergeable
        sketch — percentile_approx is the Spark-native mergeable analog,
        opt-in via exact=False for the 100 TB path."""
        if not isinstance(col, str):
            raise TypeError(
                "quantile() requires a column NAME (str); building the SQL "
                "string from a Column object would interpolate its repr"
            )
        if exact:
            e = F.expr(f"percentile({col}, {q})")
        else:
            e = F.expr(f"percentile_approx({col}, {q}, 10000)")
        return self._finish(self.df.groupBy(*self.keys).agg(e.alias(alias)), None)

    def agg(self, *exprs) -> DataFrame:
        return self._finish(self.df.groupBy(*self.keys).agg(*exprs), None)
