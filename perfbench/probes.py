"""Out-of-process probes: the engine is only called, never changed.

- ``python_hop_metrics``: walks an executed plan (unwrapping
  ``AdaptiveSparkPlanExec`` and every ``*QueryStageExec``) and sums the
  ``MapInPandas`` SQL metrics: bytes sent to / returned from Python, rows
  returned, Python worker time.
- ``prepared_stats``: aggregates over a ``prepared_docs`` output — docs per
  kernel route, ArrayType columns holding NULLs, input tasks, doc bboxes
  straddling the AOI.
- ``QueryCuts``: one query cut into nested stages, each run to the end into
  the ``noop`` sink; adjacent differences are the layer times.
"""

from __future__ import annotations

import time

from .common import noop


def _children(node):
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    out = []
    it = node.children().iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def _metrics(node) -> dict:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def plan_nodes(df):
    """Every physical node of ``df``'s executed plan, stages unwrapped."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        yield node
        stack.extend(_children(node))


def python_hop_metrics(df) -> dict:
    """Call after ``df`` has been executed (collected)."""
    tot = {"py_bytes_in": 0, "py_bytes_out": 0, "py_rows_out": 0,
           "py_time_s": 0.0, "python_nodes": 0}
    for node in plan_nodes(df):
        if node.getClass().getSimpleName() != "MapInPandasExec":
            continue
        m = _metrics(node)
        tot["python_nodes"] += 1
        tot["py_bytes_in"] += int(m.get("pythonDataSent", 0))
        tot["py_bytes_out"] += int(m.get("pythonDataReceived", 0))
        tot["py_rows_out"] += int(m.get("pythonNumRowsReceived", 0))
        tot["py_time_s"] += m.get("pythonTotalTime", 0) / 1000.0
    return tot


def scan_columns(df) -> list[str]:
    """Columns the file scans under ``df`` actually read (after pruning)."""
    cols: list[str] = []
    for node in plan_nodes(df):
        if node.getClass().getSimpleName() == "FileSourceScanExec":
            it = node.output().iterator()
            while it.hasNext():
                name = it.next().name()
                if name not in cols:
                    cols.append(name)
    return cols


def scan_only(docs, cols):
    """Read ``cols`` without shipping their values to the sink: nested and
    variable-width columns are reduced to their size, so the cut costs the
    scan and decode, not a copy of every value."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    types = {f.name: f.dataType for f in docs.schema.fields}
    out = []
    for c in cols:
        dt = types[c]
        if isinstance(dt, (T.ArrayType, T.MapType)):
            out.append(F.size(c).alias(c))
        elif isinstance(dt, (T.StringType, T.BinaryType)):
            out.append(F.length(c).alias(c))
        else:
            out.append(F.col(c))
    return docs.select(*out)


def prepared_stats(prepared, aoi) -> dict:
    """Routes, NULL-array columns, docs, tasks and AOI-straddling docs of a
    kernel input (``kernels.snapshot.prepared_docs`` output)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    arrays = [f.name for f in prepared.schema.fields
              if isinstance(f.dataType, T.ArrayType)]
    row = prepared.agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.count(F.col(c)).alias(c) for c in arrays],
    ).collect()[0]
    n = row["_n"]
    routes = {r["fast_kind"]: r["count"] for r in
              prepared.groupBy("fast_kind").count().collect()}
    boundary = 0
    demoted = {"way": 0, "relation": 0}
    if not aoi.is_world:
        for r in prepared.select(
            "fast_kind", "bbox_min_lon", "bbox_min_lat", "bbox_max_lon",
            "bbox_max_lat",
        ).collect():
            if r["bbox_min_lon"] is None:
                continue
            if aoi.relation_of_bbox(tuple(x * 1e-7 for x in r[1:])) != 2:
                continue
            boundary += 1
            # way/relation fast docs straddling a polygon AOI are demoted
            # to the general per-doc path inside the kernel
            if aoi.polygon is not None and r["fast_kind"] in demoted:
                demoted[r["fast_kind"]] += 1
    return {
        "docs_in": n,
        "route_node": routes.get("node", 0),
        "route_way": routes.get("way", 0) - demoted["way"],
        "route_relation": routes.get("relation", 0) - demoted["relation"],
        "route_general": routes.get(None, 0) + sum(demoted.values()),
        "null_array_cols": sum(1 for c in arrays if row[c] < n),
        "input_tasks": prepared.rdd.getNumPartitions(),
        "boundary_docs": boundary,
    }


def _batch_rows(batches):
    import pandas as pd

    for pdf in batches:
        yield pd.DataFrame({"rows": [len(pdf)]})


def hop_in(prepared):
    """The Arrow hop into Python alone: one output row per batch."""
    return prepared.mapInPandas(_batch_rows, "rows long")


CUTS = ("scan", "prepared", "hop_in", "kernel", "aggregate")


class QueryCuts:
    """Nested cuts of one query. ``read()`` builds the store read, ``view``
    maps docs to the api ``View``, ``finish`` maps the view to the final
    DataFrame. Each cut is built fresh for every execution."""

    def __init__(self, read, view, finish):
        self.read = read
        self.view = view
        self.finish = finish
        self._scan_cols = None

    def prepared(self, docs):
        from oshdb_spark.kernels import snapshot as snap
        from oshdb_spark.kernels.aoi import AOI
        from oshdb_spark.kernels.geometry_builder import DEFAULT_INTERPRETER
        from oshdb_spark.kernels.relation_vec import rel_fast_mode

        s = self.view(docs)._s
        spec = list(s.filter_spec) or None
        aoi = AOI(bbox=s.bbox, polygon=s.polygon)
        decider = s.area_decider or DEFAULT_INTERPRETER
        types = snap._allowed_types(spec)
        fast_ways = snap._vectorizable_decider(decider) and (
            types is None or "way" in types
        )
        fast_rels = (
            rel_fast_mode(decider)
            if types is None or "relation" in types else None
        )
        return snap.prepared_docs(
            docs, spec, aoi, fast_arrays=True, fast_ways=fast_ways,
            fast_rels=fast_rels,
        ), aoi

    def run_cut(self, cut: str):
        """Execute one cut; returns (seconds, collected rows of the full
        query, or None for the noop cuts)."""
        if self._scan_cols is None:  # planned once, outside the timing
            self._scan_cols = scan_columns(self.prepared(self.read())[0])
        t = time.perf_counter()
        docs = self.read()
        if cut == "scan":
            noop(scan_only(docs, self._scan_cols))
            return time.perf_counter() - t, None
        if cut == "prepared":
            noop(self.prepared(docs)[0])
            return time.perf_counter() - t, None
        if cut == "hop_in":
            noop(hop_in(self.prepared(docs)[0]))
            return time.perf_counter() - t, None
        if cut == "kernel":
            noop(self.view(docs).dataframe())
            return time.perf_counter() - t, None
        rows = self.finish(self.view(docs)).collect()
        return time.perf_counter() - t, rows
