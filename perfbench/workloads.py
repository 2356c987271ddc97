"""The three closed-loop workloads: one client sends one operation at a time
through the engine's public entry points (``model`` generators,
``plans.layout`` store I/O, ``api.OSHDB`` views).

Each workload has
- ``prepare()``: the benchmark's own inputs and expected answers (no engine);
- ``setup(spark)``: corpus, store, warm-up — what ``setup_s`` times;
- ``round()``: one round of timed, checked operations;
- ``e2e()``: the end-to-end metrics from the rounds;
- ``trace()``: the traced run's per-layer metrics.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

from . import corpora, oracles, probes
from .common import dir_bytes, noop, parquet_files, timed

# a traced run cuts every query at least once, then until --seconds pass
TRACE_MIN_ROUNDS = 1

# --- node_history query parameters ---------------------------------------
# AOI edges sit half-way between fixed-point lattice values (…5e-8°), so no
# point can lie exactly on an edge and every inside test is unambiguous
NODE_BBOX = (-20.00000035, 30.00000045, 40.00000055, 70.00000065)
NODE_RING = [
    (8.66000005, 49.39000015), (8.70000025, 49.39500035),
    (8.71000045, 49.43000055), (8.67000065, 49.44000075),
    (8.65000085, 49.42000095), (8.66000005, 49.39000015),
]
NODE_RING_BOX = (
    min(x for x, _ in NODE_RING), min(y for _, y in NODE_RING),
    max(x for x, _ in NODE_RING), max(y for _, y in NODE_RING),
)
NODE_TS = [1262563200 + k * 7 * 86400 for k in range(6)]  # weekly from 2010-01-04
NODE_GRID = [1199145600, 1230768000, 1262304000, 1293840000, 1325376000,
             1356998400]  # 2008-01-01 … 2013-01-01, yearly

# --- etl_update query parameters -----------------------------------------
ETL_TS = [1262304000, 1338508800, 1372636800, 1705276800, 1709251200]


class Workload:
    name = ""
    # A run does a fixed number of timed rounds, --seconds / round_s (at
    # least one), not as many as fit in --seconds: executions keep getting
    # faster for tens of seconds as the JVM warms up, so a count set by the
    # clock would let the machine's speed move the median.
    round_s = 4.0

    def __init__(self, run_dir: str, seed: int, tracer, ledger):
        self.dir = run_dir
        self.seed = seed
        self.tracer = tracer
        self.ledger = ledger
        self.tmp = os.path.join(run_dir, "tmp")
        self.spark = None

    def timed_rounds(self, seconds: float) -> int:
        return max(1, round(seconds / self.round_s))

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def op(self, name: str, fn):
        """Run one timed, checked operation; ``fn`` returns (ok, why)."""
        with self.tracer.span(f"op:{name}", op=name):
            t = time.perf_counter()
            try:
                ok, why = fn()
            except Exception:  # an op that raises is counted as failed
                self.ledger.record(name, None, False, traceback.format_exc(limit=3))
                return None
            dt = time.perf_counter() - t
        self.ledger.record(name, dt, ok, why)
        return dt

    # -- traced run -----------------------------------------------------------
    def trace_round(self) -> None:
        """Work a traced round does besides the query cuts."""

    def trace(self, session_s: float, seconds: float) -> tuple[dict, dict]:
        """Cut every query into the nested stages of ``probes.CUTS``, in
        order within each round, until ``seconds`` have passed; then probe
        counts, decode and merge once. Returns (per-layer metrics, detail)."""
        from oshdb_spark.model.docs import typed_docs

        specs = self.specs()
        cut_s = {q: {c: [] for c in probes.CUTS} for q in specs}
        deltas = {q: {c: [] for c in probes.CUTS} for q in specs}
        t0 = time.perf_counter()
        rounds = 0
        while rounds < TRACE_MIN_ROUNDS or time.perf_counter() - t0 < seconds:
            self.trace_round()
            for q, (cuts, check) in specs.items():
                prev = 0.0
                for cut in probes.CUTS:
                    with self.tracer.span(f"cut:{cut}", op=f"{q}#{rounds}"):
                        try:
                            dt, rows = cuts.run_cut(cut)
                        except Exception:  # the query fails; skip its later cuts
                            self.ledger.record(q, None, False,
                                               traceback.format_exc(limit=3))
                            break
                    cut_s[q][cut].append(dt)
                    deltas[q][cut].append(dt - prev)
                    prev = dt
                    if rows is not None:
                        ok, why = check(rows)
                        self.ledger.record(q, dt, ok, why)
            rounds += 1
        stats = {}
        for q, (cuts, _check) in specs.items():
            with self.tracer.span("probe:counts", op=q):
                try:
                    stats[q] = query_stats(cuts)
                except Exception:  # already counted failed by its cuts
                    traceback.print_exc(limit=3)
                    stats[q] = {}
        with self.tracer.span("model.typed_docs", op="decode"):
            raw_s, _ = timed(lambda: noop(self.raw_docs()))
            typed_s, _ = timed(lambda: noop(typed_docs(self.raw_docs())))
        layers = layer_metrics(session_s, self.generate_s, typed_s - raw_s,
                               _median(self.write_times()),
                               parquet_files(self.store), self.merge_facts(),
                               deltas, stats)
        detail = {
            "rounds": rounds,
            "queries": {
                q: {
                    "cut_median_s": {c: _median(v) for c, v in cut_s[q].items()},
                    "layer_median_s": {c: _median(v) for c, v in deltas[q].items()},
                    "layer_sum_s": _sum(_median(v) for v in deltas[q].values()),
                    "stats": stats[q],
                }
                for q in specs
            },
        }
        return layers, detail


def query_stats(cuts) -> dict:
    """Count probes of one query, after its timed cuts: kernel input
    (routes, NULL arrays, tasks, straddling docs), docs scanned, docs with
    output, and the Python-hop plan metrics of a full execution."""
    prepared, aoi = cuts.prepared(cuts.read())
    st = probes.prepared_stats(prepared, aoi)
    st["scan_docs"] = cuts.read().count()
    st["useful_docs"] = (
        cuts.view(cuts.read()).dataframe().select("doc_id").distinct().count()
    )
    df = cuts.finish(cuts.view(cuts.read()))
    df.collect()
    st.update(probes.python_hop_metrics(df))
    return st


# --------------------------------------------------------------------------
# store-query workloads (node_history, member_history)
# --------------------------------------------------------------------------


class StoreQueries(Workload):
    """A corpus generated once and written once with ``write_typed_store``;
    three query shapes over it, each checked against an answer computed
    apart from the engine."""

    docs_total = 0

    def corpus(self):
        """The generated docs (lazy DataFrame)."""
        raise NotImplementedError

    def specs(self) -> dict:
        """{metric name: (QueryCuts, check(rows) -> (ok, why))}."""
        raise NotImplementedError

    def setup(self, spark):
        from oshdb_spark.plans.layout import write_typed_store

        self.spark = spark
        self.corpus_path = self.path("corpus.parquet")
        with self.tracer.span("model.generate", op="corpus"):
            self.generate_s, _ = timed(
                lambda: self.corpus().write.parquet(self.corpus_path))
        self.store = self.path("store")
        with self.tracer.span("plans.write_typed_store", op="build"):
            self.write_s, _ = timed(lambda: write_typed_store(
                spark.read.parquet(self.corpus_path), self.store))
        self.warm_s, _ = timed(self.round)  # untimed warm-up round
        self.ledger.reset()
        print(f"setup: generate {self.generate_s:.2f} s, build "
              f"{self.write_s:.2f} s, warm-up round {self.warm_s:.2f} s",
              file=sys.stderr)

    def setup_s(self, session_s: float) -> float:
        return session_s + self.generate_s + self.write_s + self.warm_s

    def round(self):
        for name, (cuts, check) in self.specs().items():
            def run(cuts=cuts, check=check):
                return check(cuts.finish(cuts.view(cuts.read())).collect())
            self.op(name, run)

    def e2e(self, session_s: float) -> dict:
        led = self.ledger
        return {
            "setup_s": (self.setup_s(session_s), "s"),
            "snapshot_s": (led.med("snapshot_s"), "s"),
            "polygon_snapshot_s": (led.med("polygon_snapshot_s"), "s"),
            "contribution_s": (led.med("contribution_s"), "s"),
            "store_bytes_per_doc": (dir_bytes(self.store) / self.docs_total, "bytes"),
        }

    # -- traced run hooks -----------------------------------------------------
    def raw_docs(self):
        return self.spark.read.parquet(self.corpus_path).select("doc_id", "spans")

    def write_times(self) -> list:
        return [self.write_s]

    def merge_facts(self) -> dict:
        """One merge of changed docs (1/20 of the corpus, moved) into the
        store, after every query has run."""
        from oshdb_spark.plans.layout import update_typed_store

        changed = self.path("changed.parquet")
        corpora.changed_docs(
            self.raw_docs(), 0, corpora.ETL_BATCH_MOD, True, 10**12
        ).write.parquet(changed)
        with self.tracer.span("plans.update_typed_store", op="merge"):
            dt, res = timed(lambda: update_typed_store(
                self.spark.read.parquet(changed), self.store))
        return merge_facts(self.store, res, dir_bytes(changed), dt)


class NodeHistory(StoreQueries):
    name = "node_history"

    def prepare(self):
        st = oracles.node_states(self.seed)
        self.docs_total = corpora.NODE_DOCS
        in_ring = lambda lon, lat: oracles.in_polygon(lon, lat, NODE_RING)  # noqa: E731
        self.expect = {
            "snapshot_s": oracles.node_snapshot_counts(
                st, NODE_TS, lambda lon, lat: oracles.in_bbox(lon, lat, NODE_BBOX)),
            "polygon_snapshot_s": oracles.node_snapshot_counts(st, NODE_TS, in_ring),
            "contribution_s": oracles.node_contribution_counts(st, NODE_GRID, NODE_BBOX),
        }

    def corpus(self):
        return corpora.node_docs(self.spark, self.seed)

    def _check(self, name):
        def check(rows):
            got = {int(r["ts"]): int(r["cnt"]) for r in rows}
            return got == self.expect[name], f"got {got} want {self.expect[name]}"
        return check

    def specs(self):
        from oshdb_spark.api.engine import OSHDB
        from oshdb_spark.plans.layout import read_typed_store

        spark, store = self.spark, self.store
        by_ts = lambda v: v.aggregate_by_timestamp().count()  # noqa: E731
        return {
            "snapshot_s": (probes.QueryCuts(
                lambda: read_typed_store(spark, store, bbox=NODE_BBOX),
                lambda d: OSHDB(d).snapshot_view().timestamps(NODE_TS)
                .area_of_interest(bbox=NODE_BBOX).osm_type("node")
                .osm_tag("amenity", "cafe"),
                by_ts), self._check("snapshot_s")),
            "polygon_snapshot_s": (probes.QueryCuts(
                lambda: read_typed_store(spark, store, bbox=NODE_RING_BOX,
                                         polygon=[NODE_RING]),
                lambda d: OSHDB(d).snapshot_view().timestamps(NODE_TS)
                .area_of_interest(polygon=[NODE_RING]).osm_type("node")
                .osm_tag("amenity", "cafe"),
                by_ts), self._check("polygon_snapshot_s")),
            "contribution_s": (probes.QueryCuts(
                lambda: read_typed_store(spark, store, bbox=NODE_BBOX),
                lambda d: OSHDB(d).contribution_view().timestamps(NODE_GRID)
                .area_of_interest(bbox=NODE_BBOX).osm_type("node"),
                by_ts), self._check("contribution_s")),
        }


class MemberHistory(StoreQueries):
    name = "member_history"

    def prepare(self):
        self.events = self.path("events.parquet")
        corpora.write_events(self.events, self.seed, corpora.MEMBER_USERS,
                             corpora.MEMBER_EVENTS_PER_USER)
        self.reps = corpora.replica_ids(self.seed)
        self.oracle = oracles.member_oracles(self.events, self.tmp)
        # every user has events, so one way and one relation doc per user
        self.docs_total = 2 * corpora.MEMBER_USERS * len(self.reps)

    def corpus(self):
        return corpora.member_docs(self.spark, self.events, self.reps)

    def specs(self):
        from oshdb_spark.api.engine import OSHDB
        from oshdb_spark.geo.measures import wkb_length_m
        from oshdb_spark.model.history import SNAPSHOT_TS
        from oshdb_spark.plans.layout import read_typed_store
        from pyspark.sql import functions as F

        import __spark_entry__ as entry

        spark, store = self.spark, self.store
        w, s, e, n = entry._CLIP_RECT
        ring = [(w, s), (e, s), (e, n), (w, n), (w, s)]
        one = f"#{self.reps[0]}"

        def length_by(keys, geom):
            return lambda v: (
                v.dataframe().withColumn("len_m", wkb_length_m(geom))
                .groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"),
                                    F.sum("len_m").alias("len_m"))
            )

        return {
            "snapshot_s": (probes.QueryCuts(
                lambda: read_typed_store(spark, store),
                lambda d: OSHDB(d).snapshot_view().timestamps(SNAPSHOT_TS)
                .osm_type("way", "relation"),
                length_by(("ts", "entity_type"), "geom_wkb")),
                self._check_lengths),
            "polygon_snapshot_s": (probes.QueryCuts(
                # one replica only: the per-doc exact clip is the slow path
                lambda: read_typed_store(spark, store, bbox=(w, s, e, n),
                                         polygon=[ring])
                .filter(F.col("doc_id").endswith(one)),
                lambda d: OSHDB(d).snapshot_view().timestamps(SNAPSHOT_TS)
                .area_of_interest(polygon=[ring]).osm_type("way"),
                length_by(("ts",), "geom_clipped_wkb")),
                self._check_clip),
            "contribution_s": (probes.QueryCuts(
                lambda: read_typed_store(spark, store),
                lambda d: OSHDB(d).contribution_view()
                .timestamps([SNAPSHOT_TS[0], SNAPSHOT_TS[-1]])
                .osm_type("relation").without_geometry(),
                lambda v: v.dataframe()
                .select(F.explode("contrib_types").alias("contrib_type"))
                .groupBy("contrib_type").agg(F.count(F.lit(1)).alias("cnt"))),
                self._check_contrib),
        }

    def _check_lengths(self, rows):
        r = len(self.reps)
        want = {}
        for etype, name in (("way", "way_snapshot_length"),
                            ("relation", "relation_snapshot_length")):
            for ts, cnt, total in self.oracle[name]:
                want[(int(ts), etype)] = (int(cnt) * r, float(total) * r)
        return _compare_lengths(
            {(int(x["ts"]), x["entity_type"]): (int(x["cnt"]), x["len_m"])
             for x in rows}, want, r)

    def _check_clip(self, rows):
        want = {int(ts): (int(c), float(t))
                for ts, c, t in self.oracle["way_polygon_clip"]}
        got = {int(x["ts"]): (int(x["cnt"]), x["len_m"]) for x in rows}
        return _compare_lengths(got, want, 1)

    def _check_contrib(self, rows):
        r = len(self.reps)
        want = {t: int(c) * r for t, c in self.oracle["relation_contrib_types"]}
        got = {x["contrib_type"]: int(x["cnt"]) for x in rows}
        return got == want, f"got {got} want {want}"


def _compare_lengths(got: dict, want: dict, copies: int):
    """Counts exactly; summed lengths within the oracle's rounding to whole
    metres (per copy) plus a 1e-9 relative float-order tolerance."""
    if got.keys() != want.keys():
        return False, f"keys {sorted(got)} want {sorted(want)}"
    for k, (c, length) in got.items():
        wc, wl = want[k]
        if c != wc or abs(length - wl) > 0.5 * copies + 1e-9 * abs(wl):
            return False, f"{k}: got {(c, length)} want {(wc, wl)}"
    return True, ""


# --------------------------------------------------------------------------
# etl_update
# --------------------------------------------------------------------------


class EtlUpdate(Workload):
    """The write path: raw docs → typed store, a fixed sequence of merges
    of changed batches (the second moves docs to another cell), and a
    snapshot query straight over the raw table."""

    name = "etl_update"
    round_s = 20.0  # an ETL, two merges and three checked queries

    def prepare(self):
        self.events = self.path("events.parquet")
        corpora.write_events(self.events, self.seed, corpora.ETL_USERS,
                             corpora.ETL_EVENTS_PER_USER)

    def setup(self, spark):
        from oshdb_spark.plans.layout import read_typed_store, write_typed_store

        self.spark = spark
        self.raw = self.path("raw.parquet")
        self.batches = [self.path(f"batch{k}.parquet")
                        for k in range(corpora.ETL_BATCHES)]
        post = self.path("post.parquet")
        with self.tracer.span("model.generate", op="corpus"):
            t = time.perf_counter()
            corpora.etl_raw_docs(spark, self.seed, self.events) \
                .repartition(corpora.RAW_PARTITIONS).write.parquet(self.raw)
            raw = spark.read.parquet(self.raw)
            for k, p in enumerate(self.batches):
                corpora.changed_docs(raw, k, corpora.ETL_BATCH_MOD, k == 1,
                                     10**12 * (k + 1)).write.parquet(p)
            corpora.post_merge_docs(
                raw, [spark.read.parquet(p) for p in self.batches]
            ).repartition(corpora.RAW_PARTITIONS).write.parquet(post)
            self.generate_s = time.perf_counter() - t
        self.docs_total = raw.count()
        # expected answers: DuckDB over the raw spans (the benchmark's own
        # work, left out of setup_s)
        self.pre = _nonzero(oracles.raw_snapshot_counts(
            self.raw + "/*.parquet", ETL_TS, self.tmp))
        self.post = _nonzero(oracles.raw_snapshot_counts(
            post + "/*.parquet", ETL_TS, self.tmp))
        # reference: a fresh ETL of the post-merge corpus (also the warm-up
        # of the ETL shape)
        ref = self.path("reference")
        with self.tracer.span("plans.write_typed_store", op="reference"):
            self.ref_s, _ = timed(lambda: write_typed_store(
                spark.read.parquet(post), ref))
        self.ref_rows = read_typed_store(spark, ref).count()
        self.ref_answers = self.answers(read_typed_store(spark, ref))
        self.store = self.path("store")
        self.write_s = []
        self.warm_s, _ = timed(self.round)  # untimed warm-up round
        self.ledger.reset()
        self.write_s = []

    def setup_s(self, session_s: float) -> float:
        return session_s + self.generate_s + self.ref_s + self.warm_s

    def view(self, docs):
        from oshdb_spark.api.engine import OSHDB

        return OSHDB(docs).snapshot_view().timestamps(ETL_TS)

    @staticmethod
    def finish(view):
        return (view.aggregate_by_timestamp()
                .aggregate_by("type", "entity_type")
                .aggregate_by("edit", "coalesce(tags['bench'], '-')")
                .count())

    def answers(self, docs) -> dict:
        rows = self.finish(self.view(docs)).collect()
        return {(int(r["ts"]), r["type"], r["edit"]): int(r["cnt"]) for r in rows}

    def round(self):
        from oshdb_spark.plans.layout import (
            read_typed_store,
            update_typed_store,
            write_typed_store,
        )

        spark, store = self.spark, self.store

        def etl():
            write_typed_store(spark.read.parquet(self.raw), store)
            return True, ""

        dt = self.op("etl", etl)
        if dt is not None:
            self.write_s.append(dt)
        self.merge_results = []
        for p in self.batches:
            def merge(p=p):
                res = update_typed_store(spark.read.parquet(p), store)
                self.merge_results.append(res)
                return bool(res["affected_prefixes"]), "no partition rewritten"
            self.op("merge", merge)

        def post_merge():
            got = self.answers(read_typed_store(spark, store))
            rows = read_typed_store(spark, store).count()
            ok = got == self.ref_answers == self.post and rows == self.ref_rows
            return ok, f"rows {rows}/{self.ref_rows} got {got} ref {self.ref_answers}"

        def time_travel():
            got = self.answers(read_typed_store(spark, store, version=1))
            return got == self.pre, f"got {got} want {self.pre}"

        def raw_snapshot():
            got = self.answers(spark.read.parquet(self.raw))
            return got == self.pre, f"got {got} want {self.pre}"

        self.op("store_snapshot", post_merge)
        self.op("time_travel_snapshot", time_travel)
        self.op("raw_snapshot", raw_snapshot)

    def e2e(self, session_s: float) -> dict:
        led = self.ledger
        etl_s = led.med("etl")
        return {
            "setup_s": (self.setup_s(session_s), "s"),
            "ingest_docs_per_s": (self.docs_total / etl_s if etl_s else None, "1/s"),
            "merge_s": (led.med("merge"), "s"),
            "raw_snapshot_s": (led.med("raw_snapshot"), "s"),
            "store_bytes_per_doc": (dir_bytes(self.store) / self.ref_rows, "bytes"),
        }

    # -- traced run hooks -----------------------------------------------------
    def specs(self) -> dict:
        def check(rows):
            got = {(int(r["ts"]), r["type"], r["edit"]): int(r["cnt"]) for r in rows}
            return got == self.pre, f"got {got} want {self.pre}"

        cuts = probes.QueryCuts(lambda: self.spark.read.parquet(self.raw),
                                self.view, self.finish)
        return {"raw_snapshot_s": (cuts, check)}

    def trace_round(self) -> None:
        self.round()  # times the ETL and the merges

    def raw_docs(self):
        return self.spark.read.parquet(self.raw)

    def write_times(self) -> list:
        return self.write_s

    def merge_facts(self) -> dict:
        if len(self.merge_results) < len(self.batches):  # a merge failed
            return {"merge_s": None, "partitions": None, "write_amp": None}
        return merge_facts(self.store, self.merge_results[-1],
                           dir_bytes(self.batches[-1]), self.ledger.med("merge"))


def _median(xs):
    """Median, or None when every execution failed."""
    return statistics.median(xs) if xs else None


def _sum(xs):
    """Sum of the values that are not None; None if all are."""
    vals = [x for x in xs if x is not None]
    return sum(vals) if vals else None


def _nonzero(counts: dict) -> dict:
    return {k: v for k, v in counts.items() if v}


# --------------------------------------------------------------------------
# per-layer metrics
# --------------------------------------------------------------------------


def merge_facts(store, res, changed_bytes, merge_s) -> dict:
    """Partitions the store's latest merge rewrote, and its write
    amplification: bytes of the rewritten partitions plus the archive copy,
    per byte of changed docs."""
    from oshdb_spark.plans.layout import store_snapshots

    affected = res["affected_prefixes"]
    snap_id = store_snapshots(store)[-1]["id"]
    written = sum(dir_bytes(os.path.join(store, f"cell_prefix={p}"))
                  for p in affected)
    written += dir_bytes(os.path.join(store, "_archive", str(snap_id)))
    return {
        "merge_s": merge_s,
        "partitions": len(affected),
        "write_amp": written / changed_bytes,
    }


def layer_metrics(session_s, gen, decode, write, files, merge, deltas, stats) -> dict:
    """The per-layer metrics: layer times are medians of adjacent-cut
    differences summed over the workload's queries; counts are sums."""
    def lay(cut):
        return _sum(_median(d[cut]) for d in deltas.values())

    def tot(key):
        return sum(s.get(key, 0) for s in stats.values())

    scan_docs = tot("scan_docs")
    return {
        "session.start_s": (session_s, "s"),
        "model.generate_s": (gen, "s"),
        "model.decode_s": (decode, "s"),
        "plans.write_s": (write, "s"),
        "plans.store_files": (files, "count"),
        "plans.merge_s": (merge["merge_s"], "s"),
        "plans.merge_partitions": (merge["partitions"], "count"),
        "plans.merge_write_amp": (merge["write_amp"], "ratio"),
        "plans.scan_s": (lay("scan"), "s"),
        "plans.scan_docs": (scan_docs, "count"),
        "plans.scan_useful_ratio": (tot("useful_docs") / scan_docs if scan_docs else 0.0, "ratio"),
        "kernels.prepared_s": (lay("prepared"), "s"),
        "kernels.hop_in_s": (lay("hop_in"), "s"),
        "kernels.null_array_cols": (tot("null_array_cols"), "count"),
        "kernels.py_bytes_in": (tot("py_bytes_in"), "bytes"),
        "kernels.kernel_s": (lay("kernel"), "s"),
        "kernels.py_bytes_out": (tot("py_bytes_out"), "bytes"),
        "kernels.py_rows_out": (tot("py_rows_out"), "count"),
        "kernels.py_time_s": (tot("py_time_s"), "s"),
        "kernels.docs_in": (tot("docs_in"), "count"),
        "kernels.route_node": (tot("route_node"), "count"),
        "kernels.route_way": (tot("route_way"), "count"),
        "kernels.route_relation": (tot("route_relation"), "count"),
        "kernels.route_general": (tot("route_general"), "count"),
        "kernels.input_tasks": (tot("input_tasks"), "count"),
        "geo.boundary_docs": (tot("boundary_docs"), "count"),
        "api.aggregate_s": (lay("aggregate"), "s"),
    }


WORKLOADS = {w.name: w for w in (NodeHistory, MemberHistory, EtlUpdate)}
