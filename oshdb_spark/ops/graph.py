"""Distributed connected components — near-duplicate GROUP resolution.

Pair-emitting dedup operators (``minhash_lsh_pairs``, ``lsh_neardup_pairs``,
``simhash_neardup_pairs``) leave the caller with an edge list; a real
corpus-dedup pipeline must resolve those edges into duplicate GROUPS and
keep one canonical document per group. That closure is a connected-
components computation, and at 10^12 documents it must run in O(log n)
rounds of pure shuffles — no driver-side union-find, no vertex-program
framework.

Implemented with the alternating large-star / small-star algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14):

- ``large-star``: every node points its LARGER neighbours at its minimum
  neighbour (incl. itself) — breaks long chains geometrically;
- ``small-star``: every node folds its smaller-or-equal neighbourhood
  onto the minimum — forms stars.

Each round is two groupBy-min aggregations plus a join, all Catalyst
built-ins (map-side partial min, one shuffle each). Edge sets shrink
monotonically toward per-component stars rooted at the minimum id;
convergence is detected with a tiny (count, sums, hash-sum) aggregate —
one k-row action per round, O(log n) rounds total. ``localCheckpoint``
truncates lineage each round so plans stay constant-size.

Labels are min-ids: deterministic, independent of partitioning and input
row order (every step is a min / set-dedup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame


def _canon(e: DataFrame) -> DataFrame:
    """(big, small) canonical directed edges, self-loops dropped."""
    return (
        e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("_mv"))
        .select("u", F.least("_mv", F.col("u")).alias("m"))
    )
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    canon = _canon(e)
    mins = canon.groupBy("u").agg(F.min("v").alias("m"))
    to_small = canon.join(mins, "u").select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    to_self = mins.select(F.col("u"), F.col("m").alias("v"))
    return to_small.union(to_self).filter(F.col("u") != F.col("v")).distinct()


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    check_every: int = 2,
) -> DataFrame:
    """Component label per node: ``(node, component)`` where component is
    the minimum node id reachable from it. Nodes appearing in ``edges``
    only — union isolated nodes with ``component = node`` at the call
    site. Ids must be orderable (long/int/string).

    The convergence signature (a 4-scalar aggregate over the cached
    round result) is collected only every ``check_every`` rounds: the
    fixpoint is absorbing, so a signature equal to the one from
    ``check_every`` rounds ago proves convergence — at worst
    ``check_every − 1`` no-op rounds run before detection, and driver
    round-trips on deep components halve (the per-round localCheckpoint
    job must run regardless; the signature job was the extra trip)."""
    e = _canon(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    ).localCheckpoint()

    check_every = max(1, int(check_every))
    prev = None
    converged = False
    for i in range(max_iter):
        e = _small_star(_large_star(e)).localCheckpoint()
        if (i + 1) % check_every and i + 1 < max_iter:
            continue  # skip the signature collect this round
        h = F.xxhash64("u", "v")
        sig = e.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: ANSI-safe against int64 overflow
            F.sum(h.cast("decimal(38,0)")).alias("h"),
            F.min(h).alias("lo"),
            F.max(h).alias("hi"),
        ).collect()[0]
        key = tuple(sig)
        if key == prev:
            converged = True
            break
        prev = key
    if not converged:
        raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")

    # converged: stars (child -> root); roots label themselves
    children = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("node"), F.col("v").alias("component"))
    return children.union(roots).distinct()


def keep_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Near-dedup GROUP resolution: resolve duplicate pairs into
    components and keep only each component's minimum-id document
    (isolated documents always survive). The drop-list is duplicate-count
    sized; the left-anti join hashes on the id only (AQE broadcasts it
    when small, falls back to a shuffled hash join when the duplicate
    fraction is large — both shapes never move the document payload twice)."""
    labels = connected_components(pairs, src=id_a, dst=id_b)
    losers = labels.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("_drop_id")
    )
    return df.join(losers, df[id_col] == F.col("_drop_id"), "left_anti")


def pagerank(
    edges: DataFrame,
    n_iter: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    quantize: int = 6,
) -> DataFrame:
    """Distributed PageRank over a directed edge table — the canonical
    iterative join+aggregate (link/citation/interaction centrality in a
    crawl graph; which pages to keep when a dup cluster collapses).

    Semantics (what the DuckDB oracle replays with unrolled per-iteration
    CTEs, the kmeans precedent): edges deduped; uniform 1/out_degree
    contribution; rank := round((1-d)/N + d·Σ_in rank/out_deg, quantize)
    per iteration; dangling-node mass is NOT redistributed (their rank
    still receives the teleport term). Quantizing each iteration's ranks
    pins the cross-engine float contract — only the Σ order can differ,
    and the quantization absorbs its last-ulp noise (same determinism
    recipe as ops/clustering.kmeans_train).

    Scale posture per iteration: ONE data-sized shuffle (the groupBy dst
    of edge contributions); ranks (N rows) join the edge table on src —
    AQE broadcasts when small, shuffles otherwise; the (edge, out_deg)
    join is hoisted OUT of the loop and localCheckpoint()ed, so each
    iteration's lineage is one join + one aggregate deep (no exponential
    plan growth — connected_components' recipe)."""
    e = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_t"))
        .distinct()
    )
    nodes = (
        e.select(F.col("_s").alias("node"))
        .union(e.select("_t"))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    od = e.groupBy("_s").agg(F.count(F.lit(1)).alias("_d"))
    ed = e.join(od, "_s").localCheckpoint()  # (_s, _t, _d)

    import math

    # half-away-from-zero (= SQL round()); python round() is banker's
    r0 = math.floor(1.0 / n * 10**quantize + 0.5) / 10**quantize
    base = (1.0 - damping) / n
    ranks = nodes.select("node", F.lit(float(r0)).alias("rank"))
    for _ in range(n_iter):
        contrib = (
            ed.join(ranks, ed["_s"] == ranks["node"])
            .select("_t", (F.col("rank") / F.col("_d")).alias("_c"))
        )
        sums = contrib.groupBy("_t").agg(F.sum("_c").alias("_sum"))
        ranks = (
            nodes.join(sums, nodes["node"] == sums["_t"], "left")
            .select(
                "node",
                F.round(
                    F.lit(base)
                    + F.lit(damping) * F.coalesce("_sum", F.lit(0.0)),
                    quantize,
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks


def sssp(
    edges: DataFrame,
    sources: list[int],
    n_iter: int = 8,
    src: str = "src",
    dst: str = "dst",
    w: str = "w",
) -> DataFrame:
    """Multi-source weighted shortest paths: bounded-hop Bellman-Ford
    over the min-plus semiring with EXACT int64 weights — the routing /
    travel-cost-field primitive (e.g. cheapest observed path cost from
    depot cells to every reachable cell of a movement network).

    Semantics (what the DuckDB oracle replays with one recursive CTE):
    parallel edges collapse to their min weight; layer k holds the best
    cost over walks of EXACTLY k edges from any source; the answer per
    node is the min across layers 0..n_iter. With non-negative weights
    min-over-walks = min-over-paths, so distances are EXACT for every
    node whose shortest path uses ≤ n_iter edges (callers size n_iter
    to the graph's hop diameter; unreached nodes are absent). All
    arithmetic is int64 min/+ — no floats, no quantization, identical
    on any engine and any partitioning.

    Scale posture per iteration: ONE data-sized shuffle (groupBy dst of
    relaxations) plus one join of the frontier against the edge table
    (AQE broadcasts small frontiers); a best-so-far anti-prune drops
    frontier entries that cannot improve, so frontiers shrink as the
    wave settles; localCheckpoint truncates lineage per round
    (pagerank's recipe — iteration k costs the same as iteration 1)."""
    e = (
        edges.groupBy(F.col(src).alias("_s"), F.col(dst).alias("_t"))
        .agg(F.min(w).alias("_w"))
        .localCheckpoint()
    )
    spark = edges.sparkSession
    best = local_frame(
        spark, [(int(s), 0) for s in sorted(set(sources))], "node long, dist long"
    )
    frontier = best
    for _ in range(n_iter):
        relax = (
            frontier.join(e, frontier["node"] == e["_s"])
            .select(
                F.col("_t").alias("node"),
                (F.col("dist") + F.col("_w")).alias("dist"),
            )
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        # anti-prune: a relaxation that does not beat best-so-far can
        # never contribute a better downstream walk either (weights >= 0)
        frontier = (
            relax.join(
                best.select(
                    F.col("node").alias("_bn"), F.col("dist").alias("_bd")
                ),
                relax["node"] == F.col("_bn"),
                "left",
            )
            .filter(F.col("_bd").isNull() | (F.col("dist") < F.col("_bd")))
            .select("node", "dist")
            .localCheckpoint()
        )
        if frontier.isEmpty():
            break
        best = (
            best.union(frontier)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
    return best


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Global triangle count + clustering coefficient — the classic
    distributed-join graph analytic (Suri & Vassilvitskii's MR
    node-iterator++): canonicalize the undirected edge set, then orient
    every edge from its LOWER-(degree, id) endpoint to the higher one.
    Orientation is the skew defense: out-degree is bounded by O(√m)
    even on a star graph, so the wedge self-join never explodes on a
    celebrity node. Wedges (a→b, a→c) with b before c in the SAME
    order close into triangles exactly when the oriented edge b→c
    exists — each triangle is found exactly once.

    The order comparison rides the join as a lexicographic predicate on
    the carried (degree, id) pair — no global rank window (which would
    single-partition at scale). All counts exact int64; the global
    clustering coefficient 3·T / Σ C(d,2) is one double division,
    round(6). Returns ONE row:
    (n_nodes, n_edges, n_wedges, n_triangles, clustering)."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("n"))
        .union(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("_du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("_dv"))
    ed = e.join(du, "u").join(dv, "v")
    fwd = (F.col("_du") < F.col("_dv")) | (
        (F.col("_du") == F.col("_dv")) & (F.col("u") < F.col("v"))
    )
    o = ed.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("t"),
        F.when(fwd, F.col("_dv")).otherwise(F.col("_du")).alias("dt"),
    )
    e1, e2 = o.alias("e1"), o.alias("e2")
    lex = (F.col("e1.dt") < F.col("e2.dt")) | (
        (F.col("e1.dt") == F.col("e2.dt"))
        & (F.col("e1.t") < F.col("e2.t"))
    )
    wedge = e1.join(e2, (F.col("e1.s") == F.col("e2.s")) & lex).select(
        F.col("e1.t").alias("s"), F.col("e2.t").alias("t")
    )
    tri = wedge.join(o.select("s", "t"), ["s", "t"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    tots = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        # both sums are even integers well under 2^53, so the halving
        # double division is exact on both engines
        (F.sum("d") / 2).cast("long").alias("n_edges"),
        (F.sum(F.col("d") * (F.col("d") - 1)) / 2).cast("long").alias(
            "n_wedges"
        ),
    )
    return tots.crossJoin(F.broadcast(tri)).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.round(
            3.0 * F.col("n_triangles").cast("double")
            / F.col("n_wedges").cast("double"),
            6,
        ).alias("clustering"),
    )


def assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002) — does the graph
    wire hubs to hubs (r > 0, social networks) or hubs to leaves
    (r < 0, infrastructure)? Pearson correlation of endpoint degrees
    over directed stubs; each undirected edge contributes both
    orientations, so with M = 2m:

        r = (M·Σxy − Sx²) / (M·Sxx − Sx²),
        Σxy = 2·Σ du·dv,  Sx = Σ(du+dv),  Sxx = Σ(du²+dv²)

    Every sum is an exact int64 over the canonical edge set (the same
    degree join triangle_count uses); one double division, round(6).
    Returns ONE row (n_nodes, n_edges, assortativity) — null r for
    degree-regular graphs (zero variance)."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("n"))
        .union(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("_du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("_dv"))
    ed = e.join(du, "u").join(dv, "v")
    s = ed.agg(
        F.count(F.lit(1)).alias("_m"),
        F.sum(F.col("_du") + F.col("_dv")).alias("_sx"),
        F.sum(
            F.col("_du") * F.col("_du") + F.col("_dv") * F.col("_dv")
        ).alias("_sxx"),
        F.sum(2 * F.col("_du") * F.col("_dv")).alias("_sxy"),
    )
    nn = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    big = 2 * F.col("_m")
    num = big * F.col("_sxy") - F.col("_sx") * F.col("_sx")
    den = big * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    return nn.crossJoin(F.broadcast(s)).select(
        "n_nodes",
        F.col("_m").alias("n_edges"),
        F.when(
            den != 0,
            F.round(num.cast("double") / den.cast("double"), 6),
        ).alias("assortativity"),
    )


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int = 8,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Bounded k-core peeling: repeatedly delete nodes whose degree in
    the SURVIVING subgraph is < k — the standard cohesion filter (spam
    rings and crawl link-farms live in high cores; tendrils and leaves
    do not). Like `sssp`'s bounded Bellman-Ford, the operator's
    CONTRACT is exactly ``rounds`` synchronous peel rounds (the DuckDB
    oracle unrolls the same rounds as plain CTE layers); on graphs
    whose peel converges faster the result IS the k-core, and each
    round is detectable as converged from the returned count.

    Each round: one degree aggregate over surviving edges + two
    semi-joins to drop edges with a deleted endpoint — all hash
    shuffles on node keys, O(rounds) passes, `localCheckpoint` keeps
    lineage flat (connected_components' recipe). Returns (node, degree)
    for nodes still meeting the k threshold in the final surviving
    subgraph (one more degree filter after the last peel — mirrored
    verbatim by the oracle)."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    for _ in range(rounds):
        deg = (
            e.select(F.col("u").alias("n"))
            .union(e.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("n").localCheckpoint()
        e = (
            e.join(keep, e["u"] == keep["n"], "left_semi")
            .join(keep, e["v"] == keep["n"], "left_semi")
            .localCheckpoint()
        )
    deg = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.filter(F.col("degree") >= k)


def label_propagation(
    edges: DataFrame,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation community detection (LPA,
    Raghavan 2007): every node starts with its own id as label; each
    round it adopts the most frequent label among its NEIGHBORS
    (deterministic ties: highest count, then smallest label — the
    classic random tie-break replaced by a total order so both engines
    replay the same trajectory). Like `kcore_peel`/`sssp`, the
    CONTRACT is exactly ``rounds`` synchronous rounds — the DuckDB
    oracle unrolls them as plain CTE layers; on graphs that converge
    faster the result is the LPA fixed point.

    Each round is one hash join (adjacency × labels) + one
    (node, label) count aggregate + one max(struct(cnt, −label))
    aggregate — all key-partitioned shuffles, no windows over whole
    partitions, `localCheckpoint` keeps lineage flat. Skewed hub
    nodes partial-aggregate map-side before the shuffle. Returns
    (node, label)."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    adj = e.union(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()
    labels = (
        adj.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(rounds):
        nbr = adj.join(
            labels, adj["v"] == labels["node"], "inner"
        ).select(F.col("u").alias("n"), "lbl")
        cnt = nbr.groupBy("n", "lbl").agg(
            F.count(F.lit(1)).alias("c")
        )
        labels = (
            cnt.groupBy(F.col("n").alias("node"))
            .agg(
                F.max(
                    F.struct(
                        F.col("c"), (-F.col("lbl")).alias("neg"),
                        F.col("lbl"),
                    )
                ).alias("m")
            )
            .select("node", F.col("m.lbl").alias("lbl"))
            .localCheckpoint()
        )
    return labels.select("node", F.col("lbl").alias("label"))
