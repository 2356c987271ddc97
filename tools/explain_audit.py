"""Physical-plan audit: verify the plans we claim, record them to PLANS.md.

Checks (per query):
- filters pushed to the parquet scan (PushedFilters non-empty)
- partition pruning on the typed store (cell_prefix partition filters)
- broadcast joins where a small side exists (no SortMergeJoin surprises)
- shuffle (Exchange) counts — the engine's core claim is ONE shuffle per
  aggregation, none before the kernel
- WholeStageCodegen presence on relational stages

Usage: python tools/explain_audit.py [sf_dir]  → writes PLANS.md
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")


def plan_of(df, execute: bool = True) -> str:
    formatted = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    if execute:
        # AQE finalizes (and annotates codegen on) the plan only after
        # execution — run the query, then append the executed plan
        df.collect()
        formatted += "\n== Executed ==\n" + (
            df._jdf.queryExecution().executedPlan().toString()
        )
    return formatted


def audit():
    import __spark_entry__ as E
    from oshdb_spark.model.history import SNAPSHOT_TS, docs_from_events
    from oshdb_spark.plans.layout import read_typed_store, write_typed_store
    from oshdb_spark.session import build_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = build_session("explain-audit")
    report = ["# PLANS — physical-plan audit (auto-generated by tools/explain_audit.py)\n"]
    failures = []

    def check(name, df, wants: dict[str, str], forbids: dict[str, str] = {}):
        p = plan_of(df)
        n_exchanges = len(re.findall(r"\bExchange\b", p))
        lines = [f"\n## {name}\n", f"- exchanges (shuffles): {n_exchanges}"]
        for label, pat in wants.items():
            ok = re.search(pat, p) is not None
            lines.append(f"- {label}: {'OK' if ok else 'MISSING'}")
            if not ok:
                failures.append(f"{name}: wanted {label} ({pat})")
        for label, pat in forbids.items():
            bad = re.search(pat, p) is not None
            lines.append(f"- no {label}: {'OK' if not bad else 'VIOLATED'}")
            if bad:
                failures.append(f"{name}: forbidden {label} present")
        head = "\n".join(
            l for l in p.splitlines() if l.strip().startswith(("*(", "+-", "Output", "PushedFilters", "PartitionFilters"))
        )[:2500]
        lines.append("\n```\n" + head + "\n```")
        report.extend(lines)
        return p

    def verdict(name, label, ok):
        report.append(f"- {label}: {'OK' if ok else 'VIOLATED'}")
        if not ok:
            failures.append(f"{name}: {label}")

    def engine_stretch(p):
        """The formatted plan tree above the events → docs derivation:
        model.history's doc-assembly ObjectHashAggregate and the windows
        and shuffles below it are the synthetic workload's, not the
        engine's."""
        tree = p.split("== Executed ==")[0].split("\n(1)")[0]
        return tree.split("ObjectHashAggregate")[0]

    # 1. node snapshot count: the narrow Catalyst as-of route — one
    # narrow stage into the aggregate, so the aggregate's shuffle is the
    # only exchange and nothing below the partial aggregate shuffles
    df = E.q_snapshot_count(spark, sf_dir)
    p = check(
        "snapshot_sql (node fast path)", df,
        wants={"whole-stage codegen": r"codegen id|[*][(][0-9]"},
        forbids={"sort-merge join": r"SortMergeJoin"},
    )
    below = engine_stretch(p).rsplit("HashAggregate", 1)[-1]
    verdict("snapshot_sql", "no Exchange below the aggregate",
            "Exchange" not in below)

    # 1b. geometry-free node counts never enter Python: the flagship, the
    # node count and the bbox+tag count (geometry on, but the reducer
    # reads no row column) plan no Python worker, no window and no
    # Python-RDD frame (the zerofill keys are a LocalTableScan)
    for qname, qdf in (
        ("entry", E.entry(spark)),
        ("snapshot_count", E.q_snapshot_count(spark, sf_dir)),
        ("snapshot_bbox_tag", E.q_snapshot_bbox_tag(spark, sf_dir)),
    ):
        p = check(
            f"{qname} (node count route)", qdf,
            wants={"local key frame": r"LocalTableScan"},
            forbids={
                "python worker": r"MapInPandas|ArrowEvalPython|BatchEvalPython",
                "Python-RDD frame": r"Scan ExistingRDD",
            },
        )
        verdict(qname, "no Window in the engine's plan",
                "Window" not in engine_stretch(p))

    # 2. pandas snapshot kernel (a polygon AOI still takes it): ONE
    # exchange (the final groupBy), none before the kernel
    df = E.q_snapshot_polygon(spark, sf_dir)
    p = check(
        "snapshot_kernel (polygon)", df,
        wants={
            "arrow-batched kernel": r"MapInPandas|ArrowEvalPython",
            "partial aggregate before shuffle": r"HashAggregate",
        },
        forbids={"sort-merge join": r"SortMergeJoin"},
    )
    # no shuffle between the docs input and the kernel: in the formatted
    # plan TREE children print below their parents, so the engine's own
    # stretch (typed decode → prefilter → kernel) is the tree segment
    # from the MapInPandas line down to the first Aggregate below it (the
    # driver derivation's doc-assembly groupBy — its shuffles are the
    # synthetic workload's, not the engine's). That segment must be
    # Exchange-free.
    tree = p.split("== Executed ==")[0].split("\n(1)")[0]
    if "MapInPandas" in tree:
        seg = tree.split("MapInPandas", 1)[1].split("Aggregate")[0]
        if "Exchange" in seg:
            failures.append("snapshot_kernel: shuffle before kernel")
    else:
        failures.append("snapshot_kernel: MapInPandas missing from plan tree")

    # 3. broadcast dim join
    df = E.q_agg_by_index_nation(spark, sf_dir)
    check(
        "agg_by_index_nation", df,
        wants={
            "broadcast hash join": r"BroadcastHashJoin",
            "pushed scan filters or prune": r"ReadSchema",
        },
        forbids={"sort-merge join": r"SortMergeJoin"},
    )

    # 4. typed store partition pruning
    import tempfile

    tmp = tempfile.mkdtemp(prefix="audit_store")
    docs = docs_from_events(spark.read.parquet(f"{sf_dir}/events.parquet"))
    write_typed_store(docs, f"{tmp}/store", prefix_len=2)
    pruned = read_typed_store(spark, f"{tmp}/store", bbox=(0.0, 0.0, 40.0, 40.0))
    check(
        "typed store bbox read", pruned,
        wants={"partition filters on cell_prefix": r"PartitionFilters: \[[^\]]*cell_prefix"},
    )

    # 5. top-k: TakeOrderedAndProject, not global sort
    df = E.q_topk_orders(spark, sf_dir)
    check(
        "topk_orders", df,
        wants={"top-k without full sort": r"TakeOrderedAndProject"},
        forbids={"global Sort node": r"\n[^\n]*Sort \["},
    )

    # 6. exact-dedup: single shuffle into final agg
    df = E.q_dedup_exact(spark, sf_dir)
    check(
        "dedup_exact", df,
        wants={
            "partial+final hash aggregate": r"HashAggregate",
            "whole-stage codegen": r"codegen id|[*][(][0-9]",
        },
    )

    # 7. LSH pairwise embedding dedup: bucket join, NO cartesian product
    df = E.q_dedup_embedding(spark, sf_dir)
    check(
        "dedup_embedding (lsh_neardup_pairs)", df,
        wants={"hash join on bucket": r"HashJoin|ShuffledHashJoin|SortMergeJoin"},
        forbids={
            "cartesian product": r"CartesianProduct",
            "nested-loop join": r"BroadcastNestedLoopJoin",
        },
    )

    # 8. minhash LSH: ids-only bucket join — shingle arrays must NOT be
    # output columns of the bucket-join stage (payload trimmed from the
    # band shuffle; they re-join only for the candidate set)
    df = E.q_dedup_minhash(spark, sf_dir)
    p = check(
        "dedup_minhash (ids-only band join)", df,
        wants={"dedup aggregate": r"HashAggregate"},
        forbids={"cartesian product": r"CartesianProduct"},
    )
    for m in re.finditer(r"Join.*?Output.*?\n", p):
        if "shingles" in m.group(0):
            failures.append("dedup_minhash: shingles payload rides the bucket join")

    # 9. way kernel path: narrow MapInPandas, no shuffle before the kernel
    from oshdb_spark.kernels.snapshot import snapshots
    from oshdb_spark.model.history import way_docs_from_events

    wdocs = way_docs_from_events(spark.read.parquet(f"{sf_dir}/events.parquet"))
    wsnap = (
        snapshots(wdocs, SNAPSHOT_TS, filter_spec=[("type_in", ["way"])])
        .groupBy("ts").count()
    )
    check(
        "way_kernel (vectorized member as-of)", wsnap,
        wants={"arrow-batched kernel": r"MapInPandas"},
        forbids={"sort-merge join": r"SortMergeJoin"},
    )

    # 10. SemDeDup: cluster-keyed equi-join (assignment is a map-side
    # argmin over broadcast-literal centroids), never a cartesian pass
    check(
        "dedup_semantic (cluster-scoped pairs)",
        E.q_dedup_semantic(spark, sf_dir),
        wants={"cluster equi-join": r"HashJoin|ShuffledHashJoin|SortMergeJoin"},
        forbids={
            "cartesian product": r"CartesianProduct",
            "nested-loop join": r"BroadcastNestedLoopJoin",
            "python row udf": r"BatchEvalPython",
        },
    )

    # 11. deterministic sampling: the md5-threshold filter stays a plain
    # codegen Filter (no UDF, no shuffle introduced by sampling itself)
    check(
        "sample_stratified (hash-threshold membership)",
        E.q_sample_stratified(spark, sf_dir),
        wants={
            "codegen filter": r"Filter.*md5|md5.*Filter|\bmd5\b",
            "partial+final hash aggregate": r"HashAggregate",
        },
        forbids={"python row udf": r"BatchEvalPython"},
    )

    # 12. areal interpolation: broadcast join of the weight matrix onto
    # the aggregate table — the big side must not shuffle for the join
    check(
        "areal_interp (broadcast weight matrix)",
        E.q_areal_interp(spark, sf_dir),
        wants={"broadcast hash join": r"BroadcastHashJoin"},
        forbids={
            "sort-merge join": r"SortMergeJoin",
            "cartesian product": r"CartesianProduct",
        },
    )

    # 13. diversity sampling: winners computed on a narrow projection,
    # broadcast back — the payload side must not shuffle for the join,
    # and the skew-safe shape needs BOTH windows (per-partition local
    # top-quota, then global)
    p = check(
        "sample_diversity (winners + broadcast-join)",
        E.q_sample_diversity(spark, sf_dir),
        wants={
            "broadcast winner join": r"BroadcastHashJoin",
            "window top-quota": r"RunningWindowFunction|Window",
        },
        forbids={
            "sort-merge join": r"SortMergeJoin",
            "python row udf": r"BatchEvalPython",
        },
    )
    if len(re.findall(r"\bWindow\b", p.split("== Executed ==")[0])) < 2:
        failures.append(
            "sample_diversity: local+global two-window shape missing"
        )

    # 14. chunk_plan: partition offsets join back as a BROADCAST frame
    # (a create_map literal grows with the partition count)
    check(
        "chunk_plan (broadcast offset join)",
        E.q_chunk_plan(spark, sf_dir),
        wants={"broadcast offset join": r"BroadcastHashJoin"},
        forbids={"sort-merge join": r"SortMergeJoin"},
    )

    # 15. contamination: ids-only ngram-hash join with the benchmark
    # side broadcast — document payloads must not ride the shuffle
    p = check(
        "contamination (broadcast benchmark ngram set)",
        E.q_contamination(spark, sf_dir),
        wants={"broadcast ngram join": r"BroadcastHashJoin"},
        forbids={"cartesian product": r"CartesianProduct"},
    )
    for m in re.finditer(r"BroadcastHashJoin.*?Output.*?\n", p):
        if "text" in m.group(0):
            failures.append("contamination: text payload rides the hash join")

    # 16. batch kNN join: Arrow kernel over the corpus, the only join-side
    # shuffle is the metadata-sized candidate window — and no cartesian
    check(
        "sim_knn_join (local top-k then candidate-only window)",
        E.q_sim_knn_join(spark, sf_dir),
        wants={
            "arrow-batched kernel": r"MapInPandas",
            "window over candidates": r"Window",
        },
        forbids={"cartesian product": r"CartesianProduct"},
    )

    # 17. BM25: scoring is a pure codegen map (zero UDFs); the only
    # aggregate in the SCORING branch is none — stats came from a
    # separate tiny action at build time
    check(
        "text_bm25 (codegen scoring map)",
        E.q_text_bm25(spark, sf_dir),
        wants={"whole-stage codegen": r"codegen id|[*][(][0-9]"},
        forbids={
            "python row UDF": r"BatchEvalPython",
            "arrow kernel in scoring": r"MapInPandas",
            "join": r"Join",
        },
    )

    # 18. PQ ANN: encode + ADC are codegen expressions; candidate top-k is
    # TakeOrderedAndProject (no global sort), re-rank likewise
    check(
        "sim_pq (codegen ADC + TakeOrdered)",
        E.q_sim_pq(spark, sf_dir),
        wants={"take-ordered top-k": r"TakeOrderedAndProject"},
        forbids={
            "python row UDF": r"BatchEvalPython",
            "arrow kernel": r"MapInPandas",
            "global sort": r"\bSort\b(?!.*TakeOrdered)",
        },
    )

    # 19. multimodal pHash near-dup: the hash is ONE narrow Arrow stage
    # over a 2-column projection; pairing is a blocked equi-join — never
    # a cartesian/nested-loop product
    check(
        "media_phash_dedup (blocked equi-join, narrow Arrow hash)",
        E.q_media_phash_dedup(spark, sf_dir),
        wants={"arrow hash kernel": r"MapInPandas",
               "equi-join (broadcast at this SF; SMJ at scale)":
                   r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"},
        forbids={
            "python row UDF": r"BatchEvalPython",
            "cartesian": r"CartesianProduct",
            "nested loop": r"BroadcastNestedLoopJoin",
        },
    )

    # 20b. winnowed substring dedup: fingerprints are generated by pure
    # Catalyst higher-order functions (whole-stage codegen, no Python),
    # the duplicate set flows through hash-keyed joins/aggregates only —
    # no cartesian pairing, no global sort, no row UDF
    check(
        "dedup_substring (codegen winnowing, hash-keyed agg+join)",
        E.q_dedup_substring(spark, sf_dir),
        wants={"hash aggregate": r"HashAggregate",
               "generator (explode of fingerprints)": r"Generate"},
        forbids={
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)": r"MapInPandas",
            "cartesian": r"CartesianProduct",
            "nested loop": r"BroadcastNestedLoopJoin",
        },
    )

    # 21. two-table PBSM spatial join: candidates must meet in a cell-id
    # EQUI-join (hash join — broadcast is fine for this tiny region set;
    # the key is what scales), never a cartesian/nested-loop pairing,
    # and both cell assignments stay in whole-stage codegen (no UDF)
    check(
        "spatial_join_table (cell equi-join, codegen, no cartesian)",
        E.q_spatial_join_table(spark, sf_dir),
        wants={"hash join on the cell key": r"HashJoin",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian": r"CartesianProduct",
            "nested loop": r"BroadcastNestedLoopJoin",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)": r"MapInPandas",
        },
    )

    # 22. as-of join: union-tag + running window — exactly ONE join-free
    # shuffle chain (Exchange on the key + Window sort), never a range
    # join fallback (cartesian / nested loop), all pre/post stages codegen
    check(
        "asof_join_events (union+window, no range join)",
        E.q_asof_join_events(spark, sf_dir),
        wants={"running window": r"\bWindow\b",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian": r"CartesianProduct",
            "nested loop": r"BroadcastNestedLoopJoin",
            "sort-merge join": r"SortMergeJoin",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)": r"MapInPandas",
        },
    )

    # 23. interval overlap join: time-binned PBSM — candidates meet in a
    # (key, bin) EQUI-join, never an inequality nested-loop/cartesian
    check(
        "interval_join_cells (binned equi-join, no NLJ)",
        E.q_interval_join_cells(spark, sf_dir),
        wants={"hash or sort-merge equi-join": r"HashJoin|SortMergeJoin",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian": r"CartesianProduct",
            "nested loop": r"BroadcastNestedLoopJoin",
            "python row UDF": r"BatchEvalPython",
        },
    )

    # 24. weighted sampling: exact top-k must compile to
    # TakeOrderedAndProject (per-partition partial top-k), not a global sort
    check(
        "sample_weighted (TakeOrderedAndProject)",
        E.q_sample_weighted(spark, sf_dir),
        wants={"top-k operator": r"TakeOrderedAndProject",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "global sort": r"\bSort\b.*global=true",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)": r"MapInPandas",
        },
    )

    # 25. incremental dedup: delta-bands × corpus-bands must meet in an
    # EQUI-join on (band, sig) with ids-only payloads — no cartesian, no
    # nested loop, no Python anywhere in the pipeline
    check(
        "dedup_incremental (band equi-join, ids only)",
        E.q_dedup_incremental(spark, sf_dir),
        wants={"hash or sort-merge equi-join": r"HashJoin|SortMergeJoin",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian": r"CartesianProduct",
            "nested loop": r"BroadcastNestedLoopJoin",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)": r"MapInPandas",
        },
    )

    # 26. shard-export manifest: ONE shuffle (the groupBy on shard) fed
    # by a partial HashAggregate — hashing/assignment stay map-side
    check(
        "export_shards (partial agg, one shuffle)",
        E.q_export_shards(spark, sf_dir),
        wants={"partial aggregate": r"HashAggregate.*partial",
               "final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "join (manifest is a single-table agg)": r"Join",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)": r"MapInPandas",
        },
    )

    # 27. focal stats: neighbor fan-out must stay map-side (explode in
    # codegen) with the ONE aggregate shuffle; the present-cell restrict
    # is an equi-join — no python, no cartesian
    check(
        "focal_mean (map-side fan-out, equi-join restrict)",
        E.q_focal_mean(spark, sf_dir),
        wants={"partial aggregate": r"HashAggregate.*partial",
               "hash equi-join": r"HashJoin",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian": r"CartesianProduct",
            "nested loop": r"BroadcastNestedLoopJoin",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)": r"MapInPandas",
        },
    )

    # 28. vocabulary stats: the (group, token) aggregate must combine
    # map-side (partial HashAggregate before its Exchange) so the shuffle
    # is vocabulary-bounded, not corpus-bounded
    check(
        "vocab_stats (vocabulary-bounded shuffle)",
        E.q_vocab_stats(spark, sf_dir),
        wants={"partial aggregate": r"HashAggregate.*partial",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "join (single-table rollup)": r"Join",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)": r"MapInPandas",
        },
    )

    # 29. hybrid retrieval: each arm must be a per-partition top-k
    # (TakeOrderedAndProject), never a global sort of the corpus; the
    # fusion join runs over ≤ k_each rows
    check(
        "hybrid_search (two TakeOrderedAndProject arms)",
        E.q_hybrid_search(spark, sf_dir),
        wants={"top-k operator": r"TakeOrderedAndProject",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian": r"CartesianProduct",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)": r"MapInPandas",
        },
    )

    # 30. Count-Min sketch: build is a partial+final aggregate over the
    # map-side position fan-out; the probe joins the k·m-row sketch via
    # BROADCAST — no python, no cartesian
    check(
        "cms_user_counts (broadcast sketch probe)",
        E.q_cms_user_counts(spark, sf_dir),
        wants={"partial aggregate": r"HashAggregate.*partial",
               "broadcast probe join": r"BroadcastHashJoin",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian": r"CartesianProduct",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)": r"MapInPandas",
        },
    )

    # 31. dissolve (rect slab sweep): pure Catalyst — the interval merge
    # is windows + hash aggregates; no python stage, no cartesian (the
    # slab cover join is an equi-join on the group key)
    check(
        "dissolve_rect (pure-Catalyst slab sweep)",
        E.q_dissolve_rect(spark, sf_dir),
        wants={"interval-merge window": r"Window",
               "partial aggregate": r"HashAggregate.*partial",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian": r"CartesianProduct",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)": r"MapInPandas|FlatMapGroupsInPandas",
        },
    )

    # 32. embedding covariance: ONE narrow Arrow pass over the embedding
    # column (the int64 GEMM), map-side partial agg on position (shuffle
    # is O(#batches·d²), never O(n)), broadcast derivation joins; no SMJ
    check(
        "embedding_covariance (Arrow GEMM + positional partial agg)",
        E.q_embedding_covariance(spark, sf_dir),
        wants={"arrow partials": r"MapInPandas",
               "map-side partial agg": r"HashAggregate.*partial",
               "broadcast derivation join": r"BroadcastHashJoin"},
        forbids={
            "cartesian": r"CartesianProduct",
            "python row UDF": r"BatchEvalPython",
            "sort-merge join": r"SortMergeJoin",
        },
    )

    # 33. polygon-overlay intersection join: candidates meet in a cell-id
    # EQUI-join (hash join), the reference-point dedup is a codegen
    # filter (no distinct/second shuffle), and Python appears only as
    # the ONE Arrow refine stage over surviving pairs — never a
    # cartesian/nested-loop pairing, never a row UDF
    check(
        "overlay_rect (cell equi-join, codegen dedup, one Arrow refine)",
        E.q_overlay_rect(spark, sf_dir),
        wants={"hash join on the cell key": r"HashJoin",
               "arrow refine stage": r"ArrowEvalPython|MapInPandas",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian": r"CartesianProduct",
            "nested loop": r"BroadcastNestedLoopJoin",
            "python row UDF": r"BatchEvalPython",
            "dedup distinct (should be the reference-point filter)":
                r"HashAggregate.*distinct",
        },
    )

    # 34. line-clip overlay join: the whole operator — cell candidates,
    # reference-point dedup, Liang-Barsky slab clipping, equirect length
    # — must be pure Catalyst: a hash equi-join between codegen spans
    # with NO Python stage of any kind and no cartesian/NLJ
    check(
        "overlay_clip_lines (codegen Liang-Barsky, zero Python)",
        E.q_overlay_clip_lines(spark, sf_dir),
        wants={"hash join on the cell key": r"HashJoin",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)",
               "partial aggregate": r"HashAggregate"},
        forbids={
            "cartesian": r"CartesianProduct",
            "nested loop": r"BroadcastNestedLoopJoin",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 35. Gi* hot-spot detection: focal fan-out stays map-side (codegen
    # explode), ONE shuffle by target cell, global moments arrive as a
    # 1-row BROADCAST (the NLJ here is the 1-row global join — that is
    # the scale-correct shape, unlike a data×data NLJ); no Python
    check(
        "hotspot_gi (focal shuffle + 1-row broadcast moments, no Python)",
        E.q_hotspot_gi(spark, sf_dir),
        wants={"partial+final aggregate": r"HashAggregate",
               "broadcast global moments": r"Broadcast",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian": r"CartesianProduct",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
            "sort-merge join (everything should broadcast)":
                r"SortMergeJoin",
        },
    )

    # 36. geofence transitions: fence fan-out is a codegen explode
    # (Generate), the lag is ONE window over (entity, fence) — no joins
    # of any kind, no Python
    check(
        "geofence_transitions (explode + one window, no joins)",
        E.q_geofence_transitions(spark, sf_dir),
        wants={"fence fan-out": r"Generate",
               "lag window": r"\bWindow\b",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "any join": r"Join",
            "cartesian": r"CartesianProduct",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 37. nearest-segment snap join: PBSM cell-cover equi-join between
    # codegen spans, clamped point-to-segment refine and the (dist, sid)
    # argmin all pure Catalyst — ONE hash join + ONE partial+final agg,
    # no cartesian/NLJ/Python anywhere
    check(
        "snap_segments (cell equi-join + codegen argmin, zero Python)",
        E.q_snap_segments(spark, sf_dir),
        wants={"hash join on the cell key": r"HashJoin",
               "partial+final argmin aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian": r"CartesianProduct",
            "nested loop": r"BroadcastNestedLoopJoin",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
            "sort-merge join (cells should hash-join)": r"SortMergeJoin",
        },
    )

    # 38. KDE heatmap: the (2R+1)^2 kernel fan-out is a codegen explode
    # (Generate) of a literal offset array — no join against a kernel
    # table — and the ONLY shuffle is the partial+final aggregate on the
    # target cell; no joins, no window, no Python
    check(
        "kde_events (literal-offset Generate + one agg shuffle)",
        E.q_kde_events(spark, sf_dir),
        wants={"kernel fan-out": r"Generate",
               "partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "any join": r"Join",
            "window (should be map-side fan-out)": r"\bWindow\b",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 39. IDW surface: same contract as the KDE raster — literal-offset
    # Generate fan-out, ONE partial+final agg on the target cell, the
    # round-6 division post-aggregate; no joins/window/Python
    check(
        "idw_surface (literal-offset Generate + one agg shuffle)",
        E.q_idw_surface(spark, sf_dir),
        wants={"kernel fan-out": r"Generate",
               "partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "any join": r"Join",
            "window (should be map-side fan-out)": r"\bWindow\b",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 40. Viterbi map matching: candidates from the PBSM cell equi-join
    # (codegen), per-fix top-C prune via ONE window keyed (entity, fix)
    # BEFORE the entity shuffle (bounds the DP task at n_cand × T), DP
    # as ONE grouped-Arrow stage; no cartesian/NLJ/row-Python
    check(
        "hmm_match (cell equi-join + pruned window + one grouped DP)",
        E.q_hmm_match(spark, sf_dir),
        wants={"hash join on the cell key": r"HashJoin",
               "per-fix prune window": r"\bWindow\b",
               "grouped Arrow DP stage": r"FlatMapGroupsInPandas",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian": r"CartesianProduct",
            "nested loop": r"BroadcastNestedLoopJoin",
            "python row UDF": r"BatchEvalPython",
            "sort-merge join (cells should hash-join)": r"SortMergeJoin",
        },
    )

    # 41. Hausdorff trajectory join: entities collapse to (bbox, packed
    # points) in ONE aggregate, pair candidates meet in the cell
    # equi-join (reference-point dedup — no distinct), the max-min
    # refine is one narrow Arrow stage; no cartesian/NLJ/row-Python
    check(
        "traj_hausdorff (entity summaries + cell equi-join + Arrow refine)",
        E.q_traj_hausdorff(spark, sf_dir),
        wants={"entity collapse aggregate": r"HashAggregate|ObjectHashAggregate",
               "hash join on the cell key": r"HashJoin",
               "arrow refine stage": r"MapInPandas",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian": r"CartesianProduct",
            "nested loop": r"BroadcastNestedLoopJoin",
            "python row UDF": r"BatchEvalPython",
            "dedup distinct (should be the reference-point filter)":
                r"HashAggregate.*distinct",
        },
    )

    # 42. space-time Gi*: the 27-way cube fan-out is a codegen explode,
    # ONE agg shuffle on the (cell, t) bin, global moments arrive as a
    # 1-row broadcast (the NLJ is the 1-row global join — scale-correct,
    # same as audit #35); no Python anywhere
    check(
        "spacetime_hotspots (cube explode + one agg + 1-row broadcast)",
        E.q_spacetime_hotspots(spark, sf_dir),
        wants={"cube fan-out": r"Generate",
               "partial+final aggregate": r"HashAggregate",
               "broadcast global moments": r"Broadcast",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian": r"CartesianProduct",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
            "sort-merge join (bins should hash-join)": r"SortMergeJoin",
        },
    )

    # 43. OD matrix: ONE lag window on the entity key + ONE aggregate —
    # no joins of any kind, no Python
    check(
        "od_matrix (one entity window + one aggregate, no joins)",
        E.q_od_matrix(spark, sf_dir),
        wants={"lag window": r"\bWindow\b",
               "partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "any join": r"Join",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 44. TF-IDF keywords: (doc, token) partial+final agg, doc-frequency
    # hash join on the token key, 1-row broadcast N (the NLJ is the
    # 1-row global join — scale-correct), per-doc top-k window; no
    # cartesian between data-sized sides, no Python
    check(
        "tfidf_keywords (token agg + vocab join + 1-row broadcast + window)",
        E.q_tfidf_keywords(spark, sf_dir),
        wants={"token fan-out": r"Generate",
               "partial+final aggregate": r"HashAggregate",
               "broadcast corpus size": r"Broadcast",
               "top-k window": r"\bWindow\b",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian": r"CartesianProduct",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 45. co-location join: the 9-cell × 3-bucket build-side fan-out is
    # a codegen Generate, every qualifying pair meets in exactly one
    # (cell, bucket) key of ONE hash equi-join (no dedup/distinct), the
    # distance + |Δsec| refine and the mm-quantized aggregate stay in
    # whole-stage codegen — no cartesian/NLJ/SMJ/Python anywhere
    check(
        "colocation_pairs (cell×bucket equi-join, dedup-free, zero Python)",
        E.q_colocation_pairs(spark, sf_dir),
        wants={"replication fan-out": r"Generate",
               "hash join on (cell, bucket)": r"HashJoin",
               "partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian": r"CartesianProduct",
            "nested loop": r"BroadcastNestedLoopJoin",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
            "sort-merge join (cells should hash-join)": r"SortMergeJoin",
            "dedup distinct (pairs meet exactly once)": r"(?i)distinct",
        },
    )

    # 46. DBSCAN: the ε-pair graph is checkpointed once and re-read (scan
    # of an existing RDD, no re-join per consumer); degrees/core filter/
    # border attach are hash joins + partial+final aggregates — no
    # cartesian/NLJ/row-Python anywhere in the final assembled plan
    check(
        "dbscan_fixes (checkpointed ε-graph + hash joins, zero Python)",
        E.q_dbscan_fixes(spark, sf_dir),
        wants={"hash join (core filter / border attach)": r"HashJoin",
               "partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian": r"CartesianProduct",
            "nested loop": r"BroadcastNestedLoopJoin",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 47. circular heading statistics: ONE lag window on the entity key
    # + ONE partial+final aggregate over exact nano-quantized sin/cos
    # integers — no joins, no Python, everything codegen
    check(
        "heading_stats (one window + one agg, zero Python)",
        E.q_heading_stats(spark, sf_dir),
        wants={"lag window": r"\bWindow\b",
               "partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "any join": r"Join",
            "cartesian": r"CartesianProduct",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 48. geohash binning: the whole encode is one int64 codegen
    # expression feeding ONE partial+final aggregate — no joins, no
    # window, no Generate, no Python
    check(
        "geohash_counts (pure-int64 codegen encode + one agg)",
        E.q_geohash_counts(spark, sf_dir),
        wants={"partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "any join": r"Join",
            "window": r"\bWindow\b",
            "fan-out (should be a scalar expression)": r"Generate",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 49. convex hulls: ONE shuffle on the entity key shipping
    # (entity, lon7, lat7) only, the hull in ONE grouped Arrow kernel —
    # no joins, no window, no row-Python
    check(
        "convex_hulls (one entity shuffle + one grouped Arrow kernel)",
        E.q_convex_hulls(spark, sf_dir),
        wants={"grouped Arrow kernel": r"FlatMapGroupsInPandas",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "any join": r"Join",
            "window": r"\bWindow\b",
            "cartesian": r"CartesianProduct",
            "python row UDF": r"BatchEvalPython",
        },
    )

    # 50. retention cohorts: distinct + min-week + two hash joins on the
    # user/cohort keys + aggregates — all codegen, no cartesian/NLJ, no
    # window, no Python
    check(
        "retention_cohorts (hash joins + aggs, zero Python)",
        E.q_retention_cohorts(spark, sf_dir),
        wants={"hash join on user/cohort keys": r"HashJoin",
               "partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian": r"CartesianProduct",
            "nested loop": r"BroadcastNestedLoopJoin",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 51. time-weighted average: ONE lead window on the entity key +
    # ONE partial+final aggregate over exact cents×seconds integers —
    # no joins, no Python
    check(
        "twa_value (one window + one agg, zero Python)",
        E.q_twa_value(spark, sf_dir),
        wants={"lead window": r"\bWindow\b",
               "partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "any join": r"Join",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 52. OHLC bars: ONE partial+final aggregate (min_by/max_by on the
    # packed key) — no window at all, no joins, no Python
    check(
        "ohlc_weekly (single aggregate, no window)",
        E.q_ohlc_weekly(spark, sf_dir),
        wants={"partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "any join": r"Join",
            "window (min_by/max_by beat a window pass)": r"\bWindow\b",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 53. gap-fill: bucket agg, per-entity grid Generate (output-sized,
    # not a cross join), one join of grid to buckets, one running LOCF
    # window — no cartesian, no Python
    check(
        "gapfill_daily (bucket agg + grid Generate + LOCF window)",
        E.q_gapfill_daily(spark, sf_dir),
        wants={"per-entity grid fan-out": r"Generate",
               "grid-to-bucket join": r"Join",
               "LOCF window": r"\bWindow\b",
               "partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian": r"CartesianProduct",
            "nested loop": r"BroadcastNestedLoopJoin",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 54. counter rate: ONE lag window + two aggregates + one join on
    # the entity key — no cartesian, no Python
    check(
        "counter_rate (lag window + aggs + entity join)",
        E.q_counter_rate(spark, sf_dir),
        wants={"lag window": r"\bWindow\b",
               "partial+final aggregate": r"HashAggregate",
               "entity join": r"Join",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian": r"CartesianProduct",
            "nested loop": r"BroadcastNestedLoopJoin",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 55. contour extraction: blocks assemble by corner Generate + ONE
    # aggregate (no self-joins!), levels fan out as a literal explode,
    # the whole marching-squares arithmetic is codegen — no joins, no
    # window, no Python
    check(
        "contour_lines (corner Generate + one agg, no self-joins)",
        E.q_contour_lines(spark, sf_dir),
        wants={"corner/level fan-out": r"Generate",
               "partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "any join (blocks must assemble by aggregation)": r"Join",
            "window": r"\bWindow\b",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 56. last-touch attribution: ONE running last-ignore-nulls window +
    # ONE aggregate — no joins, no Python
    check(
        "attribution_last_touch (one window + one agg)",
        E.q_attribution_last_touch(spark, sf_dir),
        wants={"running last window": r"\bWindow\b",
               "partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "any join": r"Join",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 57. event transitions: lag window + aggregate + normalization
    # window over the 25-row transition matrix — no joins, no Python
    check(
        "event_transitions (lag window + agg + normalize window)",
        E.q_event_transitions(spark, sf_dir),
        wants={"windows": r"\bWindow\b",
               "partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "any join": r"Join",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 58. SAX symbolization: row-index window, moment + PAA aggregates,
    # one entity join, ordered array fold — no cartesian, no Python
    check(
        "sax_symbols (window + aggs + entity join, zero Python)",
        E.q_sax_symbols(spark, sf_dir),
        wants={"row-index window": r"\bWindow\b",
               "partial+final aggregate": r"HashAggregate",
               "entity join": r"Join",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian": r"CartesianProduct",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 59. LTTB downsampling: the sequential per-entity walk runs in ONE
    # grouped Arrow kernel after the single entity shuffle — no joins,
    # no row-UDFs, nothing else
    check(
        "lttb_values (one entity shuffle + one grouped Arrow kernel)",
        E.q_lttb_values(spark, sf_dir),
        wants={"grouped arrow kernel": r"FlatMapGroupsInPandas",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "any join": r"Join",
            "python row UDF": r"BatchEvalPython",
            "window (selection lives in the kernel)": r"\bWindow\b",
        },
    )

    # 60. LISA local Moran: same shape as hotspot_gi — focal shuffle
    # plus 1-row broadcast moment joins, everything codegen
    check(
        "lisa_events (focal shuffle + broadcast moments, no Python)",
        E.q_lisa_events(spark, sf_dir),
        wants={"partial+final aggregate": r"HashAggregate",
               "broadcast global moments": r"Broadcast",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian": r"CartesianProduct",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
            "sort-merge join (everything should broadcast)":
                r"SortMergeJoin",
        },
    )

    # 61. Mann–Kendall trend: pre-aggregated cube, pair self-join on
    # the cell key (T^2 calendar-bounded), tie/count aggregates — no
    # cartesian, no Python
    check(
        "trend_cells (cube self-join on cell key + integer aggs)",
        E.q_trend_cells(spark, sf_dir),
        wants={"pair join on cell": r"Join",
               "partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian": r"CartesianProduct",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 62. standard deviational ellipse: ONE partial+final aggregate on
    # the entity key, scalar codegen ellipse math — no joins, no
    # windows, no Python
    check(
        "sde_tracks (one moment aggregate, scalar ellipse math)",
        E.q_sde_tracks(spark, sf_dir),
        wants={"partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "any join": r"Join",
            "window": r"\bWindow\b",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 63. linear-interpolation gap-fill: grid explode (Generate), the
    # grid left-join, and BOTH bracketing ignore-nulls windows over one
    # ascending (entity, bucket) sort — no Python
    check(
        "interp_daily (grid explode + join + bracketing windows)",
        E.q_interp_daily(spark, sf_dir),
        wants={"grid explode": r"Generate",
               "bracketing windows": r"\bWindow\b",
               "partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian": r"CartesianProduct",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 64. URL canonicalization: the whole normalization ladder is
    # scalar codegen string ops + two hash aggregates — no joins, no
    # windows, no Python
    check(
        "url_domains (codegen string ladder + two aggregates)",
        E.q_url_domains(spark, sf_dir),
        wants={"partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "any join": r"Join",
            "window": r"\bWindow\b",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 65. triangle counting: the wedge self-join and the closing join
    # are hash equi-joins on the oriented source / (s,t) keys; the
    # 1-row triangle total broadcasts — no cartesian, no Python
    check(
        "triangles (degree-oriented wedge joins, broadcast total)",
        E.q_triangles(spark, sf_dir),
        wants={"wedge + closing joins": r"Join",
               "partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian": r"CartesianProduct",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 66. leakage-safe splits: md5-CASE assignment is scalar codegen on
    # top of the URL ladder; one aggregate — no joins, no Python
    check(
        "split_domains (codegen md5-CASE splits + one aggregate)",
        E.q_split_domains(spark, sf_dir),
        wants={"partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "any join": r"Join",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 67. degree assortativity: same canonical-edge + degree joins as
    # triangles, one stub-moment aggregate, broadcast 1-row total
    check(
        "assortativity (degree joins + one moment aggregate)",
        E.q_assortativity(spark, sf_dir),
        wants={"degree joins": r"Join",
               "partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian": r"CartesianProduct",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 68. Horn slope/aspect: one 9x codegen explode + ONE conditional
    # aggregate (no 8-way self-join), inner join back to present cells
    check(
        "slope_cells (9x explode + one conditional-sum aggregate)",
        E.q_slope_cells(spark, sf_dir),
        wants={"direction explode": r"Generate",
               "partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian": r"CartesianProduct",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
            "window": r"\bWindow\b",
        },
    )

    # 69. bounded k-core peel: per-round degree aggregate + semi-joins;
    # localCheckpoint flattens lineage so the FINAL plan (post-loop) is
    # one aggregate deep — no Python, no cartesian
    check(
        "kcore_cells (degree agg + semi-joins per round, flat lineage)",
        E.q_kcore_cells(spark, sf_dir),
        wants={"partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian": r"CartesianProduct",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 70. interval union: one running-max + one running-sum window over
    # the same (entity) sort, two aggregates — no joins, no Python
    check(
        "uptime_islands (gaps-and-islands windows + two aggregates)",
        E.q_uptime_islands(spark, sf_dir),
        wants={"island windows": r"\bWindow\b",
               "partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "any join": r"Join",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 71. weighted median: tie-collapsing aggregate, one running window
    # over collapsed values, broadcast total join, min_by pick
    check(
        "weighted_median (collapse agg + window + broadcast total)",
        E.q_weighted_median(spark, sf_dir),
        wants={"cumulative window": r"\bWindow\b",
               "partial+final aggregate": r"HashAggregate",
               "broadcast total": r"Broadcast",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian": r"CartesianProduct",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
            "sort-merge join (total should broadcast)": r"SortMergeJoin",
        },
    )

    # 72. CUSUM: two running windows over ONE ascending sort + one
    # aggregate — the sequential recursion never runs sequentially
    check(
        "cusum_drift (prefix-sum + running-min windows, one agg)",
        E.q_cusum_drift(spark, sf_dir),
        wants={"running windows": r"\bWindow\b",
               "partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "any join": r"Join",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 73. Spearman: two rank windows + tie-count windows + ONE moment
    # aggregate — no joins, no Python
    check(
        "spearman_quality (rank windows + one moment aggregate)",
        E.q_spearman_quality(spark, sf_dir),
        wants={"rank windows": r"\bWindow\b",
               "partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "any join": r"Join",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 74. OLS trend: ONE partial+final moment aggregate, nothing else
    check(
        "trend_slopes (one moment aggregate)",
        E.q_trend_slopes(spark, sf_dir),
        wants={"partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "any join": r"Join",
            "window (moments need no sort)": r"\bWindow\b",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 75. ACF: totals agg + one hash join back + ONE ordered window
    # computing every lag column + final moment agg; the lag explode is
    # metadata-sized
    check(
        "acf_lags (totals join + one lag window + moment agg)",
        E.q_acf_lags(spark, sf_dir),
        wants={"lag window": r"\bWindow\b",
               "partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian": r"CartesianProduct",
            "broadcast NL join": r"BroadcastNestedLoopJoin",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 76. seasonal indexes: calendar-grid explode (broadcast span), one
    # rows-window, one final aggregate — grid size is calendar-bounded
    check(
        "seasonal_dow (dense-grid explode + centered window + agg)",
        E.q_seasonal_dow(spark, sf_dir),
        wants={"centered window": r"\bWindow\b",
               "broadcast span": r"Broadcast",
               "partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian over data (span must broadcast)":
                r"CartesianProduct",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 77. hexbin: the doubled-lattice assignment is ONE codegen
    # projection straight over the scan + one aggregate — no join, no
    # window, no Python
    check(
        "hex_bins (pure-codegen lattice predicate + one agg)",
        E.q_hex_bins(spark, sf_dir),
        wants={"partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "any join": r"Join",
            "window": r"\bWindow\b",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 78. voronoi: seed argmin is a literal array_min projection — no
    # join at all, then one aggregate
    check(
        "voronoi_assign (codegen array_min + one agg)",
        E.q_voronoi_assign(spark, sf_dir),
        wants={"partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "any join": r"Join",
            "window": r"\bWindow\b",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (should be pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 79. LPA: per-round hash joins + key-partitioned aggregates; no
    # whole-partition windows, no cartesian; flat lineage means the
    # executed plan reads checkpointed RDDs (scan + agg + join only)
    check(
        "lpa_communities (hash joins + partial aggregates per round)",
        E.q_lpa_communities(spark, sf_dir),
        wants={"codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian": r"CartesianProduct",
            "broadcast NL join": r"BroadcastNestedLoopJoin",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (labels stay JVM-side)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 80. Douglas-Peucker: ONE grouped Arrow kernel after one entity
    # shuffle — same shape as simplify_radial/map-matching
    check(
        "dp_tracks (one entity shuffle + grouped Arrow kernel)",
        E.q_dp_tracks(spark, sf_dir),
        wants={"grouped kernel": r"FlatMapGroupsInPandas",
               "codegen feed": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "any join": r"Join",
            "python row UDF": r"BatchEvalPython",
        },
    )

    # 81. token lift: pair fan-out bounded by the per-doc cap; the
    # doc-count side is a 1-row broadcast; marginal joins are hash
    # joins on the token key — no cartesian over pairs
    # (the cap window runs inside the localCheckpoint materialization,
    # so the visible plan starts at the checkpointed vocab scan)
    check(
        "token_lift (capped pair join + broadcast doc count)",
        E.q_token_lift(spark, sf_dir),
        wants={"broadcast total": r"Broadcast",
               "partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian": r"CartesianProduct",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 82. Hampel: ONE ordered window + codegen array projections; the
    # median/MAD picks never leave the JVM, no join
    check(
        "hampel_outliers (one window + array projections)",
        E.q_hampel_outliers(spark, sf_dir),
        wants={"rolling window": r"\bWindow\b"},
        forbids={
            "any join": r"Join",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 83. A/B z-test: one partial+final aggregate + broadcast 1-row
    # control join
    check(
        "ab_test (one aggregate + broadcast control row)",
        E.q_ab_test(spark, sf_dir),
        wants={"partial+final aggregate": r"HashAggregate",
               "broadcast control": r"Broadcast",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "sort-merge join (control must broadcast)": r"SortMergeJoin",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 84. path n-grams: lead windows over ONE sort + one aggregate —
    # row-bounded (no explode), no join
    check(
        "path_ngrams (lead windows + one aggregate)",
        E.q_path_ngrams(spark, sf_dir),
        wants={"lead window": r"\bWindow\b",
               "partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "any join": r"Join",
            "explode (lead windows are row-bounded)": r"Generate",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 85. typo pairs: the deletion-neighborhood join must be a hash
    # join on variant keys — never a cartesian/NL join — with the
    # levenshtein verify AFTER candidate dedup
    check(
        "typo_pairs (variant-key hash join, no cartesian)",
        E.q_typo_pairs(spark, sf_dir),
        wants={"variant fan-out": r"Generate",
               "partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian": r"CartesianProduct",
            "broadcast NL join": r"BroadcastNestedLoopJoin",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 86. Geary's C: two raster-sized focal shuffles + broadcast
    # moments — no window, no Python, no cartesian
    check(
        "geary_events (two focal passes + broadcast moments)",
        E.q_geary_events(spark, sf_dir),
        wants={"partial+final aggregate": r"HashAggregate",
               "broadcast moments": r"Broadcast",
               "focal fan-out": r"Generate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian over data": r"CartesianProduct",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 87. Theil-Sen: pair join over the PRE-AGGREGATED cube + one
    # ordered window — event-volume independent
    check(
        "theil_sen_cells (cube pair join + median window)",
        E.q_theil_sen_cells(spark, sf_dir),
        wants={"median window": r"\bWindow\b",
               "partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian": r"CartesianProduct",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 88/89. trimmed mean + quartiles: one rank window + one aggregate
    # each, no joins
    for nm, q in (
        ("trimmed_mean (rank window + one aggregate)",
         E.q_trimmed_mean),
        ("quartiles_price (rank window + pick aggregate)",
         E.q_quartiles_price),
    ):
        check(
            nm,
            q(spark, sf_dir),
            wants={"rank window": r"\bWindow\b",
                   "partial+final aggregate": r"HashAggregate",
                   "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
            forbids={
                "any join": r"Join",
                "python row UDF": r"BatchEvalPython",
                "arrow stage (pure Catalyst)":
                    r"MapInPandas|ArrowEvalPython",
            },
        )

    # 90. quadkey: pure scalar codegen encode + one aggregate
    check(
        "quadkey_counts (scalar codegen encode + one agg)",
        E.q_quadkey_counts(spark, sf_dir),
        wants={"partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "any join": r"Join",
            "window": r"\bWindow\b",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 91. hex smoothing: 7-offset literal explode + ONE shuffle +
    # present-hex join — the focal_stats shape on the hex lattice
    check(
        "hex_smooth (7-offset explode + one shuffle + hash join)",
        E.q_hex_smooth(spark, sf_dir),
        wants={"offset fan-out": r"Generate",
               "partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian": r"CartesianProduct",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 92. span profile: doc synthesis + posexplode + one aggregate —
    # the span-sequence contract audited without Python
    check(
        "span_profile (doc synthesis + posexplode + one agg)",
        E.q_span_profile(spark, sf_dir),
        wants={"span fan-out": r"Generate",
               "partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "python row UDF": r"BatchEvalPython",
            "arrow stage (pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 93. diversity: two nested partial+final aggregates, nothing else
    check(
        "diversity_profile (two nested aggregates)",
        E.q_diversity_profile(spark, sf_dir),
        wants={"partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "any join": r"Join",
            "window": r"\bWindow\b",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 94. waypoints: two windows over ONE per-entity sort + a
    # 3-element literal explode — no join, no kernel
    check(
        "track_waypoints (two windows + literal explode)",
        E.q_track_waypoints(spark, sf_dir),
        wants={"cumulative windows": r"\bWindow\b",
               "fraction fan-out": r"Generate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "any join": r"Join",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 95. OD anomalies: marginal hash joins + broadcast 1-row total
    check(
        "od_anomalies (marginal joins + broadcast total)",
        E.q_od_anomalies(spark, sf_dir),
        wants={"hop window": r"\bWindow\b",
               "partial+final aggregate": r"HashAggregate",
               "broadcast total": r"Broadcast",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian over data": r"CartesianProduct",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 96. tile changes: the two snapshot counts reuse one versions
    # scan shape; full-outer hash join on the cell key
    check(
        "tile_changes (two snapshot aggs + full-outer cell join)",
        E.q_tile_changes(spark, sf_dir),
        wants={"versioning window": r"\bWindow\b",
               "partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian": r"CartesianProduct",
            "broadcast NL join": r"BroadcastNestedLoopJoin",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 97. calibration: ONE partial+final aggregate
    check(
        "calibration (one aggregate)",
        E.q_calibration(spark, sf_dir),
        wants={"partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "any join": r"Join",
            "window": r"\bWindow\b",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 98. rank normalize: windows over one group sort, no joins
    check(
        "rank_normalize (rank windows, no join)",
        E.q_rank_normalize(spark, sf_dir),
        wants={"rank windows": r"\bWindow\b",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "any join": r"Join",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 99. rolling DAU: bounded fan-out + ONE distinct aggregate
    # (Expand) + broadcast span clip
    check(
        "rolling_dau (bounded fan-out + one distinct aggregate)",
        E.q_rolling_dau(spark, sf_dir),
        wants={"window fan-out": r"Generate",
               "multi-distinct expand": r"Expand",
               "partial+final aggregate": r"HashAggregate",
               "broadcast span": r"Broadcast",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian over data": r"CartesianProduct",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 100. BPE: per-round pair counts are one explode + partial+final
    # aggregate over the bounded VOCABULARY; winners are 1-row
    # collects; no Python in any distributed stage
    check(
        "bpe_merges (vocab pair aggregate, no distributed Python)",
        E.q_bpe_merges(spark, sf_dir),
        wants={},
        forbids={
            "python row UDF": r"BatchEvalPython",
            "arrow stage (pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
            "cartesian": r"CartesianProduct",
        },
    )

    # 101. dispersion: two aggregates + broadcast 1-row span — the
    # closed form needs no calendar explode
    check(
        "dispersion_events (two aggregates + broadcast span)",
        E.q_dispersion_events(spark, sf_dir),
        wants={"partial+final aggregate": r"HashAggregate",
               "broadcast span": r"Broadcast",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "calendar explode (closed form)": r"Generate",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 102. skyline: collapse aggregate + per-a window + ONE global
    # range window over the DISTINCT score domain (score-domain-sized,
    # not corpus-sized) — no join, no cartesian (the oracle's O(n²)
    # NOT EXISTS stays in DuckDB)
    check(
        "skyline_docs (collapse + windows, no join)",
        E.q_skyline_docs(spark, sf_dir),
        wants={"dominance windows": r"\bWindow\b",
               "collapse aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "any join": r"Join",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 103. KS: value collapse + running windows over the DISTINCT
    # pooled domain + broadcast totals + one argmax aggregate
    check(
        "ks_drift (collapse + ECDF windows + broadcast totals)",
        E.q_ks_drift(spark, sf_dir),
        wants={"ECDF windows": r"\bWindow\b",
               "partial+final aggregate": r"HashAggregate",
               "broadcast totals": r"Broadcast",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "sort-merge join (totals must broadcast)": r"SortMergeJoin",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 104/105. Gini inequality + Mann-Whitney U: rank windows + one
    # aggregate; MWU adds a broadcast tie-totals join
    check(
        "gini_spend (rank window + one aggregate)",
        E.q_gini_spend(spark, sf_dir),
        wants={"rank window": r"\bWindow\b",
               "partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "any join": r"Join",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )
    check(
        "mwu_drift (pooled rank windows + broadcast tie totals)",
        E.q_mwu_drift(spark, sf_dir),
        wants={"rank windows": r"\bWindow\b",
               "partial+final aggregate": r"HashAggregate",
               "broadcast ties": r"Broadcast",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "sort-merge join (ties must broadcast)": r"SortMergeJoin",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 106. CCF: dense-grid broadcast span + ONE lead/lag window + one
    # aggregate; metadata-sized lag explode
    check(
        "ccf_lags (dense grid + one lead/lag window + agg)",
        E.q_ccf_lags(spark, sf_dir),
        wants={"lead/lag window": r"\bWindow\b",
               "partial+final aggregate": r"HashAggregate",
               "broadcast span/totals": r"Broadcast",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian over data": r"CartesianProduct",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 107. hex pyramid: three codegen lattice assignments + three
    # aggregates, one scan of the points (upper levels re-bin CENTERS)
    check(
        "hex_pyramid (chained lattice assignments, one point scan)",
        E.q_hex_pyramid(spark, sf_dir),
        wants={"partial+final aggregate": r"HashAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "any join": r"Join",
            "window": r"\bWindow\b",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 108. DTW join: PBSM candidate stage + ONE narrow Arrow refine —
    # the hausdorff_join shape with ordered arrays; no cartesian
    check(
        "dtw_pairs (PBSM candidates + one Arrow DP refine)",
        E.q_dtw_pairs(spark, sf_dir),
        wants={"arrow refine": r"MapInPandas",
               "partial+final aggregate": r"HashAggregate",
               "codegen feed": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian": r"CartesianProduct",
            "broadcast NL join": r"BroadcastNestedLoopJoin",
            "python row UDF": r"BatchEvalPython",
        },
    )

    # 108b. DTW candidate-count: with the near-global 5,000 km budget
    # the padded bboxes overlap almost everywhere, so the codegen lower
    # bounds (endpoint + Keogh-style bbox envelope) must do the real
    # pruning — the pairs reaching the O(la·lb) Arrow DP must be a
    # small fraction of all entity pairs, or a 100× scale-up goes
    # quadratic in refined pairs
    from oshdb_spark.geo.trajectory import dtw_join as _dtw_join

    _dtw_pts = E._dtw_points(spark, sf_dir)
    n_ents = _dtw_pts.select("entity").distinct().count()
    n_cand = _dtw_join(
        _dtw_pts, 5_000_000.0, _return_candidates=True
    ).count()
    n_allpairs = n_ents * (n_ents - 1) // 2
    frac = n_cand / max(1, n_allpairs)
    report.append(
        f"\n## dtw candidate pruning\n- entities: {n_ents}; all pairs: "
        f"{n_allpairs}; refined candidates after codegen lower bounds: "
        f"{n_cand} ({frac:.1%})"
    )
    if frac > 0.15:
        failures.append(
            f"dtw_pairs: lower bounds prune too little "
            f"({n_cand}/{n_allpairs} = {frac:.1%} refined)"
        )

    # 109. changepoints: one ordered window pass + two argmax
    # aggregates + a level-1 winners hash join — no Python
    check(
        "changepoints (window pass + argmax aggregates)",
        E.q_changepoints(spark, sf_dir),
        wants={"prefix windows": r"\bWindow\b",
               # struct-max argmax compiles to Sort/ObjectHashAggregate
               "argmax aggregates":
                   r"HashAggregate|ObjectHashAggregate|SortAggregate",
               "codegen span": r"WholeStageCodegen|\*\(\d+\)"},
        forbids={
            "cartesian": r"CartesianProduct",
            "python row UDF": r"BatchEvalPython",
            "arrow stage (pure Catalyst)":
                r"MapInPandas|ArrowEvalPython",
        },
    )

    # 110. ivf_ann routed at k > _ROUTE_EXPR_MAX_K: assignment must be
    # the Arrow GEMM pandas UDF — the plan must carry NO unrolled
    # O(k·dim) centroid-literal argmax tree (the named_struct('c', …)
    # fold the small-k codegen path builds), so realistic IVF centroid
    # counts (4k-65k) never hit plan/codegen limits
    from oshdb_spark.ops import similarity as _sim

    emb_ivf = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q_vec = [float(x) for x in emb_ivf.orderBy("vec_id").head()["embedding"]]
    check(
        "ivf_ann_routed (Arrow GEMM assignment at k=128 > 64)",
        _sim.ivf_ann(emb_ivf, q_vec, k=10, n_centroids=128, n_probe=8),
        wants={"arrow routing udf": r"ArrowEvalPython"},
        forbids={
            "unrolled centroid argmax literals": r"named_struct\('c'",
            "python row UDF": r"BatchEvalPython",
            "cartesian": r"CartesianProduct",
        },
    )

    # 20. polygon-refined store read: the partition predicate must reach
    # the scan as PartitionFilters, and for this diagonal AOI the polygon
    # cover must name FEWER prefixes than the bbox cover
    import numpy as np

    from oshdb_spark.geo import cells as _cells

    poly = [np.array(
        [(-60.0, -60.0), (-40.0, -60.0), (60.0, 60.0), (40.0, 60.0),
         (-60.0, -60.0)], dtype=np.float64)]
    bbox7 = tuple(int(x * 10**7) for x in (-60, -60, 60, 60))
    n_poly = len(_cells.cover_tokens_polygon([poly], 4, enlarge=True))
    n_bbox = len(_cells.cover_tokens(bbox7, 4, enlarge=True))
    report.append(
        f"\n## polygon cover refinement\n- tokens at level 4: polygon "
        f"{n_poly} vs bbox {n_bbox}"
    )
    if not n_poly < n_bbox:
        failures.append("polygon cover not smaller than bbox cover")
    pdf2 = read_typed_store(spark, tmp + "/store", bbox=(-60, -60, 60, 60), polygon=[poly[0]])
    p = plan_of(pdf2)
    if "PartitionFilters" not in p or "cell_prefix" not in p:
        failures.append("polygon store read: PartitionFilters missing")
    report.append("- PartitionFilters on polygon read: OK")

    with open("PLANS.md", "w") as f:
        f.write("\n".join(report) + "\n")
    print("PLANS.md written")
    if failures:
        print("AUDIT FAILURES:")
        for x in failures:
            print(" -", x)
        sys.exit(1)
    print("ALL PLAN CHECKS PASS")


if __name__ == "__main__":
    audit()
