"""Physical layout: Hilbert-prefix partitioning + hot-cell salting.

The storage analog of the reference's grid tables (grid_node/way/relation
keyed by (level, id), TableNames.java:31-43), re-designed for Iceberg-style
partition pruning:

- every doc gets its Hilbert cell token (variable level, prefix-hierarchical)
- the PARTITION key is the fixed-length token prefix `cell_prefix`
  (ancestor cell at level = prefix_len); files are sorted by full token →
  Hilbert-ordered locality within partitions
- hot prefixes (dense urban tiles — the skew the reference never handles,
  its insert rule size-bounds cells but not tiles, XYGridTree.java:89-97)
  are salted: `cell_salt = pmod(hash(doc_id), k)` with k chosen per prefix
  from the observed histogram, so no single write/read task exceeds
  ~target_rows
- queries prune with cover_prefixes(bbox) → `cell_prefix IN (...)` which
  parquet/Iceberg turns into partition pruning, plus the doc-level bbox
  predicate for row-group pruning.

This sandbox has no Iceberg jars, so the writer targets partitioned
parquet through the same API shape (`partitionBy(cell_prefix)`); on a real
cluster swap the final write of `_write_cells` for
`df.writeTo(table).partitionedBy(col)`.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geo import cells

# Bumped whenever the encoder's projection (kernels.snapshot.encode_docs)
# changes shape — readers refuse mismatched stores instead of failing
# mid-query with UNRESOLVED_COLUMN. v2: + rvrefrole (member roles feed
# in-kernel multipolygon assembly). v3: drops the multipolygon-type flag
# column no reader used.
STORE_SCHEMA_VERSION = 3


def salt_plan(
    df: DataFrame, key: str = "cell_prefix", target_rows: int = 100_000
) -> dict[str, int]:
    """Per-prefix salt counts from the observed histogram: k = ceil(rows /
    target_rows). One tiny aggregation; result is broadcast-sized (≤ 4^L
    prefixes)."""
    hist = df.groupBy(key).agg(F.count(F.lit(1)).alias("n")).collect()
    return _salts({r[key]: r["n"] for r in hist}, target_rows)


def _salts(rows_per_key: dict[str, int], target_rows: int) -> dict[str, int]:
    return {
        k: max(1, int(-(-n // target_rows))) for k, n in rows_per_key.items()
    }


def with_salt(
    df: DataFrame,
    plan: dict[str, int],
    key: str = "cell_prefix",
    id_col: str = "doc_id",
) -> DataFrame:
    """`cell_salt` column: pmod(hash(id), k(prefix)); k=1 prefixes get 0.
    The (prefix, salt) pair is the shuffle/write key — a hot tile fans out
    over k tasks, matching the north rule's explicit skew handling."""
    hot = {k: v for k, v in plan.items() if v > 1}
    if not hot:
        return df.withColumn("cell_salt", F.lit(0))
    mapping = F.create_map(
        *[F.lit(x) for kv in hot.items() for x in kv]
    )
    k = F.coalesce(mapping[F.col(key)], F.lit(1))
    return df.withColumn(
        "cell_salt", F.pmod(F.hash(F.col(id_col)), k).cast("int")
    )


def _write_cells(
    df: DataFrame,
    path: str,
    target_rows: int,
    manifest_level: int = 6,
    dynamic: bool = False,
) -> tuple[dict[str, int], dict[str, int]]:
    """The store write tail: partition dirs by cell_prefix, files shuffled
    by (prefix, salt), rows sorted by full Hilbert token (spatial locality
    within files). ``dynamic`` overwrites only the partitions ``df``
    holds.

    ONE aggregate over (cell_prefix, manifest cell) yields both the salt
    histogram and the cell-count manifest, so the input is evaluated
    twice (aggregate + write). Docs whose insert-level token is SHORTER
    than manifest_level span several manifest cells; rpad-assigning them
    to the SW '0…' child would locally OVERstate that cell's count, and
    knn_batch's proven-radius rule (geo.spatial_join) treats counts as
    upper bounds per cell — overstating can stop radius expansion too
    early and break exactness. Excluding them only UNDERcounts, which
    merely grows the radius (still exact); the final disk scan sees every
    row anyway. Returns (salt plan, manifest counts)."""
    cell = F.when(
        F.length("cell") >= manifest_level,
        F.expr(f"substring(cell, 1, {manifest_level})"),
    )
    per_prefix: dict[str, int] = {}
    counts: dict[str, int] = {}
    for r in (
        df.groupBy("cell_prefix", cell.alias("_c"))
        .agg(F.count(F.lit(1)).alias("n")).collect()
    ):
        per_prefix[r["cell_prefix"]] = per_prefix.get(r["cell_prefix"], 0) + r["n"]
        if r["_c"] is not None:
            counts[r["_c"]] = counts.get(r["_c"], 0) + r["n"]
    plan = _salts(per_prefix, target_rows)
    (
        with_salt(df.drop("cell_salt"), plan)
        .repartition(F.col("cell_prefix"), F.col("cell_salt"))
        .sortWithinPartitions("cell")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic" if dynamic else "static")
        .partitionBy("cell_prefix")
        .parquet(path)
    )
    return plan, counts


def _write_cell_counts(path: str, level: int, counts: dict[str, int]) -> None:
    """`_manifest/cell_counts.json`: doc counts per cell at `level` — the
    metadata that lets kNN pick its proven radius (geo.spatial_join.
    knn_batch) WITHOUT scanning the table (at 10^12 docs the histogram is
    the analog of Iceberg partition stats)."""
    import json
    import os

    os.makedirs(f"{path}/_manifest", exist_ok=True)
    with open(f"{path}/_manifest/cell_counts.json", "w") as f:
        json.dump({"level": level, "counts": counts}, f)


@F.pandas_udf(T.StringType())
def _tok_udf(minlon: pd.Series, minlat: pd.Series, maxlon: pd.Series,
             maxlat: pd.Series) -> pd.Series:
    ml = minlon.to_numpy(dtype=np.float64)
    out = np.empty(len(ml), dtype=object)
    valid = ~np.isnan(ml)
    if valid.any():
        out[valid] = cells.token_of_bboxes(
            minlon[valid].to_numpy(dtype=np.int64),
            minlat[valid].to_numpy(dtype=np.int64),
            maxlon[valid].to_numpy(dtype=np.int64),
            maxlat[valid].to_numpy(dtype=np.int64),
        )
    out[~valid] = ""
    return pd.Series(out)


def _typed_tokenized(docs: DataFrame, prefix_len: int) -> DataFrame:
    """The typed-store row shape: flat kernel projection + insert-level
    cell token + fixed-length partition prefix. Shared by the full ETL
    (write_typed_store) and the incremental merge (update_typed_store) so
    the two paths can never diverge."""
    from ..kernels.snapshot import encode_docs

    return encode_docs(docs).withColumn(
        "cell",
        _tok_udf("bbox_min_lon", "bbox_min_lat", "bbox_max_lon", "bbox_max_lat"),
    ).withColumn(
        "cell_prefix",
        F.expr(f"rpad(substring(cell, 1, {prefix_len}), {prefix_len}, '0')"),
    )


_STORE_SCHEMA: T.StructType | None = None


def store_schema(spark: SparkSession) -> T.StructType:
    """The typed store's read schema: the write projection
    (``_typed_tokenized``, then the write tail's ``cell_salt``) with
    ``cell_prefix`` a string. Reading with it skips parquet's
    footer-reading schema-inference job, and partition discovery no
    longer types all-digit prefixes as ints ('01' → 1, which the LIKE
    '0%' prefix pruning then misses). Derived once per process by
    analysing the projection over an empty input — no job, no file."""
    global _STORE_SCHEMA
    if _STORE_SCHEMA is None:
        from ..model import schemas
        from ..session import local_frame

        empty = local_frame(spark, [], schemas.DOCS)
        _STORE_SCHEMA = with_salt(_typed_tokenized(empty, 1), {}).schema
    return _STORE_SCHEMA


def write_typed_store(
    docs: DataFrame,
    path: str,
    prefix_len: int = 2,
    target_rows: int = 100_000,
    manifest_level: int = 6,
) -> dict:
    """Write the FLAT (kernel-ready) docs store: the interleaved JSON
    spans are decoded ONCE here, at ETL time — the analog of the
    reference's ETL encoding OSH entities into binary cell blobs
    (oshdb-tool etl; grid tables store decoded history, not source XML).
    The stored layout is the doc encoder's projection
    (kernels.snapshot.encode_docs): single-level primitive parallel
    arrays (v*/m*/rm* — parquet+Arrow's best case), parsed unix
    timestamps, pre-sorted versions, the structural routing fact
    `flat_kind`, the raw spans (general-path fallback), and the sorted
    nested `versions` column for the query-time tag match. Deliberately NOT
    stored: nested `members` — double-nested structs with maps defeat the
    parquet nested reader and the Arrow transfer (measured 40× slower
    than flat on member-heavy docs).

    Queries over the store skip the whole per-query decode (from_json,
    ts parse, member flattening and sorting) and get parquet row-group
    pruning on the stored doc-bbox columns for free. Alongside the data,
    `_manifest/` holds the cell-count histogram at `manifest_level`, the
    schema version and the snapshot log. Returns the salt plan."""
    plan, counts = _write_cells(
        _typed_tokenized(docs, prefix_len), path, target_rows, manifest_level
    )
    _write_cell_counts(path, manifest_level, counts)
    with open(f"{path}/_manifest/schema_version", "w") as f:
        f.write(str(STORE_SCHEMA_VERSION))
    _reset_snapshots(path)
    return plan


# ---------------------------------------------------------------------------
# Snapshot manifests + time travel (the Iceberg-snapshot shape on plain
# partitioned parquet). The LIVE directory layout is always the latest
# version — current reads are untouched. Each incremental merge archives
# the partitions it replaces under `_archive/{new_id}/cell_prefix=XX`
# (copy-on-write emulation: Iceberg avoids the copy by never deleting;
# parquet's dynamic partition overwrite deletes, so we copy first), and
# `read_typed_store(version=v)` reconstructs any retained version by
# stitching live partitions with the archives of later merges.
# ---------------------------------------------------------------------------

def _snapshots_file(path: str) -> str:
    return f"{path}/_manifest/snapshots.json"


def store_snapshots(path: str) -> list[dict]:
    """Snapshot log: [{"id", "op", "affected"}] — id 1 is the full write,
    each merge appends one entry listing the partitions it replaced."""
    import json
    import os

    p = _snapshots_file(path)
    if not os.path.exists(p):
        return []
    with open(p) as f:
        return json.load(f)


def _reset_snapshots(path: str) -> None:
    import json
    import os
    import shutil

    shutil.rmtree(f"{path}/_archive", ignore_errors=True)
    os.makedirs(f"{path}/_manifest", exist_ok=True)
    with open(_snapshots_file(path), "w") as f:
        json.dump([{"id": 1, "op": "write", "affected": None}], f)


def _append_snapshot(path: str, affected: list[str], swap):
    """Commit one copy-on-write operation as snapshot `new_id`: copy the
    current files of the partitions it replaces to `_archive/{new_id}` —
    they ARE the pre-merge state of every version < new_id that no
    earlier archive already pins — then run `swap()` (which replaces
    them), then log the snapshot. Returns swap()'s result."""
    import json
    import os
    import shutil

    snaps = store_snapshots(path)
    # a store without a log holds only its initial write, snapshot 1
    new_id = (snaps[-1]["id"] + 1) if snaps else 2
    for p in affected:
        src = f"{path}/cell_prefix={p}"
        if os.path.isdir(src):
            shutil.copytree(src, f"{path}/_archive/{new_id}/cell_prefix={p}")
    out = swap()
    snaps.append({"id": new_id, "op": "merge", "affected": sorted(affected)})
    with open(_snapshots_file(path), "w") as f:
        json.dump(snaps, f)
    return out


def _version_partition_dirs(path: str, version: int) -> list[tuple[str, str]]:
    """(prefix, directory) pairs reconstructing the store at `version`:
    per prefix, the FIRST later merge that replaced it pins its bytes in
    that merge's archive; prefixes never replaced since are live."""
    import os

    snaps = store_snapshots(path)
    ids = [s["id"] for s in snaps]
    if version not in ids:
        raise ValueError(
            f"store at {path} has no snapshot {version}; retained: {ids}"
        )
    live = [
        d.split("=", 1)[1]
        for d in os.listdir(path)
        if d.startswith("cell_prefix=")
    ]
    out = {}
    for s in snaps:
        if s["op"] != "merge" or s["id"] <= version:
            continue
        for p in s["affected"]:
            arc = f"{path}/_archive/{s['id']}/cell_prefix={p}"
            if p not in out:
                # no archived dir ⇒ the merge CREATED the prefix, so it
                # did not exist at `version`
                out[p] = arc if os.path.isdir(arc) else None
    for p in live:
        out.setdefault(p, f"{path}/cell_prefix={p}")
    return [(p, d) for p, d in sorted(out.items()) if d is not None]


def compact_typed_store(
    spark: SparkSession,
    path: str,
    max_files_per_partition: int = 4,
    target_rows: int = 100_000,
) -> list[str]:
    """Small-file compaction: rewrite only the partitions whose parquet
    file count exceeds the threshold (repeated incremental merges leave
    small files behind), as a snapshot-logged copy-on-write operation —
    content is bit-identical, older versions stay readable, untouched
    partitions' files are never rewritten. The Iceberg `rewrite_data_files`
    maintenance shape. Returns the compacted prefixes."""
    import os

    fat = []
    for d in os.listdir(path):
        if not d.startswith("cell_prefix="):
            continue
        n = sum(
            1 for fn in os.listdir(f"{path}/{d}") if fn.endswith(".parquet")
        )
        if n > max_files_per_partition:
            fat.append(d.split("=", 1)[1])
    if not fat:
        return []
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="typed_store_compact")
    try:
        sub = read_typed_store(spark, path).filter(
            F.col("cell_prefix").isin(fat)
        )
        # content is unchanged, and so are the manifest counts
        _write_cells(sub, f"{tmp}/packed", target_rows)

        def swap():
            for p in fat:
                shutil.rmtree(f"{path}/cell_prefix={p}")
                shutil.move(
                    f"{tmp}/packed/cell_prefix={p}", f"{path}/cell_prefix={p}"
                )

        _append_snapshot(path, fat, swap)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return sorted(fat)


def vacuum_typed_store(path: str, keep_last: int = 2) -> list[int]:
    """Expire history: keep the newest `keep_last` versions readable,
    delete archives only older versions reference. Returns removed
    archive ids."""
    import json
    import shutil

    snaps = store_snapshots(path)
    if not snaps:
        return []
    latest = snaps[-1]["id"]
    oldest_kept = max(snaps[0]["id"], latest - keep_last + 1)
    removed = []
    for s in snaps:
        # archive {id} serves only versions < id: if even the oldest
        # retained version is >= id, nothing can reference it
        if s["op"] == "merge" and s["id"] <= oldest_kept:
            shutil.rmtree(f"{path}/_archive/{s['id']}", ignore_errors=True)
            removed.append(s["id"])
    kept = [s for s in snaps if s["id"] >= oldest_kept]
    with open(_snapshots_file(path), "w") as f:
        json.dump(kept, f)
    return removed


def update_typed_store(
    docs_changed: DataFrame,
    path: str,
    prefix_len: int = 2,
    target_rows: int = 100_000,
    manifest_level: int = 6,
) -> dict:
    """Incremental typed-store maintenance: merge CHANGED or NEW docs
    (full replacement rows, keyed by doc_id — the doc is the update unit,
    exactly as the reference's updatable grid cells hold whole OSH
    entities) rewriting ONLY the cell-prefix partitions they touch.

    The Iceberg-MERGE shape on plain partitioned parquet:
    - changed docs run the SAME projection/tokenization as the full ETL
      (`_typed_tokenized` is shared, the two paths cannot diverge);
    - stale copies (a doc whose geometry moved to another cell) are
      located by a COLUMN-PRUNED scan of the store reading only
      (cell_prefix, doc_id) — parquet never materializes the fat history
      columns — broadcast-semi-joined against the changed-id set (the
      incremental batch is broadcast-sized by assumption; at 10^12 rows
      this is the footer/stats + 2-column scan Iceberg would answer from
      its manifest files);
    - affected partitions = new-row prefixes ∪ stale-copy prefixes;
      surviving old rows of those partitions are staged to a temp dir
      (parquet cannot read and overwrite the same files in one job —
      Iceberg's snapshot isolation is what removes this double-write);
    - the final write uses DYNAMIC partition overwrite, so untouched
      partitions' files are never rewritten;
    - the cell-count manifest is patched for affected prefixes only.

    Returns {"affected_prefixes": [...], "plan": salt plan of the
    rewritten partitions}.
    """
    import shutil
    import tempfile

    spark = docs_changed.sparkSession
    # refuses a store of another schema version before merging into it
    store = read_typed_store(spark, path)
    new_toked = _typed_tokenized(docs_changed, prefix_len)
    ids = new_toked.select("doc_id").distinct()
    new_prefixes = {
        r["cell_prefix"] for r in new_toked.select("cell_prefix").distinct().collect()
    }
    stale_prefixes = {
        r["cell_prefix"]
        for r in store.select("cell_prefix", "doc_id")
        .join(F.broadcast(ids), "doc_id")
        .select("cell_prefix").distinct().collect()
    }
    affected = sorted(new_prefixes | stale_prefixes)
    if not affected:  # empty batch: nothing to rewrite
        return {"affected_prefixes": [], "plan": {}}

    tmp = tempfile.mkdtemp(prefix="typed_store_merge")
    try:
        keep_cols = [c for c in store.columns if c != "cell_salt"]
        old_keep = (
            store.filter(F.col("cell_prefix").isin(affected))
            .join(F.broadcast(ids), "doc_id", "left_anti")
            .select(*keep_cols)
        )
        old_keep.unionByName(new_toked.select(*keep_cols)).write.parquet(
            f"{tmp}/merged"
        )

        merged = spark.read.schema(old_keep.schema).parquet(f"{tmp}/merged")
        # snapshot isolation: archive the pre-merge bytes of every
        # partition the dynamic overwrite is about to delete, THEN swap
        plan, counts = _append_snapshot(
            path, affected,
            lambda: _write_cells(
                merged, path, target_rows, manifest_level, dynamic=True
            ),
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    old = read_cell_counts(path) or {"counts": {}}
    kept = {
        tok: n for tok, n in old["counts"].items()
        if tok[:prefix_len] not in set(affected)
    }
    kept.update(counts)
    _write_cell_counts(path, manifest_level, kept)
    return {"affected_prefixes": affected, "plan": plan}


def read_typed_store(
    spark: SparkSession, path: str, bbox=None, prefix_len: int = 2,
    polygon=None, version: int | None = None,
) -> DataFrame:
    """Read the typed store with cell-prefix partition pruning plus the
    doc-bbox row-group predicate (bbox columns are top-level parquet
    columns here, so min/max statistics prune row groups before decode —
    check .explain for PushedFilters on bbox_*). Refuses a store written
    by an older engine (kernels assume the current flat projection).

    ``polygon`` (pieces of degree rings) refines the partition cover from
    the AOI's envelope to the cells the polygon actually touches — for
    diagonal/L-shaped AOIs that is a strict subset; exactness is still
    re-checked per doc in the kernels."""
    import os

    ver_file = f"{path}/_manifest/schema_version"
    ver = 1
    if os.path.exists(ver_file):
        with open(ver_file) as f:
            ver = int(f.read().strip() or 1)
    if ver != STORE_SCHEMA_VERSION:
        raise ValueError(
            f"typed store at {path} has schema v{ver}, engine expects "
            f"v{STORE_SCHEMA_VERSION} — re-run write_typed_store"
        )
    schema = store_schema(spark)
    snaps = store_snapshots(path)
    if version is not None and snaps and version != snaps[-1]["id"]:
        # time travel: stitch live partitions with later merges' archives
        # (each dir loses its partition column — restore it per prefix)
        data = T.StructType(
            [f for f in schema.fields if f.name != "cell_prefix"]
        )
        parts = []
        for p, d in _version_partition_dirs(path, version):
            parts.append(
                spark.read.schema(data).parquet(d)
                .withColumn("cell_prefix", F.lit(p))
            )
        if not parts:
            raise ValueError(f"snapshot {version} of {path} is empty")
        df = parts[0]
        for extra in parts[1:]:
            df = df.unionByName(extra)
    else:
        df = spark.read.schema(schema).parquet(path)
    if bbox is None:
        return df
    df = _prefix_pruned(df, bbox, prefix_len, polygon)
    b7 = tuple(int(x * 10_000_000) for x in bbox)
    return df.filter(
        (F.col("bbox_min_lon") <= b7[2])
        & (F.col("bbox_max_lon") >= b7[0])
        & (F.col("bbox_min_lat") <= b7[3])
        & (F.col("bbox_max_lat") >= b7[1])
    )


def _prefix_pruned(df: DataFrame, bbox, prefix_len: int, polygon=None) -> DataFrame:
    bbox7 = tuple(int(b * 10_000_000) for b in bbox)
    if polygon is not None:
        from ..geo import clip as C

        pieces = C.aoi_pieces(polygon)
        cover = cells.cover_prefixes_polygon(
            pieces, level=prefix_len, enlarge=True
        )
    else:
        cover = cells.cover_prefixes(bbox7, level=prefix_len, enlarge=True)
    conds = []
    exact = set()
    for tok in cover:
        if len(tok) >= prefix_len:
            exact.add(tok[:prefix_len])
        else:
            conds.append(f"cell_prefix LIKE '{tok}%'")
    for tok in cover:
        for cut in range(0, prefix_len):
            anc = tok[:cut]
            exact.add((anc + "0" * prefix_len)[:prefix_len])
    if exact:
        vals = ", ".join(f"'{t}'" for t in sorted(exact))
        conds.append(f"cell_prefix IN ({vals})")
    return df.filter(F.expr(" OR ".join(conds)))


def read_cell_counts(path: str) -> dict | None:
    """Load the store's cell-count histogram (None if absent)."""
    import json
    import os

    p = f"{path}/_manifest/cell_counts.json"
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)
