"""SparkSession factory tuned for the engine.

Scale posture (designed for a 1000-executor cluster, tested on local[N]):
- AQE on (runtime coalescing + skew-join splitting — the reference has no
  skew story at all; cells are size-bounded by its insert rule,
  index/XYGridTree.java:89-97, which breaks down for hot urban tiles).
- Arrow enabled for every pandas UDF hop; batch size bounded so a batch of
  wide docs (media spans) stays within executor memory.
- shuffle partitions default to a multiple of local cores; on a real
  cluster callers override via SPARK_GRAFT_SHUFFLE_PARTITIONS.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def build_session(
    app_name: str = "oshdb-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(cpus, 8)))
        )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16384")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A small frame built on the Spark driver (key grids, lookup tables),
    planned as a JVM ``LocalTableScan``. ``spark.createDataFrame(list)``
    — and pandas input while Arrow is off, the default of a plain
    session — plans as ``Scan ExistingRDD`` over a Python RDD, so every
    collect of it runs Python-worker tasks (0.36 s vs 0.01 s for a 6-row
    key frame on 4 cores). An Arrow table goes straight into a
    ``LocalRelation`` whatever the session's Arrow setting. ``rows`` are
    tuples in field order; ``schema`` is a StructType or a DDL string."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if not isinstance(schema, StructType):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


class QueryTimeout(Exception):
    pass


def run_with_timeout(spark: SparkSession, action, seconds: float):
    """Run `action()` (a DataFrame action) with a hard timeout, cancelling
    the underlying Spark jobs on expiry — the analog of the reference's
    query timeout + cancellable per-cell loops (OSHDBDatabase.java:57-96,
    Kernels.CancelableProcessStatus). Uses a job group so ONLY this
    query's jobs are cancelled."""
    import threading
    import uuid

    group = f"timeout-{uuid.uuid4().hex[:8]}"
    sc = spark.sparkContext
    result: dict = {}

    def target():
        sc.setJobGroup(group, "run_with_timeout", interruptOnCancel=True)
        try:
            result["value"] = action()
        except Exception as e:  # cancellation surfaces as an exception
            result["error"] = e
        finally:
            sc.setJobGroup("", "")

    t = threading.Thread(target=target, daemon=True)
    t.start()
    t.join(seconds)
    if t.is_alive():
        sc.cancelJobGroup(group)
        t.join(10)
        raise QueryTimeout(f"query exceeded {seconds}s and was cancelled")
    if "error" in result:
        raise result["error"]
    return result.get("value")
