"""Plumbing shared by the workloads: work directory, Spark session, timing,
the span recorder and the result line.

Everything the benchmark writes goes under ``.perfbench_work/`` in the
checkout root (Spark local dirs, JVM and Python temp files, stores, traces).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

# Fixed, machine-independent execution shape: the corpora and the store
# layout never depend on the core count; only the task slots do, and
# those are capped at 4 (the size of the box the bounds were set on).
MAX_CORES = 4
SHUFFLE_PARTITIONS = 8  # build_session's own default, max(cpus, 8), at 4 cpus


def prepare_process(run_dir: str) -> None:
    """Make the engine importable here and in Spark's Python workers, and
    point every temp-file user at the run directory."""
    if not os.path.isdir(os.path.join(ROOT, "oshdb_spark")):
        raise SystemExit(f"engine sources not found under {ROOT}")
    sys.path.insert(0, ROOT)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS"):
        os.environ.pop(var, None)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp


def new_run_dir(workload: str, seed: int) -> str:
    d = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def start_session(run_dir: str):
    """The engine's own session factory; only the core count, the shuffle
    width (its default at 4 cpus) and the scratch locations are pinned."""
    from oshdb_spark.session import build_session

    cores = max(1, min(MAX_CORES, os.cpu_count() or 1))
    tmp = os.path.join(run_dir, "tmp")
    spark = build_session(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to
    exit, so no process outlives the run."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def timed(fn):
    t = time.perf_counter()
    out = fn()
    return time.perf_counter() - t, out


def noop(df) -> None:
    """Run a DataFrame to the end into the ``noop`` sink (all columns are
    computed, nothing is kept)."""
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


def parquet_files(path: str) -> int:
    n = 0
    for base, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith("_")]
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def cpu_counters() -> list[int] | None:
    """The machine-wide CPU jiffy counters of /proc/stat (None elsewhere)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def cpu_wait_share(start: list[int] | None) -> float:
    """Share of CPU time since ``start`` spent in iowait or stolen by the
    hypervisor: a slow run with a high share was slowed from outside."""
    end = cpu_counters()
    if start is None or end is None:
        return float("nan")
    d = [b - a for a, b in zip(start, end)]
    return (d[4] + d[7]) / max(1, sum(d))


class Tracer:
    """Span recorder: name, start, end, parent span and op id per call,
    kept in memory and written as JSON once at exit. Disabled, ``span`` is
    a bare ``yield``."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "op": op, "start": time.perf_counter() - self._t0, "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1)


class Ledger:
    """Ops attempted / failed plus the per-op wall times of timed rounds."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.wrong = 0
        self.times: dict[str, list[float]] = {}
        self.errors: list[str] = []

    def record(self, name: str, seconds: float, ok: bool, why: str = "") -> None:
        """One attempted op. A wrong answer fails the op and the run's
        correctness; an op that raised (``seconds`` is None) only fails."""
        self.attempted += 1
        if seconds is not None:
            self.times.setdefault(name, []).append(seconds)
        if not ok:
            self.failed += 1
            self.wrong += seconds is not None
            self.errors.append(f"{name}: {why}")

    def reset(self) -> None:
        """Forget the warm-up round."""
        self.__init__()

    def med(self, name: str) -> float | None:
        """Median time of an op; None if it failed in every timed round."""
        ts = self.times.get(name)
        return statistics.median(ts) if ts else None


def emit(ledger: Ledger, metrics: dict) -> None:
    """Print the per-op summary to stderr and the result object as the last
    line of stdout."""
    for name, ts in ledger.times.items():
        print(f"op {name}: n={len(ts)} median={statistics.median(ts):.4f}s "
              f"all={[round(t, 3) for t in ts]}", file=sys.stderr)
    for e in ledger.errors[:20]:
        print(f"FAILED {e}", file=sys.stderr)
    out = {
        "correct": ledger.wrong == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(out), flush=True)
