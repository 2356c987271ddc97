#!/usr/bin/env python3
"""OSM-history benchmark: one closed-loop client driving the engine.

    python3 perfbench/run.py --workload node_history --seed 1 --seconds 12 --trace 0

Prints per-op lines on stderr and, as the last line of stdout, one JSON
object: {"correct", "attempted", "failed", "metrics"}. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs the layer cuts and probes instead
and reports the per-layer metrics (spans go to
``.perfbench_work/trace-<workload>-<seed>.json``).
"""

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common, workloads  # noqa: E402

# No timed round starts if it could end past this many seconds after
# process start, which keeps a run on a very slow machine well within its
# 180 s limit.
HARD_BUDGET_S = 140.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cpu0 = common.cpu_counters()
    run_dir = common.new_run_dir(args.workload, args.seed)
    try:
        common.prepare_process(run_dir)
        tracer = common.Tracer(bool(args.trace))
        ledger = common.Ledger()
        wl = workloads.WORKLOADS[args.workload](run_dir, args.seed, tracer, ledger)
        with tracer.span("prepare", op="setup"):
            wl.prepare()
        print(f"prepared at {time.perf_counter() - T_PROCESS:.1f} s", file=sys.stderr)
        with tracer.span("session.build_session", op="setup"):
            session_s, spark = common.timed(lambda: common.start_session(run_dir))
        try:
            print(f"session at {time.perf_counter() - T_PROCESS:.1f} s", file=sys.stderr)
            with tracer.span("setup", op="setup"):
                wl.setup(spark)
            print(f"set up at {time.perf_counter() - T_PROCESS:.1f} s", file=sys.stderr)
            if args.trace:
                metrics, detail = wl.trace(session_s, args.seconds)
            else:
                for _ in range(wl.timed_rounds(args.seconds)):
                    last = common.timed(wl.round)[0]
                    if time.perf_counter() - T_PROCESS + last > HARD_BUDGET_S:
                        break
                metrics = wl.e2e(session_s)
        finally:
            print(f"measured at {time.perf_counter() - T_PROCESS:.1f} s", file=sys.stderr)
            common.stop_session(spark)
        if args.trace:
            out = os.path.join(common.WORK, f"trace-{args.workload}-{args.seed}.json")
            tracer.dump(out, {"workload": args.workload, "seed": args.seed,
                              "metrics": metrics, **detail})
            print(f"trace written to {out}", file=sys.stderr)
        print(f"process wall {time.perf_counter() - T_PROCESS:.1f} s, "
              f"cpu steal/iowait share {common.cpu_wait_share(cpu0):.3f}",
              file=sys.stderr)
        common.emit(ledger, metrics)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
