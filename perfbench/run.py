"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The line before it is a JSON detail record (sample
counts, the tail percentile used, check failures). Exits non-zero,
without a result, when the program cannot be imported or a workload
raises.
"""
from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))


RUN_LIMIT_S = 170


def _overdue(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply input sizes (the smoke tests use tiny "
                         "inputs)")
    ns = ap.parse_args(argv)
    try:
        import planet_search_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    from perfbench import layers, metrics
    from perfbench.harness import Run, ncpus
    from perfbench.workloads import WORKLOADS
    if ns.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {ns.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # a run that has not finished by then is stopped (its processes too)
    # and reports no result
    signal.signal(signal.SIGALRM, _overdue)
    signal.alarm(RUN_LIMIT_S)
    traced = bool(ns.trace)
    span_cost = metrics.span_cost() if traced else 0.0
    run = Run(ns.workload, ns.seed, ns.seconds, traced)
    try:
        if traced:
            layers.instrument_build(run.tracer)
            layers.instrument_engine(run.tracer)
            layers.instrument_serving(run.tracer)
            layers.instrument_coordinator(run.tracer)
        t0 = time.time()
        with run.tracer.span("bench.run") as root:
            e2e, info = WORKLOADS[ns.workload](run, scale=ns.scale)
        wall = time.time() - t0
        run.stop_spark()
        if traced:
            values = metrics.per_layer(run, root, wall, e2e, info, ncpus(),
                                       span_cost)
            # every second of the run belongs to a program layer or a named
            # step of the benchmark, as measured by the runner's own clock
            ok_sum = (abs(values["trace.layer_sum_pct"] - 100.0)
                      <= metrics.LAYER_SUM_TOLERANCE_PCT)
            run.attempted += 1
            if not ok_sum:
                run.failed += 1
                run.notes.append("FAILED: layer self times do not sum to "
                                 "the run's wall time")
            table = metrics.PER_LAYER
        else:
            values, table = e2e, metrics.E2E
        detail = {"workload": ns.workload, "seed": ns.seed,
                  "wall_s": wall, "notes": run.notes,
                  **{k[1:]: v for k, v in e2e.items() if k.startswith("_")}}
    except Exception:  # noqa: BLE001 — a run that raises has no result
        traceback.print_exc()
        return 1
    finally:
        run.close()
        signal.alarm(0)
    print(json.dumps(detail))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in table.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
