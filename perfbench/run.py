#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload serve_bm25 --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout of the repository. Workloads:
``serve_bm25``, ``ingest_while_serving`` (see ``perfbench/workloads.py``). ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` installs timing wrappers and prints the per-layer metrics,
and writes the recorded spans to ``.perfbench_out/``. Every answer is
checked against the repository's oracles; ``failed`` counts the operations
that raised or differed. All scratch files live under ``.perfbench_work/``
and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def measure(run) -> dict:
    """Run every phase; returns the printed metrics as {name: (value, unit)}."""
    from perfbench import layers
    from perfbench.trace import Tracer
    from perfbench.workloads import SCALED, spin_ms

    spin0 = spin_ms()
    run.start_session()
    run.materialize()
    run.warm_workers()
    if run.trace:
        run.tracer = Tracer()
        run.tracer.install()
    run.build_phase()
    run.open_serving()
    if run.spec.while_serving:
        run.wave_phase()
        run.serve_phase()
    else:
        run.serve_phase()
        run.wave_phase()
    e2e = run.end_to_end()
    raw = run.end_to_end(raw=True)
    run.unscaled = {k: raw[k][0] for k in SCALED}
    if not run.trace:
        run.verify()
        return e2e
    run.tracer.uninstall()
    totals = run.tracer.totals()
    out = {"host.spin_ms.start": spin0}
    out.update(host_gauges(run))
    out.update(layers.serving(run, totals))
    out.update(layers.self_times(totals))
    out.update(layers.index(run))
    out.update(layers.textproc(run))
    out["trace.overhead_ratio"] = layers.tracing_overhead(run)
    out.update(layers.operator_suite(run))
    run.verify()
    os.makedirs(os.path.join(run.root, ".perfbench_out"), exist_ok=True)
    run.tracer.dump(os.path.join(run.root, ".perfbench_out",
                                 f"spans-{run.workload}-{run.seed}.jsonl"))
    out["host.spin_ms.end"] = spin_ms()
    return {n: (float(out[n]), u) for n, u in layers.per_layer().items()}


def host_gauges(run) -> dict:
    """What the host gauges read; the end-to-end times are scaled by them."""
    import statistics

    g = run.loop_gauge
    return {
        "host.kernel_ms": statistics.median(g.kernel_ms),
        "host.steal_share": g.steal,
        "host.speed_factor.closed_loop": g.factor,
        "host.speed_factor.waves": statistics.median(run.wave_factors),
    }


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "baram_spark")):
        print(f"no baram_spark package under {ROOT}", file=sys.stderr)
        return 2
    os.chdir(ROOT)  # Spark's Python workers import the package from here
    sys.path.insert(0, ROOT)
    # One BLAS thread per process, set before numpy loads, and inherited by
    # the JVM's Python workers: this process runs one query at a time and
    # Spark one task per core, and idle BLAS threads spin on the cores that
    # work needs (three busy cores beside a one-client closed loop).
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    from perfbench.workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), ROOT)
    os.makedirs(run.work, exist_ok=True)
    t0 = time.perf_counter()
    try:
        metrics = measure(run)
    finally:
        if hasattr(run, "spark"):
            run.stop_session()
        shutil.rmtree(run.work, ignore_errors=True)
    for e in run.errors:
        print(f"error: {e}", file=sys.stderr)
    phases = {k: round(v, 2) for k, v in run.phase_s.items()}
    raw = {k: round(v, 4) for k, v in run.unscaled.items()}
    print(f"{args.workload} seed={args.seed}: {run.n_samples} latency samples, "
          f"phases {phases}, wall {time.perf_counter() - t0:.1f}s\n"
          f"  unscaled: {raw}", file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
