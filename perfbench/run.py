"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload nightly_etl --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints one ``name value unit`` line per
metric, then, as the last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics of the traced run with ``--trace 1``.
Everything the run writes goes under ``.perfbench_runs/`` in the checkout;
the per-run directory (inputs, warehouse, Spark scratch) is removed at the
end, the span log of a traced run is kept there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("nightly_etl", "star_olap", "corpus_dedup")


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smoke-test size: sf0.001, 3 cities x 1 year")
    ap.add_argument("--fault", choices=("drop-row", "raise"),
                    help="smoke test of the checks: drop one row of one checked result, "
                         "or make the first registry query raise")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    t0 = time.perf_counter()
    args = parse(argv)
    sys.path.insert(0, ROOT)  # the engine, __spark_entry__ and tests.oracle_diff

    import workloads

    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=runs)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(run_dir, "tmp")
    load_before = os.getloadavg()
    size = workloads.TINY if args.tiny else workloads.FULL
    bench = None
    try:
        bench = workloads.Bench(args.workload, args.seed, args.seconds, bool(args.trace),
                                size, args.fault, run_dir, t0)
        e2e, layers = workloads.run(bench)
        if args.trace:
            bench.tracer.dump(os.path.join(runs, f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        if bench is not None:
            bench.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    notes = {
        "nproc": bench.nproc, "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
        "op_tail_pct": bench.notes["op_tail_pct"], "n_ops": bench.notes["n_ops"],
        "failed_frac": bench.notes["failed_frac"], "op_seconds": bench.notes["op_seconds"],
    }
    for key in ("warmup_op_seconds", "nights"):
        if key in bench.notes:
            notes[key] = bench.notes[key]
    for name, value in notes.items():
        print(f"# {name} {value}")
    for name, value in e2e.items():
        print(f"{name} {value:.6g} {workloads.END_TO_END[name]}")
    layer_units = workloads.layer_units(args.workload)
    for name, value in layers.items():
        print(f"{name} {value:.6g} {layer_units[name]}")
    shown, units = (layers, layer_units) if args.trace else (e2e, workloads.END_TO_END)
    print(json.dumps({
        "correct": not bench.problems,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in shown.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
