"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload read_mix --seed 1 --seconds 18 --trace 0

Run from the root of a checkout: the program is imported from there, and
everything the run writes (Spark's local directories, encoded datasets, the compiled
codec kernels, trace files) stays under ``.perfbench_work/`` in it.  With
``--trace 1`` the run records spans and prints the per-layer metrics
instead of the end-to-end ones; the spans go to
``.perfbench_work/traces/<workload>-<seed>.json``.

The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; the line before it holds
the per-workload breakdown.  The exit code is 1 when an output check
failed and 2 when the program cannot be imported from the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

# (name, unit) of every end-to-end metric, in output order
END_TO_END = [
    ("op_vs_parquet", "ratio"),
    ("size_vs_parquet", "ratio"),
    ("setup_s", "s"),
]


def prepare_environment(work: str) -> None:
    """Point every scratch location of this process, the JVM and the Python
    workers into the run's work directory, and let the workers import the
    package from this checkout."""
    tmp = os.path.join(WORK_ROOT, "tmp")  # shared: keeps the compiled kernels
    for d in (tmp, work):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def import_program() -> bool:
    """Import the package from this checkout, before pyarrow, so its malloc
    tuning applies to this process."""
    sys.path.insert(0, ROOT)
    try:
        import universal_parquet_exporter_spark as pkg
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return False
    if os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__))) != ROOT:
        print(f"perfbench: the program was imported from {pkg.__file__}, not {ROOT}", file=sys.stderr)
        return False
    return True


def result_line(run, metrics: dict, names: list) -> dict:
    """The run's result; also completes ``run.detail`` with the operation
    counts and failures."""
    run.detail.update(
        workload=run.workload,
        seed=run.seed,
        failed_ops=run.failed / run.attempted if run.attempted else 0.0,
        failures=run.failures,
        mismatches=run.mismatches,
        op_walls_s={
            k: [round(o["wall_s"], 3) for o in run.ops if o["kind"] == k]
            for k in sorted({o["kind"] for o in run.ops})
        },
        control_walls_s={
            k: [round(o["control_s"], 3) for o in run.ops if o["kind"] == k]
            for k in sorted({o["kind"] for o in run.ops if "control_s" in o})
        },
    )
    return {
        "correct": not run.mismatches,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {name: {"value": float(metrics[name]), "unit": unit} for name, unit in names},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(WORK_ROOT, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    prepare_environment(work)
    if not import_program():
        return 2
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import layers
    from harness import Run
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    trace = bool(args.trace)
    run = Run(args.workload, args.seed, args.seconds, trace, work)
    try:
        run.start_session()
        e2e = WORKLOADS[args.workload](run)
        e2e["setup_s"] = run.setup_s
        if trace:
            probes = {**layers.chunk_probe(run), **layers.prune_probe(run)}
            layers.append_compact_cycle(run)
            metrics = layers.per_layer(run, probes, time.perf_counter() - run._t0, e2e["op_vs_parquet"])
            names = layers.PER_LAYER
        else:
            metrics, names = e2e, END_TO_END
        run.phase("probes")
    finally:
        run.stop_session()
        shutil.rmtree(work, ignore_errors=True)
    run.phase("teardown")

    result = result_line(run, metrics, names)
    if trace:
        os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
        path = os.path.join(WORK_ROOT, "traces", f"{args.workload}-{args.seed}.json")
        run.tracer.dump(path, {"detail": run.detail, "per_layer": metrics})
    print(json.dumps({"detail": run.detail}, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
