"""Self-test of the benchmark runner:

    python3 -m pytest perfbench -q

- The known compaction defect reproduces at small size through the code of
  a traced run (``read_mix``, then the append/compact cycle): the runner
  counts the failed ``compact()`` in ``failed`` and ``failed_ops``, and
  decode still returns the base plus every appended row.
- The metrics the runner prints are the ones ``BENCHMARK.json`` declares.
- Every seed gives fixture timestamps that survive Spark's INT96 round trip.
- Without the program in its checkout the runner exits non-zero and prints
  no result.
"""

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run as runner  # noqa: E402

assert runner.import_program()

import layers  # noqa: E402
import workloads  # noqa: E402
from harness import Run  # noqa: E402
from universal_parquet_exporter_spark.encode.pipeline import decode_dataset  # noqa: E402


def test_metrics_match_benchmark_json():
    with open(os.path.join(runner.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == runner.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == layers.PER_LAYER


def test_any_seed_keeps_fixture_timestamps_in_range():
    # Spark writes the fixture's timestamps as INT96, which the encode path
    # reads as nanoseconds: every row of every seed must fit that range
    for seed in (4095, 123_456_789, 2**62 + 1):
        run = Run("read_mix", seed=seed, seconds=1, trace=False, work="")
        for first in (0, layers.APPEND_ID_OFFSET + layers.WARM_APPENDS * layers.APPEND_ROWS):
            ts = run.fixture(first, 256).column("warc_ts")
            assert ts.cast(pa.timestamp("ns")).cast(ts.type).equals(ts)


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(runner.ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "bulk_encode", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_compact_defect_is_counted_and_decode_keeps_every_row(monkeypatch):
    base_rows, batch_rows, batches = 2_000, 300, 1 + layers.WARM_APPENDS
    monkeypatch.setattr(workloads, "READ_ROWS", base_rows)
    monkeypatch.setattr(layers, "APPEND_ROWS", batch_rows)
    work = os.path.join(runner.WORK_ROOT, f"selftest-{os.getpid()}")
    runner.prepare_environment(work)
    run = Run("read_mix", seed=7, seconds=1, trace=False, work=work)
    try:
        run.start_session()
        e2e = workloads.read_mix(run)
        layers.append_compact_cycle(run)
        # a base bulk-loaded from Spark-written Parquet (INT96 timestamps,
        # read back without a zone) plus appends through the upe_encoded
        # writer (µs UTC): compact() fails in FSST training
        compact_failures = [f for f in run.failures if f["kind"] == "compact"]
        assert len(compact_failures) == 1
        assert "ArrowInvalid" in compact_failures[0]["error"]
        result = runner.result_line(run, {**e2e, "setup_s": run.setup_s}, runner.END_TO_END)
        assert result["failed"] == 1
        assert run.detail["failed_ops"] == 1 / result["attempted"]
        # every decode after the failed compaction matched the oracle ...
        assert result["correct"], run.mismatches
        # ... and returns the base plus every appended row
        rows = decode_dataset(run.spark, run.dataset).count()
        assert rows == base_rows + batches * batch_rows
    finally:
        run.stop_session()
        shutil.rmtree(work, ignore_errors=True)
