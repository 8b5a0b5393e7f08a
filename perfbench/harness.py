"""Per-run state shared by the workloads: the Spark session, timed
operations, oracle checks, and the calls into each layer (each wrapped in a
span named after the layer).

Every operation is one closed-loop call: the caller waits for its result
before the next one starts.  Reads are forced by one aggregate action whose
result is also the correctness check: the row count and an
order-insensitive hash (the sum of ``xxhash64`` over the read's columns),
compared with the same aggregate over the source Parquet in plain Spark.
"""

from __future__ import annotations

import os
import re
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
from pyspark.sql import functions as F

from universal_parquet_exporter_spark.encode.compaction import compact
from universal_parquet_exporter_spark.encode.maintenance import vacuum
from universal_parquet_exporter_spark.encode.pipeline import (
    EncodeJobConfig,
    decode_dataset,
    encode_parquet_job,
    manifest_dir,
)
from universal_parquet_exporter_spark.fixtures.webpages import generate_batch
from universal_parquet_exporter_spark.sources.session import build_session, warm_workers
from universal_parquet_exporter_spark.sources.spark_datasource import register

from spans import Tracer

CPUS = 4
COLS = ["url", "warc_ts", "html", "text", "lang"]
DDL = "url string, warc_ts timestamp, html binary, text string, lang string"
# encode layout pinned for every workload: ~8 encode units over a few
# tens of MB, one map task per task slot, the engine's default chunk size
TARGET_UNIT_BYTES = 4 << 20
MAP_TASKS = 4
CONTROL_REPS = 3


def hash_aggs(cols) -> list:
    """Row count ``n`` and order-insensitive content hash ``h`` of ``cols``."""
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ]


def pair(row) -> tuple[int, int]:
    return int(row.n), int(row.h or 0)


_ERROR_LINE = re.compile(r"^\s*([\w.]*(?:Error|Exception|Invalid)): (.*)$")


def error_summary(e: Exception) -> str:
    """The innermost ``Type: message`` line of an error; a Python worker
    failure surfaces in the calling process wrapped in a PythonException whose text
    carries the worker's traceback."""
    lines = [m.group(0).strip() for m in map(_ERROR_LINE.match, str(e).splitlines()) if m]
    return (lines[-1] if lines else f"{type(e).__name__}: {e}")[:300]


def dir_bytes(path: str, suffix: str = "") -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(suffix))
    return total


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.rng = np.random.default_rng(seed % 2**32)
        # row ids offset by the seed: the same seed gives the same rows.
        # The fixture's crawl timestamps advance 10 s per 256 ids, so the
        # offset stays below ~4.1e9 ids (timestamps within about five
        # years of 2026); ids past ~1.9e11 put them beyond year 2262, out
        # of the nanosecond range pyarrow reads Spark's INT96 values into.
        self.base_id = (seed % 4096) * 1_000_000
        self.tracer = Tracer(trace)
        self.spark = None
        self.ops: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[dict] = []
        self.mismatches: list[dict] = []
        self.detail: dict = {}
        self.layer: dict = {
            "encode_calls": [], "appends": [], "dry_runs": [], "compactions": [], "vacuums": []
        }
        self._seen_runs: dict[str, set] = {}
        self._appends_compacted = 0
        # what a workload leaves behind for the traced-run probes: the
        # encoded dataset, its Parquet source and Arrow rows, and a
        # selective host-prefix filter on it
        self.dataset: str | None = None
        self.source: str | None = None
        self.source_table: pa.Table | None = None
        self.prefix_filter: str | None = None
        self._t0 = self._t_phase = time.perf_counter()
        self._untimed_setup_s = 0.0
        self.setup_s = None

    # -- session ------------------------------------------------------------
    def start_session(self) -> None:
        tmp = os.environ["TMPDIR"]
        conf = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.defaultJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # workers import the package from this checkout, not from
            # wherever the interpreter happens to find one
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            "spark.executorEnv.TMPDIR": tmp,
        }
        with self.tracer.span("session.build_session"):
            self.spark = build_session(cpus=CPUS, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.attach(self.spark)
        with self.tracer.span("session.warm_workers"):
            warm_workers(self.spark, CPUS)
        register(self.spark)

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM the session launched to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        self.spark = None

    def end_setup(self) -> None:
        self.setup_s = time.perf_counter() - self._t0 - self._untimed_setup_s
        self.phase("setup")

    @contextmanager
    def untimed(self):
        """Set-up work that setup_s leaves out (the oracle)."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self._untimed_setup_s += time.perf_counter() - t

    # -- fixtures -----------------------------------------------------------
    def fixture(self, first: int, n: int) -> pa.Table:
        ids = np.arange(self.base_id + first, self.base_id + first + n, dtype=np.int64)
        with self.tracer.span("fixtures.generate_batch"):
            return pa.Table.from_batches([generate_batch(ids)])

    def write_parquet(self, tbl: pa.Table, path: str, partition_by: str | None = None) -> None:
        """Spark's default Parquet writer (Snappy, INT96 timestamps)."""
        ddl = DDL + (f", {partition_by} int" if partition_by else "")
        with self.tracer.span("fixtures.parquet_write"):
            w = self.spark.createDataFrame(tbl, schema=ddl).write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(partition_by)
            w.parquet(path)

    # -- operations ---------------------------------------------------------
    def op(self, kind: str, fn, control=None, cold: bool = False, nbytes: int = 0, **info):
        """Run one timed operation.  An exception counts as a failed
        operation and the run carries on.

        ``control``, when given, is the same operation done with plain Spark
        over Parquet; it runs right before the operation, so both see the
        same machine, and ``wall_s / control_s`` is the operation's cost
        relative to Parquet.  ``control_s`` is the median of
        ``CONTROL_REPS`` runs: one run of a control lasts a few tenths of a
        second and can take twice as long as the next."""
        if control is not None:
            walls = []
            for _ in range(CONTROL_REPS):
                t0 = time.perf_counter()
                with self.tracer.op(f"control.{kind}"):
                    control()
                walls.append(time.perf_counter() - t0)
            info["control_s"] = median(walls)
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.op(f"op.{kind}"):
                out = fn()
        except Exception as e:  # a failed operation is a result, not a crash
            wall = time.perf_counter() - t0
            self.failed += 1
            self.failures.append({"kind": kind, "error": error_summary(e), "wall_s": wall})
            traceback.print_exc(file=sys.stderr)
            return None
        wall = time.perf_counter() - t0
        self.ops.append({"kind": kind, "wall_s": wall, "bytes": nbytes, "cold": cold, **info})
        return out

    def walls(self, kind: str, cold: bool = False) -> list[float]:
        return [o["wall_s"] for o in self.ops if o["kind"] == kind and o["cold"] == cold]

    def keep(self, dataset: str, source: str, table: pa.Table, prefix_filter: str) -> None:
        self.dataset, self.source, self.source_table, self.prefix_filter = dataset, source, table, prefix_filter

    def expect(self, label: str, got: tuple[int, int] | None, want: tuple[int, int]) -> None:
        if got is not None and got != want:
            self.mismatches.append({"check": label, "got": list(got), "want": list(want)})

    def window_units(self, unit_s: float) -> int:
        """Units of work in the measured window: fixed by ``--seconds`` and
        the workload's nominal unit time (at least one), not by a clock, so
        every run of a workload measures the same sequence of operations
        and takes about ``--seconds`` here."""
        return max(1, round(self.seconds / unit_s))

    def window(self, unit_s: float):
        """Yield the index of each unit of the measured window."""
        self.phase("warm_up")
        units = self.window_units(unit_s)
        self.detail["window_units"] = units
        yield from range(units)
        self.phase("window")

    def phase(self, name: str) -> None:
        """Close the current phase of the run (wall-clock breakdown)."""
        now = time.perf_counter()
        self.detail.setdefault("phase_s", {})[name] = now - self._t_phase
        self._t_phase = now

    # -- layer calls --------------------------------------------------------
    def oracle(self, df):
        """Collect an aggregate over the source; set-up time leaves it out."""
        with self.untimed(), self.tracer.span("oracle"):
            return df.collect()

    def encode(self, src: str, out: str) -> dict:
        cfg = EncodeJobConfig(output_dir=out, target_unit_bytes=TARGET_UNIT_BYTES, map_tasks=MAP_TASKS)
        t0 = time.perf_counter()
        with self.tracer.span("encode.encode_parquet_job"):
            res = encode_parquet_job(self.spark, src, cfg)
        self.layer["encode_calls"].append({"out": out, "wall_s": time.perf_counter() - t0, **res})
        return res

    def decode_read(self, out: str, filters=None, columns=None, hash_cols=COLS) -> tuple[int, int]:
        with self.tracer.span("decode.decode_dataset"):
            df = decode_dataset(self.spark, out, columns=columns, filters=filters)
        with self.tracer.span("decode.action"):
            return pair(df.agg(*hash_aggs(hash_cols)).collect()[0])

    def reader_read(self, out: str, pred=None, columns=None, hash_cols=COLS) -> tuple[int, int]:
        with self.tracer.span("reader.load"):
            r = self.spark.read.format("upe_encoded")
            if columns:
                r = r.option("columns", ",".join(columns))
            df = r.load(out)
        if pred is not None:
            df = df.where(pred)
        with self.tracer.span("reader.action"):
            return pair(df.agg(*hash_aggs(hash_cols)).collect()[0])

    def append(self, out: str, df) -> bool:
        """Append ``df`` through the ``upe_encoded`` writer; True once committed."""
        with self.tracer.span("writer.save"):
            df.write.format("upe_encoded").option("key_col", "url").mode("append").save(out)
        return True

    def compact(self, out: str) -> dict:
        with self.tracer.span("compaction.compact"):
            return compact(self.spark, out)

    def vacuum(self, out: str) -> dict:
        with self.tracer.span("maintenance.vacuum"):
            return vacuum(self.spark, out)

    # -- metadata the program writes (read between operations, traced run only)
    @staticmethod
    def manifest(out: str) -> pa.Table:
        return pads.dataset(manifest_dir(out), format="parquet").to_table()

    def note_encode(self) -> None:
        """Fragments, task busy time and native-kernel share of the last
        encode call, from the manifest rows it wrote."""
        if not self.tracer.enabled or not self.layer["encode_calls"]:
            return
        call = self.layer["encode_calls"][-1]
        man = self.manifest(call["out"])
        rows = man.filter(pc.equal(man.column("run_id"), call["run_id"]))
        call["fragments"] = rows.num_rows
        call["task_busy_s"] = pc.sum(rows.column("wall_ms")).as_py() / 1000.0
        call["native_fragments"] = pc.sum(rows.column("native").cast(pa.int64())).as_py()
        self._seen_runs[call["out"]] = set(man.column("run_id").to_pylist())

    def after_append(self, out: str) -> None:
        """Bytes the append wrote and the manifest size after its commit."""
        if not self.tracer.enabled:
            return
        man = self.manifest(out)
        seen = self._seen_runs.setdefault(out, set())
        new = pc.invert(pc.is_in(man.column("run_id"), pa.array(sorted(seen), pa.string())))
        bytes_out = pc.sum(man.filter(new).column("bytes_out")).as_py() or 0
        seen.update(man.column("run_id").to_pylist())
        self.layer["appends"].append({"bytes_out": bytes_out, "manifest_rows": man.num_rows})

    def before_compact(self, out: str) -> None:
        """Slices the next compaction selects (a dry run)."""
        if not self.tracer.enabled:
            return
        with self.tracer.span("compaction.compact_dry_run"):
            report = compact(self.spark, out, dry_run=True)
        appended = sum(a["bytes_out"] for a in self.layer["appends"][self._appends_compacted :])
        self._appends_compacted = len(self.layer["appends"])
        self.layer["dry_runs"].append({**report, "bytes_appended": appended})

    @staticmethod
    def payload_bytes(out: str) -> int:
        return dir_bytes(os.path.join(out, "payload"))
