"""Traced-run additions: the probes that run after the workload's window and
the per-layer metrics built from the spans and the program's own manifest.

- The chunk probe times the Spark-free layers (``encode.chunk``,
  ``encode.container``, ``codecs``) on one 32,768-row chunk of the
  workload's own id stream, and checks the round trip by value.
- The pruning probe runs one filtered ``decode_dataset`` with
  ``pruning_evidence`` (which adds Spark jobs, so it stays out of the
  window).
- The append/compact cycle runs the writer, the reader after each commit,
  ``compact()`` and ``vacuum()`` on the workload's dataset, so every
  per-layer metric is a measurement on every workload.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from universal_parquet_exporter_spark.codecs import fsst_train
from universal_parquet_exporter_spark.encode import (
    decode_array,
    decode_dataset,
    deserialize_chunk,
    encode_array,
    serialize_chunk,
)
from universal_parquet_exporter_spark.fixtures.webpages import generate_batch

from harness import COLS, Run, hash_aggs, median

CHUNK_ROWS = 32_768
REPS = 3
APPEND_ROWS = 2_000
WARM_APPENDS = 3  # after one cold append
APPEND_ID_OFFSET = 500_000  # fresh ids for the appended rows, below the next seed's

# (name, unit) of every per-layer metric, in output order
PER_LAYER = [
    ("session.start_s", "s"),
    ("session.warm_s", "s"),
    ("fixtures.gen_s", "s"),
    ("fixtures.parquet_write_s", "s"),
    ("encode.cold_s", "s"),
    ("encode.stage_s", "s"),
    ("encode.bookkeeping_s", "s"),
    ("encode.task_busy_s", "s"),
    ("encode.fragments", "count"),
    ("encode.units", "count"),
    ("encode.native_share", "share"),
    ("encode.spark_jobs", "count"),
    *[(f"chunk.{m}.{c}", u) for c in COLS
      for m, u in (("encode_mbps", "MB/s"), ("decode_mbps", "MB/s"), ("ratio", "ratio"))],
    ("container.serialize_s", "s"),
    ("container.deserialize_s", "s"),
    ("codecs.fsst_train_s", "s"),
    ("decode.cold_s", "s"),
    ("decode.plan_s", "s"),
    ("decode.action_s", "s"),
    ("decode.spark_jobs", "count"),
    ("prune.units_ratio", "ratio"),
    ("prune.chunks_ratio", "ratio"),
    ("reader.cold_s", "s"),
    ("reader.load_s", "s"),
    ("reader.action_s", "s"),
    ("reader.spark_jobs", "count"),
    ("writer.cold_s", "s"),
    ("writer.append_s", "s"),
    ("writer.bytes_out", "bytes"),
    ("manifest.rows", "count"),
    ("compaction.wall_s", "s"),
    ("compaction.failed", "count"),
    ("compaction.slices_before", "count"),
    ("compaction.slices_after", "count"),
    ("compaction.bytes_rewritten", "bytes"),
    ("compaction.write_amp", "ratio"),
    ("vacuum.wall_s", "s"),
    ("vacuum.files_deleted", "count"),
    ("vacuum.bytes_reclaimed", "bytes"),
    ("trace.spans", "count"),
    ("trace.bookkeeping_share", "share"),
    ("trace.op_vs_parquet", "ratio"),
]


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def _timed(run: Run, name: str, fn):
    """Median wall of ``REPS`` calls of ``fn`` (each a span) and its result."""
    walls, out = [], None
    for _ in range(REPS):
        t0 = time.perf_counter()
        with run.tracer.span(name):
            out = fn()
        walls.append(time.perf_counter() - t0)
    return median(walls), out


def chunk_probe(run: Run) -> dict:
    ids = np.arange(run.base_id, run.base_id + CHUNK_ROWS, dtype=np.int64)
    tbl = pa.Table.from_batches([generate_batch(ids)])
    out: dict = {}
    with run.tracer.op("probe.chunk"):

        def train():
            # one table per string/binary column from its first 64 KiB, as
            # the encode stream trains them
            tables = {}
            for f in tbl.schema:
                if pa.types.is_string(f.type) or pa.types.is_binary(f.type):
                    data = tbl.column(f.name).combine_chunks().buffers()[2]
                    if data is not None and data.size >= 64:
                        tables[f.name] = fsst_train(data.to_pybytes()[:65536])
            return tables

        out["codecs.fsst_train_s"], tables = _timed(run, "codecs.fsst_train", train)
        out["container.serialize_s"], (payload, report) = _timed(
            run, "container.serialize_chunk", lambda: serialize_chunk(tbl, tables)
        )
        out["container.deserialize_s"], back = _timed(
            run, "container.deserialize_chunk", lambda: deserialize_chunk(payload)
        )
        # by value after a cast: the decoded schema drops `not null`, so a
        # whole-table equality would report a false mismatch
        for c in COLS:
            want = tbl.column(c).combine_chunks()
            got = back.column(c).cast(want.type).combine_chunks()
            if not got.equals(want):
                run.mismatches.append({"check": f"chunk round trip {c}", "got": None, "want": None})
        for c in COLS:
            col = tbl.column(c).combine_chunks()
            t_enc, (meta, bufs) = _timed(run, "chunk.encode_array", lambda: encode_array(c, col, tables.get(c)))
            t_dec, got = _timed(run, "chunk.decode_array", lambda: decode_array(meta, bufs))
            if not got.cast(col.type).equals(col):
                run.mismatches.append({"check": f"array round trip {c}", "got": None, "want": None})
            out[f"chunk.encode_mbps.{c}"] = col.nbytes / 1e6 / t_enc
            out[f"chunk.decode_mbps.{c}"] = col.nbytes / 1e6 / t_dec
            out[f"chunk.ratio.{c}"] = sum(len(b) for b in bufs) / col.nbytes
    run.detail["chunk_codecs"] = {c["name"]: c["codec"] for c in report["columns"]}
    return out


def prune_probe(run: Run) -> dict:
    ev: dict = {}
    with run.tracer.op("probe.prune"), run.tracer.span("decode.pruning_evidence"):
        decode_dataset(
            run.spark, run.dataset, filters=[("url", "startswith", run.prefix_filter)], pruning_evidence=ev
        )
    run.detail["pruning_evidence"] = ev
    units = ev["units_qualifying"] / ev["units_total"] if ev.get("units_total") else 1.0
    chunks = ev["qualifying"] / ev["total"] if ev.get("total") else 1.0
    return {"prune.units_ratio": units, "prune.chunks_ratio": chunks}


def append_compact_cycle(run: Run) -> None:
    """Small appends through the ``upe_encoded`` writer onto the dataset the
    workload bulk-loaded from Spark-written Parquet, each followed by a
    fixed filtered reader read, then ``compact()`` and ``vacuum()``, each
    followed by a full decode checked against the source plus the appended
    rows.  The writer's commits invalidate the reader's manifest cache, so
    these reads are the cache-miss regime.  The first append and read are
    the cold samples."""
    out, src = run.dataset, run.source
    batches_dir = os.path.join(run.work, "batches")
    control_dir = os.path.join(run.work, "append_control")
    batches = [
        run.fixture(APPEND_ID_OFFSET + i * APPEND_ROWS, APPEND_ROWS) for i in range(1 + WARM_APPENDS)
    ]
    run.write_parquet(
        pa.concat_tables(
            [b.append_column("batch", pa.array([i] * b.num_rows, pa.int32())) for i, b in enumerate(batches)]
        ),
        batches_dir,
        partition_by="batch",
    )
    # one oracle job: the source (batch -1) and each batch, whole and under
    # the filter of the reads after each append
    fpred = F.col("url").startswith(run.prefix_filter)
    oracle = {
        int(r.batch): r
        for r in run.oracle(
            run.spark.read.parquet(src).withColumn("batch", F.lit(-1))
            .unionByName(run.spark.read.parquet(batches_dir))
            .groupBy("batch")
            .agg(
                *hash_aggs(COLS),
                F.sum(F.when(fpred, 1).otherwise(0)).alias("fn"),
                F.sum(F.when(fpred, F.xxhash64(*COLS).cast("decimal(38,0)"))).alias("fh"),
            )
        )
    }
    live = [int(oracle[-1].n), int(oracle[-1].h or 0)]
    flive = [int(oracle[-1].fn), int(oracle[-1].fh or 0)]
    arrow_bytes = run.source_table.nbytes
    for i, batch in enumerate(batches):
        bdir = os.path.join(batches_dir, f"batch={i}")
        done = run.op(
            "append",
            lambda: run.append(out, run.spark.read.parquet(bdir)),
            control=lambda: run.spark.read.parquet(bdir).write.mode("append").parquet(control_dir),
            cold=i == 0,
        )
        if done:
            o = oracle[i]
            live[0] += int(o.n)
            live[1] += int(o.h or 0)
            flive[0] += int(o.fn)
            flive[1] += int(o.fh or 0)
            arrow_bytes += batch.nbytes
            run.after_append(out)
        got = run.op("read_after_append", lambda: run.reader_read(out, fpred), cold=i == 0)
        run.expect(f"read after append {i}", got, tuple(flive))

    run.before_compact(out)
    run.layer["compactions"].append(run.op("compact", lambda: run.compact(out)))
    run.expect("decode after compact", run.decode_read(out), tuple(live))
    run.layer["vacuums"].append(run.op("vacuum", lambda: run.vacuum(out)))
    run.expect("decode after vacuum", run.decode_read(out), tuple(live))

    appends = [o for o in run.ops if o["kind"] == "append" and not o["cold"]]
    compact_fail = [f["wall_s"] for f in run.failures if f["kind"] == "compact"]
    run.detail["append_compact"] = {
        "append_p50_s": median(o["wall_s"] for o in appends),
        "append_vs_parquet": median(o["wall_s"] / o["control_s"] for o in appends),
        "read_after_append_p50_s": median(run.walls("read_after_append")),
        "compact_s": median(run.walls("compact")) if run.walls("compact") else None,
        "compact_failed_calls": len(compact_fail),
        "compact_failed_wall_s": median(compact_fail) if compact_fail else None,
        "vacuum_s": median(run.walls("vacuum")),
        "stored_per_user_byte": run.payload_bytes(out) / arrow_bytes,
    }


def _read_stats(run: Run, plan: str, action: str) -> dict:
    """Cold, warm plan/action medians and jobs per read for one read path;
    each read is a plan span followed by its action span."""
    reads, pending = [], None
    for s in run.tracer.spans:  # in the order the spans ended
        if s["name"] == plan:
            pending = s
        elif s["name"] == action and pending is not None:
            reads.append((pending, s))
            pending = None
    if not reads:
        return {"cold": 0.0, "plan": 0.0, "action": 0.0, "jobs": 0.0}
    warm = reads[1:] or reads
    return {
        "cold": _dur(reads[0][0]) + _dur(reads[0][1]),
        "plan": median(_dur(p) for p, _ in warm),
        "action": median(_dur(a) for _, a in warm),
        "jobs": median(p["jobs"] + a["jobs"] for p, a in warm),
    }


def per_layer(run: Run, probes: dict, run_s: float, op_vs_parquet: float) -> dict:
    t = run.tracer
    m: dict = {}

    def first(name):
        spans = t.named(name)
        return _dur(spans[0]) if spans else 0.0

    m["session.start_s"] = first("session.build_session")
    m["session.warm_s"] = first("session.warm_workers")
    # the set-up fixture (the append/compact cycle makes its own later)
    m["fixtures.gen_s"] = first("fixtures.generate_batch")
    m["fixtures.parquet_write_s"] = first("fixtures.parquet_write")

    calls = run.layer["encode_calls"]
    warm = calls[1:] or calls
    enc_spans = t.named("encode.encode_parquet_job")
    frags = sum(c.get("fragments", 0) for c in calls)
    m["encode.cold_s"] = calls[0]["wall_s"]
    m["encode.stage_s"] = median(c["encode_stage_sec"] for c in warm)
    m["encode.bookkeeping_s"] = median(c["wall_s"] - c["encode_stage_sec"] for c in warm)
    m["encode.task_busy_s"] = median(c.get("task_busy_s", 0.0) for c in warm)
    m["encode.fragments"] = median(c.get("fragments", 0) for c in warm)
    m["encode.units"] = median(c["encoded_units"] for c in warm)
    m["encode.native_share"] = sum(c.get("native_fragments", 0) for c in calls) / frags if frags else 0.0
    m["encode.spark_jobs"] = median(s["jobs"] for s in (enc_spans[1:] or enc_spans))

    m.update(probes)

    dec = _read_stats(run, "decode.decode_dataset", "decode.action")
    m["decode.cold_s"], m["decode.plan_s"] = dec["cold"], dec["plan"]
    m["decode.action_s"], m["decode.spark_jobs"] = dec["action"], dec["jobs"]
    rd = _read_stats(run, "reader.load", "reader.action")
    m["reader.cold_s"], m["reader.load_s"] = rd["cold"], rd["plan"]
    m["reader.action_s"], m["reader.spark_jobs"] = rd["action"], rd["jobs"]

    saves = [_dur(s) for s in t.named("writer.save")]
    appends = run.layer["appends"]
    m["writer.cold_s"] = saves[0] if saves else 0.0
    m["writer.append_s"] = median(saves[1:] or saves)
    m["writer.bytes_out"] = median(a["bytes_out"] for a in appends)
    m["manifest.rows"] = appends[-1]["manifest_rows"] if appends else 0

    done = [c for c in run.layer["compactions"] if c]
    dry = run.layer["dry_runs"]
    m["compaction.wall_s"] = median(_dur(s) for s in t.named("compaction.compact"))
    m["compaction.failed"] = sum(1 for f in run.failures if f["kind"] == "compact")
    m["compaction.slices_before"] = median(d["slices_before"] for d in dry)
    m["compaction.slices_after"] = median(c["slices_after"] for c in done)
    m["compaction.bytes_rewritten"] = median(c["bytes_after"] for c in done)
    appended = sum(d["bytes_appended"] for d in dry)
    m["compaction.write_amp"] = sum(c["bytes_after"] for c in done) / appended if appended else 0.0

    vac = [v for v in run.layer["vacuums"] if v]
    m["vacuum.wall_s"] = median(_dur(s) for s in t.named("maintenance.vacuum"))
    m["vacuum.files_deleted"] = median(v["deleted_files"] for v in vac)
    m["vacuum.bytes_reclaimed"] = median(v["reclaimed_bytes"] for v in vac)

    m["trace.spans"] = len(t.spans)
    m["trace.bookkeeping_share"] = t.bookkeeping_s / run_s
    m["trace.op_vs_parquet"] = op_vs_parquet
    return m
