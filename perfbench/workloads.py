"""The two workloads.  Each returns its end-to-end metrics; the breakdown
by query kind and maintenance step goes into ``run.detail``.

- ``bulk_encode``: repeated ``encode_parquet_job`` calls, each into a fresh
  output directory, each followed (untimed) by a full decode checked
  against the source.
- ``read_mix``: one encoded dataset, then seeded rounds of seven query
  kinds, each query through ``decode_dataset`` and through the
  ``upe_encoded`` reader.

The traced run adds the append/compact cycle (:mod:`layers`) on the
dataset a workload leaves behind.

Every timed operation runs right after its Parquet control: the same work
done by plain Spark over Parquet (write the input as Parquet, run the query
over the Parquet source, append the batch to a Parquet directory).  The
end-to-end ``op_vs_parquet`` is the median operation-to-control wall ratio,
so a host that is slower for a minute slows both sides of each ratio; the
absolute walls stay in the breakdown.
"""

from __future__ import annotations

import os
import shutil
import time
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F

from harness import COLS, Run, dir_bytes, hash_aggs, median, pair

# rows per workload: each encode or read is a handful of Spark jobs over a
# few tens of MB of Arrow data
BULK_ROWS = 24_000
READ_ROWS = 12_000
# nominal wall of one unit of each window on a 4-vCPU VM: an encode
# call with its controls and check; a round of the seven query kinds
BULK_UNIT_S = 4.5
READ_ROUND_S = 21.0

QUERY_KINDS = ["lookup", "host_prefix", "key_range", "lang_in", "ts_range", "full_scan", "text_scan"]
FILTERED_KINDS = {"host_prefix", "key_range", "lang_in", "ts_range"}


def tail(values: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least ten samples beyond it:
    (value, percentile, samples); the maximum below eleven samples."""
    n = len(values)
    if n < 11:
        return max(values, default=0.0), 100.0, n
    k = n - 11  # index of the sample with exactly ten above it
    return sorted(values)[k], 100.0 * (k + 1) / n, n


def gbps(ops: list[dict]) -> float:
    return median(o["bytes"] / 1e9 / o["wall_s"] for o in ops)


def vs_parquet(ops: list[dict], per_control: int = 1) -> float:
    """Median operation-to-control wall ratio over the window;
    ``per_control`` operations of the control's size make up one timed
    operation."""
    return median(o["wall_s"] / (per_control * o["control_s"]) for o in ops)


def host_prefix(url: str) -> str:
    return url[: url.index("/", len("https://")) + 1]


# ---------------------------------------------------------------------------
# bulk_encode
# ---------------------------------------------------------------------------


def bulk_encode(run: Run) -> dict:
    src = os.path.join(run.work, "src")
    control_dir = os.path.join(run.work, "control")
    tbl = run.fixture(0, BULK_ROWS)
    run.write_parquet(tbl, src)
    run.end_setup()
    want = pair(run.oracle(run.spark.read.parquet(src).agg(*hash_aggs(COLS)))[0])
    parquet_bytes = dir_bytes(src, ".parquet")
    sizes = []

    def parquet_write():
        run.spark.read.parquet(src).write.mode("overwrite").parquet(control_dir)

    def encode_once(k: int, cold: bool) -> str:
        out = os.path.join(run.work, f"enc{k}")
        res = run.op(
            "encode", lambda: run.encode(src, out), control=parquet_write, cold=cold, nbytes=tbl.nbytes
        )
        if res is not None:
            run.note_encode()
            sizes.append(run.payload_bytes(out) / parquet_bytes)
            run.expect(f"decode enc{k}", run.decode_read(out), want)
        return out

    last = encode_once(0, cold=True)  # warm-up: the cold sample
    for k in run.window(BULK_UNIT_S):
        out = encode_once(k + 1, cold=False)
        shutil.rmtree(last, ignore_errors=True)
        last = out
    run.keep(last, src, tbl, host_prefix(tbl.column("url")[0].as_py()))

    ops = [o for o in run.ops if o["kind"] == "encode" and not o["cold"]]
    if not ops:
        raise RuntimeError(f"every encode call of the window failed: {run.failures}")
    run.detail.update(
        encode_p50_s=median(o["wall_s"] for o in ops),
        encode_gbps=gbps(ops),
        parquet_write_p50_s=median(o["control_s"] for o in ops),
        size_vs_parquet=sizes[-1],
    )
    return {"op_vs_parquet": vs_parquet(ops), "size_vs_parquet": sizes[-1]}


# ---------------------------------------------------------------------------
# read_mix
# ---------------------------------------------------------------------------


class Query:
    """One read, as ``decode_dataset`` filters, as a Spark column for the
    reader, the control and the oracle, and as an Arrow mask for the bytes
    it returns."""

    def __init__(self, kind: str, filters=None, pred=None, mask=None, columns=None):
        self.kind = kind
        self.filters = filters
        self.pred = pred
        self.mask = mask
        self.columns = columns
        self.hash_cols = columns or COLS

    def where(self, df):
        return df.where(self.pred()) if self.pred else df


def make_queries(tbl: pa.Table, rng, rounds: int) -> list[list[Query]]:
    urls = tbl.column("url")
    sorted_urls = pc.take(urls, pc.sort_indices(urls))
    ts = tbl.column("warc_ts").cast(pa.int64()).to_numpy()
    n = tbl.num_rows
    epoch = datetime(1970, 1, 1, tzinfo=timezone.utc)
    out = []
    for _ in range(rounds):
        u = urls[int(rng.integers(n))].as_py()
        p = host_prefix(urls[int(rng.integers(n))].as_py())
        i = int(rng.integers(n - n // 100))
        lo, hi = sorted_urls[i].as_py(), sorted_urls[i + n // 100 - 1].as_py()
        langs = tuple(str(x) for x in rng.choice(["de", "fr", "es", "pt", "it", "nl"], 2, replace=False))
        t_lo_us = int(ts[int(rng.integers(n))])
        t_hi_us = t_lo_us + 20_000_000  # two crawl sessions of 10 s
        t_lo, t_hi = epoch + timedelta(microseconds=t_lo_us), epoch + timedelta(microseconds=t_hi_us)
        a_lo, a_hi = pa.scalar(t_lo_us, pa.timestamp("us")), pa.scalar(t_hi_us, pa.timestamp("us"))
        out.append(
            [
                Query("lookup", [("url", "=", u)], lambda u=u: F.col("url") == u,
                      lambda t, u=u: pc.equal(t.column("url"), u)),
                Query("host_prefix", [("url", "startswith", p)], lambda p=p: F.col("url").startswith(p),
                      lambda t, p=p: pc.starts_with(t.column("url"), p)),
                Query("key_range", [("url", ">=", lo), ("url", "<=", hi)],
                      lambda lo=lo, hi=hi: (F.col("url") >= lo) & (F.col("url") <= hi),
                      lambda t, lo=lo, hi=hi: pc.and_(pc.greater_equal(t.column("url"), lo),
                                                      pc.less_equal(t.column("url"), hi))),
                Query("lang_in", [("lang", "in", langs)], lambda ls=langs: F.col("lang").isin(*ls),
                      lambda t, ls=langs: pc.is_in(t.column("lang"), pa.array(ls))),
                Query("ts_range", [("warc_ts", ">=", t_lo), ("warc_ts", "<", t_hi)],
                      lambda a=t_lo, b=t_hi: (F.col("warc_ts") >= F.lit(a)) & (F.col("warc_ts") < F.lit(b)),
                      lambda t, a=a_lo, b=a_hi: pc.and_(pc.greater_equal(t.column("warc_ts"), a),
                                                        pc.less(t.column("warc_ts"), b))),
                Query("full_scan"),
                Query("text_scan", columns=["text"]),
            ]
        )
    return out


def read_mix(run: Run) -> dict:
    src = os.path.join(run.work, "src")
    out = os.path.join(run.work, "enc")
    tbl = run.fixture(0, READ_ROWS)
    run.write_parquet(tbl, src)
    run.encode(src, out)
    run.end_setup()
    run.note_encode()
    rounds = make_queries(tbl, run.rng, run.window_units(READ_ROUND_S))

    # one oracle job for every query of every round; each column set's row
    # hash is projected once
    hashed = {cols: f"_h{i}" for i, cols in enumerate(sorted({tuple(q.hash_cols) for q in rounds[0]}))}
    source = run.spark.read.parquet(src).select(
        "*", *[F.xxhash64(*cols).cast("decimal(38,0)").alias(name) for cols, name in hashed.items()]
    )
    aggs = []
    for r, qs in enumerate(rounds):
        for q, query in enumerate(qs):
            cond = query.pred() if query.pred else F.lit(True)
            aggs += [
                F.sum(F.when(cond, 1).otherwise(0)).alias(f"n_{r}_{q}"),
                F.sum(F.when(cond, F.col(hashed[tuple(query.hash_cols)]))).alias(f"h_{r}_{q}"),
            ]
    orow = run.oracle(source.agg(*aggs))[0]
    want = {
        (r, q): (int(orow[f"n_{r}_{q}"]), int(orow[f"h_{r}_{q}"] or 0))
        for r in range(len(rounds)) for q in range(len(QUERY_KINDS))
    }

    def query(r: int, q: int, cold: bool = False) -> None:
        """One operation: the query through both read paths, in an order
        that alternates between the kinds of a round."""
        query = rounds[r][q]
        paths = ("decode", "reader") if q % 2 == 0 else ("reader", "decode")
        walls = {}

        def control():
            source = run.spark.read.parquet(src)
            if query.columns:
                source = source.select(*query.columns)
            query.where(source).agg(*hash_aggs(query.hash_cols)).collect()

        def both():
            for path in paths:
                t0 = time.perf_counter()
                if path == "decode":
                    got = run.decode_read(out, query.filters, query.columns, query.hash_cols)
                else:
                    pred = query.pred() if query.pred else None
                    got = run.reader_read(out, pred, query.columns, query.hash_cols)
                walls[path] = time.perf_counter() - t0
                run.expect(f"{query.kind}[{r}] via {path}", got, want[(r, q)])

        result = tbl.filter(query.mask(tbl)) if query.mask else tbl
        run.op("read", both, control=control, cold=cold, nbytes=result.select(query.hash_cols).nbytes,
               query=query.kind, path_s=walls)

    query(0, 0, cold=True)  # warm-up: the cold sample of both paths
    for r in run.window(READ_ROUND_S):
        for q in range(len(QUERY_KINDS)):
            query(r, q)
    ops = [o for o in run.ops if o["kind"] == "read" and not o["cold"]]
    if not ops:
        raise RuntimeError(f"every read of the window failed: {run.failures}")
    reads = [(o["query"], path, w, o["bytes"]) for o in ops for path, w in o["path_s"].items()]
    tail_s, tail_pct, tail_n = tail([w for _, _, w, _ in reads])
    size = run.payload_bytes(out) / dir_bytes(src, ".parquet")
    run.detail.update(
        lookup_p50_s=median(w for k, _, w, _ in reads if k == "lookup"),
        filtered_p50_s=median(w for k, _, w, _ in reads if k in FILTERED_KINDS),
        read_tail_s=tail_s,
        read_tail_percentile=tail_pct,
        read_samples=tail_n,
        scan_gbps=median(b / 1e9 / w for k, _, w, b in reads if k == "full_scan"),
        decode_path_p50_s=median(w for _, p, w, _ in reads if p == "decode"),
        reader_path_p50_s=median(w for _, p, w, _ in reads if p == "reader"),
        parquet_read_p50_s=median(o["control_s"] for o in ops),
        size_vs_parquet=size,
    )
    # one operation is two reads of the control's size
    run.keep(out, src, tbl, rounds[0][1].filters[0][2])
    return {"op_vs_parquet": vs_parquet(ops, per_control=2), "size_vs_parquet": size}


WORKLOADS = {"bulk_encode": bulk_encode, "read_mix": read_mix}
