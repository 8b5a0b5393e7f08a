"""The one read planner (``encode/scan.py``): it schedules no Spark job,
drops terms it cannot compare from pruning, and — checked by a seeded
generator of datasets and DNF filters — never prunes a matching row on
either read path."""

import json
import random
from datetime import date, datetime, timedelta
from decimal import Decimal

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from universal_parquet_exporter_spark.encode.pipeline import (
    _FILTER_OPS,
    EncodeJobConfig,
    _chunk_stats,
    decode_dataset,
    encode_job,
    load_or_build_plan,
)
from universal_parquet_exporter_spark.encode.scan import (
    _committed_manifest,
    _normalize_terms,
    plan_scan,
)
from universal_parquet_exporter_spark.sources import spark_datasource as sds


def test_terms_outside_the_column_domain_do_not_prune():
    """Only values the zone map can order the way Spark does take part
    in pruning; the rest are dropped (Spark's residual still applies)."""
    schema = pa.schema(
        [("ts", pa.timestamp("us", "UTC")), ("d", pa.date32()), ("dec", pa.decimal128(12, 2)),
         ("n", pa.int64()), ("f", pa.float64()), ("s", pa.string())]
    )
    dropped = [
        ("ts", ">=", "2026-01-01 00:00:00"), ("ts", "<", 0), ("ts", "in", [datetime(2026, 1, 1), "x"]),
        ("d", "<", datetime(2024, 1, 1, 12)), ("dec", ">", 1.5), ("n", "=", True),
        ("f", "<", float("nan")), ("f", "in", [1.0, float("nan")]), ("s", "=", 5),
    ]
    assert _normalize_terms(dropped, schema) == []
    kept = _normalize_terms(
        [("ts", ">=", datetime(1970, 1, 1, 0, 0, 1)), ("d", "<", date(1970, 1, 3)),
         ("dec", "in", [Decimal("1.50"), 2]), ("n", "<", 2.5), ("f", "not_null", None)],
        schema,
    )
    assert kept == [
        ("ts", ">=", 1_000_000), ("d", "<", 2), ("dec", "in", (Decimal("1.50"), Decimal(2))),
        ("n", "<", 2.5), ("f", "not_null", None),
    ]
    # a float chunk holding NaN records no bounds: Spark orders NaN above
    # every double, so a NaN-blind maximum would prune `f > x` wrongly
    assert "f" not in json.loads(_chunk_stats(pa.table({"f": [1.0, float("nan"), 3.0]})))


def _events(spark, n=400):
    """Key-clustered rows with an hourly ``warc_ts`` (2026-01-01 + id h)."""
    return spark.range(n).select(
        F.lpad(F.col("id").cast("string"), 6, "0").alias("k"),
        F.timestamp_micros(F.lit(1767225600000000) + F.col("id") * 3600_000_000).alias("warc_ts"),
        F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("text"),
    )


def _encode(spark, df, out):
    cfg = EncodeJobConfig(
        output_dir=out, key_col="k", size_cols=("text",),
        target_unit_bytes=1 << 10, chunk_rows=32,
    )
    encode_job(spark, df, cfg)


def test_string_timestamp_bound_matches_spark(spark, tmp_path):
    """A bound that is not a datetime cannot be compared with the
    epoch-µs zone map; it only drops out of pruning, and Spark's own
    coercion still decides the rows."""
    out = str(tmp_path / "enc")
    df = _events(spark)
    _encode(spark, df, out)
    for v in ("2026-01-05 00:00:00", "2026-01-10"):
        got = decode_dataset(spark, out, filters=[("warc_ts", ">=", v)])
        exp = df.where(F.col("warc_ts") >= v)
        assert sorted(r.k for r in got.collect()) == sorted(r.k for r in exp.collect())
        assert 0 < exp.count() < df.count()
    # a string in an IN-list drops out the same way
    got = decode_dataset(spark, out, filters=[("warc_ts", "in", ["2026-01-02 03:00:00"])])
    assert [r.k for r in got.collect()] == ["000027"]
    # so does an int bound (Spark's analyzer then rejects the residual)
    funnel = plan_scan(out, [[("warc_ts", ">", 0)]]).funnel
    assert funnel["qualifying"] == funnel["total"] > 0


def test_filtered_decode_plans_without_spark_jobs(spark, tmp_path):
    out = str(tmp_path / "enc")
    _encode(spark, _events(spark), out)
    sc = spark.sparkContext
    group = "upes-decode-planning"
    sc.setJobGroup(group, "filtered decode_dataset planning")
    try:
        ev: dict = {}
        dec = decode_dataset(
            spark, out,
            filters=[
                [("k", "<", "000050")],
                [("k", ">=", "000300"), ("warc_ts", ">=", datetime(2026, 1, 15))],
            ],
            pruning_evidence=ev,
        )
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == []
    assert 0 < ev["qualifying"] < ev["total"]
    assert 0 < ev["units_qualifying"] < ev["units_total"]
    assert dec.count() > 0


# ---------------------------------------------------------------------------
# generated differential: decode_dataset(filters) == full decode + predicate
# ---------------------------------------------------------------------------

N_ROWS = 480
STR_COLS = ("k", "s", "m.x")


def _source_table(rng: random.Random) -> pa.Table:
    """Every zone-map type, nulls in runs (all-null chunks) and scattered,
    clustered columns (narrow bounds) and interleaved ones (value sets),
    and a dotted column name."""
    t0 = datetime(2024, 1, 1)
    cats = ["ar", "de", "en", "fr", "zh"]
    cols = {c: [] for c in ("k", "s", "n", "ts", "d", "dec", "f", "m.x")}
    for i in range(N_ROWS):
        null_run = (i // 64) % 3 == 1
        cols["k"].append(f"{i:05d}")
        cols["s"].append(None if rng.random() < 0.1 else rng.choice(cats))
        cols["n"].append(None if null_run else i * 3 + rng.randrange(3))
        cols["ts"].append(None if rng.random() < 0.05 else t0 + timedelta(minutes=7 * i))
        cols["d"].append(date(2024, 1, 1) + timedelta(days=i // 8))
        cols["dec"].append(None if null_run else Decimal(rng.randrange(-50000, 50000)).scaleb(-2))
        cols["f"].append(float("nan") if rng.random() < 0.02 else i / 4)
        cols["m.x"].append("en" if i < N_ROWS // 2 else rng.choice(cats[:2]) + "-" + str(i % 3))
    return pa.table(
        {
            "k": pa.array(cols["k"], pa.string()),
            "s": pa.array(cols["s"], pa.string()),
            "n": pa.array(cols["n"], pa.int64()),
            "ts": pa.array(cols["ts"], pa.timestamp("us", "UTC")),
            "d": pa.array(cols["d"], pa.date32()),
            "dec": pa.array(cols["dec"], pa.decimal128(12, 2)),
            "f": pa.array(cols["f"], pa.float64()),
            "m.x": pa.array(cols["m.x"], pa.string()),
        }
    )


def _recorded_bounds(out: str) -> dict[str, list]:
    """Every chunk's recorded min/max per column, as filter values: an
    off-by-one pruning rule loses rows exactly at these values."""
    from_zone = {
        "ts": lambda x: datetime(1970, 1, 1) + timedelta(microseconds=x),
        "d": lambda x: date(1970, 1, 1) + timedelta(days=x),
        "dec": Decimal,
    }
    bounds: dict[str, list] = {}
    for stats in _committed_manifest(out).column("stats").to_pylist():
        for col, mm in json.loads(stats).items():
            if not col.startswith("_"):
                conv = from_zone.get(col, lambda x: x)
                bounds.setdefault(col, []).extend(conv(x) for x in mm if x is not None)
    return bounds


def _value(rng: random.Random, tbl: pa.Table, bounds: dict, col: str):
    """A value of ``col``'s domain: a recorded chunk bound or one that
    occurs, mostly as is, else a near miss, an out-of-range value, or a
    value Spark must coerce."""
    v = rng.choice(bounds[col]) if col in bounds and rng.random() < 0.4 else None
    while v is None:
        v = tbl.column(col)[rng.randrange(tbl.num_rows)].as_py()
    r = rng.random()
    if col in STR_COLS:
        return v if r < 0.6 else (v + "a" if r < 0.8 else rng.choice(["", "zz", "b", "00200"]))
    if col == "n":
        return v if r < 0.6 else (v + 0.5 if r < 0.8 else rng.choice([-1, 10**6]))
    if col == "ts":
        v = v.replace(tzinfo=None)
        if r < 0.2:
            return v.strftime("%Y-%m-%d %H:%M:%S")
        return v if r < 0.7 else v + timedelta(seconds=30)
    if col == "d":
        return v if r < 0.7 else (v.isoformat() if r < 0.85 else v + timedelta(days=400))
    if col == "dec":
        far = rng.choice([0, Decimal("999.99")])
        return v if r < 0.6 else (v + Decimal("0.01") if r < 0.8 else far)
    return v if r < 0.7 else rng.choice([float("nan"), -1.0, 7.25, 1e9])


def _term(rng: random.Random, tbl: pa.Table, bounds: dict) -> tuple:
    col = rng.choice(tbl.schema.names)
    string_ops = ("startswith", "endswith", "contains")
    ops = [op for op in _FILTER_OPS if col in STR_COLS or op not in string_ops]
    op = rng.choice(ops)
    if op in ("is_null", "not_null"):
        return (col, op, None)
    if op in ("in", "not_in"):
        return (col, op, [_value(rng, tbl, bounds, col) for _ in range(rng.randint(1, 3))])
    if op in string_ops:
        v = _value(rng, tbl, bounds, col)
        cut = rng.randint(0, len(v))
        part = {"startswith": v[:cut], "endswith": v[cut:], "contains": v[cut // 2:cut]}
        return (col, op, part[op])
    return (col, op, _value(rng, tbl, bounds, col))


def _predicate(groups):
    """The filters as an independent Spark predicate."""
    cond = None
    for g in groups:
        gc = None
        for c, op, v in g:
            col = F.col(f"`{c}`")
            e = {
                "<": lambda: col < v, "<=": lambda: col <= v, ">": lambda: col > v,
                ">=": lambda: col >= v, "=": lambda: col == v, "==": lambda: col == v,
                "!=": lambda: col != v, "<>": lambda: col != v,
                "in": lambda: col.isin(*v), "not_in": lambda: ~col.isin(*v),
                "is_null": col.isNull, "not_null": col.isNotNull,
                "startswith": lambda: col.startswith(v), "endswith": lambda: col.endswith(v),
                "contains": lambda: col.contains(v),
            }[op]()
            gc = e if gc is None else gc & e
        cond = gc if cond is None else cond | gc
    return cond


@pytest.mark.parametrize("seed", [7, 2026])
def test_generated_filters_prune_conservatively(spark, tmp_path, seed):
    rng = random.Random(seed)
    tbl = _source_table(rng)
    out = str(tmp_path / "enc")
    sds.register(spark)
    src = spark.createDataFrame(tbl)
    load_or_build_plan(
        src,
        EncodeJobConfig(output_dir=out, key_col="k", size_cols=("k",), target_unit_bytes=1 << 10),
    )
    src.repartitionByRange(3, "k").write.format("upe_encoded").option("key_col", "k").option(
        "chunk_rows", "24"
    ).mode("append").save(out)

    # the oracle is a local relation, not .cache(): Spark's cached-batch
    # statistics drop NaN rows for `f > x`, though NaN sorts above every
    # double in Spark
    full = spark.createDataFrame(decode_dataset(spark, out).toArrow())
    assert full.count() == N_ROWS
    reader = spark.read.format("upe_encoded").load(out)
    bounds = _recorded_bounds(out)
    pruned = 0
    for _ in range(60):
        # short groups: a wrongly pruned chunk loses rows only when the
        # filter matches some, which long conjunctions rarely do
        n_groups = rng.choice([1, 1, 1, 2, 2, 3])
        groups = [
            [_term(rng, tbl, bounds) for _ in range(rng.choice([1, 1, 2, 3]))]
            for _ in range(n_groups)
        ]
        filters = groups[0] if n_groups == 1 and rng.random() < 0.5 else groups
        ev: dict = {}
        dec = decode_dataset(spark, out, filters=filters, pruning_evidence=ev)
        got = sorted(r.k for r in dec.select("k").collect())
        exp = sorted(r.k for r in full.where(_predicate(groups)).select("k").collect())
        assert got == exp, f"decode_dataset lost or added rows for {filters!r} ({ev})"
        pruned += ev["qualifying"] < ev["total"]
        if len(groups) == 1:
            via_reader = reader.where(_predicate(groups)).select("k").collect()
            assert sorted(r.k for r in via_reader) == exp, f"reader lost or added rows for {groups[0]!r}"
    assert pruned > 0  # the generator reaches the pruning layers at all
