"""The parquet-path encode planner (``pipeline.load_or_build_plan_parquet``).

- Its sample is read by pyarrow on the driver, without a Spark session,
  and is exactly the documented one: every ``len(items) // 16``-th row
  group (at most 16), each strided down to ~``sample_rows / picks``
  rows, sized by the summed byte length of the size columns.
- Inputs that lack the configured size columns, and an empty
  ``size_cols``, plan on the constant row-size proxy and round-trip
  bit-identically."""

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from universal_parquet_exporter_spark.encode.pipeline import (
    EncodeJobConfig,
    _parquet_work_items,
    decode_dataset,
    encode_parquet_job,
    load_or_build_plan_parquet,
)
from universal_parquet_exporter_spark.fixtures.webpages import generate_batch
from universal_parquet_exporter_spark.plans.partitioning import plan_from_sample


def _write_input(d, n_files, rows, rg_rows, drop=()):
    """``n_files`` webpages parquet files of ``rows`` rows each, in
    ``rg_rows``-row groups; every 7th ``text`` is null."""
    os.makedirs(d)
    for f in range(n_files):
        ids = np.arange(f * rows, (f + 1) * rows, dtype=np.int64)
        t = pa.Table.from_batches([generate_batch(ids)])
        text = pc.if_else(pa.array(ids % 7 == 0), pa.scalar(None, pa.string()), t.column("text"))
        t = t.set_column(t.schema.get_field_index("text"), "text", text)
        pq.write_table(
            t.drop_columns(list(drop)), os.path.join(d, f"part-{f:03d}.parquet"),
            row_group_size=rg_rows,
        )
    return d


def _byte_len(v) -> int:
    if v is None:
        return 0
    return len(v if isinstance(v, bytes) else v.encode())


def _expected_sample(items, cfg) -> pd.DataFrame:
    """The documented sample, built row by row from whole row groups."""
    pick = items[:: max(1, len(items) // 16)][:16]
    per_item = max(64, cfg.sample_rows // len(pick))
    keys, sizes = [], []
    for path, rg in pick:
        rows = pq.ParquetFile(path).read_row_group(rg).to_pylist()
        for r in rows[:: max(1, len(rows) // per_item)]:
            keys.append(r[cfg.key_col])
            sizes.append(sum(_byte_len(r[c]) for c in cfg.size_cols))
    return pd.DataFrame({"k": keys, "sz": np.array(sizes, dtype=np.int64)})


def test_parquet_plan_is_sampled_on_the_driver(tmp_path):
    src = _write_input(str(tmp_path / "src"), n_files=8, rows=1200, rg_rows=250)
    items, total_rows = _parquet_work_items(src)
    assert len(items) == 40  # 5 row groups per file; every 2nd is picked
    out = str(tmp_path / "out")
    cfg = EncodeJobConfig(output_dir=out, sample_rows=1600, target_unit_bytes=64 << 10)

    plan = load_or_build_plan_parquet(items, total_rows, cfg)

    want = plan_from_sample(_expected_sample(items, cfg), total_rows, cfg.key_col, cfg.target_unit_bytes)
    with open(os.path.join(out, "plan.json")) as f:
        assert f.read() == want.to_json()
    assert plan.to_json() == want.to_json() and plan.n_units > 1
    # a second call reuses the persisted plan
    assert load_or_build_plan_parquet(items[:1], 1, cfg).to_json() == want.to_json()


@pytest.mark.parametrize(
    "drop,size_cols",
    [(("text", "html"), ("text", "html")), ((), ())],
    ids=["input_without_size_columns", "empty_size_cols"],
)
def test_parquet_job_plans_on_constant_row_size(spark, tmp_path, drop, size_cols):
    src = _write_input(str(tmp_path / "src"), n_files=3, rows=2000, rg_rows=700, drop=drop)
    out = str(tmp_path / "out")
    # no size column: every row counts 8 bytes, so 6000 rows make ~12 units
    cfg = EncodeJobConfig(output_dir=out, size_cols=size_cols, target_unit_bytes=4 << 10)

    m = encode_parquet_job(spark, src, cfg)
    assert m["rows"] == 6000
    assert m["encoded_units"] == m["plan_units"] > 1

    src_df = spark.read.parquet(src)
    dec = decode_dataset(spark, out)
    assert sorted(dec.columns) == sorted(src_df.columns)
    dec = dec.select(*src_df.columns)
    assert dec.count() == 6000
    assert dec.exceptAll(src_df).count() == 0
    assert src_df.exceptAll(dec).count() == 0
