"""The encode commit (``pipeline._commit_fragments``): one manifest file,
then one lineage file, written with pyarrow on the driver.

- An encode into a fresh directory schedules one Spark job, the encode
  stage (the plan sample is read on the driver); a resumed call with the
  same config finds every unit done and writes nothing.
- A crash between the manifest file and the lineage file leaves the
  dataset in its pre-state; a rerun re-encodes the torn units and vacuum
  reclaims what the torn run left behind."""

import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from universal_parquet_exporter_spark.encode import pipeline
from universal_parquet_exporter_spark.encode.maintenance import vacuum
from universal_parquet_exporter_spark.encode.pipeline import (
    EncodeJobConfig,
    decode_dataset,
    encode_job,
    encode_parquet_job,
    load_or_build_plan,
    manifest_dir,
)
from universal_parquet_exporter_spark.fixtures import generate_webpages
from universal_parquet_exporter_spark.plans.partitioning import EncodePlan, assign_units

N_ROWS = 6000


@pytest.fixture(scope="module")
def webpages(spark):
    df = generate_webpages(spark, N_ROWS, partitions=4).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def webpages_parquet(webpages, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("commit_src"))
    webpages.write.mode("overwrite").parquet(d)
    return d


@pytest.fixture()
def outdir():
    d = tempfile.mkdtemp(prefix="upes_commit_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _mismatches(df, dec):
    j = df.alias("a").join(dec.alias("b"), "url", "full")
    return j.where(
        ~F.col("a.warc_ts").eqNullSafe(F.col("b.warc_ts"))
        | ~F.col("a.text").eqNullSafe(F.col("b.text"))
        | ~F.col("a.lang").eqNullSafe(F.col("b.lang"))
        | ~F.col("a.html").eqNullSafe(F.col("b.html"))
    ).count()


def _rows(df):
    return sorted(df.collect(), key=lambda r: r.url)


def _files(path):
    return sorted(f for f in os.listdir(path) if not f.startswith("."))


def _jobs_of(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, jobs


def test_encode_parquet_job_commits_without_bookkeeping_jobs(spark, webpages_parquet, outdir):
    cfg = EncodeJobConfig(output_dir=outdir, target_unit_bytes=2 << 20)
    m1, jobs = _jobs_of(spark, "upes-commit-fresh", lambda: encode_parquet_job(spark, webpages_parquet, cfg))
    # the plan sample and the encode stage; the commit itself runs none
    assert len(jobs) <= 2, jobs
    assert m1["rows"] == N_ROWS and m1["encoded_units"] == m1["plan_units"]
    data_dir, lineage_dir = manifest_dir(outdir), os.path.join(outdir, "lineage")
    # one manifest file and one lineage file, in the shared commit schema
    assert [f.endswith("-manifest.parquet") for f in _files(data_dir)] == [True]
    assert [f.endswith("-lineage.parquet") for f in _files(lineage_dir)] == [True]
    lin = pq.read_table(os.path.join(lineage_dir, _files(lineage_dir)[0]))
    assert lin.schema.equals(pipeline._LINEAGE_PA_SCHEMA)
    assert pc.sum(lin.column("n_rows")).as_py() == N_ROWS
    man = pads.dataset(data_dir, format="parquet").to_table()
    assert pc.sum(lin.column("n_fragments")).as_py() == man.num_rows
    before = (_files(data_dir), _files(lineage_dir))

    # the same config again: plan and lineage are read from disk, every
    # unit is done, and the empty commit writes no file
    m2, jobs2 = _jobs_of(spark, "upes-commit-resumed", lambda: encode_parquet_job(spark, webpages_parquet, cfg))
    assert len(jobs2) <= 1, jobs2
    assert m2["resumed_units"] == m2["plan_units"] == m1["plan_units"]
    for k in ("encoded_units", "rows", "bytes_in", "bytes_out", "ratio"):
        assert m2[k] == m1[k], k
    assert (_files(data_dir), _files(lineage_dir)) == before


def test_fresh_encode_parquet_job_runs_one_spark_job(spark, webpages_parquet, outdir):
    cfg = EncodeJobConfig(output_dir=outdir, target_unit_bytes=2 << 20)
    m, jobs = _jobs_of(spark, "upes-commit-one-job", lambda: encode_parquet_job(spark, webpages_parquet, cfg))
    # the encode stage; the plan sample is read by pyarrow on the driver
    assert len(jobs) == 1, jobs
    assert os.path.exists(os.path.join(outdir, "plan.json"))
    assert m["rows"] == N_ROWS and m["encoded_units"] == m["plan_units"]


def _units_below(df, plan: EncodePlan, k: int):
    """The rows of ``df`` whose encode unit is below ``k``."""
    bjson = plan.to_json()

    def tag(iterator):
        p = EncodePlan.from_json(bjson)
        for batch in iterator:
            keys = np.asarray(batch.column("url").to_pylist(), dtype=object)
            yield batch.append_column("__unit", pa.array(assign_units(keys, p), type=pa.int64()))

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    return df.mapInArrow(tag, schema + ", __unit long").where(F.col("__unit") < k).drop("__unit")


def test_crash_between_manifest_and_lineage_files(spark, webpages, webpages_parquet, outdir, monkeypatch):
    cfg = EncodeJobConfig(output_dir=outdir, target_unit_bytes=2 << 20)
    plan = load_or_build_plan(webpages, cfg)
    k = plan.n_units // 2
    assert k >= 1
    subset = _units_below(webpages, plan, k)
    encode_job(spark, subset, cfg)
    pre = _rows(decode_dataset(spark, outdir))
    assert len(pre) == subset.count()

    write = pipeline._write_parquet_file

    def crash_before_lineage(dir_path, name, tbl):
        if name.endswith("-lineage.parquet"):
            raise OSError("simulated crash before the lineage file")
        write(dir_path, name, tbl)

    monkeypatch.setattr(pipeline, "_write_parquet_file", crash_before_lineage)
    torn_cfg = EncodeJobConfig(output_dir=outdir, target_unit_bytes=2 << 20)
    with pytest.raises(OSError, match="simulated crash"):
        encode_parquet_job(spark, webpages_parquet, torn_cfg)
    monkeypatch.undo()

    # the torn run's manifest file landed; its payload files exist
    man = pads.dataset(manifest_dir(outdir), format="parquet").to_table()
    torn = man.filter(pc.equal(man.column("run_id"), torn_cfg.run_id))
    assert torn.num_rows > 0
    assert set(torn.column("unit").to_pylist()) == set(range(k, plan.n_units))
    torn_files = set(torn.column("file").to_pylist())
    payload_dir = os.path.join(outdir, "payload")
    assert torn_files <= set(os.listdir(payload_dir))
    # ... yet decode sees exactly the pre-state
    assert _rows(decode_dataset(spark, outdir)) == pre

    # a rerun under a fresh run id re-encodes the torn units
    m = encode_parquet_job(spark, webpages_parquet, EncodeJobConfig(output_dir=outdir))
    assert m["resumed_units"] == k
    assert m["encoded_units"] == plan.n_units and m["rows"] == N_ROWS
    dec = decode_dataset(spark, outdir)
    assert dec.count() == N_ROWS
    assert _mismatches(webpages, dec) == 0

    # vacuum reclaims the torn run's payload files and manifest rows
    rep = vacuum(spark, outdir)
    assert rep["orphan_manifest_rows"] == torn.num_rows
    assert rep["deleted_files"] == len(torn_files)
    assert not torn_files & set(os.listdir(payload_dir))
    dec = decode_dataset(spark, outdir)
    assert dec.count() == N_ROWS
    assert _mismatches(webpages, dec) == 0


def test_empty_overwrite_publishes_a_readable_manifest(spark, webpages, outdir):
    """An overwrite with no rows commits no fragments, yet the pointer it
    swaps must name a manifest that compaction's Spark reads can open."""
    from universal_parquet_exporter_spark.encode.compaction import compact
    from universal_parquet_exporter_spark.sources.spark_datasource import register

    register(spark)
    encode_job(spark, webpages, EncodeJobConfig(output_dir=outdir, target_unit_bytes=2 << 20))
    webpages.limit(0).write.format("upe_encoded").option("key_col", "url").mode("overwrite").save(outdir)
    assert os.path.basename(manifest_dir(outdir)) == "data_v1"
    assert compact(spark, outdir)["slices_before"] == 0
    webpages.limit(10).write.format("upe_encoded").option("key_col", "url").mode("append").save(outdir)
    assert decode_dataset(spark, outdir).count() == 10
