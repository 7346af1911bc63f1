"""Parquet opens take their schema from one footer read on the driver
(``sources.registry.open_parquet``): the schema must be the one Spark's
own inference gives, and registering the sources must run no Spark
job."""

from __future__ import annotations

import os
import sys

import pytest
from conftest import SF_DIR
from pyspark.sql import functions as F

from opl_spark.cube import CubeEngine
from opl_spark.facts import build_loans_fact, default_catalog
from opl_spark.rollups import RollupStore
from opl_spark.sources import TABLES, load_table, register_sources
from opl_spark.sources.registry import open_parquet

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_TESTDATA = os.path.dirname(SF_DIR)


def _assert_same_schema(spark, path):
    assert open_parquet(spark, path).schema == spark.read.parquet(path).schema, path


@pytest.mark.parametrize("sf", ["0.001", "0.01", "0.1"])
def test_footer_schema_equals_inferred_on_testdata(spark, sf):
    sf_dir = os.path.join(_TESTDATA, f"sf{sf}")
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} not present")
    for name in TABLES:
        _assert_same_schema(spark, os.path.join(sf_dir, f"{name}.parquet"))


def test_footer_schema_equals_inferred_on_generated_tables(spark, tmp_path):
    sys.path.insert(0, os.path.join(_ROOT, "perfbench"))
    try:
        import datagen
    finally:
        sys.path.remove(os.path.join(_ROOT, "perfbench"))
    src = datagen.write_tables(str(tmp_path / "src"), 7, 0.001)
    for name in TABLES:
        _assert_same_schema(spark, os.path.join(src, f"{name}.parquet"))


def test_footer_schema_equals_inferred_on_spark_written_dirs(spark, sf_dir, tmp_path):
    engine = CubeEngine(default_catalog())
    engine.register_fact("loans2", build_loans_fact(spark, sf_dir))
    store = RollupStore(spark, str(tmp_path / "lattice"))
    manifest = store.materialize(engine, "loans2", [["year", "month", "loan_type"]])
    rollup_dir = manifest["rollups"]["year__month__loan_type"]["dir"]
    _assert_same_schema(spark, str(tmp_path / "lattice" / "loans2" / rollup_dir))

    # several part files, and a partitioned layout whose partition
    # column Spark takes from the directory names
    df = spark.range(200).select("id", (F.col("id") % 3).alias("k"), F.col("id").cast("string").alias("s"))
    flat, parted = str(tmp_path / "flat"), str(tmp_path / "parted")
    df.repartition(4).write.parquet(flat)
    df.write.partitionBy("k").parquet(parted)
    assert len([f for f in os.listdir(flat) if f.endswith(".parquet")]) > 1
    for path in (flat, parted):
        _assert_same_schema(spark, path)
        assert open_parquet(spark, path).count() == 200


def test_register_sources_runs_no_spark_job(spark, sf_dir):
    sc = spark.sparkContext
    sc.setJobGroup("register-sources", "source registration job-count probe")
    try:
        register_sources(spark, sf_dir)
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup("register-sources")) == []
    assert spark.table("orders").count() == load_table(spark, sf_dir, "orders").count()


def test_missing_source_raises_what_the_plain_reader_raises(spark, tmp_path):
    missing = str(tmp_path / "nowhere")
    with pytest.raises(Exception) as plain:
        spark.read.parquet(os.path.join(missing, "orders.parquet"))
    with pytest.raises(Exception) as opened:
        load_table(spark, missing, "orders")
    assert type(opened.value) is type(plain.value)
    assert "PATH_NOT_FOUND" in str(opened.value)
