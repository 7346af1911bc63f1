"""The custom Python data source (``opl_spark/sources/pydatasource.py``)."""

import pytest


@pytest.mark.slow  # r14 slow tier
def test_python_data_source_generates_deterministic_partitions(spark):
    """The custom Python data source must parallelize generation across
    its declared partitions and produce identical data on re-read
    (retried tasks see the same rows)."""
    from opl_spark.sources.pydatasource import SyntheticSource

    spark.dataSource.register(SyntheticSource)
    df = (
        spark.read.format("opl_synth")
        .option("rows", 5000)
        .option("partitions", 8)
        .option("seed", 7)
        .load()
    )
    assert df.rdd.getNumPartitions() == 8
    assert df.count() == 5000
    assert df.select("id").distinct().count() == 5000
    a = sorted(tuple(r) for r in df.collect())
    b = sorted(tuple(r) for r in (
        spark.read.format("opl_synth")
        .option("rows", 5000).option("partitions", 8).option("seed", 7).load()
    ).collect())
    assert a == b
    # a different seed produces different payloads, same ids
    c = (
        spark.read.format("opl_synth")
        .option("rows", 5000).option("partitions", 8).option("seed", 8).load()
    )
    assert sorted(r["id"] for r in c.collect()) == [t[0] for t in a]
    assert sorted(tuple(r) for r in c.collect()) != a
