"""Scan-level plan probes for the scale tests: what each scan of a
DataFrame's formatted plan prunes, pushes down and reads."""

from __future__ import annotations

import contextlib
import re

from pyspark.sql import DataFrame

from opl_spark.plans import formatted_plan


def _scan_lines(df: DataFrame, field: str) -> list[str]:
    pat = re.compile(rf"{field}:\s*\[(.*?)\]")
    out = []
    for ln in formatted_plan(df).splitlines():
        m = pat.search(ln)
        if m is not None:
            out.append(m.group(1))
    return out


def partition_filters(df: DataFrame) -> list[str]:
    """Per-scan partition filter lists (empty string = unpruned scan)."""
    return _scan_lines(df, "PartitionFilters")


def pushed_filters(df: DataFrame) -> list[str]:
    """Per-scan pushed-down data filter lists."""
    return _scan_lines(df, "PushedFilters")


def read_schemas(df: DataFrame) -> list[str]:
    """Per-scan read schemas (column-pruning evidence)."""
    out = []
    for ln in formatted_plan(df).splitlines():
        if "ReadSchema:" in ln:
            out.append(ln.split("ReadSchema:", 1)[1].strip())
    return out


@contextlib.contextmanager
def shuffle_partitions(spark, n: int):
    """Run the block with ``spark.sql.shuffle.partitions`` set to ``n``,
    the count the range-partitioned rank passes spread over."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
