"""The day-grain lineitem rollup store — the time-grain OLAP
accelerator behind ``q_rollup_route`` (OLAP.php serves one grain per
fact; at 100 TB a month-grain dashboard query must never rescan the
event-level fact).

Build once: aggregate the fact to the day grain and save it as a
content-addressed catalog table (:func:`lineitem_day_rollup_table`,
one table per data directory, published atomically across processes;
a new directory gets a new table, so nothing here refreshes in place
— the served lattice, its router and its incremental maintenance are
``rollups.RollupStore``).  Answer: :func:`rollup_answer` re-truncates
the stored day bucket to a coarser calendar grain and re-sums the
partials (calendar grains nest exactly).  The scan is summary-sized:
|days × keys| instead of |facts|.

Additivity contract: only ALGEBRAIC measures re-aggregate (sum / count
— and min/max, which re-aggregate as min-of-min / max-of-max); avg
must be carried as (sum, count) pairs and divided at the edge.  This
mirrors the reference's measure list (`OLAP.php` measures are sums and
counts).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: calendar grains a day bucket re-truncates to; each nests exactly
#: into every coarser one (a month is whole days, a year whole
#: months), which is what makes re-aggregating the day store exact.
#: "week" is deliberately ABSENT: ISO weeks straddle month/year
#: boundaries, so week buckets would not re-sum into months or years.
GRAINS = ("day", "month", "quarter", "year")

_TRUNC = {"day": "dd", "month": "mon", "quarter": "quarter", "year": "year"}


def grain_col(ts: Column, grain: str) -> Column:
    """The grain bucket of a timestamp as a DATE column."""
    if grain not in GRAINS:
        raise ValueError(f"unknown grain {grain!r}; pick one of {GRAINS}")
    return F.date_trunc(_TRUNC[grain], ts).cast("date")


def lineitem_day_rollup_table(spark: SparkSession, sf_dir: str) -> str:
    """The shared day-grain lineitem revenue rollup store: (ship day,
    returnflag) → row count ``n_rows`` and DECIMAL revenue partial sum
    ``revenue_dec`` (DECIMAL so partials re-sum exactly), as a
    content-addressed bucketed catalog table
    (``sources.bucketing.bucketed_table_atomic`` — safe under
    concurrent sessions).  ONE definition serves every consumer
    (``q_rollup_route``, the latency bench's day-rollup leg): the store
    dedupes by (name, sf_dir) only, so two call sites with drifting
    build bodies would silently serve whichever ran first — the build
    lives here precisely so that cannot happen (code review r11).
    Returns the table name."""
    from opl_spark.sources import load_table
    from opl_spark.sources.bucketing import bucketed_table_atomic

    def build() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem")
        ship_ts = F.col("l_shipdate").cast("timestamp")
        return li.groupBy(
            grain_col(ship_ts, "day").alias("bucket"), F.col("l_returnflag")
        ).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias(
                "revenue_dec"
            ),
        )

    return bucketed_table_atomic(
        spark,
        "opl_rollup_lineitem_day",
        sf_dir,
        build,
        bucket_col="l_returnflag",
        num_buckets=8,
    )


def rollup_answer(
    spark: SparkSession,
    table: str,
    grain: str,
    keys: list[str],
    sums: list[str],
) -> DataFrame:
    """Answer a (grain, keys, sum-measures) cube query from the
    day-grain rollup ``table``: re-truncate the stored bucket to
    ``grain`` and re-sum the partials."""
    t = spark.table(table)
    return t.groupBy(
        grain_col(F.col("bucket").cast("timestamp"), grain).alias("bucket"),
        *[F.col(k) for k in keys],
    ).agg(
        F.sum("n_rows").alias("n_rows"),
        *[F.sum(c).alias(c) for c in sums],
    )
