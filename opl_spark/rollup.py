"""Materialized time-grain rollups with query routing — the classic
OLAP accelerator for the reference's cube surface (OLAP.php serves one
grain per fact; at 100 TB a year-grain dashboard query must never
rescan the event-level fact).

Build once: aggregate the fact to its finest useful grain (usually
day) and save it as a catalog table (:func:`lineitem_day_rollup_table`,
one table per data directory; a new directory gets a new table, so
nothing here refreshes in place — incremental maintenance of the
served lattice is ``rollups.RollupStore.refresh``).  Route per query:
a request at grain g is answered by the FINEST materialization that is still
coarse enough to roll up into g — day answers month/quarter/year by
re-aggregating day rows (calendar grains nest exactly), and only a
request finer than every materialization falls through to the fact.
The routed scan is summary-sized: |days × keys| instead of |facts|.

Additivity contract: only ALGEBRAIC measures route (sum / count — and
min/max, which re-aggregate as min-of-min / max-of-max); avg must be
carried as (sum, count) pairs and divided at the edge.  This mirrors
the reference's measure list (`OLAP.php` measures are sums and
counts), so every cube measure is routable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: calendar grains, finest first; each nests exactly into every
#: coarser one (a month is whole days, a year whole months), which is
#: what makes re-aggregation exact.  "week" is deliberately ABSENT:
#: ISO weeks straddle month/year boundaries, so a week grain neither
#: answers nor is answered by month/year — it would need its own
#: materialization chain.
GRAINS = ("day", "month", "quarter", "year")

_TRUNC = {"day": "dd", "month": "mon", "quarter": "quarter", "year": "year"}


def grain_col(ts: Column, grain: str) -> Column:
    """The grain bucket of a timestamp as a DATE column."""
    if grain not in GRAINS:
        raise ValueError(f"unknown grain {grain!r}; pick one of {GRAINS}")
    return F.date_trunc(_TRUNC[grain], ts).cast("date")


def route(requested: str, available: list[str]) -> str | None:
    """The materialized grain that should answer a ``requested``-grain
    query: the COARSEST available grain at-or-below the request (fewer
    rows to re-aggregate = cheaper), or None when every
    materialization is too coarse (caller falls back to the fact).
    """
    if requested not in GRAINS:
        raise ValueError(f"unknown grain {requested!r}")
    limit = GRAINS.index(requested)
    candidates = [g for g in available if GRAINS.index(g) <= limit]
    if not candidates:
        return None
    return max(candidates, key=GRAINS.index)


def time_rollup_frame(
    fact: DataFrame,
    ts_col: str,
    keys: list[str],
    sums: dict[str, Column],
    grain: str = "day",
) -> DataFrame:
    """The (grain bucket, keys) → partial-sum frame a rollup table
    stores.  ``sums`` maps output column name → its AGGREGATE
    expression (keep money in DECIMAL so partials re-sum exactly); a
    row count ``n_rows`` is always carried so downstream COUNT/AVG stay
    routable."""
    return fact.groupBy(
        grain_col(F.col(ts_col), grain).alias("bucket"), *[F.col(k) for k in keys]
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[expr.alias(name) for name, expr in sums.items()],
    )


def lineitem_day_rollup_table(spark: SparkSession, sf_dir: str) -> str:
    """The shared day-grain lineitem revenue rollup store: (ship day,
    returnflag) partial sums as a content-addressed bucketed catalog
    table (``sources.bucketing.bucketed_table_atomic`` — safe under
    concurrent sessions).  ONE definition serves every consumer
    (``q_rollup_route``, the latency bench's router leg): the store
    dedupes by (name, sf_dir) only, so two call sites with drifting
    build bodies would silently serve whichever ran first — the build
    lives here precisely so that cannot happen (code review r11).
    Returns the table name."""
    from opl_spark.sources import load_table
    from opl_spark.sources.bucketing import bucketed_table_atomic

    def build() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem")
        return time_rollup_frame(
            li.withColumn("ship_ts", F.col("l_shipdate").cast("timestamp")),
            "ship_ts",
            ["l_returnflag"],
            {
                "revenue_dec": F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                )
            },
            grain="day",
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
    table_by_grain: dict[str, str],
    requested: str,
    keys: list[str],
    sums: list[str],
) -> DataFrame:
    """Answer a (grain, keys, sum-measures) cube query through the
    routed materialization: re-truncate the stored bucket to the
    requested grain and re-sum partials.  Raises if no materialization
    can serve (callers then query the fact directly — loud, so a
    missing rollup is an operability signal, not a silent full scan).
    """
    src_grain = route(requested, list(table_by_grain))
    if src_grain is None:
        raise ValueError(
            f"no materialization at or below grain {requested!r}: "
            f"{sorted(table_by_grain)} — query the fact table instead"
        )
    t = spark.table(table_by_grain[src_grain])
    return t.groupBy(
        grain_col(F.col("bucket").cast("timestamp"), requested).alias("bucket"),
        *[F.col(k) for k in keys],
    ).agg(
        F.sum("n_rows").alias("n_rows"),
        *[F.sum(c).alias(c) for c in sums],
    )
