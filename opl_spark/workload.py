"""The t2 correctness workload: every operator from SURVEY.md §2 as a
(PySpark query, ANSI-SQL oracle) pair.

Each Spark query is written with the DataFrame API (or the cube
compiler); each oracle is hand-written ANSI SQL that DuckDB runs on the
same parquet — the dual encoding is the unit test (SURVEY.md §5.2).

Cross-engine determinism rules used throughout:
- key/grouping columns cast to ``long`` (int64 both engines);
- money summed as ``decimal(18,2)`` (exact, order-independent);
- averages = ``round(double(exact_sum)/count, 6)`` (bit-stable);
- no floating-point arithmetic whose result depends on reduce order.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opl_spark.cube import CubeEngine, zero_fill
from opl_spark.facts import (
    ACTIVE_USERS_SQL,
    LOANS_META,
    ORACLE_CTE,
    PIVOT_DATE,
    build_loans_fact,
    default_catalog,
)
from opl_spark.sources import load_table
from opl_spark.snapshot import attach_audit, bind_date
from opl_spark.timescope import make_scope, scope_columns

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    """Every registered query, in registration order (the driver's
    audit order is derived in ``__spark_entry__``)."""
    _load_extensions()
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    _load_extensions()
    return dict(_ORACLES)


def _load_extensions() -> None:
    """Pull in the extension registrations (deferred import — the
    extension module imports ``register`` from here)."""
    import opl_spark.workload_ext  # noqa: F401


def _cube(spark: SparkSession, sf_dir: str, **kw) -> DataFrame:
    engine = CubeEngine(default_catalog())
    engine.register_fact("loans2", build_loans_fact(spark, sf_dir))
    return engine.aggregate("loans2", **kw)


# ===========================================================================
# §2.1 scans / sources / sinks
# ===========================================================================


@register(
    "q_source_scan",
    oracle="""
SELECT l_returnflag, l_linestatus,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2)      AS sum_qty,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price,
       COUNT(*)                                                              AS n_rows
FROM lineitem
WHERE l_shipdate <= DATE '2000-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def q_source_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 — source SQL scan (pushed filter + pruned columns) with
    map-side-combinable aggregation; the TPC-H-Q1 shape."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # exact decimal reduction, canonical double on the wire —
            # trailing-zero decimal reprs hash differently across engines
            F.round(F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double"), 2).alias("sum_price"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "q_json_rows",
    oracle="""
SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
FROM events
WHERE event_type = 'signup'
""",
)
def q_json_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 — script/JSON row source: semi-structured JSON column parsed
    into typed rows (reference parses exec-stdout JSON, OLAP.php:73-79)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.col("event_type") == "signup").select(
        "event_id", F.get_json_object("props", "$.k").cast("long").alias("k")
    )


@register(
    "q_type_cast",
    oracle="""
SELECT event_id,
       CAST(FLOOR(value) AS BIGINT)        AS value_int,
       CAST(CAST(ts AS DATE) AS VARCHAR)   AS day_str
FROM events
WHERE event_type = 'purchase'
""",
)
def q_type_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 — type inference/cast semantics (int-ification + date-string
    detection; reference first-row inference OLAP.php:251-285)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        F.floor("value").cast("long").alias("value_int"),
        F.col("ts").cast("date").cast("string").alias("day_str"),
    )


_SCOPE = make_scope(PIVOT_DATE)

@register(
    "q_audit_columns",
    oracle=(
        "WITH base AS ("
        + bind_date(ACTIVE_USERS_SQL, PIVOT_DATE)
        + f""")
SELECT CAST(7 AS BIGINT) AS queryId,
       CAST({_SCOPE.year} AS BIGINT) AS year,
       CAST({_SCOPE.month} AS BIGINT) AS month,
       '{_SCOPE.week}' AS week,
       CAST({_SCOPE.day} AS BIGINT) AS day,
       TIMESTAMP '{PIVOT_DATE} 00:00:00' AS executionDate,
       base.*
FROM base
"""
    ),
)
def q_audit_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 — the six audit columns prepended to a snapshot result
    (OLAP.php:356-372)."""
    df = q_active_users(spark, sf_dir)
    ts = _dt.datetime.fromisoformat(PIVOT_DATE + "T00:00:00")
    return attach_audit(df, 7, _SCOPE, execution_ts=ts)


@register(
    "q_output_table",
    oracle=ORACLE_CTE
    + """
SELECT year, month, ROUND(CAST(SUM(value) AS DOUBLE), 2) AS value
FROM fact GROUP BY year, month
""",
)
def q_output_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 — deterministic ordered tabular output (Codice.gs:349): the
    cube emits orderBy(group cols); to_table() adds the header row."""
    return _cube(spark, sf_dir, drilldown="date:month", measure="value")


# ===========================================================================
# §2.2 projection / filter / scalar expressions
# ===========================================================================


@register(
    "q_projection",
    oracle="""
SELECT p_partkey AS part_id, p_name AS part_name,
       ROUND(CAST(p_retailprice AS DOUBLE), 2) AS price
FROM part
""",
)
def q_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 — projection + alias (library_olap/README.md:39-40)."""
    return load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("part_id"),
        F.col("p_name").alias("part_name"),
        F.round(F.col("p_retailprice").cast("double"), 2).alias("price"),
    )


_AGE_EXPR = f"EXTRACT(YEAR FROM DATE '{PIVOT_DATE}') - (1930 + c_custkey % 80)"

@register(
    "q_case_bucket",
    oracle=f"""
SELECT c_custkey,
       CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 'n/a'
            WHEN {_AGE_EXPR} <= 14 THEN '0-14'
            WHEN {_AGE_EXPR} <= 25 THEN '15-25'
            WHEN {_AGE_EXPR} <= 40 THEN '26-40'
            WHEN {_AGE_EXPR} <= 60 THEN '41-60'
            ELSE '61+' END AS age_group
FROM customer
""",
)
def q_case_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 — CASE-WHEN age-band bucketing (library_olap/README.md:41-45)."""
    c = load_table(spark, sf_dir, "customer")
    return c.select("c_custkey", _age_group_col().alias("age_group"))


def _age_group_col():
    pivot_year = int(PIVOT_DATE[:4])
    age = F.lit(pivot_year) - (F.lit(1930) + F.col("c_custkey") % 80)
    return (
        F.when(F.col("c_mktsegment") == "HOUSEHOLD", "n/a")
        .when(age <= 14, "0-14")
        .when(age <= 25, "15-25")
        .when(age <= 40, "26-40")
        .when(age <= 60, "41-60")
        .otherwise("61+")
    )


@register(
    "q_date_arith",
    oracle=f"""
SELECT o_orderkey,
       CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS order_year,
       CAST(o_orderdate AS DATE) AS order_date
FROM orders
WHERE o_orderdate >  DATE '{PIVOT_DATE}' - INTERVAL '12' MONTH
  AND o_orderdate <= DATE '{PIVOT_DATE}'
""",
)
def q_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 — YEAR()/DATE()/DATE_SUB-12-months (library_olap/README.md:42,48)."""
    o = load_table(spark, sf_dir, "orders")
    pivot = F.lit(PIVOT_DATE).cast("date")
    return o.filter(
        (F.col("o_orderdate") > F.add_months(pivot, -12).cast("timestamp"))
        & (F.col("o_orderdate") <= pivot.cast("timestamp"))
    ).select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.col("o_orderdate").cast("date").alias("order_date"),
    )


@register(
    "q_filter_or",
    oracle="""
SELECT c_custkey, c_acctbal, c_mktsegment
FROM customer
WHERE c_acctbal > 9500 OR c_mktsegment = 'BUILDING'
""",
)
def q_filter_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 — disjunctive boolean filter (library_olap/README.md:48)."""
    c = load_table(spark, sf_dir, "customer")
    return c.filter((F.col("c_acctbal") > 9500) | (F.col("c_mktsegment") == "BUILDING")).select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )


@register(
    "q_time_scope",
    oracle="""
SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT)  AS year,
       CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS month,
       'Y' || CAST(isoyear(o_orderdate) AS VARCHAR) || '-W' ||
           lpad(CAST(weekofyear(o_orderdate) AS VARCHAR), 2, '0') AS week,
       CAST(dayofyear(o_orderdate) AS BIGINT) AS day,
       COUNT(*) AS n_rows
FROM orders
GROUP BY 1, 2, 3, 4
""",
)
def q_time_scope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1/P5/P6 — the reference TimeScope columns (year, month,
    'Y%G-W%V' ISO week label, day-of-year; OLAP.php:34-44) derived over
    a billion-row-safe column expression."""
    o = load_table(spark, sf_dir, "orders")
    sc = scope_columns(F.col("o_orderdate"))
    return (
        o.select(*[c.alias(k) for k, c in sc.items()])
        .groupBy("year", "month", "week", "day")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


@register(
    "q_zero_fill",
    oracle=ORACLE_CTE
    + """
, agg AS (
    SELECT consortia_id, consortia_label, ROUND(CAST(SUM(value) AS DOUBLE), 2) AS value
    FROM fact WHERE library_id = 999 GROUP BY 1, 2
)
SELECT * FROM agg
UNION ALL
SELECT CAST(NULL AS BIGINT), 'null', CAST(0 AS DOUBLE)
WHERE NOT EXISTS (SELECT 1 FROM agg)
""",
)
def q_zero_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 — empty_dataset zero-fill (Codice.gs:361-373): an empty
    aggregate yields one row of 'null' dims + 0 measures."""
    agg = _cube(
        spark,
        sf_dir,
        cut="library_id:999",
        drilldown="organization_level:consortia_id",
        measure="value",
    )
    return zero_fill(agg, measure_cols=["value"])


# ===========================================================================
# §2.3 aggregations (A1-A7) — incl. the flagship active-users fact query
# ===========================================================================


@register("q_active_users", oracle=bind_date(ACTIVE_USERS_SQL, PIVOT_DATE))
def q_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/P2/P3/P4 — the reference's documented fact query
    (library_olap/README.md:39-49): age-bucket CASE + card-validity OR
    12-month-activity window + group count.

    Spark shape: the EXISTS becomes a distinct-project + equi-join kept
    as a *left* join so the OR with the balance predicate stays one
    pass; the distinct custkey set is orders-of-magnitude smaller than
    orders, and AQE broadcast-converts it when small.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    pivot = F.lit(PIVOT_DATE).cast("date")
    recent = (
        o.filter(
            (F.col("o_orderdate") > F.add_months(pivot, -12).cast("timestamp"))
            & (F.col("o_orderdate") <= pivot.cast("timestamp"))
        )
        .select(F.col("o_custkey").alias("active_key"))
        .distinct()
    )
    joined = c.join(recent, c.c_custkey == recent.active_key, "left")
    return (
        joined.filter((F.col("c_acctbal") > 9000) | F.col("active_key").isNotNull())
        .select(
            F.col("c_nationkey").cast("long").alias("library_id"),
            _age_group_col().alias("age_group"),
        )
        .groupBy("library_id", "age_group")
        .agg(F.count(F.lit(1)).alias("value"))
    )


@register(
    "q_agg_sum",
    oracle=ORACLE_CTE
    + "SELECT consortia_id, consortia_label, ROUND(CAST(SUM(value) AS DOUBLE), 2) AS value FROM fact GROUP BY 1, 2",
)
def q_agg_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — declared sum aggregate over the organization hierarchy."""
    return _cube(spark, sf_dir, drilldown="organization_level", measure="value")


@register(
    "q_agg_avg",
    oracle=ORACLE_CTE
    + """
SELECT loan_type,
       ROUND(CAST(SUM(value) AS DOUBLE) / COUNT(value), 6) AS avg_value
FROM fact GROUP BY 1
""",
)
def q_agg_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — avg aggregate (cross-engine-stable formulation)."""
    return _cube(spark, sf_dir, drilldown="loan_type", measure="avg_value")


@register(
    "q_agg_count",
    oracle=ORACLE_CTE + "SELECT segment, COUNT(library_id) AS loans FROM fact GROUP BY 1",
)
def q_agg_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — count aggregate."""
    return _cube(spark, sf_dir, drilldown="segment", measure="loans")


@register("q_aggregate_all", oracle=ORACLE_CTE + "SELECT ROUND(CAST(SUM(value) AS DOUBLE), 2) AS value FROM fact")
def q_aggregate_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — /aggregate with no drilldown = whole-fact aggregate
    (api-library-olap/README.md:18-19)."""
    return _cube(spark, sf_dir, measure="value")


@register(
    "q_measure_multi",
    oracle=ORACLE_CTE
    + "SELECT loan_type, ROUND(CAST(SUM(value) AS DOUBLE), 2) AS value, COUNT(library_id) AS loans FROM fact GROUP BY 1",
)
def q_measure_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — measure=a|b multi-measure call (api-library-olap/README.md:21-23)."""
    return _cube(spark, sf_dir, drilldown="loan_type", measure="value|loans")


# ===========================================================================
# §2.4 cut grammar (C1-C7)
# ===========================================================================


@register(
    "q_cut_eq",
    oracle=ORACLE_CTE
    + "SELECT library_id, ROUND(CAST(SUM(value) AS DOUBLE), 2) AS value FROM fact WHERE loan_type = 'F' GROUP BY 1",
)
def q_cut_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 — equality slice (cut=loan_type:loan_local analog)."""
    return _cube(spark, sf_dir, cut="loan_type:F", drilldown="library_id", measure="value")


@register(
    "q_cut_dice",
    oracle=ORACLE_CTE
    + """
SELECT library_id, COUNT(library_id) AS loans
FROM fact WHERE loan_type = 'O' AND consortia_id = 2 GROUP BY 1
""",
)
def q_cut_dice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 — multi-dimension dice (cut=a|b conjunction)."""
    return _cube(
        spark,
        sf_dir,
        cut="loan_type:O|organization_level:2",
        drilldown="organization_level:library_id",
        measure="loans",
    )


@register(
    "q_cut_range",
    oracle=ORACLE_CTE
    + """
SELECT loan_type, ROUND(CAST(SUM(value) AS DOUBLE), 2) AS value
FROM fact WHERE library_id BETWEEN 5 AND 15 GROUP BY 1
""",
)
def q_cut_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 — contiguous range cut (cut=library_id:1-120 analog)."""
    return _cube(spark, sf_dir, cut="library_id:5-15", drilldown="loan_type", measure="value")


@register(
    "q_cut_open_range",
    oracle=ORACLE_CTE
    + "SELECT segment, ROUND(CAST(SUM(value) AS DOUBLE), 2) AS value FROM fact WHERE library_id >= 13 GROUP BY 1",
)
def q_cut_open_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 — open range cut (cut=library_id:23- analog)."""
    return _cube(spark, sf_dir, cut="library_id:13-", drilldown="segment", measure="value")


@register(
    "q_cut_set",
    oracle=ORACLE_CTE
    + """
SELECT library_id, COUNT(library_id) AS loans
FROM fact WHERE library_id IN (3, 7, 21) GROUP BY 1
""",
)
def q_cut_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 — discrete member set (cut=library_id:23;50 analog)."""
    return _cube(spark, sf_dir, cut="library_id:3;7;21", drilldown="library_id", measure="loans")


@register(
    "q_cut_hierarchy",
    oracle=ORACLE_CTE
    + """
SELECT day, ROUND(CAST(SUM(value) AS DOUBLE), 2) AS value
FROM fact WHERE year = 1997 AND month = 10 GROUP BY 1
""",
)
def q_cut_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6 — hierarchy level path (cut=date:2016,10 analog)."""
    return _cube(spark, sf_dir, cut="date:1997,10", drilldown="date:day", measure="value")


@register(
    "q_cut_hierarchy_range",
    oracle=ORACLE_CTE
    + """
SELECT year, month, ROUND(CAST(SUM(value) AS DOUBLE), 2) AS value
FROM fact
WHERE year * 100 + month BETWEEN 199610 AND 199702
GROUP BY 1, 2
""",
)
def q_cut_hierarchy_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7 — hierarchy tuple range (cut=date:2016,10-2017,02 analog),
    compiled to lexicographic (year, month) column comparisons."""
    return _cube(
        spark,
        sf_dir,
        cut="date:1996,10-1997,02",
        drilldown="date:year|date:month",
        measure="value",
    )


# ===========================================================================
# §2.5 drilldown resolution (D1-D5)
# ===========================================================================


@register(
    "q_drilldown_default",
    oracle=ORACLE_CTE
    + "SELECT month, ROUND(CAST(SUM(value) AS DOUBLE), 2) AS value FROM fact WHERE year = 1997 GROUP BY 1",
)
def q_drilldown_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 — cut dim drilldown defaults to one level below the cut
    (api-library-olap/README.md:57-63)."""
    return _cube(spark, sf_dir, cut="date:1997", drilldown="date", measure="value")


@register(
    "q_drilldown_level",
    oracle=ORACLE_CTE
    + """
SELECT month, day, COUNT(library_id) AS loans
FROM fact WHERE year = 1997 GROUP BY 1, 2
""",
)
def q_drilldown_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 — drilldown to a named level: below-cut down to the target
    inclusive (api-library-olap/README.md:65-67)."""
    return _cube(spark, sf_dir, cut="date:1997", drilldown="date:day", measure="loans")


@register(
    "q_drilldown_top",
    oracle=ORACLE_CTE + "SELECT year, ROUND(CAST(SUM(value) AS DOUBLE), 2) AS value FROM fact GROUP BY 1",
)
def q_drilldown_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 — drilldown on an un-cut dimension → its top hierarchy level
    (api-library-olap/README.md:69-71)."""
    return _cube(spark, sf_dir, drilldown="date", measure="value")


@register(
    "q_drilldown_multi",
    oracle=ORACLE_CTE
    + """
SELECT year, consortia_id, consortia_label, ROUND(CAST(SUM(value) AS DOUBLE), 2) AS value
FROM fact GROUP BY 1, 2, 3
""",
)
def q_drilldown_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 — multi-dimension drilldown incl. level attributes
    (api-library-olap/README.md:73-75; attrs Codice.gs:87-99)."""
    return _cube(spark, sf_dir, drilldown="date|organization_level", measure="value")


@register(
    "q_drilldown_cutlevel",
    oracle=ORACLE_CTE
    + """
SELECT year, month, COUNT(library_id) AS loans
FROM fact
WHERE year * 100 + month BETWEEN 199610 AND 199702
GROUP BY 1, 2
""",
)
def q_drilldown_cutlevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 — drilldown re-including the cut level to disambiguate a
    boundary-spanning range (api-library-olap/README.md:77-79)."""
    return _cube(
        spark,
        sf_dir,
        cut="date:1996,10-1997,02",
        drilldown="date:year|date:month",
        measure="loans",
    )


@register(
    "q_drilldown_week",
    oracle=ORACLE_CTE
    + """
SELECT week, COUNT(library_id) AS loans
FROM fact WHERE iso_year = 1997 GROUP BY 1
""",
)
def q_drilldown_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week as a first-class date level (r10 verdict task 7): the
    ``iso_week`` hierarchy (iso_year → week, the audit ``Y%G-W%V``
    label) selected via the multi-hierarchy request syntax
    (api-library-olap/README.md:112-117), cut at its top level and
    drilled to the default next level — week.  ISO boundaries are the
    point: iso_year=1997 INCLUDES Dec 30-31 1996 (1997-W01) and
    EXCLUDES Dec 29-31 1997 (1998-W01), which a calendar-year cut
    would get wrong on both ends; the oracle replays the same ISOYEAR
    semantics."""
    return _cube(
        spark,
        sf_dir,
        cut="date:1997",
        drilldown="date",
        hierarchy="date:iso_week",
        measure="loans",
    )


# ===========================================================================
# §2.7 ETL-control (E1-E4)
# ===========================================================================


@register(
    "q_cron_gate",
    oracle="""
SELECT CAST(d AS VARCHAR) AS d_str,
       CASE WHEN isodow(d) = 7 THEN 1 ELSE 0 END AS weekly_fires,
       CASE WHEN EXTRACT(MONTH FROM d + INTERVAL '1' DAY) <> EXTRACT(MONTH FROM d)
            THEN 1 ELSE 0 END AS monthly_fires,
       CASE WHEN EXTRACT(YEAR FROM d + INTERVAL '1' DAY) <> EXTRACT(YEAR FROM d)
            THEN 1 ELSE 0 END AS yearly_fires,
       'Y' || CAST(isoyear(d) AS VARCHAR) || '-W' ||
           lpad(CAST(weekofyear(d) AS VARCHAR), 2, '0') AS week
FROM (
    SELECT CAST(range AS DATE) AS d
    FROM range(DATE '2019-01-01', DATE '2021-01-01', INTERVAL '1' DAY)
) t
""",
)
def q_cron_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2/E3 — the cron-boundary gate as a column expression over a date
    series: weekly fires on ISO-week last days, monthly on month ends,
    yearly on Dec 31 (OLAP.php:15-32)."""
    from opl_spark.timescope import week_label_col

    start = F.lit("2019-01-01").cast("date")
    days = (_dt.date(2021, 1, 1) - _dt.date(2019, 1, 1)).days
    df = spark.range(days).select(F.date_add(start, F.col("id").cast("int")).alias("d"))
    iso_dow = (F.dayofweek("d") + F.lit(5)) % 7 + F.lit(1)
    nxt = F.date_add(F.col("d"), 1)
    return df.select(
        F.col("d").cast("string").alias("d_str"),
        F.when(iso_dow == 7, 1).otherwise(0).alias("weekly_fires"),
        F.when(F.month(nxt) != F.month("d"), 1).otherwise(0).alias("monthly_fires"),
        F.when(F.year(nxt) != F.year("d"), 1).otherwise(0).alias("yearly_fires"),
        week_label_col(F.col("d")).alias("week"),
    )


@register(
    "q_idempotent_antijoin",
    oracle="""
WITH existing AS (
    SELECT DISTINCT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT)  AS year,
                    CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS month
    FROM orders WHERE o_orderdate < DATE '1997-01-01'
),
incoming AS (
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT)  AS year,
           CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS month,
           COUNT(*) AS n_rows
    FROM orders WHERE o_orderdate < DATE '1998-01-01'
    GROUP BY 1, 2
)
SELECT i.year, i.month, i.n_rows
FROM incoming i
WHERE NOT EXISTS (
    SELECT 1 FROM existing e WHERE e.year = i.year AND e.month = i.month
)
""",
)
def q_idempotent_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — idempotent scope append as a left-anti join: incoming
    scope-aggregated batches already present in the sink are dropped
    (intent of OLAP.php:166-175)."""
    o = load_table(spark, sf_dir, "orders")
    y = F.year("o_orderdate").cast("long").alias("year")
    m = F.month("o_orderdate").cast("long").alias("month")
    existing = (
        o.filter(F.col("o_orderdate") < F.lit("1997-01-01").cast("date")).select(y, m).distinct()
    )
    incoming = (
        o.filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("date"))
        .select(y, m)
        .groupBy("year", "month")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    return incoming.join(existing, on=["year", "month"], how="left_anti")


@register(
    "q_agg_median",
    oracle=ORACLE_CTE
    + """
SELECT loan_type,
       ROUND(quantile_cont(CAST(value AS DOUBLE), 0.5), 6) AS value
FROM fact GROUP BY 1
""",
)
def q_agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension aggregate beyond the reference's sum/avg/count: exact
    interpolated median per group (Spark ``percentile`` ==
    DuckDB ``quantile_cont`` after round(6))."""
    return _cube(spark, sf_dir, drilldown="loan_type", measure="value", aggregate="median")


@register(
    "q_agg_extrema",
    oracle=ORACLE_CTE
    + """
SELECT loan_type,
       ROUND(CAST(MIN(value) AS DOUBLE), 2) AS min_value,
       ROUND(CAST(MAX(value) AS DOUBLE), 2) AS max_value
FROM fact GROUP BY 1
""",
)
def q_agg_extrema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension aggregates min/max: multi-measure request where each
    measure's default (its only allowed) aggregate applies."""
    return _cube(spark, sf_dir, drilldown="loan_type", measure="min_value|max_value")
