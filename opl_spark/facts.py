"""The golden workload: OPL's documented fact tables re-expressed over
the driver's synthetic star schema (FIXTURES.md §3 mapping).

All five documented cube instances (SURVEY.md §2.8) are built here:

- ``loans2``          — dated transactions with an organization
  hierarchy (consortia → library) and a date hierarchy (year → month →
  day); ``orders ⋈ customer ⋈ nation ⋈ region`` (Codice.gs:239-243).
- ``enabled_users``   — the reference's documented active-users fact
  query (library_olap/README.md:39-49): age-bucket CASE + 12-month
  activity window + group-count, over ``customer``/``orders``.
- ``accessions``      — docType × organization × (year→month) with the
  two documented measures (api-library-olap/README.md:96-161);
  ``lineitem ⋈ supplier ⋈ nation ⋈ region ⋈ part``.
- ``general_indexes`` — opening-hours indexes by library class/type
  (Codice.gs:246-253), derived deterministically from the order stream.
- ``patrimonio``      — holdings by consortia × publication year
  (Codice.gs:248-250).

Every builder has a SQL twin (ANSI, runs verbatim on DuckDB) used by
the correctness oracle — the dual encoding is the unit test
(SURVEY.md §5.2).

Scale notes: nation (25 rows) and region (5 rows) are broadcast by
Catalyst/AQE automatically — the orders⋈customer join is the only
shuffle; both sides hash-partition on the join key.  Key columns are
cast to ``long`` and money to ``decimal(18,2)`` so aggregates are
exact and engine-order-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opl_spark.catalog import Catalog, Dimension, FactMeta, Hierarchy, Level, Measure
from opl_spark.sources import load_table
from opl_spark.timescope import iso_week_year_col, week_label_col

#: Fixed pivot date for all deterministic test snapshots — inside the
#: orders date range (1995-2001) with a full prior 12 months.
PIVOT_DATE = "1998-06-01"

# ---------------------------------------------------------------------------
# loans2 — the cube-query workhorse fact
# ---------------------------------------------------------------------------

#: ANSI-SQL twin of :func:`build_loans_fact` — DuckDB-ready CTE body.
LOANS_FACT_SQL = """
SELECT
    CAST(r.r_regionkey AS BIGINT)              AS consortia_id,
    r.r_name                                   AS consortia_label,
    CAST(n.n_nationkey AS BIGINT)              AS library_id,
    CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT)  AS year,
    CAST(EXTRACT(MONTH FROM o.o_orderdate) AS BIGINT) AS month,
    CAST(EXTRACT(DAY FROM o.o_orderdate) AS BIGINT)   AS day,
    CAST(EXTRACT(ISOYEAR FROM o.o_orderdate) AS BIGINT) AS iso_year,
    'Y' || CAST(EXTRACT(ISOYEAR FROM o.o_orderdate) AS VARCHAR) || '-W' ||
        lpad(CAST(EXTRACT(WEEK FROM o.o_orderdate) AS VARCHAR), 2, '0')
                                               AS week,
    o.o_orderstatus                            AS loan_type,
    o.o_orderpriority                          AS priority,
    c.c_mktsegment                             AS segment,
    CAST(o.o_totalprice AS DECIMAL(18,2))      AS value
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
"""


def build_loans_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame-API twin of :data:`LOANS_FACT_SQL`.

    ``date`` hierarchy columns here are (year → month → day-of-month) —
    the API drilldown grain (api-library-olap/README.md:44-49), distinct
    from the snapshot audit ``day`` which is day-of-year (OLAP.php:41;
    SURVEY.md §7.3b keeps both, named apart).
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            F.col("r_regionkey").cast("long").alias("consortia_id"),
            F.col("r_name").alias("consortia_label"),
            F.col("n_nationkey").cast("long").alias("library_id"),
            F.year("o_orderdate").cast("long").alias("year"),
            F.month("o_orderdate").cast("long").alias("month"),
            F.dayofmonth("o_orderdate").cast("long").alias("day"),
            # ISO-week hierarchy columns: the week-based YEAR (not the
            # calendar year — Dec 29-31/Jan 1-3 can belong to the
            # neighboring ISO year, so 'year' would not nest weeks) and
            # the audit-convention Y%G-W%V label (timescope, OLAP.php:40)
            iso_week_year_col(F.col("o_orderdate")).cast("long").alias(
                "iso_year"
            ),
            week_label_col(F.col("o_orderdate")).alias("week"),
            F.col("o_orderstatus").alias("loan_type"),
            F.col("o_orderpriority").alias("priority"),
            F.col("c_mktsegment").alias("segment"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("value"),
        )
    )


#: Fact metadata for loans2 — shape per the reference's loans2/accessions
#: metadata (Codice.gs:239-243; api-library-olap/README.md:96-161).
LOANS_META = FactMeta(
    name="loans2",
    label="Loans (synthetic)",
    dimensions=(
        Dimension(
            name="organization_level",
            levels=(
                Level("consortia_id", attributes=("consortia_label",)),
                Level("library_id"),
            ),
            hierarchies=(Hierarchy("organization", ("consortia_id", "library_id")),),
        ),
        Dimension(
            name="date",
            levels=(
                Level("year"), Level("month"), Level("day"),
                Level("iso_year"), Level("week"),
            ),
            hierarchies=(
                Hierarchy("calendar", ("year", "month", "day")),
                # alternate week-based walk (multi-hierarchy
                # declaration per api-library-olap/README.md:112-117):
                # iso_year tops it because ISO weeks nest under the
                # ISO week-year, not the calendar year
                Hierarchy("iso_week", ("iso_year", "week")),
            ),
        ),
        Dimension(name="loan_type"),
        Dimension(name="priority"),
        Dimension(name="segment"),
        Dimension(name="library_id"),
    ),
    measures=(
        Measure("value", column="value", aggregates=("sum", "avg", "median", "approx_median")),
        Measure("loans", column="library_id", aggregates=("count",)),
        Measure("avg_value", column="value", aggregates=("avg",)),
        Measure("min_value", column="value", aggregates=("min",)),
        Measure("max_value", column="value", aggregates=("max",)),
    ),
)

#: Wrap a cube-result body over the fact CTE for the DuckDB oracle.
ORACLE_CTE = "WITH fact AS (" + LOANS_FACT_SQL + ")\n"


# ---------------------------------------------------------------------------
# enabled_users — the reference's documented active-users query
# ---------------------------------------------------------------------------

#: Re-expression of library_olap/README.md:39-49 over the synthetic
#: schema (mapping: FIXTURES.md §3 — patron→customer, loan→orders,
#: preferred_library_id→c_nationkey, birth year proxied from c_custkey,
#: card_expire proxied by account balance, last_seen by latest order).
#: Runs verbatim on Spark SQL AND DuckDB with @date bound.
ACTIVE_USERS_SQL = """
SELECT
    CAST(c.c_nationkey AS BIGINT) AS library_id,
    CASE
        WHEN c.c_mktsegment = 'HOUSEHOLD' THEN 'n/a'
        WHEN EXTRACT(YEAR FROM @date) - (1930 + c.c_custkey % 80) <= 14 THEN '0-14'
        WHEN EXTRACT(YEAR FROM @date) - (1930 + c.c_custkey % 80) <= 25 THEN '15-25'
        WHEN EXTRACT(YEAR FROM @date) - (1930 + c.c_custkey % 80) <= 40 THEN '26-40'
        WHEN EXTRACT(YEAR FROM @date) - (1930 + c.c_custkey % 80) <= 60 THEN '41-60'
        ELSE '61+'
    END AS age_group,
    COUNT(*) AS value
FROM customer c
WHERE c.c_acctbal > 9000
   OR EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >  @date - INTERVAL '12' MONTH
          AND o.o_orderdate <= @date
   )
GROUP BY 1, 2
"""

ENABLED_USERS_META = FactMeta(
    name="enabled_users",
    label="Enabled users (synthetic)",
    dimensions=(
        Dimension(name="library_id"),
        Dimension(name="age_group"),
        Dimension(
            name="date",
            levels=(Level("year"), Level("month")),
            hierarchies=(Hierarchy("calendar", ("year", "month")),),
        ),
    ),
    measures=(Measure("value", column="value", aggregates=("sum", "count")),),
)


# ---------------------------------------------------------------------------
# accessions — docType × organization × (year→month) (api-library-olap/
# README.md:96-161, the fully-documented metadata example)
# ---------------------------------------------------------------------------

#: ANSI-SQL twin — DuckDB-ready CTE body. ``target`` is the documented
#: second measure (a deterministic per-item acquisition target).
ACCESSIONS_FACT_SQL = """
SELECT
    CAST(r.r_regionkey AS BIGINT)                     AS consortia_id,
    r.r_name                                          AS consortia_label,
    CAST(s.s_nationkey AS BIGINT)                     AS library_id,
    p.p_brand                                         AS doc_type,
    CAST(EXTRACT(YEAR FROM l.l_shipdate) AS BIGINT)   AS year,
    CAST(EXTRACT(MONTH FROM l.l_shipdate) AS BIGINT)  AS month,
    CAST(l.l_quantity AS DECIMAL(18,2))               AS accessions,
    CAST(25 + (l.l_partkey % 50) AS DECIMAL(18,2))    AS target
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
JOIN part p     ON l.l_partkey = p.p_partkey
"""


def build_accessions_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame twin of :data:`ACCESSIONS_FACT_SQL`: lineitem is the
    fact spine; supplier→nation→region resolves the organization
    hierarchy (broadcast — dims are tiny), part resolves docType.
    The lineitem⋈part join is the one real shuffle; both sides
    hash-partition on partkey."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .join(part, li.l_partkey == part.p_partkey)
        .select(
            F.col("r_regionkey").cast("long").alias("consortia_id"),
            F.col("r_name").alias("consortia_label"),
            F.col("s_nationkey").cast("long").alias("library_id"),
            F.col("p_brand").alias("doc_type"),
            F.year("l_shipdate").cast("long").alias("year"),
            F.month("l_shipdate").cast("long").alias("month"),
            F.col("l_quantity").cast("decimal(18,2)").alias("accessions"),
            (F.lit(25) + F.col("l_partkey") % 50)
            .cast("decimal(18,2)")
            .alias("target"),
        )
    )


ACCESSIONS_META = FactMeta(
    name="accessions",
    label="Accessions (synthetic)",
    dimensions=(
        Dimension(name="doc_type"),
        Dimension(
            name="organization_level",
            levels=(
                Level("consortia_id", attributes=("consortia_label",)),
                Level("library_id"),
            ),
            hierarchies=(Hierarchy("organization", ("consortia_id", "library_id")),),
        ),
        Dimension(
            name="date",
            levels=(Level("year"), Level("month")),
            hierarchies=(Hierarchy("calendar", ("year", "month")),),
        ),
    ),
    measures=(
        Measure("accessions", column="accessions", aggregates=("sum", "avg")),
        Measure("target", column="target", aggregates=("sum",)),
    ),
)


# ---------------------------------------------------------------------------
# general_indexes — opening-hours indexes per library (Codice.gs:246-253)
# ---------------------------------------------------------------------------

#: Morning/afternoon opening indexes derived deterministically from the
#: order stream (orderkey parity splits the "shift"); fact grain = one
#: row per order, the cube sums/averages.
GENERAL_INDEXES_FACT_SQL = """
SELECT
    CAST(r.r_regionkey AS BIGINT)  AS consortia_id,
    r.r_name                       AS consortia_label,
    CAST(n.n_nationkey AS BIGINT)  AS library_id,
    CASE CAST(n.n_nationkey % 3 AS INT)
        WHEN 0 THEN 'A' WHEN 1 THEN 'B' ELSE 'C' END   AS library_class,
    CASE CAST(n.n_regionkey % 2 AS INT)
        WHEN 0 THEN 'public' ELSE 'academic' END       AS library_type,
    CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT)   AS year,
    CAST(EXTRACT(MONTH FROM o.o_orderdate) AS BIGINT)  AS month,
    CAST(EXTRACT(DAY FROM o.o_orderdate) AS BIGINT)    AS day,
    CAST(CASE WHEN o.o_orderkey % 2 = 0 THEN 1 ELSE 0 END AS BIGINT)
        AS apertura_mattutina,
    CAST(CASE WHEN o.o_orderkey % 2 = 1 THEN 1 ELSE 0 END AS BIGINT)
        AS apertura_pomeridiana
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
"""


def build_general_indexes_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame twin of :data:`GENERAL_INDEXES_FACT_SQL`."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            F.col("r_regionkey").cast("long").alias("consortia_id"),
            F.col("r_name").alias("consortia_label"),
            F.col("n_nationkey").cast("long").alias("library_id"),
            F.when(F.col("n_nationkey") % 3 == 0, "A")
            .when(F.col("n_nationkey") % 3 == 1, "B")
            .otherwise("C")
            .alias("library_class"),
            F.when(F.col("n_regionkey") % 2 == 0, "public")
            .otherwise("academic")
            .alias("library_type"),
            F.year("o_orderdate").cast("long").alias("year"),
            F.month("o_orderdate").cast("long").alias("month"),
            F.dayofmonth("o_orderdate").cast("long").alias("day"),
            F.when(F.col("o_orderkey") % 2 == 0, 1)
            .otherwise(0)
            .cast("long")
            .alias("apertura_mattutina"),
            F.when(F.col("o_orderkey") % 2 == 1, 1)
            .otherwise(0)
            .cast("long")
            .alias("apertura_pomeridiana"),
        )
    )


GENERAL_INDEXES_META = FactMeta(
    name="general_indexes",
    label="General indexes (synthetic)",
    dimensions=(
        Dimension(name="library_class"),
        Dimension(name="library_type"),
        Dimension(name="library_id"),
        Dimension(
            name="organization_level",
            levels=(
                Level("consortia_id", attributes=("consortia_label",)),
                Level("library_id"),
            ),
            hierarchies=(Hierarchy("organization", ("consortia_id", "library_id")),),
        ),
        Dimension(
            name="date",
            levels=(Level("year"), Level("month"), Level("day")),
            hierarchies=(Hierarchy("calendar", ("year", "month", "day")),),
        ),
    ),
    measures=(
        Measure("apertura_mattutina", column="apertura_mattutina", aggregates=("sum", "avg")),
        Measure("apertura_pomeridiana", column="apertura_pomeridiana", aggregates=("sum", "avg")),
    ),
)


# ---------------------------------------------------------------------------
# patrimonio — holdings per consortia × publication year (Codice.gs:248-250)
# ---------------------------------------------------------------------------

PATRIMONIO_FACT_SQL = """
SELECT
    CAST(r.r_regionkey AS BIGINT)                 AS consortia_id,
    CAST(1975 + (p.p_partkey % 40) AS BIGINT)     AS data_pubblicazione,
    CAST(EXTRACT(YEAR FROM l.l_shipdate) AS BIGINT)  AS year,
    CAST(EXTRACT(MONTH FROM l.l_shipdate) AS BIGINT) AS month,
    CAST(EXTRACT(DAY FROM l.l_shipdate) AS BIGINT)   AS day,
    CAST(l.l_quantity AS DECIMAL(18,2))           AS value
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
JOIN part p     ON l.l_partkey = p.p_partkey
"""


def build_patrimonio_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame twin of :data:`PATRIMONIO_FACT_SQL` — holdings with a
    deterministic publication year derived from the part key."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .join(part, li.l_partkey == part.p_partkey)
        .select(
            F.col("r_regionkey").cast("long").alias("consortia_id"),
            (F.lit(1975) + F.col("p_partkey") % 40)
            .cast("long")
            .alias("data_pubblicazione"),
            F.year("l_shipdate").cast("long").alias("year"),
            F.month("l_shipdate").cast("long").alias("month"),
            F.dayofmonth("l_shipdate").cast("long").alias("day"),
            F.col("l_quantity").cast("decimal(18,2)").alias("value"),
        )
    )


PATRIMONIO_META = FactMeta(
    name="patrimonio",
    label="Holdings (synthetic)",
    dimensions=(
        Dimension(name="consortia_id"),
        Dimension(name="data_pubblicazione"),
        Dimension(
            name="date",
            levels=(Level("year"), Level("month"), Level("day")),
            hierarchies=(Hierarchy("calendar", ("year", "month", "day")),),
        ),
    ),
    measures=(Measure("value", column="value", aggregates=("sum", "avg")),),
)


def default_catalog() -> Catalog:
    cat = Catalog()
    cat.add(LOANS_META)
    cat.add(ENABLED_USERS_META)
    cat.add(ACCESSIONS_META)
    cat.add(GENERAL_INDEXES_META)
    cat.add(PATRIMONIO_META)
    return cat
