"""Runnable production-topology tour: live JDBC source → snapshot →
cube, the reference deployment shape end to end (OLAP.php:306-384 —
read the ILS database, stamp audit columns, store facts, serve cubes).

Usage:
    python examples/jdbc_production_tour.py [WORK_DIR]

1.  seed an embedded Apache Derby with a Clavis-shaped loan/library
    schema (stands in for the production MySQL; Derby ships in
    Spark's own jars, so this runs anywhere Spark does);
2.  register it TWICE — as classic JDBC views (filter pushdown,
    partitioned parallel fact reads) and as a DSv2 catalog with
    AGGREGATE pushdown, where the GROUP BY itself executes inside
    the source database;
3.  snapshot both ways with ``SnapshotEngine.run`` (idempotent,
    audit-stamped), including a ``strict_type_parity`` run that
    replays the reference's decimal→int degradation for
    migration-period byte diffing;
4.  serve cube queries over the warehoused fact — including the
    iso_week hierarchy, whose ISO week-year boundaries a calendar
    cut would get wrong — through the response-cached API surface;
5.  snapshot INTO a second database via ``JdbcSink`` (r12) — the
    reference's exact write topology (two connections: read the ILS,
    write the OLAP DB; OLAP.php:128-164) with auto-create, the E4
    guard probing the TARGET database, and idempotent per-scope
    delete+insert.

Everything printed is report-sized; the same composition pointed at a
real MySQL/Postgres URL (plus its driver jar) is the production
deployment.
"""

import os
import sys
import tempfile

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from opl_spark.api import OlapApi  # noqa: E402
from opl_spark.catalog import (  # noqa: E402
    Catalog,
    Dimension,
    FactMeta,
    Hierarchy,
    Level,
    Measure,
)
from opl_spark.cube import CubeEngine  # noqa: E402
from opl_spark.session import get_spark  # noqa: E402
from opl_spark.snapshot import FactQuery, SnapshotEngine  # noqa: E402
from opl_spark.sources.registry import (  # noqa: E402
    register_jdbc_catalog,
    register_jdbc_sources,
)

DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def seed_source(spark, db_path: str) -> str:
    """The stand-in ILS database: loans across libraries over a
    December/January ISO-week boundary.  Re-runnable: existing tables
    are dropped and re-seeded."""
    url = f"jdbc:derby:{db_path}"
    conn = spark._jvm.java.sql.DriverManager.getConnection(url + ";create=true")
    st = conn.createStatement()
    for table in ("loan", "library"):
        try:
            st.executeUpdate(f"DROP TABLE {table}")
        except Exception:
            pass  # first run: nothing to drop
    st.executeUpdate(
        "CREATE TABLE loan (id INT PRIMARY KEY, library_id INT, "
        "loan_date DATE, val DECIMAL(10,2))"
    )
    st.executeUpdate(
        "CREATE TABLE library (id INT PRIMARY KEY, consortia_id INT)"
    )
    # 1996-12-26 .. 1997-01-08: fourteen days straddling Y1997-W01
    for i in range(280):
        day = i % 14
        date = (
            f"1996-12-{26 + day}" if day < 6 else f"1997-01-{day - 5:02d}"
        )
        st.executeUpdate(
            f"INSERT INTO loan VALUES ({i}, {i % 4}, DATE('{date}'), "
            f"{(i % 50) + 0.25})"
        )
    for lid in range(4):
        st.executeUpdate(f"INSERT INTO library VALUES ({lid}, {lid % 2})")
    st.close()
    conn.close()
    return url


def main(work_dir: str) -> None:
    import shutil

    spark = get_spark(app_name="jdbc-production-tour")
    url = seed_source(spark, os.path.join(work_dir, "clavis"))
    # fresh warehouses per run — a leftover one would make the first
    # eng.run() a no-op and misreport the idempotence demonstration
    for sub in ("wh", "wh_strict"):
        shutil.rmtree(os.path.join(work_dir, sub), ignore_errors=True)

    # -- leg 1: classic views (filter pushdown + partitioned reads) --
    register_jdbc_sources(
        spark, url, ("loan", "library"),
        partition_specs={"loan": ("id", 4)}, driver=DRIVER,
    )
    wh = os.path.join(work_dir, "wh")
    eng = SnapshotEngine(spark, wh)
    fact_sql = (
        "SELECT l.library_id, lb.consortia_id, l.loan_date, "
        "COUNT(*) AS loans, SUM(l.val) AS total_value "
        "FROM loan l JOIN library lb ON l.library_id = lb.id "
        "WHERE l.loan_date <= @date "
        "GROUP BY l.library_id, lb.consortia_id, l.loan_date"
    )
    written = eng.run("1997-01-08", [FactQuery(1, "loans_fact", fact_sql)])
    print(f"[1] snapshot over JDBC views wrote: {written}")
    assert eng.run("1997-01-08", [FactQuery(1, "loans_fact", fact_sql)]) == {}
    print("[1] idempotent re-run wrote nothing (E4)")

    # -- leg 2: DSv2 catalog — the GROUP BY runs INSIDE the source --
    register_jdbc_catalog(spark, "clavis", url, driver=DRIVER)
    v2_sql = (
        "SELECT LIBRARY_ID AS library_id, COUNT(*) AS loans, "
        "SUM(VAL) AS total_value FROM clavis.APP.LOAN "
        "WHERE LOAN_DATE <= @date GROUP BY LIBRARY_ID"
    )
    from opl_spark.snapshot import bind_date

    plan = (
        spark.sql(bind_date(v2_sql, "1997-01-08"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    pushed = [ln.strip() for ln in plan.splitlines() if "PushedAggregates" in ln]
    assert pushed, (
        "aggregate pushdown did not fire — was the catalog name already "
        "resolved without pushDownAggregate?\n" + plan
    )
    print(f"[2] source-side aggregation: {pushed[0][:110]}...")
    eng.run("1997-01-08", [FactQuery(2, "loans_v2", v2_sql)])

    # -- leg 3: strict type parity for migration diffing --
    strict = SnapshotEngine(
        spark, os.path.join(work_dir, "wh_strict"), strict_type_parity=True
    )
    strict.run("1997-01-08", [FactQuery(1, "loans_fact", fact_sql)])
    kept = dict(eng.fact_frame("loans_fact").dtypes)["total_value"]
    degraded = dict(strict.fact_frame("loans_fact").dtypes)["total_value"]
    print(f"[3] total_value: engine={kept!r} vs strict-parity={degraded!r} "
          "(the reference's NEWDECIMAL→INT degradation, opt-in)")

    # -- leg 4: cube over the warehoused fact, iso_week hierarchy --
    from opl_spark.timescope import iso_week_year_col, week_label_col
    from pyspark.sql import functions as F

    fact = eng.fact_frame("loans_fact").select(
        "library_id", "consortia_id", "loans", "total_value",
        F.year("loan_date").cast("long").alias("year"),
        iso_week_year_col(F.col("loan_date")).cast("long").alias("iso_year"),
        week_label_col(F.col("loan_date")).alias("week"),
    )
    meta = FactMeta(
        name="loans_fact",
        dimensions=(
            Dimension(
                name="date",
                levels=(Level("year"), Level("iso_year"), Level("week")),
                hierarchies=(
                    Hierarchy("calendar", ("year",)),
                    Hierarchy("iso_week", ("iso_year", "week")),
                ),
            ),
            Dimension(name="library_id"),
            Dimension(name="consortia_id"),
        ),
        measures=(Measure("loans", column="loans", aggregates=("sum",)),),
    )
    cube = CubeEngine(Catalog({"loans_fact": meta}))
    cube.register_fact("loans_fact", fact)
    api = OlapApi(cube)
    resp = api.handle(
        "/olap/loans_fact/aggregate",
        {"cut": "date:1997", "drilldown": "date",
         "hierarchy": "date:iso_week", "measure": "loans"},
    )
    print("[4] iso_year=1997 by week (Dec 30-31 1996 correctly included):")
    for row in sorted(resp["data"], key=lambda r: r["week"]):
        print(f"      {row['week']}: {row['loans']} loans")
    cal = api.handle(
        "/olap/loans_fact/aggregate",
        {"cut": "date:1997", "drilldown": "date", "measure": "loans"},
    )
    print(f"[4] calendar-1997 total {sum(r['loans'] for r in cal['data'])} vs "
          f"iso-1997 total {sum(r['loans'] for r in resp['data'])} — the "
          "boundary days are the difference")

    # -- leg 5: snapshot INTO a database — the reference's write
    # topology (second connection to the OLAP MySQL, OLAP.php:128-164)
    # via JdbcSink: auto-create, E4 against the TARGET database, and
    # idempotent per-scope delete+insert (r12) --
    from opl_spark.sinks import JdbcSink

    olap_url = f"jdbc:derby:{os.path.join(work_dir, 'olapdb')};create=true"
    sink_eng = SnapshotEngine(
        spark, os.path.join(work_dir, "unused"),
        jdbc_sink=JdbcSink(url=olap_url, driver=DRIVER),
    )
    w = sink_eng.run("1997-01-08", [FactQuery(3, "olap_loans", v2_sql)])
    print(f"[5] snapshot INTO Derby (auto-created table) wrote: {w}")
    assert sink_eng.run("1997-01-08", [FactQuery(3, "olap_loans", v2_sql)]) == {}
    print("[5] E4 re-run guard held against the TARGET database")
    back = sink_eng.fact_frame("olap_loans")
    n = back.count()
    print(f"[5] read-back from the OLAP database: {n} audit-stamped rows "
          f"(cols: {', '.join(back.columns[:6])}, ...)")

    spark.stop()
    print("tour complete")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(prefix="opl-jdbc-"))
