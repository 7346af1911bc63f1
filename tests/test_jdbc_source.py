"""The real JDBC source leg (r10 verdict task 3): the reference's
production topology is operator SQL pushed down to a live MySQL over
PDO (OLAP.php:306-315,334-343).  The Spark-native equivalent —
``register_jdbc_sources`` → temp views → fact SQL — existed but was
never exercised against a live database.  These tests stand up an
embedded Apache Derby (ships with Spark's jars), seed a Clavis-shaped
source, and drive the full path: registration, filter/projection
pushdown INTO the JDBC scan, parallel partitioned reads, and a
``SnapshotEngine.run`` end-to-end on top of the JDBC views.
"""

import datetime as dt
import os

import pytest

from opl_spark.plans import formatted_plan
from opl_spark.sources.registry import register_jdbc_sources

DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def _seed_derby(spark, db_path: str) -> str:
    """Create an embedded Derby database with a Clavis-shaped loan
    table + library dimension; returns the JDBC url."""
    url = f"jdbc:derby:{db_path}"
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url + ";create=true")
    st = conn.createStatement()
    st.executeUpdate(
        "CREATE TABLE loan (id INT PRIMARY KEY, library_id INT, "
        "loan_date DATE, val DOUBLE)"
    )
    st.executeUpdate(
        "CREATE TABLE library (id INT PRIMARY KEY, consortia_id INT, "
        "name VARCHAR(40))"
    )
    for i in range(200):
        st.executeUpdate(
            "INSERT INTO loan VALUES ({}, {}, DATE('2024-01-{:02d}'), {})".format(
                i, i % 5, (i % 28) + 1, float(i)
            )
        )
    for lid in range(5):
        st.executeUpdate(
            f"INSERT INTO library VALUES ({lid}, {lid % 2}, 'lib{lid}')"
        )
    st.close()
    conn.close()
    return url


@pytest.fixture(scope="module")
def jdbc_url(spark, tmp_path_factory):
    return _seed_derby(spark, str(tmp_path_factory.mktemp("derby") / "clavis"))


@pytest.fixture(scope="module")
def jdbc_views(spark, jdbc_url):
    register_jdbc_sources(
        spark,
        jdbc_url,
        ("loan", "library"),
        partition_specs={"loan": ("id", 4)},
        driver=DRIVER,
    )
    return jdbc_url


def test_jdbc_view_reads_and_parallelizes(spark, jdbc_views):
    df = spark.sql("SELECT * FROM loan")
    assert df.count() == 200
    # the fact spine reads over 4 JDBC partitions, not one connection
    assert df.rdd.getNumPartitions() == 4
    assert spark.sql("SELECT * FROM library").count() == 5


def test_jdbc_scan_pushes_filters_and_prunes_columns(spark, jdbc_views):
    """The S1 contract on a REAL JDBC scan: a fact-query WHERE must
    reach the remote database (PushedFilters in the scan node), and
    the projection must prune to the referenced columns."""
    df = spark.sql("SELECT id, val FROM loan WHERE val > 50.0")
    plan = formatted_plan(df)
    assert "PushedFilters:" in plan, plan
    assert "GreaterThan(VAL,50.0)" in plan.replace('"', ""), plan
    # column pruning: the remote SELECT carries only id/val
    assert "LOAN_DATE" not in plan.split("PushedFilters")[0].split("Scan")[-1]
    assert df.count() == 149  # vals 51..199


def test_jdbc_snapshot_run_end_to_end(spark, jdbc_views, tmp_path):
    """SnapshotEngine.run with operator SQL over the JDBC views — the
    reference's production mode (two PDO connections: read Clavis,
    write OLAP; OLAP.php:306-315) re-expressed as JDBC views → fact
    SQL → partitioned parquet warehouse."""
    from opl_spark.snapshot import AUDIT_COLUMNS, FactQuery, SnapshotEngine

    eng = SnapshotEngine(spark, str(tmp_path / "wh"))
    fq = FactQuery(
        query_id=7,
        fact_table="jdbc_loans",
        sql=(
            "SELECT l.library_id, lb.consortia_id, "
            "COUNT(*) AS loans, SUM(l.val) AS total_value "
            "FROM loan l JOIN library lb ON l.library_id = lb.id "
            "WHERE l.loan_date <= @date GROUP BY l.library_id, lb.consortia_id"
        ),
        cron="daily",
    )
    written = eng.run("2024-01-28", [fq])
    assert written and list(written) == ["jdbc_loans"]
    out = eng.fact_frame("jdbc_loans")
    assert set(AUDIT_COLUMNS) <= set(out.columns)
    rows = {r["library_id"]: r["loans"] for r in out.collect()}
    assert sum(rows.values()) == 200  # all Jan loans <= the 28th
    # idempotent re-run on the same pivot date writes nothing
    assert eng.run("2024-01-28", [fq]) == {}


def test_jdbc_date_filter_pushdown_reaches_scan(spark, jdbc_views):
    """The @date-bound cutoff itself must be pushed into the remote
    scan — at 100 TB the source database prunes on its loan_date
    index; shipping every historical row to Spark first would be the
    reference's full-table mistake, not an equivalent."""
    from opl_spark.snapshot import bind_date

    sql = "SELECT library_id, val FROM loan WHERE loan_date <= @date"
    plan = formatted_plan(spark.sql(bind_date(sql, dt.date(2024, 1, 10))))
    assert "PushedFilters:" in plan
    assert "LessThanOrEqual(LOAN_DATE" in plan.replace('"', ""), plan


def test_jdbc_v2_catalog_pushes_aggregates_into_source(spark, jdbc_url):
    """The DSv2 catalog leg: GROUP BY + COUNT/SUM execute INSIDE the
    source database — the plan's scan node carries PushedAggregates /
    PushedGroupByExpressions, so at scale the source returns
    group-count rows instead of the fact spine.  (Identifier case is
    the remote database's: Derby uppercases unquoted names.)"""
    from opl_spark.sources.registry import register_jdbc_catalog

    register_jdbc_catalog(
        spark, "clavis", jdbc_url, driver=DRIVER
    )
    df = spark.sql(
        "SELECT LIBRARY_ID, COUNT(*) AS n, SUM(VAL) AS s "
        "FROM clavis.APP.LOAN GROUP BY LIBRARY_ID"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedAggregates: [COUNT(*), SUM(VAL)]" in plan, plan
    assert "PushedGroupByExpressions: [LIBRARY_ID]" in plan, plan
    rows = {r["LIBRARY_ID"]: (r["n"], r["s"]) for r in df.collect()}
    # 200 loans over 5 libraries: ids i with i%5==lib, val=i
    assert rows[0] == (40, float(sum(i for i in range(200) if i % 5 == 0)))
    assert set(rows) == set(range(5)) and all(n == 40 for n, _ in rows.values())


def test_jdbc_v2_pushes_all_five_aggregates_and_predicates(spark, jdbc_url):
    """r11 verdict task 5: everything the reference's operator-authored
    SQL could compute source-side (OLAP.php:334-343 — COUNT/SUM/MIN/
    MAX/AVG over a WHERE) must push through the DSv2 catalog in ONE
    scan: PushedAggregates carries all five, PushedFilters carries the
    predicate, and the ReadSchema is the five agg buckets + key — the
    source returns group rows, never the fact spine."""
    from opl_spark.sources.registry import register_jdbc_catalog

    register_jdbc_catalog(spark, "clavis4", jdbc_url, driver=DRIVER)
    df = spark.sql(
        "SELECT LIBRARY_ID, COUNT(*) AS n, SUM(VAL) AS s, MIN(VAL) AS mn, "
        "MAX(VAL) AS mx, AVG(VAL) AS av "
        "FROM clavis4.APP.LOAN WHERE LIBRARY_ID > 0 GROUP BY LIBRARY_ID"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert (
        "PushedAggregates: [COUNT(*), SUM(VAL), MIN(VAL), MAX(VAL), AVG(VAL)]"
        in plan
    ), plan
    assert "PushedFilters: [LIBRARY_ID IS NOT NULL, LIBRARY_ID > 0]" in plan
    assert "PushedGroupByExpressions: [LIBRARY_ID]" in plan, plan
    rows = {
        r["LIBRARY_ID"]: (r["n"], r["s"], r["mn"], r["mx"], r["av"])
        for r in df.collect()
    }
    # loans: ids i in 0..199, library i%5, val=i — library 1 holds 1,6,...,196
    vals1 = [float(i) for i in range(200) if i % 5 == 1]
    assert set(rows) == {1, 2, 3, 4}
    assert rows[1] == (40, sum(vals1), min(vals1), max(vals1), sum(vals1) / 40)


def test_jdbc_v2_limit_pushdown_conf_and_derby_dialect_gap(spark, jdbc_url):
    """LIMIT pushdown through the v2 path is dialect-gated: the scan
    can only absorb a limit when the dialect composes a limit clause.
    register_jdbc_catalog sets pushDownLimit, and MySQL — the
    reference's production database — pushes (``LIMIT n``); Derby's
    upstream dialect returns an EMPTY limit clause (no LIMIT syntax,
    and Spark never taught it ``FETCH FIRST``), so against the
    embedded test database the plan keeps CollectLimit above the scan.
    All three facts are pinned so a Spark upgrade that closes the
    Derby gap flips the last assert and we upgrade to a live
    PushedLimit plan check."""
    from opl_spark.sources.registry import register_jdbc_catalog

    register_jdbc_catalog(spark, "clavis5", jdbc_url, driver=DRIVER)
    assert spark.conf.get("spark.sql.catalog.clavis5.pushDownLimit") == "true"
    jvm = spark._jvm
    mysql = jvm.org.apache.spark.sql.jdbc.JdbcDialects.get("jdbc:mysql://x/db")
    assert mysql.getLimitClause(7) == "LIMIT 7"
    derby = jvm.org.apache.spark.sql.jdbc.JdbcDialects.get(jdbc_url)
    assert derby.getLimitClause(7) == ""
    df = spark.sql("SELECT ID, VAL FROM clavis5.APP.LOAN WHERE VAL > 10.0 LIMIT 7")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # predicate still pushes even when the limit cannot
    assert "PushedFilters: [VAL IS NOT NULL, VAL > 10.0]" in plan, plan
    assert "PushedLimit" not in plan and "CollectLimit" in plan, plan
    assert len(df.collect()) == 7


def test_jdbc_v2_snapshot_aggregation_runs_in_source(spark, jdbc_url, tmp_path):
    """The full production topology with the aggregation ITSELF pushed
    to the source: SnapshotEngine.run over catalog-qualified fact SQL —
    the source database computes the group-by (PushedAggregates on the
    scan), Spark attaches audit columns and writes the warehouse.
    This is exactly the reference's architecture (MySQL executes the
    operator SQL, PHP stamps and stores rows) with Spark as the
    stamping/storage tier."""
    from opl_spark.snapshot import FactQuery, SnapshotEngine
    from opl_spark.sources.registry import register_jdbc_catalog

    register_jdbc_catalog(spark, "clavis2", jdbc_url, driver=DRIVER)
    sql = (
        "SELECT LIBRARY_ID AS library_id, COUNT(*) AS loans, "
        "SUM(VAL) AS total_value "
        "FROM clavis2.APP.LOAN WHERE LOAN_DATE <= @date GROUP BY LIBRARY_ID"
    )
    from opl_spark.snapshot import bind_date

    plan = (
        spark.sql(bind_date(sql, "2024-01-28"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedAggregates: [COUNT(*), SUM(VAL)]" in plan, plan
    assert "LOAN_DATE" in plan.split("PushedFilters: [", 1)[1].split("]")[0], plan

    eng = SnapshotEngine(spark, str(tmp_path / "wh"))
    written = eng.run("2024-01-28", [FactQuery(9, "jdbc_loans_v2", sql)])
    assert written == {"jdbc_loans_v2": 5}
    rows = {
        r["library_id"]: (r["loans"], r["total_value"])
        for r in eng.fact_frame("jdbc_loans_v2").collect()
    }
    assert rows[0] == (40, float(sum(i for i in range(200) if i % 5 == 0)))


def test_jdbc_v2_catalog_reregistration_takes_effect(spark, jdbc_url):
    """Re-registering a catalog name must actually apply the new
    options: Spark caches catalog INSTANCES by name on first
    resolution, so register_jdbc_catalog resets the manager's cache
    when overwriting (code review r11 — without it the old connection
    silently kept serving)."""
    from opl_spark.sources.registry import register_jdbc_catalog

    register_jdbc_catalog(spark, "clavis3", jdbc_url, driver=DRIVER)
    q = "SELECT LIBRARY_ID, COUNT(*) AS n FROM clavis3.APP.LOAN GROUP BY LIBRARY_ID"
    plan = spark.sql(q)._jdf.queryExecution().executedPlan().toString()
    assert "PushedAggregates" in plan  # instance now cached by name

    register_jdbc_catalog(
        spark, "clavis3", jdbc_url, driver=DRIVER, pushDownAggregate="false"
    )
    plan = spark.sql(q)._jdf.queryExecution().executedPlan().toString()
    assert "PushedAggregates" not in plan, plan  # new conf took effect

    # the cache reset must not snap a live USE <catalog>.<ns> context
    # back to spark_catalog (ADVICE r12)
    spark.sql("USE clavis3.APP")
    try:
        register_jdbc_catalog(
            spark, "clavis3", jdbc_url, driver=DRIVER, pushDownAggregate="false"
        )
        assert spark.catalog.currentCatalog() == "clavis3"
        assert spark.sql("SELECT current_schema()").first()[0] == "APP"
        # unqualified resolution still works post-reregistration
        assert spark.sql("SELECT COUNT(*) FROM LOAN").first()[0] > 0
    finally:
        spark.sql("USE spark_catalog.default")

def test_jdbc_sink_snapshot_to_derby_end_to_end(spark, jdbc_views, tmp_path):
    """r11 verdict task 6: the reference WRITES snapshots into a
    database (second PDO connection, CREATE TABLE + prepared INSERT
    loop, OLAP.php:128-164) — drive the full Spark equivalent against
    the live embedded Derby: read the Clavis-shaped JDBC views, write
    the fact INTO Derby via JdbcSink (auto-create, S6), honor the E4
    re-run guard against the target database, evolve the table with
    ALTER ADD on a grown fact (S7), and cure a half-written scope with
    the per-scope delete+insert."""
    from opl_spark.sinks import JdbcSink
    from opl_spark.snapshot import AUDIT_COLUMNS, FactQuery, SnapshotEngine
    from opl_spark.timescope import gate

    sink = JdbcSink(url=jdbc_views, driver=DRIVER)
    eng = SnapshotEngine(spark, str(tmp_path / "unused"), jdbc_sink=sink)
    sql = (
        "SELECT l.library_id, lb.consortia_id, "
        "COUNT(*) AS loans, SUM(l.val) AS total_value "
        "FROM loan l JOIN library lb ON l.library_id = lb.id "
        "WHERE l.loan_date <= @date GROUP BY l.library_id, lb.consortia_id"
    )
    fq = FactQuery(11, "olap_loans", sql, cron="daily")

    # first run: table auto-created in Derby, rows landed with audit cols
    written = eng.run("2024-01-28", [fq])
    assert written == {"olap_loans": 5}
    out = eng.fact_frame("olap_loans")
    assert set(c.lower() for c in AUDIT_COLUMNS) <= set(
        c.lower() for c in out.columns
    )
    rows = {r["library_id"]: r["loans"] for r in out.collect()}
    assert sum(rows.values()) == 200

    # E4 against the TARGET database: same scope re-run writes nothing
    assert eng.run("2024-01-28", [fq]) == {}

    # the string audit column must be comparable (VARCHAR, not Derby's
    # CLOB default for StringType) — a weekly scope exercises it
    wfq = FactQuery(12, "olap_loans_w", sql, cron="weekly")
    assert eng.run("2024-01-28", [wfq]) == {"olap_loans_w": 5}  # a Sunday
    assert eng.run("2024-01-28", [wfq]) == {}  # E4 with week-label scope

    # delete+insert idempotence: re-materializing one scope directly
    # (the crashed-run recovery path) leaves NO duplicates
    scope = gate("2024-01-28", "daily")
    from opl_spark.snapshot import attach_audit

    df = attach_audit(spark.sql(
        sql.replace("@date", "DATE '2024-01-28'")), 11, scope)
    sink.write_scope(spark, df, "olap_loans", 11, scope)
    assert eng.fact_frame("olap_loans").count() == 5  # not 10

    # schema evolution: the fact grows a column -> ALTER TABLE ADD,
    # old rows read NULL
    sql2 = sql.replace(
        "SUM(l.val) AS total_value",
        "SUM(l.val) AS total_value, AVG(l.val) AS avg_value",
    )
    written = eng.run("2024-01-27", [FactQuery(11, "olap_loans", sql2)])
    assert written == {"olap_loans": 5}
    evolved = eng.fact_frame("olap_loans")
    assert "avg_value" in [c.lower() for c in evolved.columns]
    by_day = {r["day"]: r for r in evolved.collect()}
    assert by_day[27]["AVG_VALUE" if "AVG_VALUE" in evolved.columns
                      else "avg_value"] is not None
    assert by_day[28][[c for c in evolved.columns
                       if c.lower() == "avg_value"][0]] is None

    # parquet-layout maintenance is refused under a JDBC sink
    with pytest.raises(ValueError, match="parquet-warehouse"):
        eng.compact("olap_loans")


# ---------------------------------------------------------------------------
# r13: reader-atomic swap, crash chaos, connection properties, dialect matrix
# ---------------------------------------------------------------------------


def _raw_count(spark, url, where) -> int:
    """Count via a separate driver-side JDBC connection (a concurrent
    API reader stand-in — NOT the sink's own connection).  SERIALIZABLE
    isolation: embedded Derby has no MVCC, so a READ_COMMITTED scan
    that straddles the swap's commit point legitimately mixes pre- and
    post-commit rows (standard locking-scheduler semantics — the same
    read would be snapshot-stable on the reference's InnoDB); the
    atomicity claim under test is that no PARTIAL scope is ever a
    COMMITTED state, which a serializable reader observes directly."""
    jsql = spark._jvm.java.sql
    conn = jsql.DriverManager.getConnection(url)
    try:
        conn.setTransactionIsolation(jsql.Connection.TRANSACTION_SERIALIZABLE)
        st = conn.createStatement()
        try:
            rs = st.executeQuery(f"SELECT COUNT(*) AS c FROM OLAP_ATOM WHERE {where}")
            rs.next()
            return rs.getInt("c")
        finally:
            st.close()
    finally:
        conn.close()


def test_jdbc_sink_write_scope_is_reader_atomic(spark, tmp_path):
    """r12 verdict task 3: while write_scope re-materializes a scope, a
    concurrent reader polling the (queryId, scope) slice must observe
    the FULL old row count or the FULL new one — never a partial slice.
    The old DELETE-then-parallel-INSERT exposed every intermediate
    count; the staged single-transaction swap closes it."""
    import threading

    from pyspark.sql import functions as F

    from opl_spark.sinks import JdbcSink
    from opl_spark.timescope import gate

    url = f"jdbc:derby:{tmp_path}/atomdb;create=true"
    sink = JdbcSink(url=url, driver=DRIVER)
    scope = gate("2024-01-28", "daily")

    def slice_df(n, tag):
        return (
            spark.range(n)
            .select(
                F.lit(11).alias("queryId"),
                F.lit(2024).alias("year"), F.lit(1).alias("month"),
                F.lit("Y2024-W04").alias("week"), F.lit(28).alias("day"),
                F.col("id").alias("k"), F.lit(tag).alias("tag"),
            )
        )

    sink.write_scope(spark, slice_df(400, "old"), "olap_atom", 11, scope)
    where = '"queryId" = 11 AND "day" = 28'
    assert _raw_count(spark, url, where) == 400

    counts, stop = [], threading.Event()

    def poller():
        while not stop.is_set():
            counts.append(_raw_count(spark, url, where))

    t = threading.Thread(target=poller)
    t.start()
    try:
        for n, tag in ((900, "new"), (400, "old2"), (900, "new2")):
            sink.write_scope(spark, slice_df(n, tag), "olap_atom", 11, scope)
    finally:
        stop.set()
        t.join()
    assert counts, "poller never read"
    partial = [c for c in counts if c not in (400, 900)]
    assert not partial, f"reader observed partial scopes: {sorted(set(partial))}"
    assert _raw_count(spark, url, where) == 900


def test_jdbc_sink_crash_before_swap_leaves_target_whole_and_rerun_cures(
    spark, tmp_path
):
    """The ADVICE r12 mid-save hole, chaos leg: per-partition commits
    land only in the staging table, so a run that dies after staging
    (or mid-staging) leaves the target serving the COMPLETE previous
    state — and, for a first write, an empty table whose E4 probe says
    'not executed', so the next run() actually re-materializes (the
    old direct append left a partial slice that E4 read as done,
    skipping the scope forever)."""
    from pyspark.sql import functions as F

    from opl_spark.sinks import JdbcSink
    from opl_spark.timescope import gate

    url = f"jdbc:derby:{tmp_path}/crashdb;create=true"
    sink = JdbcSink(url=url, driver=DRIVER)
    scope = gate("2024-01-28", "daily")

    def slice_df(n, tag):
        return (
            spark.range(n)
            .select(
                F.lit(11).alias("queryId"),
                F.lit(2024).alias("year"), F.lit(1).alias("month"),
                F.lit("Y2024-W04").alias("week"), F.lit(28).alias("day"),
                F.col("id").alias("k"), F.lit(tag).alias("tag"),
            )
        )

    # -- crash on FIRST write: auto-create + stage done, swap never ran
    df1 = slice_df(300, "v1")
    empty = spark.createDataFrame([], df1.schema)
    sink._jdbc_writer(empty, "olap_crash", "append").save()  # auto-create
    sink.stage_scope(spark, df1, "olap_crash")               # ...then死 (no swap)
    assert sink.fact_frame(spark, "olap_crash").count() == 0
    assert not sink.already_executed(spark, "olap_crash", 11, scope)
    # re-run cures: the stale stage is overwritten, the swap lands once
    sink.write_scope(spark, df1, "olap_crash", 11, scope)
    assert sink.fact_frame(spark, "olap_crash").count() == 300
    assert sink.already_executed(spark, "olap_crash", 11, scope)

    # -- crash on RE-materialization: target keeps the complete old scope
    df2 = slice_df(500, "v2")
    sink.stage_scope(spark, df2, "olap_crash")  # died before swap again
    out = sink.fact_frame(spark, "olap_crash")
    assert out.count() == 300
    assert out.select("tag").distinct().collect()[0][0] == "v1"
    # explicit re-materialization replaces exactly once (no duplicates)
    sink.write_scope(spark, df2, "olap_crash", 11, scope)
    out = sink.fact_frame(spark, "olap_crash")
    assert out.count() == 500
    assert out.select("tag").distinct().collect()[0][0] == "v2"
    # successful write_scope drops its stage table
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)
    try:
        assert sink._resolve_table(conn, sink.stage_name("olap_crash")) is None
    finally:
        conn.close()


def test_jdbc_sink_driver_side_paths_carry_connection_properties(spark, tmp_path):
    """ADVICE r12 (medium): user/password in ``options`` must reach the
    DRIVER-side connections (exists / already_executed / the scope swap),
    not only Spark's reader/writer — pinned against an embedded Derby
    with BUILTIN authentication enabled."""
    from pyspark.sql import functions as F

    from opl_spark.sinks import JdbcSink
    from opl_spark.timescope import gate

    base = f"{tmp_path}/authdb"
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:{base};create=true")
    st = conn.createStatement()
    for prop, val in (
        ("derby.connection.requireAuthentication", "true"),
        ("derby.authentication.provider", "BUILTIN"),
        ("derby.user.olap", "sesame"),
        # the JVM carries derby.connection.requireAuthentication=false
        # as a SYSTEM property; propertiesOnly makes this database
        # trust its own properties so the auth arming actually fires
        ("derby.database.propertiesOnly", "true"),
    ):
        st.execute(
            "CALL SYSCS_UTIL.SYSCS_SET_DATABASE_PROPERTY"
            f"('{prop}', '{val}')"
        )
    st.close()
    conn.close()
    try:  # reboot the database so authentication arms
        jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:{base};shutdown=true")
    except Exception:
        pass  # Derby signals a successful shutdown via SQLException

    url = f"jdbc:derby:{base}"
    bad = JdbcSink(url=url, driver=DRIVER)
    with pytest.raises(Exception, match="(?i)authentication"):
        bad.exists(spark, "olap_auth")
    wrong = JdbcSink(
        url=url, driver=DRIVER,
        options={"user": "olap", "password": "nope"},
    )
    with pytest.raises(Exception, match="(?i)authentication"):
        wrong.exists(spark, "olap_auth")

    good = JdbcSink(
        url=url, driver=DRIVER,
        options={"user": "olap", "password": "sesame", "batchsize": "500"},
    )
    assert good.exists(spark, "olap_auth") is False
    scope = gate("2024-01-28", "daily")
    df = spark.range(5).select(
        F.lit(3).alias("queryId"),
        F.lit(2024).alias("year"), F.lit(1).alias("month"),
        F.lit("Y2024-W04").alias("week"), F.lit(28).alias("day"),
        F.col("id").alias("k"),
    )
    good.write_scope(spark, df, "olap_auth", 3, scope)
    assert good.already_executed(spark, "olap_auth", 3, scope)
    assert good.fact_frame(spark, "olap_auth").count() == 5


def test_jdbc_sink_dialect_matrix_mysql_vs_derby(spark):
    """r12 verdict task 7: the reference's production target is MySQL;
    without network access, pin every dialect-sensitive surface of the
    sink's generated DDL/DML against Spark's MySQLDialect next to the
    live-tested Derby — identifier quoting, string/boolean type
    mapping, and the DELETE / INSERT..SELECT / ALTER ADD statements
    the swap transaction issues."""
    from pyspark.sql import types as T

    from opl_spark.sinks import JdbcSink
    from opl_spark.timescope import gate

    my = JdbcSink(url="jdbc:mysql://db.example:3306/olap")
    de = JdbcSink(url="jdbc:derby:/tmp/nowhere")
    scope = gate("2024-01-28", "daily")

    assert my._quote(spark, "week") == "`week`"
    assert de._quote(spark, "week") == '"week"'

    # StringType maps to the sink's VARCHAR override on BOTH (MySQL's
    # native mapping and Derby's CLOB would each break the scope
    # equality predicates); dialect-native mappings for the rest
    for sink in (my, de):
        assert sink._jdbc_type(spark, T.StringType()) == "VARCHAR(255)"
        assert sink._jdbc_type(spark, T.LongType()) == "BIGINT"
        assert sink._jdbc_type(spark, T.DoubleType()) == "DOUBLE PRECISION"
        assert sink._jdbc_type(spark, T.DateType()) == "DATE"
        assert sink._jdbc_type(spark, T.DecimalType(18, 2)) == "DECIMAL(18,2)"
    assert my._jdbc_type(spark, T.BooleanType()) == "BIT(1)"
    assert de._jdbc_type(spark, T.BooleanType()) == "BOOLEAN"

    assert my._delete_sql(spark, "olap_loans", 11, scope) == (
        "DELETE FROM olap_loans WHERE `queryId` = 11 AND `year` = 2024 "
        "AND `month` = 1 AND `week` = 'Y2024-W04' AND `day` = 28"
    )
    assert de._delete_sql(spark, "OLAP_LOANS", 11, scope) == (
        'DELETE FROM OLAP_LOANS WHERE "queryId" = 11 AND "year" = 2024 '
        'AND "month" = 1 AND "week" = \'Y2024-W04\' AND "day" = 28'
    )
    cols = ["queryId", "year", "loans"]
    assert my._insert_select_sql(spark, "olap_loans", "olap_loans__stage", cols) == (
        "INSERT INTO olap_loans (`queryId`, `year`, `loans`) "
        "SELECT `queryId`, `year`, `loans` FROM olap_loans__stage"
    )
    assert de._insert_select_sql(spark, "OLAP_LOANS", "OLAP_LOANS__STAGE", cols) == (
        'INSERT INTO OLAP_LOANS ("queryId", "year", "loans") '
        'SELECT "queryId", "year", "loans" FROM OLAP_LOANS__STAGE'
    )
    assert my._alter_add_sql(spark, "olap_loans", "avg_value", "DOUBLE PRECISION") == (
        "ALTER TABLE olap_loans ADD COLUMN `avg_value` DOUBLE PRECISION"
    )
    # a weekly scope's NULLed day column must render IS NULL, not = NULL
    wk = gate("2024-01-28", "weekly")
    assert "`day` IS NULL" in my._scope_where(spark, 11, wk) or "day" not in [
        c for c, v in wk.as_dict().items() if v is None
    ]
