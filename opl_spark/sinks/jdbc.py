"""JDBC snapshot sink — the reference's write topology.

The reference snapshots INTO a database: a second PDO connection to
the OLAP MySQL, ``CREATE TABLE`` on first write, ``ALTER TABLE ADD``
on schema drift, then a prepared-INSERT loop one row at a time
(OLAP.php:128-164 ``prepareWriting``/``writeRow``, loop
OLAP.php:373-375).  This module closes that topology asymmetry for the
Spark engine: :class:`JdbcSink` plugs into ``SnapshotEngine`` and

- auto-creates the fact table on first append (S6) via Spark's JDBC
  writer — a parallel batched INSERT per partition, not a row loop;
- widens the table with ``ALTER TABLE ADD COLUMN`` when a fact query
  grows columns (S7, ``modifyTableStruct`` OLAP.php:177-199) — add
  -only, never narrowing, matching the parquet sink's contract;
- honors the E4 re-run guard with a scope-pruned remote read (the
  predicate pushes into the database, so the check is index-sized);
- makes re-materialization idempotent AND reader-atomic (r12 verdict
  task 3) by staging each (queryId, scope) slice into a side table
  with Spark's parallel JDBC writer, then swapping it in with ONE
  driver-side transaction (DELETE slice + INSERT..SELECT, single
  commit) — a concurrent API reader observes the full old scope or
  the full new scope, never a half-materialized one, and a run that
  crashes mid-write leaves the target untouched (the reference's row
  loop turns both cases into permanent partial scopes).

Scale note: the snapshot RESULT is aggregate-sized (group rows, not
the fact spine), so a JDBC sink is legitimate at any corpus scale —
the 100 TB never crosses this connection, only the report does.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from opl_spark.timescope import Scope


def _sql_literal(value) -> str:
    """Render a scope value as a SQL literal (engine-generated values
    only — query ids, year/month/day ints, ISO week labels)."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, (int, float)):
        return str(value)
    if isinstance(value, (_dt.date, _dt.datetime)):
        return f"'{value.isoformat()}'"
    return "'" + str(value).replace("'", "''") + "'"


@dataclass
class JdbcSink:
    """Target-database sink for ``SnapshotEngine`` fact tables.

    ``options`` pass through to Spark's JDBC reader/writer (e.g.
    ``batchsize``, ``isolationLevel``); ``createTableColumnTypes`` is
    auto-derived for string columns when absent (``VARCHAR(255)``) —
    several dialects (Derby included) would otherwise map StringType
    to CLOB/TEXT, which cannot sit in the scope-equality predicates
    the E4 guard and the per-scope DELETE need."""

    url: str
    driver: str | None = None
    options: dict = field(default_factory=dict)

    # -- driver-side JDBC plumbing ------------------------------------

    #: option keys Spark's JDBC reader/writer consumes itself — never
    #: forwarded as java.sql connection properties (lower-cased match;
    #: the list mirrors JDBCOptions' non-connection parameters)
    _SPARK_OPTION_KEYS = frozenset({
        "url", "dbtable", "query", "driver", "numpartitions",
        "partitioncolumn", "lowerbound", "upperbound", "fetchsize",
        "batchsize", "truncate", "cascadetruncate", "isolationlevel",
        "createtableoptions", "createtablecolumntypes",
        "customschema", "pushdownpredicate", "pushdownaggregate",
        "pushdownlimit", "pushdownoffset", "pushdowntablesample",
        "sessioninitstatement", "querytimeout", "keytab", "principal",
        "refreshkrb5config", "connectionprovider", "preparequery",
    })

    def _connect(self, spark: SparkSession):
        """Driver-side connection carrying the same credentials the
        Spark reader/writer paths get: every ``options`` entry that is
        not a Spark-only knob (user/password, SSL flags, …) goes into
        the ``java.util.Properties`` bag — ADVICE r12: a bare
        ``getConnection(url)`` authenticated only against
        credential-less embedded Derby and broke exists /
        already_executed / delete against real MySQL/Postgres
        targets."""
        jvm = spark._jvm
        if self.driver:
            jvm.java.lang.Class.forName(self.driver)
        props = jvm.java.util.Properties()
        for k, v in self.options.items():
            if k.lower() in self._SPARK_OPTION_KEYS:
                continue
            props.setProperty(k, str(v))
        return jvm.java.sql.DriverManager.getConnection(self.url, props)

    def _quote(self, spark: SparkSession, name: str) -> str:
        dialect = spark._jvm.org.apache.spark.sql.jdbc.JdbcDialects.get(self.url)
        return dialect.quoteIdentifier(name)

    def _resolve_table(self, conn, table: str) -> str | None:
        """The stored name of ``table`` (dialect case rules apply:
        Spark creates it unquoted, so e.g. Derby uppercases), or None
        if absent.  JDBC metadata treats the name as a PATTERN where
        ``_`` is a single-char wildcard — and every fact table name
        has underscores — so each row is re-checked for an exact
        match (``olap_loans`` must not resolve via ``olap0loans``)."""
        meta = conn.getMetaData()
        for candidate in (table, table.upper(), table.lower()):
            rs = meta.getTables(None, None, candidate, None)
            try:
                while rs.next():
                    if rs.getString("TABLE_NAME") == candidate:
                        return candidate
            finally:
                rs.close()
        return None

    def _table_columns(self, conn, stored: str) -> list[str]:
        # same wildcard caveat as _resolve_table: filter to the exact
        # table so a wildcard-sibling's columns never leak in
        rs = conn.getMetaData().getColumns(None, None, stored, None)
        cols = []
        try:
            while rs.next():
                if rs.getString("TABLE_NAME") == stored:
                    cols.append(rs.getString("COLUMN_NAME"))
        finally:
            rs.close()
        return cols

    def _jdbc_type(self, spark: SparkSession, dt: T.DataType) -> str:
        """The dialect's DDL type for a Catalyst type (dialect first,
        common JDBC mapping as fallback — mirrors JdbcUtils), with the
        same VARCHAR override the table-create path applies to strings."""
        if isinstance(dt, T.StringType):
            return "VARCHAR(255)"
        jvm = spark._jvm
        jdt = jvm.org.apache.spark.sql.types.DataType.fromJson(dt.json())
        dialect = jvm.org.apache.spark.sql.jdbc.JdbcDialects.get(self.url)
        jt = dialect.getJDBCType(jdt)
        if not jt.isDefined():
            jt = (
                jvm.org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils
                .getCommonJDBCType(jdt)
            )
        if not jt.isDefined():
            raise ValueError(f"no JDBC type for {dt.simpleString()}")
        return jt.get().databaseTypeDefinition()

    def _scope_where(
        self, spark: SparkSession, query_id: int, scope: Scope
    ) -> str:
        parts = [f"{self._quote(spark, 'queryId')} = {query_id}"]
        for name, val in scope.as_dict().items():
            q = self._quote(spark, name)
            if val is None:
                parts.append(f"{q} IS NULL")
            else:
                parts.append(f"{q} = {_sql_literal(val)}")
        return " AND ".join(parts)

    # -- the SnapshotEngine surface -----------------------------------

    def exists(self, spark: SparkSession, table: str) -> bool:
        conn = self._connect(spark)
        try:
            return self._resolve_table(conn, table) is not None
        finally:
            conn.close()

    def fact_frame(self, spark: SparkSession, table: str) -> DataFrame:
        reader = (
            spark.read.format("jdbc")
            .option("url", self.url)
            .option("dbtable", table)
        )
        if self.driver:
            reader = reader.option("driver", self.driver)
        for k, v in self.options.items():
            reader = reader.option(k, str(v))
        return reader.load()

    def already_executed(
        self, spark: SparkSession, table: str, query_id: int, scope: Scope
    ) -> bool:
        """E4 against the TARGET database: the scope predicate pushes
        into the remote scan (PushedFilters), so on an indexed OLAP
        table this is an index probe, not a table pull."""
        if not self.exists(spark, table):
            return False
        df = self.fact_frame(spark, table)
        cond = F.col("queryId") == F.lit(query_id)
        for name, val in scope.as_dict().items():
            cond = cond & F.col(name).eqNullSafe(F.lit(val))
        return df.filter(cond).limit(1).count() > 0

    def ensure_columns(
        self, spark: SparkSession, df: DataFrame, table: str
    ) -> list[str]:
        """Schema evolution on append (S7): ``ALTER TABLE ADD COLUMN``
        for fact-query columns the target table lacks — add-only, like
        ``modifyTableStruct`` (OLAP.php:177-199); existing rows read
        the new columns as NULL.  Narrowing/type changes are NOT
        attempted (the parquet sink's contract, kept symmetric)."""
        conn = self._connect(spark)
        try:
            stored = self._resolve_table(conn, table)
            if stored is None:
                return []
            have = {c.lower() for c in self._table_columns(conn, stored)}
            added = []
            for f_ in df.schema.fields:
                if f_.name.lower() in have:
                    continue
                ddl = self._jdbc_type(spark, f_.dataType)
                st = conn.createStatement()
                try:
                    st.executeUpdate(
                        self._alter_add_sql(spark, stored, f_.name, ddl)
                    )
                finally:
                    st.close()
                added.append(f_.name)
            return added
        finally:
            conn.close()

    # -- statement builders (pure text — pinned per-dialect by
    # tests/test_jdbc_source.py's MySQL/Derby matrix) ------------------

    @staticmethod
    def stage_name(table: str) -> str:
        return f"{table}__stage"

    def _delete_sql(
        self, spark: SparkSession, stored: str, query_id: int, scope: Scope
    ) -> str:
        return (
            f"DELETE FROM {stored} "
            f"WHERE {self._scope_where(spark, query_id, scope)}"
        )

    def _insert_select_sql(
        self, spark: SparkSession, target: str, stage: str, cols: list[str]
    ) -> str:
        """INSERT..SELECT with an explicit column list both sides —
        the target may be wider than the staged fact (schema drift adds
        columns other facts carry; they read NULL here), so positional
        insertion would mis-align."""
        names = ", ".join(self._quote(spark, c) for c in cols)
        return f"INSERT INTO {target} ({names}) SELECT {names} FROM {stage}"

    def _alter_add_sql(
        self, spark: SparkSession, stored: str, col: str, ddl_type: str
    ) -> str:
        return (
            f"ALTER TABLE {stored} ADD COLUMN "
            f"{self._quote(spark, col)} {ddl_type}"
        )

    def _jdbc_writer(self, df: DataFrame, table: str, mode: str):
        writer = (
            df.write.format("jdbc")
            .mode(mode)
            .option("url", self.url)
            .option("dbtable", table)
        )
        if self.driver:
            writer = writer.option("driver", self.driver)
        opts = dict(self.options)
        if "createTableColumnTypes" not in opts:
            strings = [
                f.name for f in df.schema.fields
                if isinstance(f.dataType, T.StringType)
            ]
            if strings:
                opts["createTableColumnTypes"] = ", ".join(
                    f"{c} VARCHAR(255)" for c in strings
                )
        for k, v in opts.items():
            writer = writer.option(k, str(v))
        return writer

    def stage_scope(self, spark: SparkSession, df: DataFrame, table: str) -> str:
        """Parallel batched write of the scope slice into the staging
        side table (dropped and recreated every call — a stale stage a
        crashed run left behind is overwritten, never appended to).
        Spark's per-partition transaction commits land HERE, where no
        reader looks; the swap into the target is one transaction."""
        stage = self.stage_name(table)
        self._jdbc_writer(df, stage, "overwrite").save()
        return stage

    def _swap_scope(
        self,
        spark: SparkSession,
        table: str,
        stage: str,
        cols: list[str],
        query_id: int,
        scope: Scope,
    ) -> None:
        """The atomic half: DELETE the (queryId, scope) slice and
        INSERT the staged replacement in ONE driver-side transaction —
        no partial scope is ever a COMMITTED state; a crash anywhere
        before commit rolls back to full-old.

        Reader visibility: on an MVCC target (the reference's MySQL/
        InnoDB, Postgres) a READ_COMMITTED reader therefore sees the
        full old scope until the commit and the full new one after.
        On a pure-locking engine (embedded Derby) an aggregate scan
        that straddles the commit can still mix pre/post rows at
        READ_COMMITTED — that is the reader's isolation choice, not a
        partial write; a SERIALIZABLE reader observes only full-old /
        full-new (pinned by tests/test_jdbc_source.py)."""
        conn = self._connect(spark)
        try:
            stored = self._resolve_table(conn, table)
            stored_stage = self._resolve_table(conn, stage)
            conn.setAutoCommit(False)
            st = conn.createStatement()
            try:
                st.executeUpdate(
                    self._delete_sql(spark, stored, query_id, scope)
                )
                st.executeUpdate(
                    self._insert_select_sql(spark, stored, stored_stage, cols)
                )
                conn.commit()
            except Exception:
                conn.rollback()
                raise
            finally:
                st.close()
        finally:
            conn.close()

    def _drop_stage(self, spark: SparkSession, stage: str) -> None:
        """Best-effort cleanup — a surviving stage table is inert (the
        next stage_scope overwrites it) so failures are swallowed."""
        conn = self._connect(spark)
        try:
            stored = self._resolve_table(conn, stage)
            if stored is None:
                return
            st = conn.createStatement()
            try:
                st.executeUpdate(f"DROP TABLE {stored}")
            except Exception:
                pass
            finally:
                st.close()
        finally:
            conn.close()

    def write_scope(
        self,
        spark: SparkSession,
        df: DataFrame,
        table: str,
        query_id: int,
        scope: Scope,
    ) -> None:
        """Idempotent, reader-atomic per-scope materialization (r12
        verdict task 3 + ADVICE r12): widen the target if the fact
        grew columns (S7), stage the slice with Spark's parallel JDBC
        writer, then swap it in with one DELETE+INSERT..SELECT
        transaction.  First write auto-creates the target (S6).

        Crash analysis (the ADVICE r12 mid-save hole): Spark's JDBC
        writer commits per-partition, so the OLD direct append could
        die having committed a partial slice — which E4's
        already_executed then read as "done", skipping the scope
        forever.  Per-partition commits now land in the staging table
        only; the target mutates solely inside the swap transaction,
        so any crash leaves it with the complete previous state and
        the E4 probe answers correctly on the next run."""
        if self.exists(spark, table):
            self.ensure_columns(spark, df, table)
        else:
            # auto-create (S6): Spark's writer creates the table from
            # the df SCHEMA; a fresh empty local frame, not df.limit(0)
            # — SnapshotEngine attaches an Observation to df for the
            # written-rows count, and a limit-0 pre-execution would
            # consume it before the staging write runs the real plan
            empty = df.sparkSession.createDataFrame([], df.schema)
            self._jdbc_writer(empty, table, "append").save()
        stage = self.stage_scope(spark, df, table)
        try:
            self._swap_scope(
                spark, table, stage, [f.name for f in df.schema.fields],
                query_id, scope,
            )
        finally:
            self._drop_stage(spark, stage)
