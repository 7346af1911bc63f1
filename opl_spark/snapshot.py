"""The snapshot ETL engine.

Spark-native re-expression of the reference's cron-driven snapshot run
(reference: library_olap/OLAP.php:296-384 — ``php OLAP.php -c add -d
<date> [-f fact]``): for each enabled fact query, gate on the cron
interval, run the operator-authored SQL with the pivot date bound,
prepend the six audit columns, and append idempotently to the fact
table.

Where the reference pumps rows one at a time over PDO
(OLAP.php:91-102,373-375), here the whole step collapses to one lazy
DataFrame plan and a partitioned columnar write — pushdown, schema
merge and parallel write are native (SURVEY.md §3.1).

Scale notes (100 TB design):
- fact tables are parquet directories partitioned by ``(year, month)``
  — cut compilation emits filters on exactly these columns, so API
  queries partition-prune instead of scanning history;
- idempotence is answered from a per-fact scope ledger, one marker
  file per snapshotted ``(queryId, scope)`` under ``<fact>/_scopes/``:
  a few filesystem metadata calls and no Spark job, however large the
  fact (reference intent of ``alreadyExecuted`` OLAP.php:166-175, an
  indexed lookup, minus its NULL-interpolation defect — SURVEY.md
  §1.4).  ``run`` marks a scope ``.pending`` before its append and
  ``.done`` after it commits; a ``.pending`` marker alone is a crashed
  append, which the probe reports loudly instead of skipping.  Every
  other change to a fact's files drops the ledger, and the next probe
  rebuilds it from one scan of the fact's distinct scopes;
- schema evolution on append (reference ``modifyTableStruct``
  OLAP.php:177-199) maps to parquet ``mergeSchema`` on read: appends
  with new columns are legal, old files read as NULL. Type *narrowing*
  is rejected instead of silently degraded (the reference truncates
  decimals to ints, OLAP.php:51-58 — we deliberately do not).
"""

from __future__ import annotations

import datetime as _dt
import os
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from opl_spark.timescope import Scope, gate

#: The six standard audit columns prepended to every snapshot row
#: (OLAP.php:356-358, library_olap/README.md:51).
AUDIT_COLUMNS = ("queryId", "year", "month", "week", "day", "executionDate")

#: The scope ledger's directory inside a fact directory.  Spark's file
#: index skips a name that starts with ``_`` and holds no ``=``, so
#: fact reads, ``inputFiles()`` and partition discovery never see it.
LEDGER_DIR = "_scopes"

#: A week label ``gate`` can emit (``timescope.week_label``).
_WEEK_LABEL = re.compile(r"Y\d+-W\d\d")


def _scope_marker(query_id: int, scope: Scope) -> str:
    """The ledger name stem of one ``(queryId, scope)``:
    ``q<id>_<year>_<month>_<week>_<day>``, a NULLed field left empty
    (a monthly scope is ``q2_1998_6__``).  Never contains ``=``."""
    fields = ("" if v is None else str(v) for v in scope.as_dict().values())
    return f"q{int(query_id)}_" + "_".join(fields)


@dataclass(frozen=True)
class FactQuery:
    """One configured fact query (olapSettings.json entry — reference:
    library_olap/README.md:26-36).

    ``query_type`` mirrors the reference's ``query.type`` discriminator
    (OLAP.php:334-348): ``sql`` runs ``sql`` through ``spark.sql`` with
    ``@date`` bound; ``script`` treats ``sql`` as an external command,
    executed with the pivot date appended as the last argument, whose
    stdout is a JSON row array."""

    query_id: int
    fact_table: str
    sql: str  # SQL text (may contain ``@date``, README.md:36) or script command
    cron: str = "daily"
    enable: bool = True  # OLAP.php:332 enable==1 gate
    query_type: str = "sql"  # "sql" | "script" (OLAP.php:334-348)


def bind_date(sql: str, pivot: _dt.date | str) -> str:
    """Substitute the ``@date`` parameter with a typed date literal
    (reference does textual substitution, OLAP.php:339).  The same
    substitution works verbatim for ANSI-SQL oracles."""
    d = pivot if isinstance(pivot, str) else pivot.isoformat()
    return sql.replace("@date", f"DATE '{d}'")


def attach_audit(
    df: DataFrame,
    query_id: int,
    scope: Scope,
    execution_ts: _dt.datetime | None = None,
) -> DataFrame:
    """Prepend the audit columns (S9; OLAP.php:201-205,356-372).

    ``execution_ts`` is an explicit parameter (not ``now()``) so runs
    are reproducible and cross-engine hashes stable.
    """
    ts = execution_ts or _dt.datetime(1970, 1, 1)
    clash = sorted(set(df.columns) & set(AUDIT_COLUMNS))
    if clash:
        # a fact query emitting its own year/month/... would bind
        # ambiguously against the audit scope columns (and break the
        # (year, month) partitioned write); fail loudly — the fix is to
        # alias the query's columns (e.g. year -> order_year)
        raise ValueError(
            f"fact query output collides with audit columns {clash}; "
            "rename those columns in the fact SQL"
        )
    audit = [
        F.lit(query_id).cast("long").alias("queryId"),
        F.lit(scope.year).cast("long").alias("year"),
        F.lit(scope.month).cast("long").alias("month"),
        F.lit(scope.week).cast("string").alias("week"),
        F.lit(scope.day).cast("long").alias("day"),
        F.lit(ts).cast("timestamp").alias("executionDate"),
    ]
    return df.select(*audit, "*")


def degrade_types_strict(df: DataFrame) -> DataFrame:
    """OPT-IN replication of the reference's type degradation
    (``Table::$assocDataTyes``, OLAP.php:51-58) for bit-compatible
    migration audits: NEWDECIMAL columns land in INT(21) — MySQL
    coerces with ROUND-half-away-from-zero, which Spark's HALF_UP
    ``round`` matches exactly, then CLAMPS to the 32-bit INT range
    (display width 21 notwithstanding, INT is 4 bytes; non-strict
    MySQL saturates at ±2^31−1 with a warning), replicated here so
    large measures diff byte-for-byte too (ADVICE r12) — and
    VAR_STRING lands in VARCHAR(50),
    i.e. silent truncation at 50 chars.  The engine's DEFAULT keeps
    full precision (SURVEY.md §1.2 — the degradation is a reference
    defect, not a feature); this mode exists so an operator migrating
    off the reference can diff snapshots byte-for-byte before flipping
    precision on."""
    from pyspark.sql import types as T

    # ONE projection, not a withColumn chain — a chain nests a Project
    # per converted column, O(columns) analysis overhead on exactly
    # the wide migration facts this mode exists for
    cols = []
    for f in df.schema.fields:
        if isinstance(f.dataType, T.DecimalType):
            r = F.round(F.col(f.name), 0).cast("long")
            # when/when/otherwise, not least/greatest: those SKIP
            # nulls, which would turn a NULL measure into the clamp
            # bound instead of keeping it NULL
            clamped = (
                F.when(r > 2147483647, F.lit(2147483647))
                .when(r < -2147483648, F.lit(-2147483648))
                .otherwise(r)
            )
            cols.append(clamped.cast("long").alias(f.name))
        elif isinstance(f.dataType, T.StringType):
            cols.append(F.substring(F.col(f.name), 1, 50).alias(f.name))
        else:
            cols.append(F.col(f.name))
    return df.select(*cols)


def swap_in(spark: SparkSession, path: str, tmp: str, op: str) -> None:
    """Replace the directory ``path`` with the fully written ``tmp`` by
    two renames — path → ``<path>__old``, tmp → path — then delete
    ``__old``.  A failed second rename puts the original back before
    raising; a crash between the renames strands the data under
    ``__old``, which ``SnapshotEngine.vacuum`` leaves for the operator
    to rename back.  ``compact`` and ``upsert`` swap through here;
    ``op`` names the caller in the error."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    old = path + "__old"
    hpath, htmp, hold = (jvm.org.apache.hadoop.fs.Path(p) for p in (path, tmp, old))
    fs = hpath.getFileSystem(conf)
    if not fs.rename(hpath, hold):
        raise IOError(f"{op}: rename {path} -> {old} failed")
    if not fs.rename(htmp, hpath):
        # put the original back before failing — nothing is lost
        fs.rename(hold, hpath)
        raise IOError(f"{op}: rename {tmp} -> {path} failed")
    fs.delete(hold, True)


class SnapshotEngine:
    """Runs fact queries against registered source views and maintains
    partitioned parquet fact tables under ``warehouse_dir``.

    ``strict_type_parity=True`` applies the reference's documented
    type degradation (:func:`degrade_types_strict`) to every fact
    result before the audit columns attach — for migration-period
    byte-parity only; leave off otherwise.

    ``jdbc_sink`` (an :class:`opl_spark.sinks.JdbcSink`) redirects fact
    tables INTO a target database — the reference's exact write
    topology (second PDO connection + prepared INSERT loop,
    OLAP.php:128-164) as auto-create + ALTER-on-drift + idempotent
    per-scope delete+insert.  Reads (``fact_frame``/``exists``) and the
    E4 guard follow the sink; the parquet-layout maintenance surface
    (``compact``/``upsert``) stays parquet-only —
    a database delegates layout to its own storage engine."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse_dir: str,
        strict_type_parity: bool = False,
        jdbc_sink=None,
    ):
        self.spark = spark
        self.warehouse_dir = warehouse_dir
        self.strict_type_parity = strict_type_parity
        self.jdbc_sink = jdbc_sink

    def _require_parquet(self, op: str) -> None:
        if self.jdbc_sink is not None:
            raise ValueError(
                f"{op} is a parquet-warehouse layout operation; with a "
                "JDBC sink the target database owns storage layout"
            )

    def _path(self, fact_table: str) -> str:
        return os.path.join(self.warehouse_dir, fact_table)

    def _fs(self, path: str):
        """Hadoop FileSystem for ``path`` + the path object — resolves
        to LocalFileSystem, HDFS, or an object-store connector from the
        path's scheme, so warehouse maintenance is not local-FS-bound
        (the 100 TB deployments this engine targets keep fact tables on
        cloud storage)."""
        jvm = self.spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        return hpath.getFileSystem(self.spark._jsc.hadoopConfiguration()), hpath

    def _partitions(self, fact_table: str):
        """Hadoop FileSystem + ``[(year dir, [month dirs])]`` for every
        ``year=*`` directory of the fact, from listings only (no data
        read); empty when the fact has no directory."""
        fs, hpath = self._fs(self._path(fact_table))
        if not fs.exists(hpath):
            return fs, []
        out = []
        for ystat in fs.listStatus(hpath):
            ypath = ystat.getPath()
            if ypath.getName().startswith("year="):
                months = [
                    st.getPath()
                    for st in fs.listStatus(ypath)
                    if st.getPath().getName().startswith("month=")
                ]
                out.append((ypath, months))
        return fs, out

    def fact_frame(self, fact_table: str) -> DataFrame:
        """Read a fact table with schema merge across evolved appends."""
        if self.jdbc_sink is not None:
            return self.jdbc_sink.fact_frame(self.spark, fact_table)
        return self.spark.read.option("mergeSchema", "true").parquet(self._path(fact_table))

    def exists(self, fact_table: str) -> bool:
        """Whether the fact holds data files: ``*.parquet`` files or
        ``year=`` partition directories.  ``_SUCCESS`` and the scope
        ledger are not data — a fact whose only scope wrote 0 rows has
        both and nothing to read."""
        if self.jdbc_sink is not None:
            return self.jdbc_sink.exists(self.spark, fact_table)
        fs, hpath = self._fs(self._path(fact_table))
        if not (fs.exists(hpath) and fs.getFileStatus(hpath).isDirectory()):
            return False
        for status in fs.listStatus(hpath):
            n = status.getPath().getName()
            if n.endswith(".parquet") or n.startswith("year="):
                return True
        return False

    def _ledger(self, fact_table: str):
        """Hadoop FileSystem + path of the fact's scope ledger."""
        return self._fs(os.path.join(self._path(fact_table), LEDGER_DIR))

    def _markers(self, fact_table: str, query_id: int, scope: Scope):
        """``(fs, done, pending)`` marker paths of one scope."""
        fs, ledger = self._ledger(fact_table)
        stem = _scope_marker(query_id, scope)
        Path = self.spark._jvm.org.apache.hadoop.fs.Path
        return fs, Path(ledger, stem + ".done"), Path(ledger, stem + ".pending")

    def _crashed(self, fact_table: str, what: str, pending) -> RuntimeError:
        return RuntimeError(
            f"{fact_table}: the snapshot of {what} started but never "
            "committed (its run crashed or its write raised); the scope "
            "may hold part of its rows. Remove that scope's rows, delete "
            f"{pending.toString()} and run again."
        )

    def _rebuild_ledger(self, fact_table: str) -> None:
        """Fill a missing ledger from one scan of the fact's distinct
        ``(queryId, year, month, week, day)`` rows: one ``.done`` marker
        per scope holding ≥1 row.  Built beside the ledger and renamed
        into place, so a crash mid-rebuild leaves no partial ledger.
        Rows no ``gate`` scope can equal (a NULL ``queryId``, a
        non-label ``week`` from a direct ``write``) get no marker."""
        fs, ledger = self._ledger(fact_table)
        Path = self.spark._jvm.org.apache.hadoop.fs.Path
        tmp = Path(ledger.toString() + "_rebuild")
        fs.delete(tmp, True)
        fs.mkdirs(tmp)
        keys = self.fact_frame(fact_table).select(*AUDIT_COLUMNS[:5]).distinct()
        for qid, year, month, week, day in keys.collect():
            if qid is None or (week is not None and not _WEEK_LABEL.fullmatch(str(week))):
                continue
            stem = _scope_marker(qid, Scope(year, month, week, day))
            fs.create(Path(tmp, stem + ".done"), True).close()
        if not fs.rename(tmp, ledger):
            raise IOError(f"{fact_table}: rename {tmp.toString()} -> {LEDGER_DIR} failed")

    def _drop_ledger(self, fact_table: str) -> None:
        """Forget the fact's snapshotted scopes before a change other
        than ``run``'s scope append (``write``, ``upsert``, ``compact``);
        the next probe rebuilds the ledger from the data.  A
        ``.pending`` marker is refused, not dropped: the rebuild would
        read a crashed scope's partial rows as done."""
        fs, ledger = self._ledger(fact_table)
        if not fs.exists(ledger):
            return
        for status in fs.listStatus(ledger):
            name = status.getPath().getName()
            if name.endswith(".pending"):
                raise self._crashed(
                    fact_table, f"scope {name[: -len('.pending')]}", status.getPath()
                )
        fs.delete(ledger, True)

    def already_executed(self, fact_table: str, query_id: int, scope: Scope) -> bool:
        """Idempotent re-run guard (E4; intent of OLAP.php:166-175).

        Answered from the fact's scope ledger (module docstring), with
        no Spark job: a ``.done`` marker for ``(query_id, scope)`` means
        the scope landed; a ``.pending`` marker without one means a run
        crashed inside that scope's append, and the probe raises naming
        the fact and the scope — the scope is never skipped as done, and
        re-running it could double its rows; neither means not executed.
        NULLed scope fields of weekly/monthly/yearly facts are part of
        the marker name, so they compare exactly (the reference's
        ``= NULL`` never matches).

        A fact with data but no ledger (written before the ledger
        existed, or changed by ``write``/``upsert``/``compact`` since)
        costs one scan that refills the ledger; later probes read it.
        With a JDBC sink, a predicate-pushed remote probe.
        """
        if self.jdbc_sink is not None:
            return self.jdbc_sink.already_executed(
                self.spark, fact_table, query_id, scope
            )
        fs, done, pending = self._markers(fact_table, query_id, scope)
        if not fs.exists(done.getParent()):
            if not self.exists(fact_table):
                return False
            self._rebuild_ledger(fact_table)
        if fs.exists(done):
            return True
        if fs.exists(pending):
            raise self._crashed(
                fact_table, f"queryId {query_id} scope {scope.as_dict()}", pending
            )
        return False

    def write(self, df: DataFrame, fact_table: str, *, _in_run: bool = False) -> None:
        """Partitioned append (S6/S7/S8).

        Partitioning by ``(year, month)`` bounds partition count
        (12/year regardless of data volume) while giving the API layer
        pruning on the dominant cut dimension (date).  Within a
        partition, file count follows the shuffle parallelism — at
        100 TB the write parallelizes across executors with no driver
        involvement.

        A direct append drops the scope ledger (the appended rows may
        belong to any scope); ``run`` passes ``_in_run`` because it
        marks its own scope.
        """
        self._require_parquet("write")
        if not _in_run:
            self._drop_ledger(fact_table)
        (
            df.write.mode("append")
            .partitionBy("year", "month")
            .parquet(self._path(fact_table))
        )

    def compact(
        self,
        fact_table: str,
        target_files_per_partition: int = 1,
        cluster_by: list[str] | None = None,
        zorder: bool = False,
    ) -> None:
        """Rewrite a fact table's files to bound file count — and,
        with ``cluster_by``, to CLUSTER rows inside each rewritten
        file so parquet row-group min/max stats prune point and range
        reads on those columns (``zorder=True`` range-quantizes ≥2
        cluster columns to 8-bit equi-depth rank buckets and
        interleaves THOSE into one Morton key — interleaving raw
        values would use only the noise-like low bits of
        high-cardinality keys; plain sort otherwise).  Compaction is
        the
        natural moment to impose layout: the data is being rewritten
        anyway, so clustering is free scan-cost insurance.

        Daily idempotent appends accumulate one file batch per run per
        partition; over years that is the classic small-files problem
        (footer-read dominated scans, driver-side listing cost).
        Compaction reads with schema merge, re-partitions inside each
        (year, month) directory, and swaps write-to-temp + rename.

        Operational contract (stated, not implied): this is a
        SINGLE-WRITER, OFFLINE maintenance operation — run it in the
        same off-peak window as the snapshots.  The swap is two renames
        (path → __old, tmp → path): a crash between them strands the
        data under ``__old`` (recoverable by renaming back — nothing is
        deleted until the new layout is in place), and a reader that
        opens the table inside that window fails and must retry.  True
        atomic swap needs a table format with a metadata pointer
        (Delta/Iceberg) — intentionally out of scope here.  Path
        operations go through the Hadoop FileSystem API (like
        ``exists``), so any warehouse scheme Spark can write is
        maintainable — with the usual object-store caveat that a
        "rename" there is a copy, making the table-format path the
        better swap on S3-likes."""
        self._require_parquet("compact")
        self._drop_ledger(fact_table)
        path = self._path(fact_table)
        tmp = path + "__compacting"
        df = self.fact_frame(fact_table)
        drop_after: list[str] = []
        if cluster_by:
            if zorder and len(cluster_by) >= 2:
                from opl_spark.operators.layout import (
                    zorder_key,
                    zorder_rank_quantize,
                )

                # range-quantize each cluster column to the 8-bit
                # domain first (equi-depth, Delta/Iceberg-style):
                # interleaving RAW values would use only their low 8
                # bits, which for high-cardinality keys are noise and
                # yield no min/max pruning
                df, buckets = zorder_rank_quantize(df, cluster_by, bits=8)
                drop_after = buckets
                sort_key = [zorder_key([F.col(b) for b in buckets])]
            else:
                sort_key = [F.col(c) for c in cluster_by]
            # RANGE-partition on (year, month, cluster key): each file
            # then covers a CONTIGUOUS key range, so min/max footer
            # stats prune across files as well as across row groups —
            # a salted split would hand every task a random sample of
            # the domain and leave each file spanning all of it
            if target_files_per_partition > 1:
                n_groups = df.select("year", "month").distinct().count()
                out = df.repartitionByRange(
                    max(1, n_groups * target_files_per_partition),
                    F.col("year"), F.col("month"), *sort_key,
                )
            else:
                out = df.repartition(F.col("year"), F.col("month"))
            # the (year, month) prefix satisfies the file writer's
            # required partition-column ordering — without it the
            # writer re-sorts by partition columns alone and silently
            # discards the cluster order
            out = out.sortWithinPartitions(
                F.col("year"), F.col("month"), *sort_key
            )
            if drop_after:
                # projection after the sort keeps the row order; the
                # bucket columns are layout scaffolding, not data
                out = out.drop(*drop_after)
        else:
            # no cluster order requested: every (year, month [, salt])
            # group hashes to one task, so each partition directory is
            # written by exactly target_files tasks
            keys = [F.col("year"), F.col("month")]
            if target_files_per_partition > 1:
                # salt from a hash of the data columns — deterministic
                # under task retry, unlike monotonically_increasing_id,
                # so a retried write attempt produces identical files
                keys.append(
                    F.pmod(
                        F.xxhash64(*df.columns),
                        F.lit(target_files_per_partition),
                    )
                )
            out = df.repartition(*keys)
        out.write.mode("overwrite").partitionBy("year", "month").parquet(tmp)
        swap_in(self.spark, path, tmp, "compact")

    def vacuum(self) -> list[str]:
        """Remove stale maintenance staging left by a crashed
        ``compact``/``upsert``: ``<fact>__compacting`` / ``__upserting``
        (an unfinished rewrite — the live table is intact, the staging
        copy is garbage) and ``<fact>__old`` WHEN the live table exists
        (the swap completed; the backup is garbage.  An ``__old``
        WITHOUT a live table is the mid-swap crash state and is LEFT
        ALONE — renaming it back is the operator's recovery decision,
        documented on ``compact``).  Returns the removed paths.

        Driver-side directory listing only — maintenance metadata, no
        data scan; same single-writer/offline window as compact.
        """
        fs, root = self._fs(self.warehouse_dir)
        if not fs.exists(root):
            return []
        removed = []
        for status in fs.listStatus(root):
            name = status.getPath().getName()
            for suffix in ("__compacting", "__upserting"):
                if name.endswith(suffix):
                    fs.delete(status.getPath(), True)
                    removed.append(name)
            if name.endswith("__old"):
                live = name[: -len("__old")]
                if self.exists(live):
                    fs.delete(status.getPath(), True)
                    removed.append(name)
        return removed

    def upsert(
        self, df: DataFrame, fact_table: str, key_cols: list[str]
    ) -> dict[str, int]:
        """SCD1 merge: rows matching on ``key_cols`` are REPLACED by
        the incoming version, new keys append — the idempotent
        restatement path for facts whose source corrects history
        (vs. ``write``'s pure append + ``already_executed``'s skip).

        Plan shape: one LEFT ANTI join of the current table against
        the (distinct) incoming keys keeps the untouched rows — a
        key-partitioned hash join, broadcast when the incoming batch
        is small — then a unionByName (schema evolution: either side's
        new columns null-fill) and the same write-to-temp + two-rename
        swap ``compact`` uses, with the same single-writer/offline
        operational contract.  Returns ``replaced`` (old rows
        dropped), ``inserted`` (incoming rows written) and ``kept``
        (untouched old rows) — keys may carry multiple rows on either
        side; the incoming batch is taken as the FULL new version of
        every key it mentions.
        """
        self._require_parquet("upsert")
        self._drop_ledger(fact_table)
        if not self.exists(fact_table):
            self.write(df, fact_table)
            return {"replaced": 0, "inserted": df.count(), "kept": 0}
        cur = self.fact_frame(fact_table)
        keys = df.select(*key_cols).distinct()
        replaced = cur.join(keys, key_cols, "semi").count()
        # count the incoming batch BEFORE the swap: the patch is often
        # DERIVED from the target table (read-modify-write), and its
        # lazy plan re-reads files the swap renames away
        n_in = df.count()
        kept_df = cur.join(keys, key_cols, "left_anti")
        merged = kept_df.unionByName(df, allowMissingColumns=True)
        path = self._path(fact_table)
        tmp = path + "__upserting"
        merged.write.mode("overwrite").partitionBy("year", "month").parquet(tmp)
        swap_in(self.spark, path, tmp, "upsert")
        return {
            "replaced": replaced,
            "inserted": n_in,
            "kept": self.fact_frame(fact_table).count() - n_in,
        }

    def run(
        self,
        pivot_date: _dt.date | str,
        facts: list[FactQuery],
        only_fact: str | None = None,
        execution_ts: _dt.datetime | None = None,
    ) -> dict[str, int]:
        """One snapshot run (the ``-c add -d <date> [-f fact]`` CLI,
        OLAP.php:388-403).  Returns {fact_table: appended_row_count}.
        """
        written: dict[str, int] = {}
        for fq in facts:
            if only_fact is not None and fq.fact_table != only_fact:
                continue  # E5 — per-fact CLI filter (OLAP.php:322-323)
            if not fq.enable:
                continue  # E6 — enable flag (OLAP.php:332)
            scope = gate(pivot_date, fq.cron)
            if scope is None:
                continue  # E2 — not a period-boundary day (OLAP.php:328-330)
            if self.already_executed(fq.fact_table, fq.query_id, scope):
                continue  # E4 — scope already snapshotted (OLAP.php:355)
            if fq.query_type == "script":
                # S2 literal form — exec + stdout-JSON ingestion
                # (OLAP.php:344-346 appends the pivot date as the last arg)
                from opl_spark.sources.registry import run_script_source

                d = pivot_date if isinstance(pivot_date, str) else pivot_date.isoformat()
                df = run_script_source(self.spark, fq.sql, d)
            elif fq.query_type == "sql":
                df = self.spark.sql(bind_date(fq.sql, pivot_date))
            else:
                raise ValueError(f"invalid query type {fq.query_type!r}")  # OLAP.php:348
            if self.strict_type_parity:
                df = degrade_types_strict(df)  # OLAP.php:51-58 parity
            df = attach_audit(df, fq.query_id, scope, execution_ts)
            # row count observed as a side effect of the write itself —
            # a separate .count() would re-execute the fact query
            obs = Observation(f"snapshot_{fq.fact_table}_{fq.query_id}")
            observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
            if self.jdbc_sink is not None:
                self.jdbc_sink.write_scope(
                    self.spark, observed, fq.fact_table, fq.query_id, scope
                )
                rows = obs.get["rows"]
            else:
                # ledger order: pending → append → done.  A crash (or
                # a raise) in between leaves the pending marker, which
                # the next probe reports instead of skipping the scope
                fs, done, pending = self._markers(fq.fact_table, fq.query_id, scope)
                fs.create(pending, True).close()
                self.write(observed, fq.fact_table, _in_run=True)
                rows = obs.get["rows"]
                # a 0-row scope stays unmarked and re-runs next time,
                # as a scan of the data would also find nothing
                if not rows:
                    fs.delete(pending, False)
                elif not fs.rename(pending, done):
                    raise IOError(f"{fq.fact_table}: rename {pending.toString()} failed")
            written[fq.fact_table] = written.get(fq.fact_table, 0) + rows
        return written


def table_stats(engine: SnapshotEngine, fact_table: str) -> list[dict]:
    """Storage report per (year, month) partition: file count and
    total bytes from Hadoop FS LISTING (metadata only — no data
    read).  The capacity/small-files dashboard behind ``compact``
    decisions: a partition with hundreds of small files wants
    compaction; one with none wants its retention checked.
    """
    fs, partitions = engine._partitions(fact_table)
    out = []
    for ypath, months in partitions:
        for mpath in months:
            files = [
                st
                for st in fs.listStatus(mpath)
                if st.getPath().getName().endswith(".parquet")
            ]
            out.append(
                {
                    "partition": f"{ypath.getName()}/{mpath.getName()}",
                    "n_files": len(files),
                    "bytes": int(sum(st.getLen() for st in files)),
                }
            )
    return sorted(out, key=lambda d: d["partition"])
