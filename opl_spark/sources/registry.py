"""Source registration: external tables → Spark SQL views.

The reference runs operator-authored SQL directly against the source
MySQL (reference: library_olap/OLAP.php:81-89 ``initByQuery``); the
Spark-native equivalent is to register every source table as a temp
view and run fact queries through ``spark.sql`` — Catalyst then pushes
filters/projections into the parquet (or JDBC/DSv2) scan.

For 100 TB deployments these would be catalog tables over partitioned
cloud storage; the view indirection keeps fact-query SQL identical in
both worlds.

Registering a parquet source runs no Spark job: :func:`open_parquet`
reads the schema from one footer on the driver, through Hadoop and
Spark's own footer converter, and hands it to the reader, so Spark
skips its schema-inference job.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: Synthetic star-schema tables generated by the driver (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _hidden(name: str) -> bool:
    """Spark's file-index rule for names it never lists as data:
    ``_``-prefixed (unless a ``key=value`` partition directory),
    ``.``-prefixed, and in-flight ``._COPYING_`` uploads."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _first_data_file(fs, status):
    """The first visible file under ``status`` in the order Spark's
    file index sorts leaves (by full path string), or None.  Children
    are walked sorted by name with ``/`` appended to directories, which
    is that order: ``x.parquet`` sorts before the leaves of ``x/``."""
    if status.isFile():
        return status
    children = sorted(
        (c.getPath().getName() + ("/" if c.isDirectory() else ""), c)
        for c in fs.listStatus(status.getPath())
    )
    for key, child in children:
        if _hidden(key.rstrip("/")):
            continue
        found = _first_data_file(fs, child)
        if found is not None:
            return found
    return None


def open_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without its schema-inference job.

    The schema comes from one footer read on the driver: the file
    itself, or for a directory its first visible data file in sorted
    order, the one footer Spark's own non-merging inference reads.
    Spark's converter (``ParquetFileFormat.readSchemaFromFooter`` with
    ``ParquetToSparkSchemaConverter`` over the session's SQL conf)
    turns it into the same schema inference would give, so
    ``spark.sql.legacy.parquet.nanosAsLong`` and the other parquet
    read confs apply as they would there.  Summary files
    (``_metadata``) are not consulted; nothing here writes them.

    A missing path, or one with no data file, goes to the plain
    reader, which raises Spark's own error for it.
    """
    jvm = spark._jvm
    jss = spark._jsparkSession
    conf = jss.sessionState().newHadoopConf()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(conf)
    first = _first_data_file(fs, fs.getFileStatus(hpath)) if fs.exists(hpath) else None
    if first is None:
        return spark.read.parquet(path)
    pq = jvm.org.apache.spark.sql.execution.datasources.parquet
    meta = pq.ParquetFooterReader.readFooter(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(first, conf),
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
    )
    jschema = pq.ParquetFileFormat.readSchemaFromFooter(
        jvm.org.apache.parquet.hadoop.Footer(first.getPath(), meta),
        pq.ParquetToSparkSchemaConverter(jss.sessionState().conf()),
    )
    return spark.read.schema(StructType.fromJson(json.loads(jschema.json()))).parquet(path)


def write_counted(df: DataFrame, path: str, name: str) -> int:
    """Overwrite ``path`` with ``df`` as parquet and return the rows
    written, observed on the write itself (as ``SnapshotEngine.run``
    counts a scope) instead of by re-reading the written files."""
    obs = Observation(name)
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite").parquet(path)
    return obs.get["rows"]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one source table: a columnar scan whose schema comes from
    one parquet footer read on the driver (:func:`open_parquet`), so
    the load runs no Spark job.

    Parquet TIMESTAMP(NANOS) columns (the ``events.ts`` column) are
    unsupported by the JVM reader; with
    ``spark.sql.legacy.parquet.nanosAsLong`` they arrive as epoch-nanos
    longs and are normalized here to microsecond timestamps — matching
    what engines with native nanos support (e.g. DuckDB) produce when
    cast to a standard timestamp.
    """
    if name == "events":
        # must be set before the first events read in THIS session —
        # runtime-settable, harmless if already set; without it the
        # TIMESTAMP(NANOS) footer raises PARQUET_TYPE_ILLEGAL (the
        # footer converter reads the conf when it is built)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = open_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integer division — double division would lose precision on
            # epoch-nanos magnitudes (2^60 > double's 53-bit mantissa)
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # micros parquet with isAdjustedToUTC=false reads as NTZ;
            # normalize to the session-zoned TIMESTAMP every downstream
            # expression (unix_micros, watermarks) expects. Sessions run
            # UTC (session.py), so the instant is unchanged.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_sources(spark: SparkSession, sf_dir: str) -> None:
    """Register every source table as a temp view named after itself."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def register_jdbc_sources(
    spark: SparkSession,
    url: str,
    tables: tuple[str, ...],
    partition_specs: dict[str, tuple[str, int]] | None = None,
    **options: str,
) -> None:
    """Production S1 path: register source tables straight from the ILS
    database over JDBC (the reference queries its Clavis MySQL
    directly, OLAP.php:314-315,334-343).

    ``partition_specs`` maps table → (numeric partition column, number
    of parallel read partitions); without it a JDBC read is a single
    connection — fine for dimension tables, wrong for the fact spine.
    Catalyst pushes filters and projections into the remote SQL, so
    fact queries written against these views behave like the parquet
    path. Requires the JDBC driver jar on the Spark classpath;
    exercised end-to-end against an embedded Derby in
    tests/test_jdbc_source.py (registration, PushedFilters into the
    remote scan, 4-way partitioned fact reads, SnapshotEngine.run)."""
    specs = partition_specs or {}
    for name in tables:
        reader = spark.read.format("jdbc").option("url", url).option("dbtable", name)
        for k, v in options.items():
            reader = reader.option(k, v)
        if name in specs:
            col, n = specs[name]
            bounds = spark.read.format("jdbc").option("url", url).option(
                "dbtable", f"(SELECT MIN({col}) lo, MAX({col}) hi FROM {name}) b"
            )
            for k, v in options.items():
                bounds = bounds.option(k, v)
            # positional: databases differ on unquoted-identifier case
            # (Derby/Oracle uppercase 'lo' -> 'LO')
            row = bounds.load().collect()[0]
            reader = (
                reader.option("partitionColumn", col)
                .option("lowerBound", str(row[0]))
                .option("upperBound", str(row[1]))
                .option("numPartitions", str(n))
            )
        reader.load().createOrReplaceTempView(name)


def register_jdbc_catalog(
    spark: SparkSession,
    name: str,
    url: str,
    **options: str,
) -> None:
    """DSv2 JDBC catalog registration — the scale path PAST the view
    indirection of :func:`register_jdbc_sources`: tables resolve as
    ``<name>.<schema>.<table>`` and, with ``pushDownAggregate`` (on
    unless ``options`` turn it off), GROUP BY + COUNT/SUM/MIN/MAX/AVG
    execute INSIDE the source database (the plan shows ``PushedAggregates`` /
    ``PushedGroupByExpressions`` on the scan) — at 100 TB the source
    returns group-count rows instead of streaming the fact spine to
    Spark.  This is the closest Spark-native analogue of the
    reference's production mode, which ships the whole operator SQL to
    MySQL (OLAP.php:314-343).  Catalog confs are lazily read at first
    resolution, so runtime registration on a live session works.

    NB: identifier case is the REMOTE database's — an unquoted Derby/
    Oracle table ``loan`` must be addressed as ``<name>.<SCHEMA>.LOAN``
    (exercised in tests/test_jdbc_source.py).

    RE-registration: Spark's CatalogManager caches catalog INSTANCES
    by name on first resolution, so merely updating the confs would
    silently keep serving the old connection.  When ``name`` was
    already configured, the manager's cache is therefore reset (all
    lazily-reinstantiated from conf on next use) so the new url/
    options actually take effect."""
    prefix = f"spark.sql.catalog.{name}"
    already = spark.conf.get(prefix, None) is not None
    spark.conf.set(
        prefix,
        "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog",
    )
    spark.conf.set(f"{prefix}.url", url)
    spark.conf.set(f"{prefix}.pushDownAggregate", "true")
    spark.conf.set(f"{prefix}.pushDownLimit", "true")
    for k, v in options.items():
        spark.conf.set(f"{prefix}.{k}", str(v))
    if already:
        # drop the cached catalog instances; next resolution re-reads
        # the confs just written (Scala private[sql], visible on the
        # bytecode surface py4j calls).  reset() also snaps the
        # session's current catalog/namespace back to spark_catalog —
        # save and restore them so a live session that issued
        # ``USE <catalog>.<ns>`` keeps its resolution context
        # (ADVICE r12).
        cm = spark._jsparkSession.sessionState().catalogManager()
        cur_cat = cm.currentCatalog().name()
        cur_ns = list(cm.currentNamespace())
        cm.reset()
        try:
            if cur_cat != cm.currentCatalog().name():
                cm.setCurrentCatalog(cur_cat)
            if cur_ns != list(cm.currentNamespace()):
                jns = spark.sparkContext._gateway.new_array(
                    spark._jvm.java.lang.String, len(cur_ns)
                )
                for i, part in enumerate(cur_ns):
                    jns[i] = part
                cm.setCurrentNamespace(jns)
        except Exception:
            # the saved namespace may not resolve under the catalog's
            # NEW confs (e.g. re-registered against a different URL);
            # the reset default is the only safe state then
            pass


def _looks_like_date(value: str) -> bool:
    """The reference's ``isDate`` probe (OLAP.php:287-297): a string
    that the date parser accepts makes the column DATETIME.  PHP's
    ``new DateTime`` is laxer than ISO; we accept ISO date / datetime
    forms, which is what the reference's scripts actually emit."""
    if not value:
        return False
    try:
        import datetime as _dt

        _dt.datetime.fromisoformat(value)
        return True
    except ValueError:
        return False


def infer_script_schema(first_row: dict) -> "T.StructType":
    """First-row type inference with the reference's exact convention
    (OLAP.php:251-285 ``retrieveTableStructure`` script branch):
    integer → LONG, string-that-parses-as-date → DATETIME, any other
    value (including floats and booleans — the reference's ``default``
    arm) → STRING."""
    from pyspark.sql import types as T

    fields = []
    for key, value in first_row.items():
        if isinstance(value, bool):  # bool is an int subclass — check first
            dtype = T.StringType()
        elif isinstance(value, int):
            dtype = T.LongType()
        elif isinstance(value, str) and _looks_like_date(value):
            dtype = T.TimestampType()
        else:
            dtype = T.StringType()
        fields.append(T.StructField(key, dtype))
    return T.StructType(fields)


def run_script_source(
    spark: SparkSession, command: str, pivot_date: str | None = None
) -> DataFrame:
    """S2 literal form — execute an external command and ingest its
    stdout as a JSON array of row objects (OLAP.php:73-79
    ``initByScript``; invoked with the pivot date appended as the last
    argument, OLAP.php:344-346).

    The stdout payload is inherently driver-sized — the reference
    iterates it row by row in one process — so parallelizing it via
    ``createDataFrame`` is faithful AND an upper bound on what the
    source can produce; large-volume ingestion belongs on the SQL/
    parquet source paths.  Types follow the reference's first-row
    inference (:func:`infer_script_schema`)."""
    import datetime as _dt
    import shlex
    import subprocess

    argv = shlex.split(command)
    if pivot_date is not None:
        argv.append(str(pivot_date))
    proc = subprocess.run(argv, capture_output=True, text=True, check=True)
    rows = json.loads(proc.stdout)
    if not isinstance(rows, list):
        raise ValueError(f"script source must emit a JSON array, got {type(rows).__name__}")
    if not rows:
        raise ValueError("script source emitted an empty JSON array (no first row to type)")
    schema = infer_script_schema(rows[0])

    def coerce(row: dict):
        out = []
        for f in schema.fields:
            v = row.get(f.name)
            if v is None:
                out.append(None)
            elif f.dataType.typeName() == "long":
                out.append(int(v))
            elif f.dataType.typeName() == "timestamp":
                out.append(_dt.datetime.fromisoformat(str(v)))
            else:
                # the reference stringifies everything else (incl. floats)
                out.append(v if isinstance(v, str) else json.dumps(v))
            # NB: a later-row value that no longer matches the first-row
            # type surfaces as a cast error here — same contract as the
            # reference, which would fail the INSERT instead
        return tuple(out)

    return spark.createDataFrame([coerce(r) for r in rows], schema)
