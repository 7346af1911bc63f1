"""Bucketed table layout — co-located joins without a shuffle.

The engine's fact queries join the order/customer spine on
``custkey``-family keys every nightly run.  Writing both sides
bucketed on the join key (``DataFrameWriter.bucketBy`` → catalog
table) makes every subsequent equi-join on that key shuffle-FREE: the
bucket files are already hash-partitioned identically, so the join
compiles to per-bucket sort-merge with no Exchange on either side.

At 100 TB this converts the dominant recurring shuffle (re-hashing the
fact spine every run) into a one-time write-side cost.  The trade-offs
are the standard ones: bucket count is fixed at write time (pick ~2×
target parallelism), and writers must avoid producing many small files
per bucket (repartition by the bucket key first — done below).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from opl_spark.sources.registry import open_parquet


def drop_table_and_location(spark, table: str) -> None:
    """Make a managed-table rewrite idempotent ACROSS sessions: a
    fresh in-memory catalog does not know about a previous session's
    managed table, so ``mode("overwrite")`` alone fails with
    LOCATION_ALREADY_EXISTS on its leftover directory — drop the
    table AND the stale location (Hadoop FS API, so any warehouse
    scheme works).  Shared by every per-data-dir materialization
    (bucketed edges, CC labels)."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = spark.conf.get("spark.sql.warehouse.dir")
    jvm = spark._jvm
    loc = jvm.org.apache.hadoop.fs.Path(wh + "/" + table.lower())
    fs = loc.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(loc):
        fs.delete(loc, True)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 8,
) -> None:
    """Save as a bucketed, bucket-sorted catalog table.

    Pre-repartitioning on the bucket column keeps it to one file per
    bucket per write instead of one per task.  Rewrites are idempotent
    ACROSS sessions: a fresh in-memory catalog does not know about a
    previous session's managed table, so ``mode("overwrite")`` alone
    would fail with LOCATION_ALREADY_EXISTS on its leftover directory
    — drop the table and the stale location first (Hadoop FS API, so
    any warehouse scheme works)."""
    spark = df.sparkSession
    drop_table_and_location(spark, table)
    (
        df.repartition(num_buckets, bucket_col)
        .write.mode("overwrite")
        .bucketBy(num_buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(table)
    )


def materialize_parquet_atomic(
    spark: SparkSession, name: str, token: str, build
) -> DataFrame:
    """Per-snapshot parquet materialization that stays safe under
    CONCURRENT sessions sharing one warehouse — a write-to-temp then
    rename discipline applied to memo tables.

    The final location is content-addressed:
    ``<warehouse>/<name>/<sha1(token)[:12]>`` (``token`` is the data
    directory / snapshot identity).  A builder writes the frame to a
    session-unique temp sibling and ATOMICALLY renames it into place;
    a loser of the rename race discards its temp directory and reads
    the winner's.  Readers therefore only ever see a COMPLETE
    directory: nothing ever writes INTO a final path, and re-keying by
    token means switching data dirs never overwrites a location some
    concurrent session may still be scanning (the drop + saveAsTable
    pattern this replaces did exactly that — the mid-overwrite reader
    observed a half-written table).

    Uses the Hadoop FS API throughout, so any warehouse scheme with
    atomic directory rename (local FS, HDFS) works.  Leftover
    ``.tmp-*`` directories from a crashed builder are inert (unique
    dot-hidden names, never read, never swept — a sweep could hit a
    LIVE concurrent builder's in-flight write).
    """
    import hashlib
    import os
    import time

    digest = hashlib.sha1(str(token).encode()).hexdigest()[:12]
    wh = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
    base = f"{wh}/{name.lower()}"
    final_str = f"{base}/{digest}"
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    final = jvm.org.apache.hadoop.fs.Path(final_str)
    fs = final.getFileSystem(hconf)
    if not fs.exists(final):
        tmp_str = f"{base}/.tmp-{digest}-{os.getpid()}-{time.monotonic_ns()}"
        build().write.mode("overwrite").parquet(tmp_str)
        fs.mkdirs(jvm.org.apache.hadoop.fs.Path(base))
        tmp = jvm.org.apache.hadoop.fs.Path(tmp_str)
        if not fs.rename(tmp, final):
            # another session won the race — its COMPLETE directory
            # serves everyone; ours is redundant.  (No opportunistic
            # sweep of other .tmp-* dirs here: one could be a LIVE
            # concurrent builder's in-flight write.  Crashed leftovers
            # are dot-hidden and inert.)
            fs.delete(tmp, True)
            if not fs.exists(final):
                raise IOError(
                    f"materialize_parquet_atomic: rename to {final_str} "
                    "failed and no winner exists"
                )
    return open_parquet(spark, final_str)


def bucketed_table_atomic(
    spark: SparkSession,
    name: str,
    token: str,
    build,
    bucket_col: str,
    num_buckets: int = 8,
) -> str:
    """Content-addressed BUCKETED catalog table, safe for concurrent
    sessions sharing one warehouse — the bucketed-layout sibling of
    :func:`materialize_parquet_atomic`.

    The final table is ``<name>_<sha1(token)[:12]>`` at the matching
    warehouse location, so different data directories use disjoint
    names/locations and can never overwrite each other mid-read (the
    fixed-name drop+saveAsTable this replaces raced exactly there).
    A builder writes an EXTERNAL temp table at a session-unique
    location, atomically FS-renames the directory into place, drops
    the temp metadata, and registers the final location as an external
    table with the same bucket spec — Catalyst plans exchange-free
    joins off the registered CLUSTERED BY metadata just as for a
    managed bucketed table.  A rename loser discards its temp and
    reads the winner's complete directory.  Cross-session reuse: a
    fresh catalog finds the complete location (``_SUCCESS`` present)
    and only registers it — no rebuild, no rewrite.

    Returns the final table name (query it via ``spark.table``).
    """
    import hashlib
    import os
    import time

    digest = hashlib.sha1(str(token).encode()).hexdigest()[:12]
    final_table = f"{name.lower()}_{digest}"
    if spark.catalog.tableExists(final_table):
        return final_table
    wh = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
    loc = f"{wh}/{final_table}"
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    final_path = jvm.org.apache.hadoop.fs.Path(loc)
    fs = final_path.getFileSystem(hconf)
    success = jvm.org.apache.hadoop.fs.Path(loc + "/_SUCCESS")
    df = build()
    if not (fs.exists(final_path) and fs.exists(success)):
        tmp_table = f"{name.lower()}_tmp_{os.getpid()}_{time.monotonic_ns()}"
        # dot-prefixed location: some Hadoop filesystems implement
        # rename-onto-existing-directory as move-INTO (mv semantics);
        # a dot path stays hidden from parquet readers even in that
        # outcome, so a rename loser can never pollute the winner
        tmp_loc = f"{wh}/.{tmp_table}"
        (
            df.repartition(num_buckets, bucket_col)
            .write.mode("overwrite")
            .option("path", tmp_loc)  # external: drop removes metadata only
            .bucketBy(num_buckets, bucket_col)
            .sortBy(bucket_col)
            .saveAsTable(tmp_table)
        )
        if not fs.rename(jvm.org.apache.hadoop.fs.Path(tmp_loc), final_path):
            fs.delete(jvm.org.apache.hadoop.fs.Path(tmp_loc), True)
            if not fs.exists(success):
                raise IOError(
                    f"bucketed_table_atomic: rename to {loc} failed "
                    "and no winner exists"
                )
        spark.sql(f"DROP TABLE IF EXISTS {tmp_table}")
    schema_ddl = df._jdf.schema().toDDL()
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {final_table} ({schema_ddl}) "
        f"USING PARQUET CLUSTERED BY ({bucket_col}) SORTED BY ({bucket_col}) "
        f"INTO {num_buckets} BUCKETS LOCATION '{loc}'"
    )
    return final_table
