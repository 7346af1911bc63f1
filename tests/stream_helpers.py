"""Streaming test harness: the events table as a file stream, and a
drain-to-memory sink.

``read_events_stream`` replays ``events.parquet`` one file per trigger;
``run_to_memory`` drains a streaming frame with ``availableNow`` and
returns the result as a batch frame, which makes streaming operators
testable against their batch twins without a live feed.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _events_schema(ts_nanos: bool) -> T.StructType:
    """Explicit schema — readStream cannot infer.  ``ts`` arrives as an
    epoch-nanos long when the file ships TIMESTAMP(NANOS) (JVM reader
    has no native nanos; ``legacy.parquet.nanosAsLong``), or as a real
    timestamp for micros/millis files."""
    ts_type: T.DataType = T.LongType() if ts_nanos else T.TimestampType()
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def _ts_is_nanos(parquet_path: str) -> bool:
    """True iff the source's ``ts`` column is TIMESTAMP(NANOS).

    One footer read on the driver — the streaming analog of the schema
    sniff every fixed-schema ``readStream`` deployment does once at
    query-authoring time.  Generated testdata has shipped both units
    across driver versions, so detect rather than assume.  A DIRECTORY
    source (the production shape) is sniffed via its first parquet
    file — files within one stream share a schema."""
    try:
        import glob

        import pyarrow.parquet as pq

        target = parquet_path
        if os.path.isdir(parquet_path):
            inside = sorted(glob.glob(os.path.join(parquet_path, "*.parquet")))
            if not inside:
                return False
            target = inside[0]
        field = [f for f in pq.ParquetFile(target).schema if f.name == "ts"]
        return bool(field) and "nanoseconds" in str(field[0].logical_type)
    except Exception:
        return False


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table as a file stream (one-file-per-trigger replay).

    ``FileStreamSource`` monitors a DIRECTORY of arriving files — the
    production shape — while the testdata ships one flat file, so the
    file is staged into a scratch directory via symlink first."""
    src = os.path.join(sf_dir, "events.parquet")
    ts_nanos = _ts_is_nanos(src)
    if os.path.isfile(src):
        # stable digest — Python's hash() is per-process randomized
        # (PYTHONHASHSEED), which would mint a fresh staging dir per run
        digest = hashlib.sha256(sf_dir.encode()).hexdigest()[:16]
        stage = os.path.join(tempfile.gettempdir(), f"opl_events_stage_{digest}")
        os.makedirs(stage, exist_ok=True)
        link = os.path.join(stage, "events-000.parquet")
        if not os.path.exists(link):
            os.symlink(src, link)
        src = stage
    raw = (
        spark.readStream.schema(_events_schema(ts_nanos))
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    if ts_nanos:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    timeout_sec: int = 120,
    output_mode: str = "complete",
):
    """Drain a streaming DataFrame into an in-memory table and stop
    (availableNow trigger) — returns the query's result as a batch DF.
    ``output_mode`` defaults to complete (aggregations); stream-stream
    joins only support append."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")
