"""Structured Streaming over the events stream.

The reference's cadence is a nightly batch snapshot
(library_olap/README.md:17) — it has no sub-day streaming surface
(SURVEY.md §2.9).  This module is the additive streaming tier: the
same windowed aggregations, expressed once, runnable in batch AND in
``readStream`` mode — Structured Streaming's core promise.

Scale/correctness notes:
- watermarks bound state: late events beyond the horizon are dropped
  deterministically instead of growing executor state forever;
- aggregations are map-side-combinable (count / decimal sum), so
  per-microbatch shuffle volume is the number of open windows, not
  the number of events;
- ``stream_to_fact`` drains with ``trigger(availableNow=True)`` — the
  batch-replay mode that drains the source then stops, which makes
  streaming logic testable without a live feed.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def windowed_counts(
    events: DataFrame,
    window: str = "5 minutes",
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """Tumbling-window counts + exact value sum per event type.

    Batch-or-streaming polymorphic: watermark only attaches on
    streaming inputs (it is meaningless — and rejected — on batch).
    """
    df = events
    if watermark is not None and df.isStreaming:
        df = df.withWatermark("ts", watermark)
    return (
        df.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("total_value"),
        )
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "n_events",
            # exact decimal sum internally; canonical round(double,6) on
            # the wire (trailing-zero decimals hash unstably cross-engine)
            F.round(F.col("total_value").cast("double"), 6).alias("total_value"),
        )
    )


def stream_to_fact(
    stream_df: DataFrame,
    fact_path: str,
    checkpoint_path: str,
    timeout_sec: int = 120,
) -> None:
    """Streaming fact maintenance: continuously append a streaming
    aggregate into a parquet fact table the OLAP layer reads.

    foreachBatch alone is at-least-once: a crash between the parquet
    append and the checkpoint commit replays the microbatch on restart.
    Each batch therefore lands as its own ``__batch_id=N`` PARTITION
    via stage-then-rename — written to a dot-prefixed staging dir
    (hidden from Spark's file index) and swapped in with ONE directory
    rename — the parquet twin of the JDBC sink's staging-table swap:

    - the replay probe is an O(1) partition-directory existence check
      (the old footer-stats probe re-listed the whole sink every
      batch — O(batches) growth — and worse, a crash inside the raw
      append's job commit could leave a PARTIAL batch visible that the
      probe then read as done, making it permanent);
    - a crash during staging leaves only hidden files the replay
      overwrites; a crash between rename and checkpoint replays into
      the existence check and skips — exactly-once either side.

    Directory rename is atomic on POSIX/HDFS; object stores (S3A)
    emulate it per-object and need a real committer instead — the
    reference's deployment (filesystem + MySQL) never hits that.
    Stale ``.stage-*`` dirs always belong to an unckeckpointed batch
    (the checkpoint only commits after this function returns), so the
    replay itself cures them — no janitor needed.

    ``update`` output mode emits a window again whenever a later batch
    changes it, so the raw sink rows are NOT directly summable; read
    the table through :func:`read_stream_fact`, which keeps the latest
    emission per window (``__batch_id`` now arrives as the partition
    column).  Drains with ``availableNow`` so the same entry point
    serves replay/testing and a live trigger."""

    def append_batch(df: DataFrame, batch_id: int) -> None:
        spark = df.sparkSession
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path
        part = hpath(f"{fact_path}/__batch_id={batch_id}")
        fs = part.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(part):
            # replayed batch — already swapped into the sink.  The
            # batch PLAN must still execute (noop sink): the stateful
            # aggregation's state-store commits ride the batch's
            # action, and a bare early return fails Spark's
            # state-commit validation on a fresh-checkpoint replay —
            # a latent hole this swap design inherited from the old
            # footer-stats probe and the test suite now pins
            df.write.mode("overwrite").format("noop").save()
            return
        stage = f"{fact_path}/.stage-{batch_id}"
        # overwrite: a crashed earlier attempt's stage is stale
        df.write.mode("overwrite").parquet(stage)
        if not fs.rename(hpath(stage), part):
            raise RuntimeError(
                f"stream_to_fact: rename {stage} -> {part} failed "
                "(single-writer contract violated?)"
            )

    q = (
        stream_df.writeStream.foreachBatch(append_batch)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)


def read_stream_fact(spark: SparkSession, fact_path: str) -> DataFrame:
    """Read a :func:`stream_to_fact` sink with update-mode semantics
    applied: of a ``(window_start, event_type)`` window's several
    emissions, only the LAST (highest ``__batch_id``) is the final
    value — earlier ones are superseded partials and must not be
    summed.  This is the reader every OLAP
    consumer of a streamed fact should go through."""
    from pyspark.sql.window import Window

    # not open_parquet: the sink's _spark_metadata log decides which
    # files are visible, which one footer of a listed file cannot know
    raw = spark.read.parquet(fact_path)
    w = Window.partitionBy("window_start", "event_type").orderBy(
        F.col("__batch_id").desc()
    )
    return (
        raw.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__batch_id")
    )


def hopping_counts(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
) -> DataFrame:
    """Hopping (sliding) window counts + exact value sum per event
    type: each event lands in ``window/slide`` overlapping windows —
    Spark's ``window(ts, window, slide)`` generates the copies
    map-side, so the fan-out is a bounded constant (2 here), never a
    range self-join.  Batch-or-streaming polymorphic like
    :func:`windowed_counts` (a stream gets a 10-minute watermark)."""
    df = events
    if df.isStreaming:
        df = df.withWatermark("ts", "10 minutes")
    return (
        df.groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("total_value"),
        )
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "n_events",
            F.round(F.col("total_value").cast("double"), 6).alias("total_value"),
        )
    )


def stage_time_ordered_arrivals(
    df: DataFrame,
    out_dir: str,
    n_files: int,
) -> str:
    """Stage a batch frame as ``n_files`` CONTIGUOUS TIME SLICES named
    in arrival order (``arrival-001.parquet`` …), sliced over the
    ``(ts, event_id)`` order — the replay input
    for a ``maxFilesPerTrigger=1`` file stream that mimics production
    arrival (events reach a stream roughly in event time).

    A shuffled replay is the wrong bench/test harness for watermarked
    legs: one out-of-order file advances the watermark past most later
    rows and exercises the LATE-DROP path instead of the steady state
    (bench.py --streaming's smoke run lost 89% of windows that way).
    Slicing by ``ntile`` over the event-time order keeps every row —
    completeness under replay is asserted in tests/test_streaming.py.

    One driver-side loop of ``n_files`` single-partition writes: the
    staging is replay tooling for test-scale data, not a corpus path.
    """
    from pyspark.sql.window import Window

    os.makedirs(out_dir, exist_ok=True)
    sliced = df.withColumn(
        "__slice", F.ntile(n_files).over(Window.orderBy("ts", "event_id"))
    )
    scratch = tempfile.mkdtemp(prefix="opl-arrivals-")
    try:
        for i in range(1, n_files + 1):
            part = os.path.join(scratch, f"slice_{i:03d}")
            (sliced.filter(F.col("__slice") == i).drop("__slice")
             .coalesce(1).write.parquet(part))
            pq = [f for f in os.listdir(part) if f.endswith(".parquet")][0]
            os.rename(os.path.join(part, pq),
                      os.path.join(out_dir, f"arrival-{i:03d}.parquet"))
    finally:
        import shutil

        shutil.rmtree(scratch, ignore_errors=True)
    return out_dir
