"""Structured Streaming: the batch-expressed window operators must
produce identical results when run as real streams (availableNow
replay), and the stateful dedup must emit exactly once per key."""

import pytest
from pyspark.sql import functions as F

from opl_spark.sources import load_table
from opl_spark.streaming.events import stream_to_fact, windowed_counts
from opl_spark.streaming.stateful import first_seen_stream
from stream_helpers import read_events_stream, run_to_memory


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_windowed_counts_stream_equals_batch(spark, sf_dir):
    batch = windowed_counts(load_table(spark, sf_dir, "events"))
    stream = windowed_counts(read_events_stream(spark, sf_dir))
    assert stream.isStreaming
    got = run_to_memory(stream, "t_windowed")
    assert _sorted_rows(got) == _sorted_rows(batch)


def test_stream_to_fact_appends_and_restart_is_noop(spark, sf_dir, tmp_path):
    """The streamed windowed aggregate must land in the parquet fact
    with the engine's reader (latest-emission-per-window) matching the
    batch result, and a restart against the same checkpoint must append
    nothing — the exactly-once contract."""
    from opl_spark.streaming.events import read_stream_fact

    fact = str(tmp_path / "fact")
    ckpt = str(tmp_path / "ckpt")
    stream_to_fact(
        windowed_counts(read_events_stream(spark, sf_dir)), fact, ckpt
    )
    # update mode can emit a window several times across microbatches;
    # read_stream_fact applies the last-emission-per-window rule
    final = read_stream_fact(spark, fact)
    batch = windowed_counts(load_table(spark, sf_dir, "events"))
    assert sorted(final.columns) == sorted(batch.columns)
    final = final.select(*batch.columns)
    assert _sorted_rows(final) == _sorted_rows(batch)

    n_rows_before = spark.read.parquet(fact).count()
    stream_to_fact(
        windowed_counts(read_events_stream(spark, sf_dir)), fact, ckpt
    )
    assert spark.read.parquet(fact).count() == n_rows_before


def test_stream_staging_dir_is_stable(spark, sf_dir):
    """The file-stream staging dir must be derived from a stable digest
    of the source path — not per-process-randomized hash() — so every
    process (and every run) reuses one /tmp location instead of
    accumulating stale staging dirs."""
    import hashlib
    import os
    import tempfile

    read_events_stream(spark, sf_dir)
    digest = hashlib.sha256(sf_dir.encode()).hexdigest()[:16]
    expected = os.path.join(tempfile.gettempdir(), f"opl_events_stage_{digest}")
    # the digest has no process-dependent input, so this path is the
    # same in every interpreter — and the module must actually use it
    assert os.path.isdir(expected)


@pytest.mark.slow  # r14 slow tier
def test_interval_join_stream_equals_batch(spark, sf_dir):
    """Stream-stream interval join (clicks within the hour before each
    purchase) must equal the identical batch-expressed join — the same
    interval_join condition serves both, with watermarks bounding the
    streaming join state."""
    from opl_spark.operators.temporal import interval_join

    def typed(df, etype, prefix):
        return df.filter(F.col("event_type") == etype).select(
            F.col("event_id").alias(f"{prefix}_id"),
            "user_id",
            F.col("ts").alias(f"{prefix}_ts"),
        )

    batch_ev = load_table(spark, sf_dir, "events")
    batch = interval_join(
        typed(batch_ev, "purchase", "purchase"),
        typed(batch_ev, "click", "click"),
        ["user_id"], "purchase_ts", "click_ts", "1 HOUR",
    )
    s_ev = read_events_stream(spark, sf_dir)
    sp = typed(s_ev, "purchase", "purchase").withWatermark("purchase_ts", "1 hour")
    sc = typed(s_ev, "click", "click").withWatermark("click_ts", "1 hour")
    stream = interval_join(sp, sc, ["user_id"], "purchase_ts", "click_ts", "1 HOUR")
    assert stream.isStreaming
    got = run_to_memory(stream, "t_interval_join", output_mode="append")
    assert _sorted_rows(got) == _sorted_rows(batch)


def test_first_seen_emits_exactly_once_per_key(spark, sf_dir):
    events = read_events_stream(spark, sf_dir)
    dedup = first_seen_stream(events, ["user_id", "event_type"])
    q = (
        dedup.writeStream.format("memory")
        .queryName("t_first_seen")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM t_first_seen")
    batch_keys = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
    )
    # one row per distinct key, no key twice
    assert got.count() == batch_keys.count()
    assert got.select("user_id", "event_type").distinct().count() == got.count()
    # every emitted first_id is a real event id for that key
    joined = got.join(
        load_table(spark, sf_dir, "events"), ["user_id", "event_type"]
    )
    assert joined.filter(F.col("first_id") == F.col("event_id")).count() == got.count()


@pytest.mark.slow  # r14 slow tier
def test_interval_join_stream_stream(spark, sf_dir, tmp_path):
    """interval_join's condition IS a Spark stream-stream interval
    join when both sides are watermarked — run it with two streaming
    readers of the events table (clicks joined to views in the
    preceding 10 minutes per user) and assert the drained result
    equals the batch join over the same data."""
    from pyspark.sql import functions as F

    from opl_spark.operators.temporal import interval_join

    def sides(df):
        click = df.filter(F.col("event_type") == "click").select(
            "user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id")
        )
        view = df.filter(F.col("event_type") == "view").select(
            "user_id", F.col("ts").alias("view_ts"), F.col("event_id").alias("view_id")
        )
        return click, view

    s_click, s_view = sides(read_events_stream(spark, sf_dir))
    s_click = s_click.withWatermark("click_ts", "1 hour")
    s_view = s_view.withWatermark("view_ts", "1 hour")
    joined = interval_join(
        s_click, s_view, ["user_id"], "click_ts", "view_ts", "10 MINUTES"
    )
    assert joined.isStreaming
    got = run_to_memory(joined, "t_ssjoin", output_mode="append")

    b_click, b_view = sides(load_table(spark, sf_dir, "events"))
    expect = interval_join(
        b_click, b_view, ["user_id"], "click_ts", "view_ts", "10 MINUTES"
    )
    key = lambda r: (r["user_id"], str(r["click_ts"]), r["click_id"], r["view_id"])  # noqa: E731
    assert sorted(map(key, got.collect())) == sorted(map(key, expect.collect()))
    assert expect.count() > 0


def test_hopping_counts_stream_equals_batch(spark, sf_dir):
    """The hopping (overlapping) window aggregate must produce the
    identical result streamed with availableNow replay — including the
    2x map-side window fan-out."""
    from opl_spark.streaming.events import hopping_counts

    batch = hopping_counts(load_table(spark, sf_dir, "events"))
    stream = hopping_counts(read_events_stream(spark, sf_dir))
    assert stream.isStreaming
    got = run_to_memory(stream, "t_hopping")
    assert _sorted_rows(got) == _sorted_rows(batch)


def test_watermark_drops_late_rows_deterministically(spark, tmp_path):
    """Append-mode windowed aggregation with a watermark must finalize
    windows once the watermark passes and DROP events arriving later
    than the horizon — bounded state is the whole streaming-at-scale
    contract, so the drop has to be deterministic and observable.

    Two availableNow drains share one checkpoint (the watermark
    persists across restarts): drain 1 advances event time to 13:00
    (watermark horizon 12:50); drain 2 delivers a 12:01 event — 49
    minutes beyond the horizon — which must be dropped, so the 12:00
    window finalizes with exactly its on-time row."""
    import datetime as dt
    import glob
    import os
    import shutil

    from opl_spark.streaming.events import windowed_counts

    src = tmp_path / "stream_src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    base = dt.datetime(2024, 1, 1, 12, 0)
    schema = ("event_id long, ts timestamp, user_id long, event_type string,"
              " value double, props string")

    def write_batch(name, rows):
        stage = os.path.join(str(tmp_path), name)
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        part = glob.glob(os.path.join(stage, "*.parquet"))[0]
        shutil.copy(part, os.path.join(str(src), f"{name}.parquet"))

    out = str(tmp_path / "emitted")

    def drain():
        stream = spark.readStream.schema(schema).parquet(str(src))
        agg = windowed_counts(stream, window="5 minutes", watermark="10 minutes")
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        try:
            return {
                (r["window_start"], r["n_events"])
                for r in spark.read.parquet(out).collect()
            }
        except Exception:
            return set()

    write_batch("b1", [
        (1, base, 1, "view", 1.0, "{}"),
        (2, base.replace(hour=13), 2, "view", 1.0, "{}"),
    ])
    drain()

    write_batch("b2", [
        (3, base.replace(minute=1), 3, "view", 1.0, "{}"),
        (4, base.replace(hour=13, minute=1), 4, "view", 1.0, "{}"),
    ])
    got2 = drain()
    emitted_1200 = {n for ws, n in got2 if ws == "2024-01-01 12:00:00"}
    # the 12:00 window finalized with ONLY on-time event 1; the
    # 59-minutes-late event 3 was dropped, never merged or re-emitted
    assert emitted_1200 == {1}, got2


def test_streamed_fact_serves_cube_queries(spark, sf_dir, tmp_path):
    """End-to-end: stream → maintained fact table → CubeEngine
    aggregate with having/share — the streaming leg feeding the same
    OLAP surface the batch snapshots feed.  Totals must equal a batch
    aggregation of the raw events."""
    from opl_spark.catalog import Catalog, Dimension, FactMeta, Measure
    from opl_spark.cube import CubeEngine
    from opl_spark.streaming.events import (
        read_stream_fact,
        stream_to_fact,
        windowed_counts,
    )

    fact_path = str(tmp_path / "stream_fact")
    ckpt = str(tmp_path / "ckpt")
    stream_to_fact(
        windowed_counts(read_events_stream(spark, sf_dir)), fact_path, ckpt
    )
    fact = read_stream_fact(spark, fact_path)
    cat = Catalog(
        {
            "events_5m": FactMeta(
                name="events_5m",
                dimensions=(Dimension(name="event_type"),),
                measures=(
                    Measure("n_events", column="n_events", aggregates=("sum",)),
                ),
            )
        }
    )
    eng = CubeEngine(cat)
    eng.register_fact("events_5m", fact)
    out = eng.aggregate(
        "events_5m", drilldown="event_type", measure="n_events", share=True
    )
    rows = {r["event_type"]: r for r in out.collect()}
    want = {
        r["event_type"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert {k: v["n_events"] for k, v in rows.items()} == want
    assert abs(sum(v["n_events_share"] for v in rows.values()) - 1.0) < 1e-6


@pytest.mark.slow  # r14 slow tier
def test_time_ordered_staging_is_complete_and_ordered(spark, sf_dir, tmp_path):
    """stage_time_ordered_arrivals: the sliced replay holds every
    original row exactly once, and file i's max event time never
    exceeds file i+1's min — the arrival order that keeps a
    watermarked replay on the steady-state path instead of the
    late-drop path."""
    from opl_spark.streaming.events import stage_time_ordered_arrivals

    events = load_table(spark, sf_dir, "events")
    out = stage_time_ordered_arrivals(events, str(tmp_path / "arr"), 5)
    files = sorted(
        f for f in __import__("os").listdir(out) if f.endswith(".parquet")
    )
    assert len(files) == 5
    total = 0
    prev_max = None
    for f in files:
        part = spark.read.parquet(f"{out}/{f}")
        total += part.count()
        lo, hi = part.agg(F.min("ts"), F.max("ts")).first()
        if prev_max is not None:
            assert prev_max <= lo, (f, prev_max, lo)
        prev_max = hi
    assert total == events.count()
    # replayed through the watermarked windowed agg, nothing drops
    staged = (
        spark.readStream.schema(spark.read.parquet(out).schema)
        .option("maxFilesPerTrigger", 1).parquet(out)
    )
    got = run_to_memory(
        windowed_counts(staged), "staged_windowed", output_mode="complete"
    )
    want = windowed_counts(load_table(spark, sf_dir, "events"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stream_to_fact_stage_swap_is_crash_honest(spark, sf_dir, tmp_path):
    """The stage-then-rename append: a stale .stage dir from a crashed
    attempt is hidden from readers and overwritten by the replay, and
    an already-swapped __batch_id partition makes the replay a no-op —
    the two crash windows either side of the rename."""
    import os

    from opl_spark.streaming.events import read_stream_fact

    fact = str(tmp_path / "fact")
    ckpt = str(tmp_path / "ckpt")
    # simulate a crash mid-staging BEFORE any successful run: a stale
    # hidden stage dir with garbage content
    os.makedirs(os.path.join(fact, ".stage-0"))
    with open(os.path.join(fact, ".stage-0", "junk.parquet"), "w") as fh:
        fh.write("not parquet")
    stream_to_fact(
        windowed_counts(read_events_stream(spark, sf_dir)), fact, ckpt
    )
    # the stale stage was overwritten and renamed away; no hidden dirs
    # remain and the reader sees exactly the batch-equivalent result
    assert not [d for d in os.listdir(fact) if d.startswith(".stage")]
    parts = [d for d in os.listdir(fact) if d.startswith("__batch_id=")]
    assert parts, "no batch partitions landed"
    final = read_stream_fact(spark, fact)
    batch = windowed_counts(load_table(spark, sf_dir, "events"))
    assert _sorted_rows(final.select(*batch.columns)) == _sorted_rows(batch)
    # replay with a fresh checkpoint (same batch ids): every partition
    # already exists, so the existence probe skips them all — file
    # count is unchanged (crash-after-rename-before-checkpoint window)
    n_before = sum(len(fs) for _, _, fs in os.walk(fact))
    stream_to_fact(
        windowed_counts(read_events_stream(spark, sf_dir)), fact,
        str(tmp_path / "ckpt2"),
    )
    assert sum(len(fs) for _, _, fs in os.walk(fact)) == n_before
