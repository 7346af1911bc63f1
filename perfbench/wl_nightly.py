"""``nightly``: the operator's batch — snapshot backfill, then analytics.

Set-up registers the generated sources (``register_sources``) for a
fresh warehouse.  The run then

1. backfills ``DAYS`` consecutive pivot days with
   ``examples/olapSettings.json`` (``enabled_users`` daily,
   ``loans_weekly`` weekly), one ``SnapshotEngine.run`` per day,
   starting from a seed-chosen date in 1995-1998;
2. re-runs the same days; every scope is already present, so only the
   idempotence probe (``already_executed``) works;
3. runs the registry ids ``PIPELINE_IDS`` twice in the same session
   (cold, then warm): each is built, planned, then executed with its
   rows collected to the driver.

The end-to-end latency is the median backfill day.  The re-run days and
the analytics slice are reported per layer and in the environment
record (``rerun_day_s``, ``pipeline_cold_s``, ``pipeline_warm_s``).

Output checks (outside the timers): per-scope row counts in the
warehouse equal the fact query run directly, the re-run writes 0 rows,
and each id's rows match its DuckDB oracle (row count and
order-insensitive hash, ``tests/oracle.py``'s signature) on both passes.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import sys
import time

import datagen
from harness import (
    ROOT, Tracer, layer_totals, log, median, pct, peak_rss_mb, spark_counters,
)

SF = 0.01
DAYS = 7
#: the analytics slice: two build-bound registry ids (the flagship
#: active-users query and the idempotent anti-join)
PIPELINE_IDS = ("q_active_users", "q_idempotent_antijoin")
#: per-layer metric prefixes of layers this workload does no work in
UNEXERCISED_LAYERS = ("cube.", "rollups.", "api.", "server.", "dashboard.", "explore.")
SETTINGS = os.path.join(ROOT, "examples", "olapSettings.json")


def _source_modules():
    """Every loaded engine module holding a reference to ``load_table``."""
    from opl_spark.sources import registry

    return [m for name, m in sorted(sys.modules.items())
            if name.startswith("opl_spark") and m is not None
            and getattr(m, "load_table", None) is registry.load_table]


def _check_snapshot(spark, engine, facts, days) -> int:
    """Scopes whose warehouse row count differs from the fact query run
    directly."""
    from pyspark.sql import functions as F

    from opl_spark.snapshot import bind_date
    from opl_spark.timescope import gate

    bad = 0
    for day in days:
        for fq in facts:
            scope = gate(day, fq.cron)
            if scope is None:
                continue
            cond = F.col("queryId") == fq.query_id
            for k, v in scope.as_dict().items():
                cond = cond & F.col(k).eqNullSafe(F.lit(v))
            stored = engine.fact_frame(fq.fact_table).filter(cond).count()
            direct = spark.sql(bind_date(fq.sql, day)).count()
            if stored != direct:
                log(f"nightly: {fq.fact_table} {day}: {stored} stored, {direct} direct")
                bad += 1
    return bad


def _snapshot_pass(engine, facts, days, tracer, phase: str):
    """One ``run`` per day; returns (per-day seconds, rows written, failures)."""
    lat, rows, failed = [], 0, 0
    for day in days:
        t = time.perf_counter()
        try:
            with tracer.span(f"snapshot.{phase}", day.isoformat(), group=False):
                written = engine.run(day, facts)
            rows += sum(written.values())
        except Exception as exc:  # noqa: BLE001 — count it, keep going
            log(f"nightly: {phase} {day} raised {type(exc).__name__}: {exc}")
            failed += 1
        lat.append(time.perf_counter() - t)
    return lat, rows, failed


def _pipeline_pass(spark, src, ids, tracer, phase: str):
    """Build, plan and execute each id; returns per id (seconds, rows or
    None on failure)."""
    from opl_spark import workload

    qs = workload.queries()
    out = {}
    for qid in ids:
        t = time.perf_counter()
        try:
            with tracer.span(f"workload.build.{phase}", qid):
                df = qs[qid](spark, src)
            with tracer.span(f"workload.plan.{phase}", qid):
                df._jdf.queryExecution().executedPlan()
            with tracer.span(f"exec.{phase}", qid):
                rows = [tuple(r) for r in df.collect()]
            cols = df.columns
        except Exception as exc:  # noqa: BLE001 — count it, keep going
            log(f"nightly: {phase} {qid} raised {type(exc).__name__}: {exc}")
            rows, cols = None, None
        out[qid] = (time.perf_counter() - t, cols, rows)
    return out


def _oracle_signatures(src, ids) -> dict:
    sys.path.insert(0, os.path.join(ROOT, "tests"))
    from oracle import duck_connection, frame_signature

    from opl_spark import workload

    sqls = workload.oracle_sql()
    out = {}
    con = duck_connection(src)
    try:
        for qid in ids:
            rel = con.sql(sqls[qid])
            out[qid] = frame_signature(rel.columns, rel.fetchall())
    finally:
        con.close()
    return out


def _nightly(run, src, facts, days, ids, tracer):
    from opl_spark.snapshot import SnapshotEngine

    wh = run.path("wh-traced" if tracer.enabled else "wh")
    engine = SnapshotEngine(run.spark, wh)
    undo = []
    if tracer.enabled:
        undo = [
            tracer.wrap(engine, "already_executed", "snapshot.probe"),
            tracer.wrap(engine, "write", "snapshot.write"),
        ]
    try:
        cold, rows, f1 = _snapshot_pass(engine, facts, days, tracer, "backfill")
        hot, rerun_rows, f2 = _snapshot_pass(engine, facts, days, tracer, "rerun")
    finally:
        for u in reversed(undo):
            u()
    p_cold = _pipeline_pass(run.spark, src, ids, tracer, "cold")
    p_hot = _pipeline_pass(run.spark, src, ids, tracer, "warm")
    return engine, {"backfill": cold, "rerun": hot, "rows": rows,
                    "rerun_rows": rerun_rows, "failed": f1 + f2,
                    "cold": p_cold, "warm": p_hot}


def run_workload(run, seconds: float) -> dict:
    from opl_spark.cli import load_settings
    from opl_spark.snapshot import table_stats
    from opl_spark.sources import register_sources

    t = time.perf_counter()
    src = datagen.write_tables(run.path("src"), run.seed, SF)
    datagen_s = time.perf_counter() - t

    session_s = run.start_spark()
    spark = run.spark
    # one registration, as an operator's ``-c add`` pays once per process
    t = time.perf_counter()
    register_sources(spark, src)
    reg = time.perf_counter() - t
    setup_s = session_s + reg

    rng = random.Random(run.seed)
    first = dt.date(1995, 1, 1) + dt.timedelta(days=rng.randrange(4 * 365))
    days = [first + dt.timedelta(days=i) for i in range(DAYS)]
    ids = list(PIPELINE_IDS)
    facts = load_settings(SETTINGS)
    log(f"nightly: setup {setup_s:.2f}s ; days from {first} ; ids {ids}")

    off = Tracer(spark, False)
    engine, r = _nightly(run, src, facts, days, ids, off)
    rss = peak_rss_mb(os.getpid())

    # ---- output checks (outside the timers) ----
    failed = r["failed"] + _check_snapshot(spark, engine, facts, days)
    if r["rerun_rows"]:
        log(f"nightly: re-run wrote {r['rerun_rows']} rows")
        failed += 1
    want = _oracle_signatures(src, ids)
    from oracle import frame_signature

    for phase in ("cold", "warm"):
        for qid, (_, cols, rows) in r[phase].items():
            if rows is None or frame_signature(cols, rows) != want[qid]:
                log(f"nightly: {phase} {qid} output differs from its oracle")
                failed += 1

    cold, hot = r["backfill"], r["rerun"]
    stats = [s for f in {fq.fact_table for fq in facts} for s in table_stats(engine, f)]
    metrics = {
        "setup_s": setup_s,
        "peak_rss_mb": rss,
        "p50_ms": median(cold) * 1e3,
    }
    extra = {
        "datagen_s": datagen_s, "session_start_s": session_s,
        "register_s": reg, "days": [d.isoformat() for d in days],
        "p50_ms": {"backfill": median(cold) * 1e3, "rerun": median(hot) * 1e3},
        "p90_ms": {"backfill": pct(cold, 0.9) * 1e3, "rerun": pct(hot, 0.9) * 1e3},
        "backfill_s": sum(r["backfill"]), "rerun_s": sum(r["rerun"]),
        "backfill_day_s": r["backfill"], "rerun_day_s": r["rerun"],
        "pipeline_cold_s": sum(v[0] for v in r["cold"].values()),
        "pipeline_warm_s": sum(v[0] for v in r["warm"].values()),
        "rows_written": r["rows"],
        "stored_bytes": sum(s["bytes"] for s in stats),
        "stored_files": sum(s["n_files"] for s in stats),
    }
    attempted = 2 * len(days) + 2 * len(ids)
    out = {"attempted": attempted, "failed": failed, "metrics": metrics, "extra": extra}
    if run.trace:
        out["layers"], out["trace"] = _trace(run, src, facts, days, ids, r)
    return out


def _trace(run, src, facts, days, ids, untraced) -> tuple[dict, dict]:
    """Repeat the run on a fresh warehouse with spans around every layer
    call; the source layer is traced by wrapping ``load_table`` where the
    engine modules reference it."""
    from opl_spark.snapshot import table_stats
    from opl_spark.sources import register_sources

    spark = run.spark
    tracer = Tracer(spark, True)
    undo = [tracer.wrap(m, "load_table", "sources.load_table",
                        rid_of=lambda s, d, name, *a, **k: name)
            for m in _source_modules()]
    try:
        register_sources(spark, src)
        engine, r = _nightly(run, src, facts, days, ids, tracer)
    finally:
        for u in reversed(undo):
            u()
    counters = spark_counters(spark, [s["group"] for s in tracer.spans if s["group"]])
    totals = layer_totals(tracer, counters)

    def tot(name, key="total_s"):
        return totals.get(name, {}).get(key, 0)

    stats = [s for f in {fq.fact_table for fq in facts} for s in table_stats(engine, f)]
    layers = {
        "session.start_s": run.session_start_s,
        "sources.load_table_calls": tot("sources.load_table", "calls"),
        "sources.load_table_s": tot("sources.load_table"),
        "sources.load_table_jobs": tot("sources.load_table", "jobs"),
        "snapshot.probe_s": tot("snapshot.probe"),
        "snapshot.probe_jobs": tot("snapshot.probe", "jobs"),
        "snapshot.write_s": tot("snapshot.write"),
        "snapshot.write_jobs": tot("snapshot.write", "jobs"),
        "snapshot.files_written": sum(s["n_files"] for s in stats),
        "snapshot.bytes_written": sum(s["bytes"] for s in stats),
        "snapshot.rows_written": r["rows"],
        "workload.build_s": tot("workload.build.warm"),
        "workload.plan_s": tot("workload.plan.warm"),
        "trace.overhead_s": (sum(r["rerun"]) + sum(v[0] for v in r["warm"].values()))
        - (sum(untraced["rerun"]) + sum(v[0] for v in untraced["warm"].values())),
    }
    selfs = tracer.self_times()
    for i, s in enumerate(tracer.spans):
        name, qid = s["name"], s["id"]
        if not name.endswith(".warm") or qid not in ids:
            continue
        c = counters.get(s["group"], {})
        dur = s["end"] - s["start"]
        if name == "workload.build.warm":
            layers[f"{qid}.build_s"] = dur
            layers[f"{qid}.build_jobs"] = c.get("jobs", 0)
        elif name == "workload.plan.warm":
            layers[f"{qid}.plan_s"] = dur
        elif name == "exec.warm":
            layers[f"{qid}.exec_s"] = selfs[i]
            for k, v in c.items():
                layers[f"{qid}.{k}"] = v
    return layers, {"layers": totals, "spans": tracer.dump()}
