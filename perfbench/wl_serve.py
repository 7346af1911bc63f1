"""``serve``: one analyst's dashboard session against the ``-c serve`` server.

Set-up writes the ``loans2`` fact through ``SnapshotEngine.write``,
materializes the rollup lattice ``RollupStore.advise`` picks for the
dashboard shapes, starts the server through the CLI entry point
(``opl_spark.cli.main(["-c", "serve", ...])``, plan cache 128, the
production default) on a thread of this process, and sends a warm-up
(``WARMUP_ROUNDS`` passes over the dashboard shapes plus
``WARMUP_EXPLORE`` explore requests, from ``nproc`` client threads).
The server shares this process's Spark session, so a run pays for one
driver JVM, not two.

The request stream is drawn from the seed: 70 % *dashboard* requests
(ten pinned shapes that repeat, each once per ten dashboard requests in
seed-shuffled order, so the plan cache and the lattice absorb them and
every run's median covers the same shape mix) and 30 % *explore*
requests, each a Data Studio connector request
(``connector.synthesize_request``) sized from the connector's recorded
getData traces (``tests/test_connector_replay.py``): four of those five
traces ask for a 28-day window and one for a single day, and they name
1, 3, 1, 2 and 1 dimension fields plus one measure.  An explore request
draws its window length and field count from those five, its start date
and its fields (from ``connector_field_ids``) at random, so explore
requests are almost all distinct.  One client sends the stream in a
closed loop, each request after the previous reply, for the run's
seconds: the connector loads a report's widgets one after another.  (An
open loop at 2-3 requests/s let dashboard requests queue behind explore
requests, and that queueing amplified the host's CPU steal into
run-to-run spreads of 30-60 % on the median latency.)  The gated latency
``p50_ms`` is the median dashboard request; explore latencies go to the
environment record, as their median spreads too widely across seeds to
gate.

The output check compares every response body with ``encode_response``
of a plain ``OlapApi`` (no lattice, no plan cache) in this process.
The traced run replays the first ``TRACE_REQUESTS`` of the stream in
process through ``OlapApi``, with spans around the API, lattice, cube,
collect and encode calls.
"""

from __future__ import annotations

import concurrent.futures as cf
import datetime as dt
import hashlib
import http.client
import os
import random
import socket
import threading
import time
import urllib.parse
from collections import OrderedDict, defaultdict

import datagen
from harness import (
    Tracer, layer_totals, log, median, nproc, pct, peak_rss_mb, spark_counters,
)

FACT = "loans2"
#: source scale: 30,000 orders in the fact
SF = 0.02
DASHBOARD_SHARE = 0.7
#: stream length; a run sends a prefix of it (about 80 requests in 12 s
#: on a 4-vCPU host)
MAX_REQUESTS = 1000
PLAN_CACHE = 128
TIMEOUT_S = 60.0
#: warm-up passes over the dashboard shapes, and explore requests sent
#: with them: with one pass, dashboard latency still fell by a quarter
#: over a run's first ~70 requests as the JVM warmed, and the run-to-run
#: spread of ``p50_ms`` followed how far that warming had got
WARMUP_ROUNDS = 5
WARMUP_EXPLORE = 12
#: window lengths (days) and dimension-field counts of the connector's
#: recorded getData traces (tests/test_connector_replay.py)
RECORDED_RANGE_DAYS = (28, 28, 1, 28, 28)
RECORDED_DIM_FIELDS = (1, 3, 1, 2, 1)
#: the measure field every recorded trace names
MEASURE_FIELD = "value"
#: requests replayed by a traced run (a prefix of the served stream)
TRACE_REQUESTS = 40
#: ten pinned dashboard shapes (the latency pool of ``bench.py``)
DASHBOARD_SHAPES = [
    {"cut": "date:1997", "drilldown": "date", "measure": "value"},
    {"drilldown": "date|organization_level", "measure": "value"},
    {"cut": "date:1996,10-1997,02", "drilldown": "date:year|date:month",
     "measure": "loans"},
    {"cut": "loan_type:F", "drilldown": "segment", "measure": "value",
     "share": "true"},
    {"drilldown": "priority", "measure": "avg_value"},
    {"cut": "date:1997", "drilldown": "date:day", "measure": "loans",
     "having": "loans >= 10"},
    {"drilldown": "library_id", "measure": "value", "top_n": "5"},
    {"cut": "date:1997", "drilldown": "date", "hierarchy": "date:iso_week",
     "measure": "loans"},
    {"cut": "segment:BUILDING;MACHINERY", "drilldown": "date",
     "measure": "value"},
    {"drilldown": "date", "measure": "value", "share": "true"},
]
#: per-layer metric prefixes of layers this workload does no work in
UNEXERCISED_LAYERS = ("sources.", "snapshot.", "workload.", "q_")
_FIRST_DAY, _LAST_DAY = dt.date(1995, 1, 1), dt.date(2001, 8, 1)


def _shape_kwargs(params: dict[str, str]) -> dict:
    """API params → ``RollupStore.advise`` query-log entry."""
    return {k: (v == "true" if k == "share" else int(v) if k == "top_n" else v)
            for k, v in params.items()}


def make_stream(seed: int, n: int, field_ids: list[str], catalog,
                dashboard_share: float = DASHBOARD_SHARE):
    """``n`` requests ``(class, path, params)`` drawn from ``seed``: a
    fixed share of dashboard requests at seed-shuffled positions."""
    from opl_spark.connector import synthesize_request

    rng = random.Random(seed)
    n_dash = round(dashboard_share * n)
    classes = ["dashboard"] * n_dash + ["explore"] * (n - n_dash)
    rng.shuffle(classes)
    dims = list(dict.fromkeys(field_ids))
    out, deck = [], []
    for cls in classes:
        if cls == "dashboard":
            if not deck:
                deck = list(DASHBOARD_SHAPES)
                rng.shuffle(deck)
            out.append((cls, f"/olap/{FACT}/aggregate", dict(deck.pop())))
            continue
        days = rng.choice(RECORDED_RANGE_DAYS)
        start = _FIRST_DAY + dt.timedelta(
            days=rng.randrange((_LAST_DAY - _FIRST_DAY).days - days + 1))
        end = start + dt.timedelta(days=days - 1)
        fields = rng.sample(dims, rng.choice(RECORDED_DIM_FIELDS)) + [MEASURE_FIELD]
        path, params = synthesize_request(
            catalog, FACT, fields, start.isoformat(), end.isoformat())
        out.append((cls, path, params))
    return out


def _key(path: str, params: dict) -> str:
    return path + "?" + urllib.parse.urlencode(sorted(params.items()))


def _get(port: int, path: str, params: dict) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=TIMEOUT_S)
    try:
        conn.request("GET", path + "?" + urllib.parse.urlencode(params))
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def _free_port() -> int:
    with socket.socket() as sock:
        sock.bind(("127.0.0.1", 0))
        return sock.getsockname()[1]


def _start_server(warehouse: str) -> int:
    """Run ``opl-spark -c serve`` (``cli.main``) on a daemon thread of
    this process, sharing its Spark session; returns the port once the
    server accepts connections."""
    from opl_spark.cli import main

    port = _free_port()
    argv = ["-c", "serve", "--warehouse", warehouse, "-f", FACT,
            "--port", str(port), "--plan-cache", str(PLAN_CACHE)]
    thread = threading.Thread(target=main, args=(argv,), name="opl-serve", daemon=True)
    thread.start()
    deadline = time.monotonic() + 120
    while time.monotonic() < deadline and thread.is_alive():
        try:
            socket.create_connection(("127.0.0.1", port), timeout=1).close()
            return port
        except OSError:
            time.sleep(0.05)
    raise RuntimeError("serve did not start")


def _closed_loop(port: int, stream, seconds: float):
    """Send ``stream`` in order, one request after the previous reply,
    until ``seconds`` have passed.  Returns per request sent (latency_s,
    status, body digest, body bytes)."""
    results = []
    stop = time.perf_counter() + seconds
    for _, path, params in stream:
        if time.perf_counter() >= stop:
            break
        t = time.perf_counter()
        try:
            status, body = _get(port, path, params)
        except OSError:  # refused, reset or timed out
            status, body = 0, b""
        results.append((time.perf_counter() - t, status,
                        hashlib.sha256(body).hexdigest(), len(body)))
    return results


def _expected_bodies(run, stream) -> dict[str, str]:
    """Digest of ``encode_response(handle(...))`` of a plain API per
    distinct request (no lattice, no plan cache)."""
    from opl_spark.api import OlapApi
    from opl_spark.cube import CubeEngine
    from opl_spark.facts import default_catalog
    from opl_spark.server import encode_response
    from opl_spark.snapshot import SnapshotEngine

    cube = CubeEngine(default_catalog())
    cube.register_fact(FACT, SnapshotEngine(run.spark, run.path("wh")).fact_frame(FACT))
    api = OlapApi(cube, rollups=None, plan_cache_size=0)
    distinct = {_key(path, params): (path, params) for _, path, params in stream}

    def digest(req):
        return hashlib.sha256(encode_response(api.handle(*req))).hexdigest()

    with cf.ThreadPoolExecutor(max_workers=nproc()) as pool:
        return dict(zip(distinct, pool.map(digest, distinct.values())))


def _in_process_api(run):
    from opl_spark.api import OlapApi
    from opl_spark.cli import _rollup_store
    from opl_spark.cube import CubeEngine
    from opl_spark.facts import default_catalog
    from opl_spark.snapshot import SnapshotEngine

    cube = CubeEngine(default_catalog())
    cube.register_fact(FACT, SnapshotEngine(run.spark, run.path("wh")).fact_frame(FACT))
    store = _rollup_store(run.spark, run.path("wh"))
    return OlapApi(cube, rollups=store, plan_cache_size=PLAN_CACHE), cube, store


def _repeat_share(stream) -> float:
    """Share of requests whose plan-cache key is already in an LRU of
    the daemon's size when they arrive."""
    from opl_spark.api import OlapApi

    lru: OrderedDict = OrderedDict()
    hits = 0
    for _, _, params in stream:
        k = tuple((p, params[p]) for p in OlapApi._PLAN_PARAMS if p in params)
        if k in lru:
            hits += 1
            lru.move_to_end(k)
        else:
            lru[k] = True
            if len(lru) > PLAN_CACHE:
                lru.popitem(last=False)
    return hits / len(stream)


def _replay(api, stream, tracer: Tracer | None):
    """Closed-loop in-process replay; returns total seconds."""
    from opl_spark.server import encode_response

    t0 = time.perf_counter()
    for i, (cls, path, params) in enumerate(stream):
        if tracer is None:
            encode_response(api.handle(path, params))
            continue
        with tracer.span(f"request.{cls}", i, group=False):
            with tracer.span(f"api.handle.{cls}", i):
                payload = api.handle(path, params)
            with tracer.span("server.encode", i, group=False) as sp:
                sp["bytes"] = len(encode_response(payload))
    return time.perf_counter() - t0


def run_workload(run, seconds: float) -> dict:
    from opl_spark.connector import connector_field_ids
    from opl_spark.cube import CubeEngine
    from opl_spark.facts import build_loans_fact, default_catalog
    from opl_spark.rollups import RollupStore
    from opl_spark.snapshot import SnapshotEngine

    t_in = time.perf_counter()
    src = datagen.write_tables(run.path("src"), run.seed, SF,
                               names=("region", "nation", "customer", "orders"))
    datagen_s = time.perf_counter() - t_in

    setup = {"session_start_s": run.start_spark()}
    spark = run.spark
    wh = run.path("wh")
    t = time.perf_counter()
    engine = SnapshotEngine(spark, wh)
    engine.write(build_loans_fact(spark, src), FACT)
    setup["fact_write_s"] = time.perf_counter() - t
    t = time.perf_counter()
    cube = CubeEngine(default_catalog())
    cube.register_fact(FACT, engine.fact_frame(FACT))
    store = RollupStore(spark, wh + "/_lattice")
    pool = [_shape_kwargs(p) for p in DASHBOARD_SHAPES]
    picked = store.advise(cube, FACT, pool)
    store.materialize(cube, FACT, [p["cols"] for p in picked])
    setup["lattice_s"] = time.perf_counter() - t
    t = time.perf_counter()
    port = _start_server(wh)
    setup["server_start_s"] = time.perf_counter() - t

    catalog = cube.catalog
    field_ids = connector_field_ids(catalog, FACT)
    stream = make_stream(run.seed, MAX_REQUESTS, field_ids, catalog)
    warm = [("dashboard", f"/olap/{FACT}/aggregate", p) for p in DASHBOARD_SHAPES] * WARMUP_ROUNDS
    warm += make_stream(run.seed + 1_000_003, WARMUP_EXPLORE, field_ids, catalog,
                        dashboard_share=0.0)
    t = time.perf_counter()
    with cf.ThreadPoolExecutor(max_workers=nproc()) as pool:
        list(pool.map(lambda r: _get(port, r[1], r[2]), warm))
    setup["warmup_s"] = time.perf_counter() - t
    setup_s = sum(setup.values())
    log(f"serve: setup {setup}")

    t = time.perf_counter()
    res = _closed_loop(port, stream, seconds)
    traffic_s = time.perf_counter() - t
    rss = peak_rss_mb(os.getpid())
    stream = stream[:len(res)]
    t = time.perf_counter()

    # ---- output check (outside the timers) ----
    expected = _expected_bodies(run, stream)
    lat = defaultdict(list)
    ok_lat = []  # per request sent: its latency, or None if it failed
    for (cls, path, params), (l, status, digest, _) in zip(stream, res):
        ok = status == 200 and digest == expected[_key(path, params)]
        ok_lat.append(l if ok else None)
        # a failed request counts as the client's limit
        lat[cls].append(l if ok else TIMEOUT_S)
    failed = ok_lat.count(None)
    check_s = time.perf_counter() - t
    metrics = {
        "setup_s": setup_s,
        "peak_rss_mb": rss,
        "p50_ms": median(lat["dashboard"]) * 1e3,
    }
    extra = {
        "setup": setup, "datagen_s": datagen_s,
        "traffic_s": traffic_s, "check_s": check_s,
        "requests": {c: len(v) for c, v in lat.items()},
        "p50_ms": {c: median(v) * 1e3 for c, v in lat.items()},
        "p90_ms": {c: pct(v, 0.9) * 1e3 for c, v in lat.items()},
        "total_s": {c: sum(v) for c, v in lat.items()},
        "response_bytes_p50": median([r[3] for r in res]),
    }

    out = {"attempted": len(stream), "failed": failed, "metrics": metrics, "extra": extra}
    if run.trace:
        # the JVM is warm by now: prime each replay's plan cache with one
        # pass over the distinct warm-up requests
        distinct = list({_key(path, params): (cls, path, params)
                         for cls, path, params in warm}.values())
        out["layers"], out["trace"] = _trace(run, stream[:TRACE_REQUESTS], distinct, ok_lat)
    return out


def _trace(run, stream, warm, served_lat) -> tuple[dict, dict]:
    """Replay the stream in process, untraced and traced, each through
    a fresh API (empty plan cache) after the same warm-up pass; per-layer
    numbers come from the traced replay.  All replays follow the served
    run, so the JVM has seen every query once before any of them.
    ``served_lat[i]`` is request i's HTTP latency in the served run, or
    None if it failed."""
    spark = run.spark

    def untraced() -> float:
        api, _, _ = _in_process_api(run)
        _replay(api, warm, None)
        return _replay(api, stream, None)

    # untraced replays before and after the traced one, so the JVM
    # warming between replays does not count as negative overhead
    untraced_s = untraced()
    api, cube, store = _in_process_api(run)
    _replay(api, warm, None)
    tracer = Tracer(spark, True)
    undo = [
        tracer.wrap(store, "aggregate", "rollups.aggregate"),
        tracer.wrap(cube, "aggregate", "cube.aggregate"),
        # the session's concrete DataFrame class, which defines collect
        tracer.wrap(type(spark.range(1)), "collect", "exec.collect"),
    ]
    try:
        traced_s = _replay(api, stream, tracer)
    finally:
        for u in reversed(undo):
            u()
    untraced_s = (untraced_s + untraced()) / 2
    routed = sum(store.route_report(cube, FACT, **p)["routed"] for _, _, p in stream)
    counters = spark_counters(spark, [s["group"] for s in tracer.spans if s["group"]])
    totals = layer_totals(tracer, counters)

    # attribute each layer span to its request's class
    by_cls: dict[tuple[str, str], float] = defaultdict(float)
    jobs_by_cls: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    selfs = tracer.self_times()
    cls_of = {}
    for i, s in enumerate(tracer.spans):
        if s["name"].startswith("request."):
            cls_of[i] = s["name"].split(".", 1)[1]
    for i, s in enumerate(tracer.spans):
        root = i
        while tracer.spans[root]["parent"] is not None:
            root = tracer.spans[root]["parent"]
        cls = cls_of.get(root)
        if cls is None:
            continue
        name = s["name"].rsplit(".", 1)[0] if s["name"].startswith("api.handle") else s["name"]
        by_cls[(name, cls)] += selfs[i]
        for k, v in counters.get(s["group"], {}).items():
            jobs_by_cls[cls][k] += v
        if name == "exec.collect":
            jobs_by_cls[cls]["exec_s"] += s["end"] - s["start"]
    n_cls = defaultdict(int)  # traced requests per class
    handle = {}  # request index -> traced handle seconds
    for s in tracer.spans:
        if s["name"].startswith("request."):
            n_cls[s["name"].split(".", 1)[1]] += 1
        elif s["name"].startswith("api.handle."):
            handle[s["id"]] = s["end"] - s["start"]
    handle_ms = {c: median([handle[i] for i, r in enumerate(stream) if r[0] == c]) * 1e3
                 for c in n_cls}
    # served HTTP latency minus traced handle, request by request
    transport = [served_lat[i] - h for i, h in handle.items() if served_lat[i] is not None]
    enc = [s for s in tracer.spans if s["name"] == "server.encode"]
    layers = {
        "session.start_s": run.session_start_s,
        "cube.aggregate_calls": totals.get("cube.aggregate", {}).get("calls", 0),
        "rollups.routed_ratio": routed / len(stream),
        "rollups.aggregate_ms": totals.get("rollups.aggregate", {}).get("self_s", 0) * 1e3
        / len(stream),
        "api.repeat_share": _repeat_share(stream),
        "server.encode_ms": sum(s["end"] - s["start"] for s in enc) * 1e3 / len(enc),
        "server.response_bytes": median([s["bytes"] for s in enc]),
        "trace.overhead_s": traced_s - untraced_s,
    }
    if transport:  # else the metric is missing and the run reports that
        layers["server.transport_ms"] = median(transport) * 1e3
    for c, k in n_cls.items():
        layers[f"cube.aggregate_ms.{c}"] = by_cls[("cube.aggregate", c)] * 1e3 / k
        layers[f"api.handle_ms.{c}"] = handle_ms[c]
        for m in ("exec_s", "jobs", "tasks", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes"):
            layers[f"{c}.{m}"] = jobs_by_cls[c].get(m, 0)
    return layers, {"layers": totals, "spans": tracer.dump()}
