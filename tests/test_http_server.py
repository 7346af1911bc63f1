"""The HTTP layer serves exactly what ``OlapApi.handle`` computes:
every route from the reference API spec (api-library-olap/
README.md:3-13), replayed over a real socket, must be byte-identical
to the direct library call — the five recorded Data Studio getData
traces (DataStudio-connector/Codice.gs:239-254) included."""

import json
import logging
import os
import socket
import threading
import urllib.error
import urllib.parse
import urllib.request

import pytest

from opl_spark.api import OlapApi
from opl_spark.connector import synthesize_request
from opl_spark.cube import CubeEngine
from opl_spark.facts import (
    ACTIVE_USERS_SQL,
    build_general_indexes_fact,
    build_loans_fact,
    build_patrimonio_fact,
    default_catalog,
)
from opl_spark.server import OlapHttpServer, encode_response


@pytest.fixture(scope="module")
def api(spark, sf_dir, tmp_path_factory):
    eng = CubeEngine(default_catalog())
    eng.register_fact("loans2", build_loans_fact(spark, sf_dir))
    eng.register_fact("general_indexes", build_general_indexes_fact(spark, sf_dir))
    from opl_spark.facts import build_accessions_fact
    eng.register_fact("accessions", build_accessions_fact(spark, sf_dir))
    eng.register_fact("patrimonio", build_patrimonio_fact(spark, sf_dir))
    from opl_spark.snapshot import FactQuery, SnapshotEngine
    from opl_spark.sources import register_sources

    register_sources(spark, sf_dir)
    snap = SnapshotEngine(spark, str(tmp_path_factory.mktemp("http_wh")))
    snap.run(
        "1998-06-01", [FactQuery(1, "enabled_users", ACTIVE_USERS_SQL, cron="daily")]
    )
    eng.register_fact("enabled_users", snap.fact_frame("enabled_users"))
    return OlapApi(eng)


@pytest.fixture(scope="module")
def server(api):
    with OlapHttpServer(api) as srv:  # port=0 → ephemeral
        yield srv


def _get(server, path, params=None):
    url = f"http://127.0.0.1:{server.port}{path}"
    if params:
        url += "?" + urllib.parse.urlencode(params)
    with urllib.request.urlopen(url, timeout=60) as resp:
        return resp.status, resp.read()


# the five recorded getData traces, adapted exactly as
# tests/test_connector_replay.py documents
TRACES = [
    ("loans2", ["consortia_label", "value", "month", "year"], "1996-04-25", "1996-05-22"),
    ("loans2", ["consortia_label", "date", "library_id", "value"], "1996-04-26", "1996-05-23"),
    ("enabled_users", ["library_id", "value"], "1998-06-01", "1998-06-01"),
    ("general_indexes", ["apertura_mattutina", "date", "library_class"], "1996-05-10", "1996-06-06"),
    ("patrimonio", ["consortia_id", "value"], "1996-05-20", "1996-06-16"),
]


@pytest.mark.parametrize("fact,fields,start,end", TRACES)
def test_trace_over_http_byte_identical(api, server, fact, fields, start, end):
    path, params = synthesize_request(api.catalog, fact, fields, start, end)
    status, body = _get(server, path, params)
    assert status == 200
    assert body == encode_response(api.handle(path, params))
    # and it is a real table payload: header row + data rows
    table = json.loads(body)
    assert isinstance(table, list) and len(table) >= 2


def test_metadata_routes_byte_identical(api, server):
    for path in (
        "/olap/fact_tables",
        "/olap/loans2/dimensions",
        "/olap/loans2/measures",
    ):
        status, body = _get(server, path)
        assert status == 200
        assert body == encode_response(api.handle(path, {}))


def test_aggregate_json_and_empty_marker(api, server):
    params = {"cut": "loan_type:O", "drilldown": "date", "measure": "value"}
    status, body = _get(server, "/olap/loans2/aggregate", params)
    assert status == 200
    assert body == encode_response(api.handle("/olap/loans2/aggregate", params))
    assert json.loads(body)["data"]
    # a cut matching nothing returns the connector's zero-fill marker
    # (Codice.gs:361-373)
    none = {"cut": "loan_type:ZZZ_NO_SUCH", "drilldown": "date"}
    status, body = _get(server, "/olap/loans2/aggregate", none)
    assert status == 200
    assert json.loads(body) == {"message": "empty_dataset"}


def test_top_n_params_over_http(api, server):
    params = {
        "drilldown": "organization_level:library_id",
        "measure": "value",
        "top_n": "3",
        "top_within": "consortia_id",
    }
    status, body = _get(server, "/olap/loans2/aggregate", params)
    assert status == 200
    assert body == encode_response(api.handle("/olap/loans2/aggregate", params))
    data = json.loads(body)["data"]
    per = {}
    for row in data:
        per[row["consortia_id"]] = per.get(row["consortia_id"], 0) + 1
    assert per and all(v <= 3 for v in per.values())


def test_unknown_routes_are_404(server):
    for path in ("/olap/nope", "/not_olap", "/olap/loans2/nope"):
        with pytest.raises(urllib.error.HTTPError) as exc:
            _get(server, path)
        assert exc.value.code == 404
        assert "error" in json.loads(exc.value.read())


def test_engine_errors_are_reported_not_empty_200(server):
    # unknown dimension -> KeyError -> 404; other engine errors -> 400.
    # Either way the failure must surface, never an empty 200.
    with pytest.raises(urllib.error.HTTPError) as exc:
        _get(server, "/olap/loans2/aggregate", {"cut": "no_such_dim:1"})
    assert exc.value.code in (400, 404)
    assert "error" in json.loads(exc.value.read())


def test_bad_parameter_is_400_unknown_fact_is_404(server):
    """A malformed query PARAMETER (unknown having column) must come
    back 400 — the route exists, the request is bad — while an unknown
    FACT on a real route stays 404."""
    with pytest.raises(urllib.error.HTTPError) as exc:
        _get(server, "/olap/loans2/aggregate",
             {"drilldown": "organization_level", "measure": "value",
              "having": "bogus>=1"})
    assert exc.value.code == 400
    assert "error" in json.loads(exc.value.read())
    with pytest.raises(urllib.error.HTTPError) as exc:
        _get(server, "/olap/no_such_fact/aggregate", {"measure": "value"})
    assert exc.value.code == 404


@pytest.mark.parametrize("within", [{}, {"top_within": "consortia_id"}])
def test_negative_top_n_is_400(server, within):
    """A negative top_n is a malformed request: 400, both for the plain
    limit (Spark would reject it as a 500) and under top_within (where
    the rank filter would answer an empty 200)."""
    with pytest.raises(urllib.error.HTTPError) as exc:
        _get(server, "/olap/loans2/aggregate",
             {"drilldown": "organization_level:library_id",
              "measure": "value", "top_n": "-1", **within})
    assert exc.value.code == 400
    assert "top_n" in json.loads(exc.value.read())["error"]


def test_share_params_over_http(server):
    """share/share_within ride the HTTP surface like top_n/having."""
    status, body = _get(
        server, "/olap/loans2/aggregate",
        {"drilldown": "organization_level", "measure": "value", "share": "true"},
    )
    assert status == 200
    rows = json.loads(body)["data"]
    assert rows and abs(sum(r["value_share"] for r in rows) - 1.0) < 1e-4


def test_drill_across_over_http(server):
    status, body = _get(
        server, "/olap/drill_across",
        {"facts": "loans2,accessions", "drilldown": "organization_level"},
    )
    assert status == 200
    rows = json.loads(body)["data"]
    assert rows and "value_loans2" in rows[0] and "accessions_accessions" in rows[0]


def test_explain_over_http(server):
    """/olap/<fact>/explain returns the pre-flight cost preview for
    the same request grammar as aggregate — counts present, nothing
    negative, no scale flags on a core cube query."""
    status, body = _get(
        server, "/olap/loans2/explain",
        {"drilldown": "organization_level", "measure": "value",
         "cut": "date:2016"},
    )
    assert status == 200
    rep = json.loads(body)
    for k in ("n_shuffles", "n_scans", "n_plan_ops", "est_scan_bytes"):
        assert rep[k] >= 0, rep
    assert rep["n_scans"] >= 1
    assert rep["scale_flags"] == []
    with pytest.raises(urllib.error.HTTPError) as exc:
        _get(server, "/olap/no_such_fact/explain", {"measure": "value"})
    assert exc.value.code == 404


@pytest.fixture(scope="module")
def routed_server(spark, sf_dir, tmp_path_factory):
    """An OlapApi WITH a rollup lattice behind it — the steady-state
    serving configuration the reference architecture implies (OLAP DB
    = materialized query results; reference README.md:4)."""
    from opl_spark.rollups import RollupStore

    engine = CubeEngine(default_catalog())
    engine.register_fact("loans2", build_loans_fact(spark, sf_dir))
    store = RollupStore(spark, str(tmp_path_factory.mktemp("latency_lattice")))
    store.materialize(
        engine,
        "loans2",
        [["year", "month"], ["year", "month", "day", "loan_type"]],
    )
    api = OlapApi(engine, rollups=store)
    with OlapHttpServer(api) as srv:
        yield api, store, srv


AGG_PARAMS = {"cut": "date:1996", "drilldown": "date", "measure": "value"}


def test_aggregate_routes_through_lattice_and_breaking_it_shows(routed_server):
    """The routedness pin behind the latency guard: a core aggregate's
    plan must scan the materialized lattice parquet, NOT the base
    fact; with routing deliberately broken the lattice scan disappears
    — proving the assertion actually trips on a routing regression."""
    from opl_spark.plans.inspect import formatted_plan

    api, store, _ = routed_server
    df = api._build_aggregate_df("loans2", dict(AGG_PARAMS))
    assert "latency_lattice" in formatted_plan(df), (
        "core aggregate did not route through the rollup lattice"
    )
    orig = store._route
    try:
        # deliberately broken routing
        store._route = lambda *a, **k: (None, "routing broken")
        broken = api._build_aggregate_df("loans2", dict(AGG_PARAMS))
        assert "latency_lattice" not in formatted_plan(broken)
    finally:
        store._route = orig


def test_http_aggregate_latency_guard(routed_server):
    """Latency guard for the interactive surface (the reference's
    /olap/<fact>/aggregate, api-library-olap/README.md:16-19): the
    routed round trip must stay interactive.  Bounds are generous
    (host-jitter-safe) — a plan regression that turns the routed
    rollup read back into per-request fact aggregation or loses the
    scan pruning shows up as a multiple, not a percentage: cold
    (first-touch parquet footer + codegen) < 10 s, warm median of 5
    < 1.5 s."""
    import statistics
    import time

    _, _, srv = routed_server
    t0 = time.perf_counter()
    status, body = _get(srv, "/olap/loans2/aggregate", AGG_PARAMS)
    cold = time.perf_counter() - t0
    assert status == 200 and json.loads(body)["data"]
    assert cold < 10.0, f"cold routed aggregate took {cold:.2f}s"

    warm = []
    for _ in range(5):
        t0 = time.perf_counter()
        status, body = _get(srv, "/olap/loans2/aggregate", AGG_PARAMS)
        warm.append(time.perf_counter() - t0)
        assert status == 200 and json.loads(body)["data"]
    med = statistics.median(warm)
    assert med < 1.5, f"warm routed aggregate median {med:.2f}s ({warm})"


def test_repeated_request_is_served_from_the_response_memo(routed_server):
    """A repeated routed /aggregate is answered from the memoized
    response: byte-identical to the first answer and to an uncached,
    unrouted API, also under concurrent repeats."""
    from concurrent.futures import ThreadPoolExecutor

    api, _, srv = routed_server
    params = {"cut": "date:1997", "drilldown": "loan_type", "measure": "value",
              "output": "table"}
    expected = encode_response(
        OlapApi(api.engine, plan_cache_size=0).handle(
            "/olap/loans2/aggregate", params
        )
    )
    hits0 = api.cache_stats()["hits"]
    status, first = _get(srv, "/olap/loans2/aggregate", params)
    assert status == 200 and first == expected
    with ThreadPoolExecutor(max_workers=4) as pool:
        repeats = list(pool.map(
            lambda _: _get(srv, "/olap/loans2/aggregate", params), range(8)
        ))
    assert repeats == [(200, expected)] * 8
    assert api.cache_stats()["hits"] - hits0 == 8


def test_aggregate_concurrent_requests_match_sequential(server):
    """8 concurrent /aggregate requests with distinct shapes must each
    return exactly the bytes the same request produces sequentially —
    Spark actions interleave on one session; no cross-talk, no
    partial results (the serving-layer twin of the /explain race
    regression test)."""
    from concurrent.futures import ThreadPoolExecutor

    shapes = [
        {"cut": "loan_type:O", "drilldown": "date", "measure": "value"},
        {"drilldown": "organization_level", "measure": "value"},
        {"drilldown": "date", "measure": "loans", "aggregate": "count"},
        {"drilldown": "organization_level", "measure": "value",
         "share": "true"},
    ]
    sequential = []
    for params in shapes:
        status, body = _get(server, "/olap/loans2/aggregate", params)
        assert status == 200
        sequential.append(body)
    assert len(set(sequential)) == len(shapes)

    jobs = [shapes[i % len(shapes)] for i in range(8)]
    with ThreadPoolExecutor(max_workers=8) as pool:
        results = list(
            pool.map(
                lambda p: _get(server, "/olap/loans2/aggregate", p), jobs
            )
        )
    for i, (status, body) in enumerate(results):
        assert status == 200
        assert body == sequential[i % len(shapes)], (
            f"concurrent /aggregate diverged for shape {i % len(shapes)}"
        )


def test_explain_concurrent_requests_get_their_own_plans(server):
    """Regression for the r4 probe-view race (plans/inspect.py uses a
    per-call uuid view name): 8 concurrent /explain requests with
    distinct query shapes must each come back with exactly the report
    the same request produces sequentially — no cross-talk, no
    view-stomp errors."""
    from concurrent.futures import ThreadPoolExecutor

    shapes = [
        ("loans2", {"drilldown": "organization_level", "measure": "value"}),
        ("loans2", {"drilldown": "date", "measure": "value",
                    "cut": "date:2016"}),
        ("loans2", {"measure": "value", "top_n": "3",
                    "drilldown": "library_id"}),
        ("general_indexes", {"drilldown": "library_class",
                             "measure": "apertura_mattutina"}),
    ]
    sequential = []
    for fact, params in shapes:
        status, body = _get(server, f"/olap/{fact}/explain", params)
        assert status == 200
        sequential.append(json.loads(body))
    # distinct shapes should differ somewhere, or equality proves nothing
    assert len({json.dumps(r, sort_keys=True) for r in sequential}) > 1

    jobs = [shapes[i % len(shapes)] for i in range(8)]
    with ThreadPoolExecutor(max_workers=8) as pool:
        results = list(
            pool.map(
                lambda fp: _get(server, f"/olap/{fp[0]}/explain", fp[1]), jobs
            )
        )
    for i, (status, body) in enumerate(results):
        assert status == 200
        assert json.loads(body) == sequential[i % len(shapes)], (
            "concurrent /explain response diverged from its sequential "
            f"reference for shape {i % len(shapes)}"
        )


def test_cached_plan_survives_inplace_rollup_rematerialization(
    spark, sf_dir, tmp_path
):
    """`-c materialize` from another process re-materializes the
    lattice: new rollup files under a new manifest.  The rewrite
    changes the lattice version, so the next request for that shape
    misses the response cache and builds over the new files (the
    rollup path lists them fresh per manifest) — it answers, not an
    error until restart."""
    from opl_spark.rollups import RollupStore

    engine = CubeEngine(default_catalog())
    engine.register_fact("loans2", build_loans_fact(spark, sf_dir))
    store = RollupStore(spark, str(tmp_path / "lattice"))
    groupings = [["year", "month", "day", "loan_type"]]
    store.materialize(engine, "loans2", groupings)
    api = OlapApi(engine, rollups=store)

    before = api.handle("/olap/loans2/aggregate", dict(AGG_PARAMS))
    assert before.get("data")
    # the re-materialize another session would run
    store.materialize(engine, "loans2", groupings)
    after = api.handle("/olap/loans2/aggregate", dict(AGG_PARAMS))
    assert after == before

@pytest.mark.slow  # r14 slow tier
def test_serve_daemon_endurance_soak(sf_dir, tmp_path):
    """r11 verdict task 4, run in its OWN subprocess (tests/
    soak_worker.py): 8 client threads × 500 mixed aggregate /
    drill_across / explain requests against a warm rollup-routed
    warehouse, response cache sized below the shape mix so every cycle
    churns evictions.  The worker asserts (a) byte-identity of all
    4000 responses vs serial answers, (b) the LRU entry bound (the
    cache pins payloads — an unbounded map is a leak by
    construction), (c) python-RSS and JVM post-GC used-heap growth
    bounds.  Subprocess isolation is deliberate, twice over: leak
    bounds are only meaningful against a quiescent fresh-JVM
    baseline, and the r12 in-suite run showed this load can kill a
    ~190-test-old shared session outright under the host's GCLocker
    pressure phases — taking every later test down with it."""
    import subprocess
    import sys as _sys

    worker = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "soak_worker.py")
    proc = subprocess.run(
        [_sys.executable, worker, sf_dir, str(tmp_path / "soak_lattice")],
        capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, (
        f"stdout:\n{proc.stdout[-2000:]}\n\nstderr:\n{proc.stderr[-3000:]}"
    )
    assert "SOAK OK" in proc.stdout, proc.stdout[-2000:]


def test_plan_params_single_source():
    """ADVICE r12 (low): the plan-cache key and the builder must read
    the SAME parameter list.  _plan_kwargs is the builder's only access
    to request params; every key it consumes (and every aggregate
    kwarg CubeEngine/RollupStore accept) must be in _PLAN_PARAMS, so a
    newly added parameter can never silently share a cached plan."""
    import inspect

    from opl_spark.api import OlapApi
    from opl_spark.cube import CubeEngine

    # every request param _plan_kwargs consumes is in _PLAN_PARAMS
    consumed = set(OlapApi._plan_kwargs(
        {k: "1" for k in OlapApi._PLAN_PARAMS} | {"junk": "x"}
    ))
    assert consumed == set(OlapApi._PLAN_PARAMS)
    # ...and _PLAN_PARAMS covers the full aggregate signature, so a
    # param added to CubeEngine.aggregate without extending the tuple
    # fails here instead of drifting
    sig = inspect.signature(CubeEngine.aggregate)
    agg_params = set(sig.parameters) - {"self", "fact"}
    assert agg_params == set(OlapApi._PLAN_PARAMS), (
        "CubeEngine.aggregate params and OlapApi._PLAN_PARAMS drifted"
    )
    # junk params influence neither the kwargs nor the cache key
    class _Eng:
        def frame_version(self, fact):  # minimal duck-type
            return 7

    api = OlapApi.__new__(OlapApi)
    api.engine = _Eng()
    base = {"drilldown": "date", "measure": "value"}
    assert api._cache_key("f", base) == api._cache_key("f", base | {"junk": "x"})
    for k in OlapApi._PLAN_PARAMS:
        assert api._cache_key("f", base) != api._cache_key("f", base | {k: "zz"}), k


# ---- transport contract: raw sockets, stub APIs (no Spark job) ----


class _EchoApi:
    """Answers every route with its path and params; ``/boom`` is an
    engine failure, ``/missing`` an unknown route, ``/bad`` a bad
    parameter."""

    def handle(self, path, params):
        if path == "/boom":
            raise RuntimeError("engine down")
        if path == "/missing":
            raise KeyError(path)
        if path == "/bad":
            raise ValueError("bad cut")
        return {"path": path, "params": params}


def _raw(port, request: bytes):
    """Send ``request`` and read until the server closes the
    connection (a server that kept it open fails on the timeout).
    Returns (status line, headers, body)."""
    with socket.create_connection(("127.0.0.1", port), timeout=30) as sock:
        sock.sendall(request)
        chunks = []
        while chunk := sock.recv(65536):
            chunks.append(chunk)
    head, _, body = b"".join(chunks).partition(b"\r\n\r\n")
    status, *lines = head.decode("latin-1").split("\r\n")
    headers = dict(line.split(": ", 1) for line in lines)
    return status, headers, body


@pytest.fixture(scope="module")
def echo_server():
    with OlapHttpServer(_EchoApi()) as srv:
        yield srv


@pytest.mark.parametrize("request_line", [
    b"GARBAGE", b"GET /olap/fact_tables", b"GET / HTTP/1.0 extra",
    b"GET / FTP/1.0", b"GET / HTTP/one.zero",
])
def test_malformed_request_line_is_400(echo_server, request_line):
    status, _, body = _raw(echo_server.port, request_line + b"\r\n\r\n")
    assert status == "HTTP/1.0 400 Bad Request"
    assert "Bad request" in json.loads(body)["error"]


@pytest.mark.parametrize("method", [b"POST", b"HEAD"])
def test_methods_other_than_get_are_501(echo_server, method):
    request = method + b" /olap/fact_tables HTTP/1.1\r\n\r\n"
    status, _, body = _raw(echo_server.port, request)
    assert status == "HTTP/1.0 501 Not Implemented"
    assert "error" in json.loads(body)


def test_more_than_100_header_lines_is_431(echo_server):
    def request(n):
        return (b"GET /olap/fact_tables HTTP/1.1\r\n"
                + b"".join(b"X-H%d: v\r\n" % i for i in range(n)) + b"\r\n")

    assert _raw(echo_server.port, request(100))[0] == "HTTP/1.0 200 OK"
    status, _, body = _raw(echo_server.port, request(101))
    assert status == "HTTP/1.0 431 Request Header Fields Too Large"
    assert json.loads(body) == {"error": "Too many headers"}


def test_keep_alive_request_gets_one_http10_reply_then_close(echo_server):
    status, headers, body = _raw(
        echo_server.port,
        b"GET /olap/fact_tables HTTP/1.1\r\nHost: x\r\nConnection: keep-alive\r\n\r\n",
    )
    assert status == "HTTP/1.0 200 OK"
    assert set(headers) == {"Content-Type", "Content-Length", "Date"}
    assert headers["Content-Type"] == "application/json"
    assert int(headers["Content-Length"]) == len(body)
    assert json.loads(body) == {"path": "/olap/fact_tables", "params": {}}


def test_percent_encoded_query_byte_identical(api, server):
    params = {"cut": "loan_type:O|date:1996,1,1-1996,6,30",
              "drilldown": "date|organization_level", "measure": "value"}
    query = urllib.parse.urlencode(params, quote_via=urllib.parse.quote)
    status, headers, body = _raw(
        server.port, f"GET /olap/loans2/aggregate?{query} HTTP/1.1\r\n\r\n".encode()
    )
    assert "%3A" in query and "%7C" in query and "%2C" in query
    assert status == "HTTP/1.0 200 OK"
    assert body == encode_response(api.handle("/olap/loans2/aggregate", params))
    assert json.loads(body)["data"]
    assert int(headers["Content-Length"]) == len(body)


def test_5xx_is_logged_with_its_route_and_nothing_else_is(echo_server, caplog):
    caplog.set_level(logging.DEBUG, logger="opl_spark.server")
    for path, code in (("/olap/x", 200), ("/missing", 404), ("/bad", 400)):
        status = _raw(echo_server.port, f"GET {path} HTTP/1.0\r\n\r\n".encode())[0]
        assert status.startswith(f"HTTP/1.0 {code} ")
    assert _raw(echo_server.port, b"POST / HTTP/1.0\r\n\r\n")[0].startswith("HTTP/1.0 501 ")
    assert caplog.records == []
    status, _, body = _raw(echo_server.port, b"GET /boom?x=1 HTTP/1.0\r\n\r\n")
    assert status == "HTTP/1.0 500 Internal Server Error"
    assert json.loads(body) == {"error": "RuntimeError: engine down"}
    (record,) = caplog.records
    assert record.name == "opl_spark.server" and record.levelno == logging.ERROR
    assert "/boom" in record.getMessage()
    assert record.exc_info[0] is RuntimeError


def test_concurrent_slow_requests_reuse_workers_and_stop_ends_them():
    """8 requests held inside the API until all 8 are there: each is
    answered (concurrency is not capped below 8), the server never
    runs more workers than the 8 connections open at once, sequential
    requests afterwards reuse them, and stop() leaves no thread."""
    from concurrent.futures import ThreadPoolExecutor

    class SlowApi(_EchoApi):
        barrier = threading.Barrier(8, timeout=30)  # all 8 inside at once

        def handle(self, path, params):
            self.barrier.wait()
            return super().handle(path, params)

    def workers(port):
        return [t for t in threading.enumerate() if t.name.startswith(f"olap-http-{port}-")]

    api = SlowApi()
    srv = OlapHttpServer(api).start()
    port = srv.port
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            replies = list(pool.map(
                lambda i: _raw(port, f"GET /olap/{i} HTTP/1.0\r\n\r\n".encode()), range(8)
            ))
        assert [json.loads(body)["path"] for _, _, body in replies] == [
            f"/olap/{i}" for i in range(8)
        ]
        assert all(status == "HTTP/1.0 200 OK" for status, _, _ in replies)
        assert len(workers(port)) == 8
        api.barrier = threading.Barrier(1)
        for i in range(20):
            assert _raw(port, b"GET /olap/again HTTP/1.0\r\n\r\n")[0] == "HTTP/1.0 200 OK"
        assert len(workers(port)) <= 8
    finally:
        srv.stop()
    assert not [t.name for t in threading.enumerate() if t.name.startswith(f"olap-http-{port}")]


def test_stop_ends_a_worker_waiting_on_a_silent_client():
    """A client that connects and sends nothing does not hold stop():
    it returns within 1 s and leaves no worker thread."""
    import time

    srv = OlapHttpServer(_EchoApi()).start()
    port = srv.port

    def workers():
        return [t for t in threading.enumerate() if t.name.startswith(f"olap-http-{port}-")]

    with socket.create_connection(("127.0.0.1", port), timeout=30):
        deadline = time.monotonic() + 10
        while not workers():
            assert time.monotonic() < deadline, "no worker took the connection"
            time.sleep(0.01)
        t0 = time.monotonic()
        srv.stop()
        assert time.monotonic() - t0 < 1
        assert not workers()


def test_stop_on_a_server_that_never_served_returns():
    """stop() without start() returns and releases the port."""
    srv = OlapHttpServer(_EchoApi())
    port = srv.port
    stopper = threading.Thread(target=srv.stop, daemon=True)
    stopper.start()
    stopper.join(timeout=3)
    assert not stopper.is_alive()
    with socket.socket() as sock:
        sock.bind(("127.0.0.1", port))
