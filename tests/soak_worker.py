"""Standalone serve-daemon endurance soak (run in its OWN process —
see tests/test_http_server.py::test_serve_daemon_endurance_soak for
why: the 4000-request load belongs on a fresh JVM, both because leak
bounds are only meaningful against a quiescent baseline and because
r12's in-suite run showed the load can kill a ~190-test-old session
outright under this host's GCLocker pressure phases, taking every
later test down with it).

Usage: python soak_worker.py <sf_dir> <lattice_dir>
Prints "SOAK OK ..." on success; any assertion raises (rc != 0).
"""

import gc
import json
import os
import sys
import time
import urllib.error
import urllib.parse
import urllib.request
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from opl_spark.api import OlapApi
from opl_spark.cube import CubeEngine
from opl_spark.facts import (
    build_accessions_fact,
    build_loans_fact,
    default_catalog,
)
from opl_spark.rollups import RollupStore
from opl_spark.server import OlapHttpServer
from opl_spark.session import get_spark


def _rss_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _get(srv, path, params=None):
    url = f"http://127.0.0.1:{srv.port}{path}"
    if params:
        url += "?" + urllib.parse.urlencode(params)
    with urllib.request.urlopen(url, timeout=60) as resp:
        return resp.status, resp.read()


def main(sf_dir: str, lattice_dir: str) -> None:
    spark = get_spark(app_name="opl-soak", shuffle_partitions=8)
    engine = CubeEngine(default_catalog())
    engine.register_fact("loans2", build_loans_fact(spark, sf_dir))
    engine.register_fact("accessions", build_accessions_fact(spark, sf_dir))
    store = RollupStore(spark, lattice_dir)
    store.materialize(
        engine,
        "loans2",
        [["year", "month"], ["year", "month", "day", "loan_type"]],
    )
    api = OlapApi(engine, rollups=store, plan_cache_size=8)

    # 18 distinct shapes; the 10 /aggregate ones (the only cached route)
    # exceed the 8 cache slots -> steady eviction churn
    shapes = []
    for year in ("1996", "1997"):
        for dd in ("date", "organization_level", "loan_type"):
            shapes.append(("/olap/loans2/aggregate",
                           {"cut": f"date:{year}", "drilldown": dd,
                            "measure": "value"}))
            shapes.append(("/olap/loans2/explain",
                           {"cut": f"date:{year}", "drilldown": dd,
                            "measure": "value"}))
    for dd in ("date", "organization_level"):
        shapes.append(("/olap/loans2/aggregate",
                       {"drilldown": dd, "measure": "loans",
                        "aggregate": "count"}))
        shapes.append(("/olap/loans2/aggregate",
                       {"drilldown": dd, "measure": "value",
                        "share": "true"}))
    shapes.append(("/olap/drill_across",
                   {"facts": "loans2,accessions", "drilldown": "date"}))
    shapes.append(("/olap/drill_across",
                   {"facts": "loans2,accessions",
                    "drilldown": "organization_level"}))
    assert len(shapes) == 18

    with OlapHttpServer(api) as srv:
        serial = []
        for path, params in shapes:
            status, body = _get(srv, path, params)
            assert status == 200, (path, params, body)
            serial.append(body)

        # JVM-side leak signal is post-GC USED HEAP, not OS RSS (the
        # JVM sizes its heap lazily and keeps the pages).  System.gc()
        # is advisory and can be skipped under a GCLocker storm, so
        # take the min over two spaced collections.
        rt = spark._jvm.java.lang.Runtime.getRuntime()

        def jvm_used_min() -> int:
            readings = []
            for _ in range(2):
                spark._jvm.java.lang.System.gc()
                time.sleep(0.5)
                readings.append(rt.totalMemory() - rt.freeMemory())
            return min(readings)

        jvm_used0 = jvm_used_min()
        gc.collect()
        py_rss0 = _rss_kb(os.getpid())

        n_threads, per_thread = 8, 500
        transient_5xx: list[str] = []

        def client(tid: int) -> int:
            ok = 0
            for i in range(per_thread):
                k = (tid * 7 + i) % len(shapes)
                path, params = shapes[k]
                # 5xx = engine transient (retryable by the server's
                # own 400/500 contract) — ONE retry, byte-identical;
                # 4xx = request error = test bug, never retried
                for attempt in (0, 1):
                    try:
                        status, body = _get(srv, path, params)
                        break
                    except urllib.error.HTTPError as exc:
                        detail = (
                            f"thread {tid} request {i} shape {k} {path} "
                            f"{params} -> {exc.code}: {exc.read()[:500]!r}"
                        )
                        if exc.code >= 500 and attempt == 0:
                            transient_5xx.append(detail)
                            continue
                        raise AssertionError(detail) from exc
                assert status == 200
                assert body == serial[k], (
                    f"thread {tid} request {i} diverged on shape {k}"
                )
                ok += 1
            return ok

        with ThreadPoolExecutor(max_workers=n_threads) as pool:
            done = list(pool.map(client, range(n_threads)))
        assert done == [per_thread] * n_threads
        # a systematic failure retries through every request — a flood,
        # not a trickle (budget 16/4000 = 0.4%)
        assert len(transient_5xx) <= 16, transient_5xx[:3]

    # entry bound: the response cache never outgrew its configured
    # size — it pins payloads, so an unbounded map is a leak by design
    with api._lock:
        assert len(api._cache) <= 8
    gc.collect()
    py_growth = _rss_kb(os.getpid()) - py_rss0
    assert py_growth < 400_000, f"python RSS grew {py_growth} kB"
    jvm_growth = jvm_used_min() - jvm_used0
    assert jvm_growth < 600 * 1024 * 1024, (
        f"JVM post-GC used heap grew {jvm_growth / 1e6:.0f} MB"
    )
    print(json.dumps({
        "msg": "SOAK OK",
        "requests": n_threads * per_thread,
        "transient_5xx": len(transient_5xx),
        "py_rss_growth_kb": py_growth,
        "jvm_heap_growth_mb": round(jvm_growth / 1e6, 1),
    }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
