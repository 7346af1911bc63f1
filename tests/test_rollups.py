"""Aggregate-navigator tests: materialized rollup lattice + routing
must answer cube queries identically to the base engine (the routed
path is pre-aggregation, not approximation)."""

from __future__ import annotations

import json
import os

import pytest

from opl_spark.cube import CubeEngine
from opl_spark.facts import build_loans_fact, default_catalog
from opl_spark.rollups import RollupStore


@pytest.fixture(scope="module")
def navigator(spark, sf_dir, tmp_path_factory):
    engine = CubeEngine(default_catalog())
    engine.register_fact("loans2", build_loans_fact(spark, sf_dir))
    store = RollupStore(spark, str(tmp_path_factory.mktemp("lattice")))
    store.materialize(
        engine,
        "loans2",
        [
            ["year", "month"],
            ["year", "month", "day", "loan_type"],
            ["consortia_id", "consortia_label", "library_id", "year", "month", "day"],
        ],
    )
    return engine, store


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _listed(manifest_path) -> set[str]:
    """The rollup directory names a published manifest lists."""
    with open(manifest_path) as fh:
        rollups = json.load(fh)["rollups"]
    return {info.get("dir", key) for key, info in rollups.items()}


def _fails_on_write(monkeypatch):
    """Make every rollup write job fail on its executors: the written
    frame gets an ``assert_true`` that no constant folding can decide
    before the job runs."""
    from pyspark.sql import functions as F

    import opl_spark.rollups as rollups

    write = rollups.write_counted

    def failing(df, path, name):
        return write(df.where(F.assert_true(F.spark_partition_id() < 0).isNull()), path, name)

    monkeypatch.setattr(rollups, "write_counted", failing)


def _dies_halfway(obj, fh, **kwargs):
    fh.write(json.dumps(obj, **kwargs)[:40])
    raise OSError("disk full")


@pytest.mark.parametrize(
    "kwargs",
    [
        dict(cut="date:1996", drilldown="date", measure="value"),
        dict(cut="date:1996,10", drilldown="date:day", measure="value"),
        dict(drilldown="date", measure="value", aggregate="avg"),
        dict(drilldown="date|loan_type", measure="loans", aggregate="count"),
        dict(
            cut="loan_type:O",
            drilldown="organization_level:library_id",
            measure="value",
        ),
        dict(measure="value"),  # grand total, no drilldown
    ],
)
@pytest.mark.slow  # r14 slow tier
def test_routed_equals_base_engine(navigator, kwargs):
    engine, store = navigator
    base = engine.aggregate("loans2", **kwargs)
    routed = store.aggregate(engine, "loans2", **kwargs)
    assert routed.columns == base.columns
    assert _rows(routed) == _rows(base)


def test_route_picks_smallest_covering_rollup(navigator):
    engine, store = navigator

    def report(drilldown):
        return store.route_report(engine, "loans2", drilldown=drilldown)

    assert report("date:month")["rollup"] == "year__month"  # smallest covering
    assert report("date:month|loan_type")["rollup"] == "year__month__day__loan_type"
    assert report("segment")["routed"] is False


def test_manifest_rows_equal_the_written_rollups(navigator, spark):
    """``materialize`` counts each rollup on its write (an Observation),
    not by re-reading it; the count must be the rows on disk."""
    _, store = navigator
    rollups = store._lattice("loans2")[1]["rollups"]
    assert len(rollups) == 3
    for key, info in rollups.items():
        path = os.path.join(store._fact_dir("loans2"), info["dir"])
        assert info["rows"] == spark.read.parquet(path).count(), key


def test_interrupted_manifest_write_keeps_the_previous_lattice(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A ``materialize`` whose manifest write dies halfway leaves the
    published manifest whole: requests keep routing on the previous
    lattice, and no temp file is left beside it."""
    engine = CubeEngine(default_catalog())
    engine.register_fact("loans2", build_loans_fact(spark, sf_dir))
    store = RollupStore(spark, str(tmp_path / "lattice"))
    store.materialize(engine, "loans2", [["year", "month"]])
    by_month = dict(drilldown="date:month", measure="value")
    assert store.route_report(engine, "loans2", **by_month)["rollup"] == "year__month"

    monkeypatch.setattr("opl_spark.rollups.json.dump", _dies_halfway)
    with pytest.raises(OSError, match="disk full"):
        store.materialize(engine, "loans2", [["loan_type"]])
    monkeypatch.undo()

    for s in (store, RollupStore(spark, str(tmp_path / "lattice"))):
        assert s.route_report(engine, "loans2", **by_month)["rollup"] == "year__month"
        assert s.route_report(engine, "loans2", drilldown="loan_type")["routed"] is False
    assert not list((tmp_path / "lattice" / "loans2").glob("_LATTICE.json.*"))
    assert _rows(store.aggregate(engine, "loans2", **by_month)) == _rows(
        engine.aggregate("loans2", **by_month)
    )


def test_non_derivable_aggregate_falls_back(navigator):
    engine, store = navigator
    base = engine.aggregate(
        "loans2", drilldown="date", measure="value", aggregate="median"
    )
    routed = store.aggregate(
        engine, "loans2", drilldown="date", measure="value", aggregate="median"
    )
    assert _rows(routed) == _rows(base)


def test_uncovered_query_falls_back(navigator):
    engine, store = navigator
    kwargs = dict(drilldown="segment", measure="value")
    base = engine.aggregate("loans2", **kwargs)
    routed = store.aggregate(engine, "loans2", **kwargs)
    assert _rows(routed) == _rows(base)


def test_partial_rematerialize_drops_stale_rollups(spark, sf_dir, tmp_path):
    """Re-materializing part of the lattice after an append must not
    stamp the new fact version over the rollups it did not rebuild:
    the pre-append ``loan_type`` rollup is dropped, the request falls
    back to the fact, and the rollup's files go one publish later."""
    import pyspark.sql.functions as F

    full = build_loans_fact(spark, sf_dir)
    fact_dir = str(tmp_path / "fact")
    full.filter(F.col("year") < 2000).write.parquet(fact_dir)
    engine = CubeEngine(default_catalog())
    engine.register_fact("loans2", spark.read.parquet(fact_dir))
    store = RollupStore(spark, str(tmp_path / "lattice"))
    first = store.materialize(engine, "loans2", [["year", "month"], ["loan_type"]])
    loan_type_dir = tmp_path / "lattice" / "loans2" / first["rollups"]["loan_type"]["dir"]

    # nightly append, then re-register the fact and rebuild one rollup
    full.filter(F.col("year") >= 2000).write.mode("append").parquet(fact_dir)
    engine.register_fact("loans2", spark.read.parquet(fact_dir))
    store.materialize(engine, "loans2", [["year", "month"]])

    by_type = dict(drilldown="loan_type", measure="value")
    assert store.route_report(engine, "loans2", **by_type)["routed"] is False
    assert "loan_type" not in store._lattice("loans2")[1]["rollups"]
    assert _rows(store.aggregate(engine, "loans2", **by_type)) == _rows(
        engine.aggregate("loans2", **by_type)
    )
    # the rebuilt rollup is fresh and still answers
    by_month = dict(drilldown="date:month", measure="value")
    assert store.route_report(engine, "loans2", **by_month)["rollup"] == "year__month"
    assert _rows(store.aggregate(engine, "loans2", **by_month)) == _rows(
        engine.aggregate("loans2", **by_month)
    )
    assert loan_type_dir.exists()  # the replaced manifest still lists it
    store.materialize(engine, "loans2", [["year", "month"]])
    assert not loan_type_dir.exists()


def test_held_rollup_frame_outlives_a_rematerialize(spark, sf_dir, tmp_path):
    """A routed answer planned before a re-materialize of the same
    groupings and collected after it reads the files it was planned
    over: a directory outlives the publish that drops it."""
    engine = CubeEngine(default_catalog())
    engine.register_fact("loans2", build_loans_fact(spark, sf_dir))
    store = RollupStore(spark, str(tmp_path / "lattice"))
    store.materialize(engine, "loans2", [["year", "month"]])
    by_month = dict(drilldown="date:month", measure="value")
    held = store.aggregate(engine, "loans2", **by_month)
    store.materialize(engine, "loans2", [["year", "month"]])
    assert _rows(held) == _rows(engine.aggregate("loans2", **by_month))


def test_failed_rollup_write_keeps_the_previous_lattice(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A re-materialize whose rollup write job fails publishes nothing
    and touches no listed directory: the previous lattice keeps routing
    and answering, in this store and in a fresh one."""
    engine = CubeEngine(default_catalog())
    engine.register_fact("loans2", build_loans_fact(spark, sf_dir))
    store = RollupStore(spark, str(tmp_path / "lattice"))
    store.materialize(engine, "loans2", [["year", "month"]])
    by_month = dict(drilldown="date:month", measure="value")

    _fails_on_write(monkeypatch)
    with pytest.raises(Exception, match="is not true"):
        store.materialize(engine, "loans2", [["year", "month"]])
    monkeypatch.undo()

    want = _rows(engine.aggregate("loans2", **by_month))
    for s in (store, RollupStore(spark, str(tmp_path / "lattice"))):
        assert s.route_report(engine, "loans2", **by_month)["rollup"] == "year__month"
        assert _rows(s.aggregate(engine, "loans2", **by_month)) == want


@pytest.mark.parametrize("failure", ["rollup_write", "manifest_write"])
def test_next_publish_deletes_what_a_failed_materialize_left(
    spark, sf_dir, tmp_path, monkeypatch, failure
):
    """After a materialize fails at its rollup write or at its manifest
    write, the next successful one leaves no directory that neither its
    manifest nor the one it replaced lists."""
    engine = CubeEngine(default_catalog())
    engine.register_fact("loans2", build_loans_fact(spark, sf_dir))
    store = RollupStore(spark, str(tmp_path / "lattice"))
    store.materialize(engine, "loans2", [["year", "month"]])

    if failure == "rollup_write":
        _fails_on_write(monkeypatch)
    else:
        monkeypatch.setattr("opl_spark.rollups.json.dump", _dies_halfway)
    with pytest.raises(Exception):
        store.materialize(engine, "loans2", [["loan_type"]])
    monkeypatch.undo()

    manifest = store._manifest_path("loans2")
    replaced = _listed(manifest)
    store.materialize(engine, "loans2", [["year", "month"]])
    fact_dir = tmp_path / "lattice" / "loans2"
    on_disk = {p.name for p in fact_dir.iterdir() if p.is_dir()}
    assert on_disk <= replaced | _listed(manifest)


def test_api_routes_through_lattice_identically(navigator):
    from opl_spark.api import OlapApi

    engine, store = navigator
    plain = OlapApi(engine)
    routed = OlapApi(engine, rollups=store)
    for params in (
        {"cut": "date:1996", "drilldown": "date", "measure": "value"},
        {"drilldown": "date|loan_type", "measure": "loans",
         "aggregate": "count", "output": "table"},
        {"cut": "date:2050", "drilldown": "date", "measure": "value"},  # empty
        # extension params bypass the lattice but must still answer
        {"drilldown": "date", "measure": "value", "top_n": "2"},
    ):
        a = plain.handle("/olap/loans2/aggregate", dict(params))
        b = routed.handle("/olap/loans2/aggregate", dict(params))
        assert a == b, params


def test_advise_recommends_covering_groupings(spark, sf_dir, tmp_path):
    """The lattice advisor: from a skewed query log it must (a) rank a
    grouping that covers the hot query shapes first, (b) estimate its
    rows below the fact's, and (c) hand back groupings that actually
    route those queries once materialized."""
    from opl_spark.rollups import RollupStore

    engine = CubeEngine(default_catalog())
    engine.register_fact("loans2", build_loans_fact(spark, sf_dir))
    store = RollupStore(spark, str(tmp_path / "lat"))
    log = (
        [{"cut": "date:1996", "drilldown": "date", "measure": "value"}] * 5
        + [{"drilldown": "date", "measure": "value", "aggregate": "avg"}] * 3
        + [{"cut": "loan_type:O", "drilldown": "loan_type", "measure": "value"}]
        + [{"drilldown": "date", "measure": "value", "aggregate": "median"}]
    )
    recs = store.advise(engine, "loans2", log, max_rollups=3)
    assert recs and len(recs) <= 3
    fact_rows = engine.frame("loans2").count()
    for r in recs:
        assert 0 < r["est_rows"] < fact_rows
        assert r["benefit"] > 0
    # greedy picks come back benefit-ranked, every DERIVABLE query
    # shape ends up covered by some pick, and the non-derivable median
    # query is never counted (9 derivable entries in the log)
    assert recs == sorted(recs, key=lambda r: -r["benefit"])
    assert sum(r["covers"] for r in recs) == len(log) - 1
    # materializing exactly the advice routes the hot query shape
    store.materialize(engine, "loans2", [r["cols"] for r in recs])
    for params in (
        dict(cut="date:1996", drilldown="date", measure="value"),
        dict(drilldown="date", measure="value", aggregate="avg"),
    ):
        routed = store.aggregate(engine, "loans2", **params)
        base = engine.aggregate("loans2", **params)
        assert _rows(routed) == _rows(base), params


@pytest.mark.slow  # r14 slow tier
def test_full_pinned_mix_routes_and_matches(spark, sf_dir, tmp_path):
    """r12 verdict task 5: the ENTIRE 10-shape pinned interactive mix
    (bench.py _LATENCY_SHAPES — every grammar surface the HTTP API
    serves, including share/having/top_n post-processing) must (a)
    route through an advise→materialize lattice, per-shape receipts
    included, and (b) answer identically to the base engine."""
    import bench

    engine = CubeEngine(default_catalog())
    engine.register_fact("loans2", build_loans_fact(spark, sf_dir))
    store = RollupStore(spark, str(tmp_path / "lattice"))
    picked = store.advise(
        engine, "loans2", bench._LATENCY_SHAPES, max_rollups=10
    )
    store.materialize(engine, "loans2", [p["cols"] for p in picked])

    receipts = {}
    for i, kw in enumerate(bench._LATENCY_SHAPES):
        receipts[i] = store.route_report(engine, "loans2", **kw)
        base = engine.aggregate("loans2", **kw)
        routed = store.aggregate(engine, "loans2", **kw)
        assert routed.columns == base.columns, (i, kw)
        assert _rows(routed) == _rows(base), (i, kw)
    unrouted = {i: r for i, r in receipts.items() if not r["routed"]}
    assert not unrouted, f"pinned-mix shapes not routed: {unrouted}"


def test_post_processing_rides_the_routed_result(navigator):
    """share/having/top_n on a ROUTED core must not silently fall back
    to the fact scan: the route_report stays routed (post params are
    report-sized), and results match the base engine."""
    engine, store = navigator
    kwargs = dict(
        cut="date:1996", drilldown="date", measure="value",
        share=True, having="value >= 0", top_n=3,
    )
    rep = store.route_report(engine, "loans2", **kwargs)
    assert rep["routed"], rep
    base = engine.aggregate("loans2", **kwargs)
    routed = store.aggregate(engine, "loans2", **kwargs)
    assert routed.columns == base.columns
    assert _rows(routed) == _rows(base)


def test_version_cache_pins_frame_and_checks_identity(navigator):
    """The request-path version cache holds one entry per fact name —
    the entry must PIN the frame it describes and validate identity on
    hit, so a different frame under the same fact recomputes."""
    engine, store = navigator
    f1 = engine.frame("loans2")
    v1 = store._fact_version_cached("loans2", f1)
    assert store._fact_version_cached("loans2", f1) == v1  # stable on re-ask
    ent = store._version_cache["loans2"]
    assert ent[0] is f1 and ent[1] == v1  # the frame itself is pinned
    # a hit whose stored object is NOT the caller's frame must recompute
    f2 = f1.sparkSession.createDataFrame([(1,)], "x long")
    store._version_cache["other"] = (f1, "stale-version")
    assert store._fact_version_cached("other", f2) != "stale-version"
    assert store._version_cache["other"][0] is f2


def test_version_cache_keeps_one_entry_per_fact(spark, sf_dir, tmp_path):
    """Re-registering a fact replaces its version-cache entry instead of
    pinning every frame ever registered, and each route sees the
    version of the frame registered at the time."""
    from opl_spark.rollups import _fact_version

    full = build_loans_fact(spark, sf_dir)
    fact_dir = str(tmp_path / "fact")
    years = sorted({r["year"] for r in full.select("year").distinct().collect()})
    engine = CubeEngine(default_catalog())
    store = RollupStore(spark, str(tmp_path / "lattice"))
    kwargs = dict(drilldown="date", measure="value")
    for i in range(3):
        full.filter(full["year"] == years[i % len(years)]).write.mode(
            "append"
        ).parquet(fact_dir)
        frame = spark.read.parquet(fact_dir)
        engine.register_fact("loans2", frame)
        if i == 0:
            store.materialize(engine, "loans2", [["year", "month"]])
        assert store.route_report(engine, "loans2", **kwargs)["routed"] is (i == 0)
        assert [v for f, v in store._version_cache.values() if f is frame] == [
            _fact_version(frame)
        ]
    assert len(store._version_cache) == 1


def test_routed_min_max_and_multi_measure_equal_base(navigator):
    """Decimal min/max partials (round(double, 2) out) and several
    measures in one request route through a rollup and answer exactly
    as the base engine."""
    engine, store = navigator
    kwargs = dict(drilldown="date", measure="value|min_value|max_value|loans")
    assert store.route_report(engine, "loans2", **kwargs)["routed"]
    base = engine.aggregate("loans2", **kwargs)
    routed = store.aggregate(engine, "loans2", **kwargs)
    assert routed.columns == base.columns == [
        "year", "value", "min_value", "max_value", "loans",
    ]
    assert routed.schema == base.schema
    assert _rows(routed) == _rows(base)


def test_manifest_with_fractional_field_still_routes(spark, sf_dir, tmp_path):
    """A lattice manifest in the earlier format, which records a
    ``fractional`` flag per measure, routes and answers the same."""
    import json

    from pyspark.sql import types as T

    engine = CubeEngine(default_catalog())
    engine.register_fact("loans2", build_loans_fact(spark, sf_dir))
    store = RollupStore(spark, str(tmp_path / "lattice"))
    store.materialize(engine, "loans2", [["year", "month"]])
    path = store._manifest_path("loans2")
    with open(path) as fh:
        manifest = json.load(fh)
    schema = engine.frame("loans2").schema
    for info in manifest["measures"].values():
        info["fractional"] = isinstance(
            schema[info["physical"]].dataType, T.FractionalType
        )
    assert any(i["fractional"] for i in manifest["measures"].values())
    with open(path, "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    kwargs = dict(drilldown="date", measure="value|min_value|max_value|loans")
    assert store.route_report(engine, "loans2", **kwargs)["rollup"] == "year__month"
    base = engine.aggregate("loans2", **kwargs)
    routed = store.aggregate(engine, "loans2", **kwargs)
    assert routed.dtypes == base.dtypes
    assert _rows(routed) == _rows(base)


def test_each_request_is_planned_once(navigator, monkeypatch):
    """One ``RollupStore.aggregate`` plans its request once, whether it
    routes, falls back for coverage, or falls back for a non-derivable
    aggregate; a disallowed aggregate is still a ValueError, which the
    HTTP API answers with 400."""
    import json
    import urllib.error
    import urllib.parse
    import urllib.request

    from opl_spark.api import OlapApi
    from opl_spark.server import OlapHttpServer

    engine, store = navigator
    calls = []
    plan = CubeEngine._plan

    def counted(self, *args, **kwargs):
        calls.append(args)
        return plan(self, *args, **kwargs)

    monkeypatch.setattr(CubeEngine, "_plan", counted)
    for kwargs, routed in (
        (dict(cut="date:1996", drilldown="date", measure="value"), True),
        (dict(cut="date:1996,3,1-1996,3,28", drilldown="segment"), False),
        (dict(drilldown="date", measure="value", aggregate="median"), False),
    ):
        assert store.route_report(engine, "loans2", **kwargs)["routed"] is routed
        calls.clear()
        store.aggregate(engine, "loans2", **kwargs)
        assert len(calls) == 1, kwargs

    bad = dict(measure="loans", aggregate="sum")
    with pytest.raises(ValueError, match="does not allow aggregate 'sum'"):
        store.aggregate(engine, "loans2", **bad)
    with OlapHttpServer(OlapApi(engine, rollups=store)) as srv:
        url = (
            f"http://127.0.0.1:{srv.port}/olap/loans2/aggregate?"
            + urllib.parse.urlencode(bad)
        )
        with pytest.raises(urllib.error.HTTPError) as exc:
            urllib.request.urlopen(url, timeout=60)
    assert exc.value.code == 400
    assert "does not allow" in json.loads(exc.value.read())["error"]
