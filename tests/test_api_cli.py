"""API dispatcher + CLI: the reference's operational surface
(endpoints per api-library-olap/README.md:4-19; CLI flags per
OLAP.php:388-403) must work end to end over the synthetic star."""

import json

import pytest

from opl_spark.api import OlapApi
from opl_spark.cli import main as cli_main
from opl_spark.cube import CubeEngine
from opl_spark.facts import build_loans_fact, default_catalog


@pytest.fixture(scope="module")
def api(spark, sf_dir):
    eng = CubeEngine(default_catalog())
    eng.register_fact("loans2", build_loans_fact(spark, sf_dir))
    return OlapApi(eng)


def test_fact_tables_route(api):
    names = {f["name"] for f in api.handle("/olap/fact_tables")}
    assert {"loans2", "enabled_users"} <= names


def test_dimensions_route(api):
    dims = {d["name"]: d for d in api.handle("/olap/loans2/dimensions")}
    assert dims["date"]["hierarchies"] == [
        {"name": "calendar", "order": ["year", "month", "day"]},
        {"name": "iso_week", "order": ["iso_year", "week"]},
    ]
    assert dims["organization_level"]["levels"][0]["attributes"] == ["consortia_label"]


def test_measures_route(api):
    ms = {m["name"]: m for m in api.handle("/olap/loans2/measures")}
    assert ms["value"]["aggregates"] == ["sum", "avg", "median", "approx_median"]


def test_aggregate_route_matches_engine(api):
    resp = api.handle(
        "/olap/loans2/aggregate",
        {"cut": "date:1995", "drilldown": "loan_type", "measure": "value"},
    )
    direct = api.engine.aggregate(
        "loans2", cut="date:1995", drilldown="loan_type", measure="value"
    ).collect()
    assert resp["data"] == [r.asDict() for r in direct]
    assert len(resp["data"]) > 0


def test_aggregate_output_table_shape(api):
    table = api.handle(
        "/olap/loans2/aggregate",
        {"cut": "date:1995", "drilldown": "loan_type", "output": "table"},
    )
    assert table[0] == ["loan_type", "value"]
    assert len(table) > 1


def test_empty_dataset_marker(api):
    resp = api.handle(
        "/olap/loans2/aggregate", {"cut": "date:2099", "drilldown": "loan_type"}
    )
    assert resp == {"message": "empty_dataset"}


def test_unknown_route(api):
    with pytest.raises(KeyError):
        api.handle("/olap/loans2/nope")


def test_cli_add_then_aggregate(spark, sf_dir, tmp_path, capsys):
    from opl_spark.facts import ACTIVE_USERS_SQL

    settings = tmp_path / "olapSettings.json"
    settings.write_text(
        json.dumps(
            {
                "fact_tables": [
                    {
                        "name": "enabled_users",
                        "fact_queries": [
                            {"id": 1, "query": ACTIVE_USERS_SQL, "cron": "daily", "enable": 1}
                        ],
                    }
                ]
            }
        )
    )
    wh = str(tmp_path / "wh")
    rc = cli_main(
        [
            "-c", "add", "-d", "1998-06-01",
            "--settings", str(settings), "--sources", sf_dir, "--warehouse", wh,
        ]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["written"]["enabled_users"] > 0

    rc = cli_main(
        [
            "-c", "aggregate", "--warehouse", wh, "-f", "enabled_users",
            "--cut", "date:1998", "--drilldown", "age_group", "--measure", "value",
        ]
    )
    assert rc == 0
    resp = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    groups = {r["age_group"] for r in resp["data"]}
    assert groups and groups <= {"0-14", "15-25", "26-40", "41-60", "61+", "n/a"}


def test_script_source_end_to_end(spark, tmp_path):
    """S2 literal form (OLAP.php:73-79, 344-346): an olapSettings entry
    of type "script" executes the configured command with the pivot
    date appended, ingests its stdout JSON rows with the reference's
    first-row type inference (OLAP.php:251-285: int → LONG, date-string
    → DATETIME, everything else → STRING), and snapshots them."""
    import datetime
    import sys
    import textwrap

    from opl_spark.cli import load_settings
    from opl_spark.snapshot import SnapshotEngine

    script = tmp_path / "gen_rows.py"
    script.write_text(
        textwrap.dedent(
            """
            import json, sys
            pivot = sys.argv[1]  # the runner appends the pivot date
            rows = [
                {"library_id": 3, "label": "Main",   "snap_date": pivot, "ratio": 1.5},
                {"library_id": 7, "label": "Branch", "snap_date": pivot, "ratio": 2.25},
            ]
            print(json.dumps(rows))
            """
        )
    )
    settings = tmp_path / "olapSettings.json"
    settings.write_text(
        json.dumps(
            {
                "fact_tables": [
                    {
                        "name": "script_fact",
                        "fact_queries": [
                            {
                                "id": 9,
                                "query": {
                                    "type": "script",
                                    "value": f"{sys.executable} {script}",
                                },
                                "cron": "daily",
                                "enable": 1,
                            }
                        ],
                    }
                ]
            }
        )
    )
    facts = load_settings(str(settings))
    assert facts[0].query_type == "script"
    eng = SnapshotEngine(spark, str(tmp_path / "wh"))
    written = eng.run("1998-06-01", facts)
    assert written == {"script_fact": 2}

    df = eng.fact_frame("script_fact")
    types = dict(df.dtypes)
    assert types["library_id"] == "bigint"  # integer → LONG
    assert types["snap_date"] == "timestamp"  # date-string → DATETIME
    assert types["ratio"] == "string"  # the reference's default arm
    rows = {r["library_id"]: r for r in df.collect()}
    assert rows[3]["label"] == "Main"
    assert rows[3]["snap_date"] == datetime.datetime(1998, 6, 1)
    assert rows[7]["ratio"] == "2.25"
    assert rows[3]["queryId"] == 9 and rows[3]["year"] == 1998  # audit attached
    # idempotent re-run: same scope appends nothing (E4)
    assert eng.run("1998-06-01", facts) == {}


def test_cli_compact_and_vacuum(spark, sf_dir, tmp_path, capsys):
    """Maintenance commands: compact rewrites a fact's files; vacuum
    reports stale staging removal — both as one-line JSON like the
    other commands."""
    import os

    from opl_spark.facts import ACTIVE_USERS_SQL

    settings = tmp_path / "olapSettings.json"
    settings.write_text(
        json.dumps(
            {"fact_tables": [{"name": "enabled_users", "fact_queries": [
                {"id": 1, "query": ACTIVE_USERS_SQL, "cron": "daily", "enable": 1}
            ]}]}
        )
    )
    wh = str(tmp_path / "wh")
    assert cli_main([
        "-c", "add", "-d", "1998-06-01",
        "--settings", str(settings), "--sources", sf_dir, "--warehouse", wh,
    ]) == 0
    capsys.readouterr()
    assert cli_main(["-c", "compact", "--warehouse", wh, "-f", "enabled_users"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"compacted": "enabled_users"}
    # plant stale staging, vacuum reports it
    os.makedirs(os.path.join(wh, "enabled_users__compacting"), exist_ok=True)
    assert cli_main(["-c", "vacuum", "--warehouse", wh]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"removed": ["enabled_users__compacting"]}


def test_cli_advise_recommends_from_query_log(spark, sf_dir, tmp_path, capsys):
    """`-c advise` wires the lattice advisor to the operational surface:
    a warehouse fact + a JSON query log in, benefit-ranked
    materialization advice out."""
    from opl_spark.facts import ACTIVE_USERS_SQL

    settings = tmp_path / "olapSettings.json"
    settings.write_text(
        json.dumps(
            {
                "fact_tables": [
                    {
                        "name": "enabled_users",
                        "fact_queries": [
                            {"id": 1, "query": ACTIVE_USERS_SQL,
                             "cron": "daily", "enable": 1}
                        ],
                    }
                ]
            }
        )
    )
    wh = str(tmp_path / "wh")
    assert cli_main(
        ["-c", "add", "-d", "1998-06-01",
         "--settings", str(settings), "--sources", sf_dir, "--warehouse", wh]
    ) == 0
    capsys.readouterr()

    log = tmp_path / "qlog.json"
    log.write_text(
        json.dumps(
            [{"cut": "date:1998", "drilldown": "age_group", "measure": "value"}] * 4
            + [{"drilldown": "age_group", "measure": "value"}]
        )
    )
    assert cli_main(
        ["-c", "advise", "--warehouse", wh, "-f", "enabled_users",
         "--query-log", str(log), "--max-rollups", "2"]
    ) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["fact"] == "enabled_users"
    recs = out["recommendations"]
    assert recs and all(r["est_rows"] > 0 and r["cols"] for r in recs)
    assert sum(r["covers"] for r in recs) == 5

    # advice is actionable from the CLI alone: `-c materialize` writes
    # the top recommendation into the SHARED <warehouse>/_lattice
    # path, then `-c aggregate` answers THROUGH it — pinned at the
    # PLAN level via `--explain`'s scan_locations (output parity alone
    # is what broken routing produces too), with the same output as
    # the pre-materialize live run
    params = ["-c", "aggregate", "--warehouse", wh, "-f", "enabled_users",
              "--drilldown", "age_group", "--measure", "value"]
    assert cli_main(params) == 0
    before = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    assert cli_main(
        ["-c", "materialize", "--warehouse", wh, "-f", "enabled_users",
         "--grouping", ",".join(recs[0]["cols"])]
    ) == 0
    mat = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert mat["materialized"] and mat["materialized"][0]["rows"] > 0

    def explain_locations():
        assert cli_main(params + ["--explain"]) == 0
        report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        return " ".join(report["scan_locations"])

    assert "_lattice" in explain_locations(), (
        "CLI aggregate did not route through the materialized lattice"
    )
    assert cli_main(params) == 0
    after = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert after == before

    # staleness guard (route-time fact_version check): new snapshot
    # files appended after materialize make every rollup stale — the
    # CLI falls back to the live fact instead of serving pre-ingest
    # aggregates, and results stay correct
    assert cli_main(
        ["-c", "add", "-d", "1998-06-02",
         "--settings", str(settings), "--sources", sf_dir, "--warehouse", wh]
    ) == 0
    capsys.readouterr()
    assert "_lattice" not in explain_locations(), (
        "stale lattice still routed after new data was ingested"
    )
    # deliberately-broken store (manifest gone) must ALSO trip the
    # plan-level pin the way it trips the HTTP test, while output
    # stays live-engine-correct
    import os

    os.remove(os.path.join(wh, "_lattice", "enabled_users", "_LATTICE.json"))
    assert "_lattice" not in explain_locations()
    assert cli_main(params) == 0
    json.loads(capsys.readouterr().out.strip().splitlines()[-1])  # still serves


def test_cli_lsh_advise(capsys):
    """`-c lsh-advise` surfaces the banding advisor without a Spark
    session or warehouse: jaccard and cosine kinds, recommendation
    marked, budget factorized exactly."""
    assert cli_main(
        ["-c", "lsh-advise", "--lsh-threshold", "0.5",
         "--signature-budget", "64"]
    ) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["kind"] == "jaccard"
    pick = out["bandings"][0]
    assert pick["recommended"] and pick["bands"] * pick["rows_per_band"] == 64
    assert pick["recall_at_threshold"] >= 0.9

    assert cli_main(
        ["-c", "lsh-advise", "--lsh-threshold", "0.8", "--lsh-kind", "cosine",
         "--signature-budget", "24"]
    ) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["kind"] == "cosine"
    assert out["bandings"][0]["bit_agreement_at_threshold"] < 0.8

    # missing threshold and missing warehouse both fail loudly
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        cli_main(["-c", "lsh-advise"])
    with _pytest.raises(SystemExit):
        cli_main(["-c", "vacuum"])


def test_cli_explain_only_valid_on_aggregate(tmp_path, capsys):
    """--explain on a MUTATING command must refuse before any side
    effect (it previously fell through and ran the command); bad
    lsh-advise thresholds exit cleanly instead of raising a raw
    ValueError traceback."""
    import pytest as _pytest

    with _pytest.raises(SystemExit, match="only valid with -c aggregate"):
        cli_main(["-c", "vacuum", "--warehouse", str(tmp_path / "wh"),
                  "--explain"])
    assert not (tmp_path / "wh").exists()  # nothing ran
    with _pytest.raises(SystemExit, match="lsh-advise.*threshold"):
        cli_main(["-c", "lsh-advise", "--lsh-threshold", "1.0"])


@pytest.mark.slow  # r14 slow tier
def test_cli_srp_probe_closes_build_probe_append_loop(spark, sf_dir, tmp_path, capsys):
    """The CLI twin of test_srp_dedup_incremental_store (r9 verdict
    task 5): `-c srp-probe` alone closes the whole index lifecycle —
    batch 0 bootstraps the store (empty report), batch 1 detects a
    verbatim copy of a batch-0 vector via the appended signatures,
    --report-out lands the full parquet report, --no-append probes
    read-only, and missing args refuse loudly."""
    from pyspark.sql import functions as F

    from opl_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    store = str(tmp_path / "srp_store")
    b0_path = str(tmp_path / "batch0")
    b1_path = str(tmp_path / "batch1")
    emb.limit(5).write.parquet(b0_path)
    first = emb.orderBy("vec_id").first()
    spark.createDataFrame(
        [(900001, [float(v) for v in first["embedding"]])],
        "vec_id long, embedding array<double>",
    ).write.parquet(b1_path)

    # batch 0: bootstrap — store created, no dups, signatures appended
    assert cli_main(["-c", "srp-probe", "--store", store, "--batch", b0_path]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["store"] == store and out["appended"] is True
    assert out["bootstrap"] is True and out["dups"] == 0 and out["probed"] == 5

    # batch 1: the verbatim copy reports its batch-0 original at 1.0
    rep = str(tmp_path / "report")
    assert cli_main([
        "-c", "srp-probe", "--store", store, "--batch", b1_path,
        "--threshold", "0.95", "--report-out", rep,
    ]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["bootstrap"] is False and out["dups"] == 1
    row = spark.read.parquet(rep).first()
    assert (row["vec_id"], row["dup_of"], row["cos"]) == (
        900001, first["vec_id"], 1.0
    )

    # --no-append + --exclude-self: read-only replay-safe probe gives
    # the same single dup (its own appended signatures are invisible)
    n_store = spark.read.parquet(store).count()
    assert cli_main([
        "-c", "srp-probe", "--store", store, "--batch", b1_path,
        "--threshold", "0.95", "--no-append", "--exclude-self",
    ]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["dups"] == 1 and out["appended"] is False
    assert spark.read.parquet(store).count() == n_store  # untouched

    with pytest.raises(SystemExit, match="srp-probe requires"):
        cli_main(["-c", "srp-probe", "--store", store])
    with pytest.raises(SystemExit, match="needs columns"):
        cli_main(["-c", "srp-probe", "--store", store, "--batch",
                  str(sf_dir) + "/documents.parquet"])


def test_cli_srp_probe_prints_the_report_row_count(spark, sf_dir, tmp_path, capsys):
    """With --report-out the printed ``dups`` is the row count observed
    on the report write; it must equal the rows the report holds."""
    from opl_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    store = str(tmp_path / "srp_store")
    b0_path = str(tmp_path / "batch0")
    b1_path = str(tmp_path / "batch1")
    emb.orderBy("vec_id").limit(5).write.parquet(b0_path)
    spark.createDataFrame(
        [(900000 + r["vec_id"], [float(v) for v in r["embedding"]])
         for r in emb.orderBy("vec_id").limit(2).collect()],
        "vec_id long, embedding array<double>",
    ).write.parquet(b1_path)
    assert cli_main(["-c", "srp-probe", "--store", store, "--batch", b0_path]) == 0
    capsys.readouterr()

    rep = str(tmp_path / "report")
    assert cli_main([
        "-c", "srp-probe", "--store", store, "--batch", b1_path,
        "--threshold", "0.95", "--report-out", rep,
    ]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["dups"] == spark.read.parquet(rep).count() >= 2


def test_aggregate_plan_cache_reuses_and_invalidates(spark, sf_dir):
    """The response cache: an identical aggregate request returns the
    stored payload, different params and output kinds get their own
    entries, junk params share one, re-registering the fact
    invalidates structurally, and results are identical cached or
    not."""
    from pyspark.sql import functions as F

    eng = CubeEngine(default_catalog())
    eng.register_fact("loans2", build_loans_fact(spark, sf_dir))
    api = OlapApi(eng)
    agg = "/olap/loans2/aggregate"
    p = {"cut": "date:1997", "drilldown": "date", "measure": "loans"}

    r1 = api.handle(agg, p)
    assert api.handle(agg, p) is r1  # cache hit: the stored payload
    # unknown/ignored params must not mint new LRU slots (ADVICE r12)
    assert api.handle(agg, {**p, "junk": "1"}) is r1
    assert len(api._cache) == 1
    table = api.handle(agg, {**p, "output": "table"})
    r3 = api.handle(agg, {**p, "measure": "value"})
    assert len(api._cache) == 3 and r3 != r1 and table[0] == ["month", "loans"]

    # served results equal an uncached engine's
    uncached = OlapApi(eng, plan_cache_size=0)
    assert uncached.handle(agg, p) == r1

    # re-registration bumps the frame version -> a miss that builds
    # over the new frame (here: a filtered frame, so the answer changes)
    eng.register_fact(
        "loans2", build_loans_fact(spark, sf_dir).filter(F.col("month") <= 6)
    )
    after = api.handle(agg, p)
    assert after != r1  # a stale cache would have answered r1
    assert after == uncached.handle(agg, p)

    # malformed requests are not cached and still raise each time
    bad = {"cut": "date", "drilldown": "date"}
    for _ in range(2):
        with pytest.raises(ValueError):
            api.handle(agg, bad)


# -- response memo: a repeated /aggregate returns the payload it already
# built, so the repeat runs no Spark job ------------------------------------

P = {"cut": "date:1997", "drilldown": "date", "measure": "loans"}
AGG = "/olap/loans2/aggregate"


def _loans_api(spark, sf_dir, **kw):
    eng = CubeEngine(default_catalog())
    eng.register_fact("loans2", build_loans_fact(spark, sf_dir))
    return OlapApi(eng, **kw)


def _jobs_during(spark, group, fn):
    """(fn(), number of Spark jobs fn ran), via a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "response memo job-count probe")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_repeated_aggregate_runs_no_spark_job(spark, sf_dir):
    api = _loans_api(spark, sf_dir)
    first, jobs1 = _jobs_during(spark, "memo-first", lambda: api.handle(AGG, P))
    again, jobs2 = _jobs_during(spark, "memo-again", lambda: api.handle(AGG, P))
    assert jobs1 >= 1 and jobs2 == 0
    assert again is first  # the shared payload itself
    assert again == OlapApi(api.engine, plan_cache_size=0).handle(AGG, P)
    assert api.cache_stats()["hits"] == 1


def test_output_kinds_memoized_separately(spark, sf_dir):
    api = _loans_api(spark, sf_dir)
    table_p = {**P, "output": "table"}
    rows = api.handle(AGG, P)
    table = api.handle(AGG, table_p)
    assert "data" in rows and table[0] == ["month", "loans"]
    # two entries; each repeat gets its own kind back
    assert len(api._cache) == 2
    assert api.handle(AGG, table_p) is table
    assert api.handle(AGG, P) is rows
    assert api.cache_stats()["hits"] == 2


def test_errors_are_not_memoized(spark, sf_dir, tmp_path):
    import shutil

    api = _loans_api(spark, sf_dir)
    for _ in range(2):
        with pytest.raises(ValueError):  # 400: malformed cut
            api.handle(AGG, {"cut": "date", "drilldown": "date"})
        with pytest.raises(KeyError):  # 404: unknown fact
            api.handle("/olap/no_such_fact/aggregate", P)
    # 500: every build yields a plan whose execution fails
    doomed_dir = str(tmp_path / "doomed")
    spark.range(3).write.parquet(doomed_dir)
    doomed = spark.read.parquet(doomed_dir)
    shutil.rmtree(doomed_dir)
    api._build_aggregate_df = lambda fact, params: doomed
    for _ in range(2):
        with pytest.raises(Exception):
            api.handle(AGG, P)
    assert api._cache == {}
    assert api.cache_stats()["hits"] == 0


def test_plan_cache_size_zero_memoizes_nothing(spark, sf_dir):
    api = _loans_api(spark, sf_dir, plan_cache_size=0)
    first = api.handle(AGG, P)
    again, jobs = _jobs_during(spark, "memo-off", lambda: api.handle(AGG, P))
    assert again == first and again is not first
    assert jobs >= 1
    assert api._cache == {}
    assert set(api.cache_stats().values()) == {0}


def test_memo_entries_never_exceed_the_lru_bound(spark, sf_dir):
    api = _loans_api(spark, sf_dir, plan_cache_size=2)
    shapes = [
        {**P, "measure": m, "cut": f"date:{y}"}
        for y in ("1996", "1997")
        for m in ("loans", "value")
    ]
    for params in shapes + shapes[:1]:
        for kind in ({}, {"output": "table"}):
            api.handle(AGG, {**params, **kind})
            assert len(api._cache) <= 2
    # the wrap-around to shapes[0] found it evicted: no hit
    assert api.cache_stats() == {"hits": 0, "misses": 10, "evictions": 8}


def test_memo_invalidation(spark, sf_dir, tmp_path):
    """A lattice rewrite (materialize) and fact re-registration each
    retire the memoized response: the next
    request runs Spark again, and the request after it is answered
    from the fresh memo."""
    from opl_spark.rollups import RollupStore

    eng = CubeEngine(default_catalog())
    full = build_loans_fact(spark, sf_dir)
    eng.register_fact("loans2", full)
    store = RollupStore(spark, str(tmp_path / "lattice"))
    groupings = [["year", "month", "day", "loan_type"]]
    store.materialize(eng, "loans2", groupings)
    api = OlapApi(eng, rollups=store)
    expected = OlapApi(eng, plan_cache_size=0).handle(AGG, P)
    served = api.handle(AGG, P)
    assert served == expected

    changes = {
        "materialize": lambda: store.materialize(eng, "loans2", groupings),
        "register_fact": lambda: eng.register_fact("loans2", full),
    }
    for i, (name, change) in enumerate(changes.items()):
        version = store.lattice_version("loans2")
        change()
        if name == "materialize":
            assert store.lattice_version("loans2") != version, name
        fresh, jobs = _jobs_during(
            spark, f"memo-{name}", lambda: api.handle(AGG, P)
        )
        assert jobs >= 1 and fresh is not served and fresh == expected, name
        again, jobs = _jobs_during(
            spark, f"memo-{name}-again", lambda: api.handle(AGG, P)
        )
        assert jobs == 0 and again is fresh, name
        assert api.cache_stats()["hits"] == i + 1, name
        served = fresh


def test_cached_plan_retires_when_the_lattice_is_rewritten(spark, sf_dir, tmp_path):
    """A lattice re-materialized from different data over the SAME fact
    files (same fact_version, so the staleness guard still routes) must
    not be answered by a payload cached over the old lattice: the
    cache key includes the lattice version."""
    from pyspark.sql import functions as F

    from opl_spark.rollups import RollupStore

    eng = CubeEngine(default_catalog())
    full = build_loans_fact(spark, sf_dir)
    eng.register_fact("loans2", full)
    store = RollupStore(spark, str(tmp_path / "lattice"))
    store.materialize(eng, "loans2", [["year", "month"]])
    api = OlapApi(eng, rollups=store)
    params = {"drilldown": "date:month", "measure": "loans"}
    before = api.handle(AGG, params)

    filtered = CubeEngine(default_catalog())
    filtered.register_fact("loans2", full.filter(F.col("year") >= 1996))
    store.materialize(filtered, "loans2", [["year", "month"]])
    fresh = OlapApi(eng, rollups=store, plan_cache_size=0).handle(AGG, params)
    assert len(fresh["data"]) < len(before["data"])
    assert api.handle(AGG, params) == fresh


def test_cache_stats_count_every_path(spark, sf_dir):
    """Every /aggregate request for a known fact counts once, as a hit
    or a miss; /explain and unknown facts count nothing; a failed
    request is a miss that stores nothing."""
    api = _loans_api(spark, sf_dir, plan_cache_size=1)
    good = api.handle(AGG, P)  # miss
    assert api.handle(AGG, P) is good  # hit
    api.handle("/olap/loans2/explain", P)
    with pytest.raises(KeyError):
        api.handle("/olap/no_such_fact/aggregate", P)
    with pytest.raises(ValueError):  # miss, not stored
        api.handle(AGG, {"cut": "date", "drilldown": "date"})
    assert api.cache_stats() == {"hits": 1, "misses": 2, "evictions": 0}
    api.handle(AGG, {**P, "output": "table"})  # miss, evicts P
    assert api.handle(AGG, P) == good  # miss, evicts the table
    assert api.cache_stats() == {"hits": 1, "misses": 4, "evictions": 2}


def test_memo_under_concurrent_churn(spark, sf_dir):
    """More threads than cores hammer an LRU far smaller than the shape
    mix, with a short switch interval: every answer stays correct, the
    bound holds, and every request is counted exactly once (a hit or
    a miss) — a lost update under the lock breaks the sum."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    api = _loans_api(spark, sf_dir, plan_cache_size=2)
    requests = [
        {**P, "cut": f"date:{y}", **kind}
        for y in ("1995", "1996", "1997")
        for kind in ({}, {"output": "table"})
    ]
    plain = OlapApi(api.engine, plan_cache_size=0)
    expected = [plain.handle(AGG, p) for p in requests]
    n_threads, per_thread = 12, 12

    def client(tid: int) -> int:
        for i in range(per_thread):
            k = (tid * 5 + i) % len(requests)
            assert api.handle(AGG, requests[k]) == expected[k], (tid, i)
        return per_thread

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=n_threads) as pool:
            futures = [pool.submit(client, t) for t in range(n_threads)]
            done = [f.result(timeout=600) for f in futures]
    finally:
        sys.setswitchinterval(old)
    assert done == [per_thread] * n_threads
    with api._lock:
        assert len(api._cache) <= 2
    s = api.cache_stats()
    assert s["hits"] + s["misses"] == n_threads * per_thread, s
