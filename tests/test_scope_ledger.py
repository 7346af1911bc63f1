"""The parquet scope ledger behind ``SnapshotEngine.already_executed``:
one ``.done`` marker per snapshotted (queryId, scope) under
``<fact>/_scopes/``, a ``.pending`` marker while ``run`` appends, a
one-time rebuild from the data for a fact without a ledger, and every
other change to the fact's files dropping the ledger."""

import os

import pytest
from pyspark.sql import functions as F

from opl_spark.snapshot import LEDGER_DIR, FactQuery, SnapshotEngine
from opl_spark.sources import register_sources
from opl_spark.timescope import gate

REGION = "SELECT r_regionkey AS k, r_name AS name FROM region"
DAYS = ("1998-06-30", "1998-07-01")


@pytest.fixture(scope="module")
def registered(spark, sf_dir):
    register_sources(spark, sf_dir)
    return spark


def _ledger(tmp_path, fact):
    return tmp_path / fact / LEDGER_DIR


def _markers(tmp_path, fact):
    d = _ledger(tmp_path, fact)
    return sorted(n for n in os.listdir(d) if not n.startswith(".")) if d.exists() else []


def _jobs_during(spark, group, fn):
    """(fn(), number of Spark jobs fn ran), via a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "scope ledger job-count probe")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_zero_row_first_scope_does_not_break_later_runs(registered, tmp_path):
    """A fact whose first scope writes 0 rows holds only ``_SUCCESS``:
    it has no data to read, so the next run must not try to read it."""
    spark = registered
    spark.range(3).selectExpr("id AS k").createOrReplaceTempView("t_zero")
    eng = SnapshotEngine(spark, str(tmp_path))
    fq = [FactQuery(1, "f_zero", "SELECT k FROM t_zero WHERE DATE '1998-06-01' < @date")]
    assert eng.run("1998-06-01", fq) == {"f_zero": 0}
    assert not eng.exists("f_zero")
    assert eng.run("1998-06-02", fq) == {"f_zero": 3}
    assert eng.exists("f_zero")
    assert eng.run("1998-06-02", fq) == {}


def test_zero_row_scope_reruns(registered, tmp_path):
    """A scope that wrote 0 rows gets no ``.done`` marker, so the next
    run of the same day executes it again (a scan would find no row of
    it either)."""
    spark = registered
    eng = SnapshotEngine(spark, str(tmp_path))
    fq = [FactQuery(1, "f_late", "SELECT k FROM t_late")]
    spark.range(0).selectExpr("id AS k").createOrReplaceTempView("t_late")
    assert eng.run("1998-06-01", fq) == {"f_late": 0}
    assert _markers(tmp_path, "f_late") == []
    spark.range(4).selectExpr("id AS k").createOrReplaceTempView("t_late")
    assert eng.run("1998-06-01", fq) == {"f_late": 4}
    assert _markers(tmp_path, "f_late") == ["q1_1998_6_Y1998-W23_152.done"]
    assert eng.run("1998-06-01", fq) == {}


def test_crashed_write_fails_loudly(registered, tmp_path):
    """A run that dies between the append and the ``.done`` marker
    leaves ``.pending`` beside committed rows: the next probe raises
    naming the fact and the scope, and never skips it as done (nor
    appends it twice).  Maintenance that would drop the evidence
    refuses too."""
    spark = registered
    eng = SnapshotEngine(spark, str(tmp_path))
    fq = [FactQuery(1, "f_crash", REGION)]
    eng.run(DAYS[0], fq)
    orig = eng.write

    def dies_after_append(df, fact, **kw):
        orig(df, fact, **kw)
        raise RuntimeError("driver killed")

    eng.write = dies_after_append
    with pytest.raises(RuntimeError, match="driver killed"):
        eng.run(DAYS[1], fq)
    eng.write = orig
    assert _markers(tmp_path, "f_crash") == [
        "q1_1998_6_Y1998-W27_181.done",
        "q1_1998_7_Y1998-W27_182.pending",
    ]
    with pytest.raises(RuntimeError, match=r"f_crash.*'day': 182.*never committed"):
        eng.run(DAYS[1], fq)
    assert eng.fact_frame("f_crash").count() == 10  # 5 rows per scope, once
    assert eng.run(DAYS[0], fq) == {}  # other scopes still answer
    with pytest.raises(RuntimeError, match="q1_1998_7_Y1998-W27_182"):
        eng.compact("f_crash")
    assert _markers(tmp_path, "f_crash")[-1].endswith(".pending")


def test_fact_without_ledger_is_scanned_once(registered, tmp_path):
    """A fact written before the ledger existed: the first probe scans
    its distinct scopes once and fills the ledger (NULLed fields of a
    monthly scope included); later probes run no Spark job."""
    import shutil

    spark = registered
    eng = SnapshotEngine(spark, str(tmp_path))
    facts = [
        FactQuery(1, "f_old", REGION),
        FactQuery(2, "f_old", REGION, cron="monthly"),
    ]
    for d in DAYS:
        eng.run(d, facts)
    want = _markers(tmp_path, "f_old")
    assert want == [
        "q1_1998_6_Y1998-W27_181.done",
        "q1_1998_7_Y1998-W27_182.done",
        "q2_1998_6__.done",
    ]
    shutil.rmtree(_ledger(tmp_path, "f_old"))

    scans = []
    frame = eng.fact_frame
    eng.fact_frame = lambda fact: scans.append(fact) or frame(fact)
    out, jobs = _jobs_during(spark, "ledger-rebuild", lambda: [eng.run(d, facts) for d in DAYS])
    assert out == [{}, {}] and jobs > 0 and scans == ["f_old"]
    assert _markers(tmp_path, "f_old") == want
    out, jobs = _jobs_during(spark, "ledger-probe", lambda: [eng.run(d, facts) for d in DAYS])
    assert out == [{}, {}] and jobs == 0 and scans == ["f_old"]
    # the ledger is invisible to fact reads
    assert not any(LEDGER_DIR in f for f in frame("f_old").inputFiles())
    assert frame("f_old").count() == 15


@pytest.mark.parametrize("op", ["compact", "upsert", "write"])
def test_fact_changes_drop_the_ledger(registered, tmp_path, op):
    """Every change to a fact's files other than ``run``'s own append
    drops the ledger; the next run rebuilds it and still skips every
    scope that holds rows."""
    spark = registered
    eng = SnapshotEngine(spark, str(tmp_path))
    fq = [FactQuery(1, "f_chg", REGION)]
    for d in DAYS:
        eng.run(d, fq)
    assert len(_markers(tmp_path, "f_chg")) == 2
    if op == "compact":
        eng.compact("f_chg")
    elif op == "upsert":
        patch = eng.fact_frame("f_chg").filter(F.col("day") == 181)
        eng.upsert(patch.withColumn("name", F.lower("name")), "f_chg", ["day", "k"])
    else:
        eng.write(eng.fact_frame("f_chg").filter(F.col("day") == 182), "f_chg")
    assert not _ledger(tmp_path, "f_chg").exists()
    assert [eng.run(d, fq) for d in DAYS] == [{}, {}]
    assert len(_markers(tmp_path, "f_chg")) == 2


def test_ledger_matches_a_scan_of_the_data(registered, tmp_path):
    """Parity with the data: after daily and weekly runs, a probe from
    the ledger and a null-safe scan of the fact agree on every scope,
    run or not."""
    spark = registered
    eng = SnapshotEngine(spark, str(tmp_path))
    facts = [FactQuery(1, "f_par", REGION), FactQuery(3, "f_par", REGION, cron="weekly")]
    days = ["1998-06-27", "1998-06-28", "1998-06-29"]
    for d in days[:2]:
        eng.run(d, facts)
    df = eng.fact_frame("f_par")
    for d in days:
        for f in facts:
            scope = gate(d, f.cron)
            if scope is None:
                continue
            cond = F.col("queryId") == f.query_id
            for k, v in scope.as_dict().items():
                cond = cond & F.col(k).eqNullSafe(F.lit(v))
            scanned = df.filter(cond).limit(1).count() > 0
            assert eng.already_executed("f_par", f.query_id, scope) == scanned
            assert scanned == (d != days[2])
