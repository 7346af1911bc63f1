"""Unit semantics for the event-analytics / retrieval operators —
hand-sized cases where the expected output is computable by eye
(the DuckDB oracle covers the corpus-scale equality)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F


def _ev(spark, rows):
    return spark.createDataFrame(
        [(u, dt.datetime(2024, 1, d, h), t) for u, d, h, t in rows],
        "user_id long, ts timestamp, event_type string",
    )


@pytest.mark.slow  # r14 slow tier
def test_funnel_requires_strict_order(spark):
    from opl_spark.operators.analytics import funnel

    rows = [
        # user 1: full ordered funnel
        (1, 1, 1, "view"), (1, 1, 2, "click"), (1, 1, 3, "purchase"),
        # user 2: clicked BEFORE first view -> stops at view
        (2, 1, 2, "click"), (2, 1, 3, "view"),
        # user 3: view+click, purchase before click -> stops at click
        (3, 1, 1, "view"), (3, 1, 2, "purchase"), (3, 1, 3, "click"),
        # user 4: never viewed
        (4, 1, 1, "click"), (4, 1, 2, "purchase"),
    ]
    out = {
        r["step_name"]: r["n_users"]
        for r in funnel(
            _ev(spark, rows), "user_id", "ts", "event_type",
            ["view", "click", "purchase"],
        ).collect()
    }
    assert out == {"view": 3, "click": 2, "purchase": 1}


def test_funnel_counts_are_monotone_on_real_events(spark, sf_dir):
    from opl_spark import workload

    rows = workload.queries()["q_funnel"](spark, sf_dir).collect()
    ns = [r["n_users"] for r in sorted(rows, key=lambda r: r["step"])]
    assert len(ns) == 3 and ns[0] >= ns[1] >= ns[2] > 0


def test_retention_cohort_zero_offset_counts_every_user(spark):
    from opl_spark.operators.analytics import retention_cohorts

    rows = [
        (1, 1, 1, "view"), (1, 9, 1, "view"),   # week 0 + week 1 (Jan 8+)
        (2, 1, 1, "view"),                       # week 0 only
        (3, 9, 1, "view"), (3, 16, 1, "view"),  # cohort Jan 8, back Jan 15
    ]
    out = {
        (str(r["cohort_week"]), r["week_offset"]): r["n_users"]
        for r in retention_cohorts(_ev(spark, rows), "user_id", "ts").collect()
    }
    assert out == {
        ("2024-01-01", 0): 2,
        ("2024-01-01", 1): 1,
        ("2024-01-08", 0): 1,
        ("2024-01-08", 1): 1,
    }


def test_zscore_outliers_exact_hand_case(spark):
    from opl_spark.operators.analytics import zscore_outliers

    # a single spike among n rows has z = sqrt(n-1) exactly: with n=10
    # that is 3.0000... -> NOT an outlier under the strict > test, and
    # the exact integer arithmetic must see it as exactly equal (a
    # float variance would tip either way in the last ulp)
    vals = [10.0] * 9 + [110.0]
    df = spark.createDataFrame([("a", v) for v in vals], "grp string, value double")
    row = zscore_outliers(df, "grp", "value", z=3).first()
    assert (row["n"], row["n_outliers"], row["mean"]) == (10, 0, 20.0)
    # n=20: the spike's z = sqrt(19) > 3 -> strictly an outlier
    df2 = spark.createDataFrame(
        [("a", v) for v in [10.0] * 19 + [110.0]], "grp string, value double"
    )
    r2 = zscore_outliers(df2, "grp", "value", z=3).first()
    assert (r2["n"], r2["n_outliers"], r2["mean"]) == (20, 1, 15.0)


def test_bm25_prefers_term_dense_short_docs(spark):
    from opl_spark.operators.text import bm25_search

    df = spark.createDataFrame(
        [
            (1, "hash hash hash"),
            (2, "hash filler filler filler filler filler filler filler"),
            (3, "filler filler filler"),
        ],
        "doc_id long, text string",
    )
    rows = bm25_search(df, "text", "doc_id", ["hash"], k=3).collect()
    assert [r["doc"] for r in rows] == [1, 2]  # doc 3 never matches
    assert rows[0]["score"] > rows[1]["score"] > 0


def test_soft_dedup_sample_keeps_uniques_and_downsamples_dups(spark):
    from opl_spark.operators.sampling import soft_dedup_sample

    uniq = [(i, f"unique text {i}") for i in range(50)]
    dups = [(100 + i, "same text") for i in range(40)]
    df = spark.createDataFrame(uniq + dups, "doc_id long, text string")
    kept = soft_dedup_sample(df, "text", "doc_id").collect()
    by_copies = {}
    for r in kept:
        by_copies.setdefault(r["copies"], []).append(r["doc_id"])
    # copies=1 rows pass the gate with certainty (threshold = 2^32)
    assert sorted(by_copies[1]) == [i for i, _ in uniq]
    # the 40-copy group keeps ~1 row (0 is possible but the expected
    # mass is 1; allow a small band, exclude keeping most of them)
    assert len(by_copies.get(40, [])) <= 6
    # determinism: a second run picks the identical set
    again = sorted(r["doc_id"] for r in soft_dedup_sample(df, "text", "doc_id").collect())
    assert again == sorted(r["doc_id"] for r in kept)


def test_correlation_exact_hand_cases(spark, sf_dir):
    """Perfectly linear data gives corr exactly ±1.0 under the exact
    integer formula (a float pipeline would land at 0.999999x)."""
    from opl_spark import workload

    rows = [r for r in workload.queries()["q_correlation"](spark, sf_dir).collect()]
    assert all(-1.0 <= r["corr"] <= 1.0 for r in rows)

    # hand case through the same formula shape, built inline
    from pyspark.sql import functions as F

    big = "decimal(38,0)"
    df = spark.createDataFrame(
        [("a", float(i), 3 * i + 7) for i in range(10)]
        + [("b", float(i), -2 * i + 50) for i in range(10)],
        "grp string, value double, k long",
    )
    ev = df.select(
        "grp",
        F.round(F.col("value") * 100).cast("long").cast(big).alias("x"),
        F.col("k").cast(big).alias("y"),
    )
    st = ev.groupBy("grp").agg(
        F.count(F.lit(1)).cast(big).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    out = {r["grp"]: r["c"] for r in st.select("grp", F.round(num / den, 6).alias("c")).collect()}
    assert out == {"a": 1.0, "b": -1.0}


def test_event_transitions_counts_consecutive_pairs(spark):
    from opl_spark import workload  # noqa: F401  (query covered by oracle)
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    df = _ev(spark, [
        (1, 1, 1, "view"), (1, 1, 2, "click"), (1, 1, 3, "view"),
        (2, 1, 1, "view"), (2, 1, 2, "view"),
    ])
    w = Window.partitionBy("user_id").orderBy("ts")
    seq = df.select(
        F.lag("event_type").over(w).alias("p"), F.col("event_type").alias("nx")
    ).filter(F.col("p").isNotNull())
    out = {(r["p"], r["nx"]): r["n"] for r in
           seq.groupBy("p", "nx").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert out == {("view", "click"): 1, ("click", "view"): 1, ("view", "view"): 1}


def test_temperature_mix_upsamples_small_groups(spark):
    from opl_spark.operators.sampling import temperature_mix

    rows = [(i, "big") for i in range(40)] + [(100 + i, "small") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = temperature_mix(df, "source", "doc_id", alpha=0.5).collect()
    per = {}
    for r in out:
        per.setdefault(r["source"], {}).setdefault(r["doc_id"], 0)
        per[r["source"]][r["doc_id"]] += 1
    # big group: weight (40/40)^0.5 = 1 -> exactly one copy each
    assert all(c == 1 for c in per["big"].values()) and len(per["big"]) == 40
    # small group: weight (40/10)^0.5 = 2.0 -> exactly two copies each
    assert all(c == 2 for c in per["small"].values()) and len(per["small"]) == 10
    # epochs are 1-based consecutive
    assert {r["epoch"] for r in out if r["source"] == "small"} == {1, 2}
    # alpha=1 keeps natural proportions: everything exactly once
    nat = temperature_mix(df, "source", "doc_id", alpha=1.0).collect()
    assert len(nat) == 50 and all(r["epoch"] == 1 for r in nat)


def test_validate_contract_on_empty_input_reports_zero(spark):
    from pyspark.sql import functions as F

    from opl_spark.operators.analytics import validate_contract

    empty = spark.createDataFrame([], "v long")
    out = validate_contract(empty, checks=[("neg", F.col("v") < 0)])
    assert [tuple(r) for r in out.collect()] == [("neg", 0, 0)]


def test_funnel_step_names_with_quotes_are_escaped(spark):
    from opl_spark.operators.analytics import funnel

    df = spark.createDataFrame(
        [(1, 1, "don't"), (1, 2, "it's")],
        "user_id long, ts long, event_type string",
    )
    rows = {r["step_name"]: r["n_users"] for r in
            funnel(df, "user_id", "ts", "event_type", ["don't", "it's"]).collect()}
    assert rows == {"don't": 1, "it's": 1}


def test_peak_concurrency_closes_single_event_spans(spark, tmp_path):
    """A user whose only event is at 00:01 must NOT stay 'open' all
    day: a later lone user yields peak 1, not 2 (the zero-length span
    emits both boundaries)."""
    import datetime as dt

    from opl_spark import workload

    d = dt.datetime(2024, 1, 1)
    rows = [
        (1, d.replace(hour=0, minute=1), 10, "view", 0.0, "{}"),
        (2, d.replace(hour=23, minute=0), 20, "view", 0.0, "{}"),
        (3, d.replace(hour=23, minute=30), 20, "view", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    sf = str(tmp_path / "sf")
    import os
    os.makedirs(sf, exist_ok=True)
    df.write.parquet(os.path.join(sf, "events.parquet"))
    out = {str(r["day"]): r["peak"] for r in
           workload.queries()["q_peak_concurrency"](spark, sf).collect()}
    assert out == {"2024-01-01": 1}


def test_zscore_overflow_raises_instead_of_undercounting(spark):
    """Values big enough to overflow the decimal(38,0) product space
    must raise loudly — a silent NULL would be summed away as 'not an
    outlier'."""
    import pytest

    from opl_spark.operators.analytics import zscore_outliers

    rows = [("g", 9.2e16 + i) for i in range(100)]
    df = spark.createDataFrame(rows, "grp string, value double")
    with pytest.raises(Exception, match="overflow"):
        zscore_outliers(df, "grp", "value", z=3, value_decimals=2).collect()


def test_ewma_62_step_window_no_overflow(spark):
    """A 200-step series stays finite and correct: the EWMA matches
    the full-history float recursion to rounding (62 trailing steps
    bound the window; older contributions are sub-ulp), with half-UP
    rounding like both engines."""
    import datetime
    import math

    from opl_spark import workload

    qs = workload.queries()

    rows = []
    base = datetime.datetime(2024, 1, 1)
    for day in range(200):
        for k in range(day % 7 + 1):  # varying daily count
            rows.append((day * 1000 + k, base + datetime.timedelta(days=day), 7, "a", 0.0, "{}"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        df.write.mode("overwrite").parquet(os.path.join(td, "events.parquet"))
        got = sorted(
            qs["q_ewma_daily"](spark, td).collect(),
            key=lambda r: r["day"],
        )
    assert len(got) == 200
    # local reference: ewma_1 = x_1; ewma_t = (x_t + ewma_{t-1}) / 2
    ref = None
    for i, r in enumerate(got):
        x = r["n_events"]
        ref = x if ref is None else (x + ref) / 2
        # truncated 62-step window: older contributions are sub-ulp,
        # so the full-history recursion still matches to rounding
        # (half-UP like both engines, not Python's banker rounding)
        want = math.floor(ref * 1e6 + 0.5) / 1e6
        assert abs(r["ewma"] - want) < 1e-9, (i, r["ewma"], want)
        assert r["n_window"] == min(i + 1, 62)


def test_validate_contract_with_no_rules_returns_empty_report(spark):
    """r14 (r13 advice): zero checks and no fk used to raise an
    AnalysisException (explode of a VOID-typed empty array); the
    contract is an empty (rule, n_rows, n_violations) report."""
    from opl_spark.operators.analytics import validate_contract

    df = spark.createDataFrame([(1,)], "v long")
    out = validate_contract(df, checks=[])
    assert out.columns == ["rule", "n_rows", "n_violations"]
    assert out.collect() == []


def test_validate_contract_fk_parent_keys_are_broadcast(spark):
    """r14 (r13 advice): each FK rule's deduped parent-key frame must
    broadcast — a shuffled plan would move the full-width fact once
    per FK rule where the old anti-join moved only the key column."""
    from pyspark.sql import functions as F

    from opl_spark.operators.analytics import validate_contract
    from opl_spark.plans import formatted_plan

    fact = spark.createDataFrame([(1, 10), (2, 99)], "id long, pid long")
    parent = spark.createDataFrame([(10,)], "pid long")
    out = validate_contract(
        fact,
        checks=[("neg", F.col("id") < 0)],
        fk=[("orphan_pid", "pid", parent, "pid")],
    )
    plan = formatted_plan(out)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    rows = {r["rule"]: (r["n_rows"], r["n_violations"]) for r in out.collect()}
    assert rows == {"neg": (2, 0), "orphan_pid": (2, 1)}
