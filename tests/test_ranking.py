"""Exactness pins for the distributed rank statistics
(opl_spark/operators/ranking.py): tie-averaged ranks, Spearman's ρ,
the Gini coefficient, and Kendall's τ-b, each checked against a naive
single-machine computation on data with deliberate ties."""

import math
import random

import pytest
from pyspark.sql import functions as F

from opl_spark.operators.ranking import (
    avg_rank2,
    gini_coefficient,
    kendall_tau_b,
    spearman_rho,
)
from plan_helpers import shuffle_partitions


def _naive_rank2(values):
    """2 × tie-averaged ascending rank per distinct value."""
    s = sorted(values)
    out = {}
    for v in set(values):
        lo = s.index(v)  # count of strictly-smaller values
        c = s.count(v)
        out[v] = 2 * lo + c + 1
    return out


def test_avg_rank2_matches_naive_with_ties(spark):
    random.seed(7)
    vals = [random.randint(0, 12) for _ in range(200)]
    df = spark.createDataFrame([(v,) for v in vals], "xv: long")
    with shuffle_partitions(spark, 5):
        got = {r["v"]: (r["c"], r["rank2"]) for r in avg_rank2(df, "xv").collect()}
    want2 = _naive_rank2(vals)
    assert set(got) == set(want2)
    for v, (c, r2) in got.items():
        assert c == vals.count(v)
        assert r2 == want2[v]
    # ranks over all rows sum to n(n+1) in the doubled scale
    assert sum(c * r2 for c, r2 in got.values()) == len(vals) * (len(vals) + 1)


def test_avg_rank2_excludes_nulls(spark):
    df = spark.createDataFrame([(1,), (None,), (2,), (2,)], "xv: long")
    rows = {r["v"]: r["rank2"] for r in avg_rank2(df, "xv").collect()}
    assert rows == {1: 2, 2: 5}  # avg ranks 1 and 2.5, doubled


def _naive_spearman(xs, ys):
    rx = _naive_rank2(xs)
    ry = _naive_rank2(ys)
    a = [rx[x] for x in xs]
    b = [ry[y] for y in ys]
    n = len(xs)
    sx, sy = sum(a), sum(b)
    sxy = sum(p * q for p, q in zip(a, b))
    sxx = sum(p * p for p in a)
    syy = sum(q * q for q in b)
    return (n * sxy - sx * sy) / math.sqrt(
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )


def test_spearman_monotone_is_one(spark):
    df = spark.createDataFrame(
        [(i, i * i) for i in range(1, 60)], "x: long, y: long"
    )
    row = spearman_rho(df, "x", "y").collect()[0]
    assert row["n"] == 59 and row["spearman_rho"] == 1.0
    rev = spark.createDataFrame(
        [(i, -3 * i) for i in range(40)], "x: long, y: long"
    )
    assert spearman_rho(rev, "x", "y").collect()[0]["spearman_rho"] == -1.0


def test_spearman_matches_naive_with_ties(spark):
    random.seed(11)
    xs = [random.randint(0, 9) for _ in range(150)]
    ys = [x + random.randint(0, 5) for x in xs]
    df = spark.createDataFrame(list(zip(xs, ys)), "x: long, y: long")
    row = spearman_rho(df, "x", "y").collect()[0]
    assert row["n"] == 150
    assert row["spearman_rho"] == pytest.approx(
        round(_naive_spearman(xs, ys), 6), abs=1e-6
    )


def test_spearman_excludes_null_rows(spark):
    df = spark.createDataFrame(
        [(1, 1), (2, None), (None, 3), (2, 2), (3, 9)],
        "x: long, y: long",
    )
    assert spearman_rho(df, "x", "y").collect()[0]["n"] == 3


def _naive_gini(xs):
    n, mu = len(xs), sum(xs) / len(xs)
    return sum(abs(a - b) for a in xs for b in xs) / (2 * n * n * mu)


def test_gini_extremes_and_ties(spark):
    equal = spark.createDataFrame([(5,)] * 40, "xv: long")
    assert gini_coefficient(equal, "xv").collect()[0]["gini"] == 0.0
    random.seed(3)
    xs = [random.randint(0, 50) * 100 for _ in range(120)]
    df = spark.createDataFrame([(v,) for v in xs], "xv: long")
    row = gini_coefficient(df, "xv").collect()[0]
    assert row["n"] == 120 and row["total"] == sum(xs)
    assert row["gini"] == pytest.approx(round(_naive_gini(xs), 6), abs=1e-6)


def test_gini_zero_total_is_null(spark):
    df = spark.createDataFrame([(0,)] * 5, "xv: long")
    assert gini_coefficient(df, "xv").collect()[0]["gini"] is None


def _naive_kendall(xs, ys):
    n = len(xs)
    conc = disc = tx = ty = 0
    for i in range(n):
        for j in range(i + 1, n):
            dx = (xs[i] > xs[j]) - (xs[i] < xs[j])
            dy = (ys[i] > ys[j]) - (ys[i] < ys[j])
            if dx == 0 and dy != 0:
                tx += 1
            elif dy == 0 and dx != 0:
                ty += 1
            elif dx * dy > 0:
                conc += 1
            elif dx * dy < 0:
                disc += 1
    n0 = n * (n - 1) // 2
    n1 = sum(
        xs.count(v) * (xs.count(v) - 1) // 2 for v in set(xs)
    )
    n2 = sum(
        ys.count(v) * (ys.count(v) - 1) // 2 for v in set(ys)
    )
    return conc, disc, (conc - disc) / math.sqrt((n0 - n1) * (n0 - n2))


def test_kendall_tau_matches_naive_with_ties(spark):
    random.seed(5)
    xs = [random.randint(1, 8) for _ in range(80)]
    ys = [min(10, x + random.randint(-2, 2)) for x in xs]
    df = spark.createDataFrame(list(zip(xs, ys)), "x: long, y: long")
    row = kendall_tau_b(df, "x", "y").collect()[0]
    conc, disc, tau = _naive_kendall(xs, ys)
    assert (row["n"], row["concordant"], row["discordant"]) == (80, conc, disc)
    assert row["kendall_tau_b"] == pytest.approx(round(tau, 6), abs=1e-6)


def test_kendall_perfect_orders(spark):
    df = spark.createDataFrame(
        [(i, 2 * i) for i in range(30)], "x: long, y: long"
    )
    assert kendall_tau_b(df, "x", "y").collect()[0]["kendall_tau_b"] == 1.0
    rev = spark.createDataFrame(
        [(i, -i) for i in range(30)], "x: long, y: long"
    )
    assert kendall_tau_b(rev, "x", "y").collect()[0]["kendall_tau_b"] == -1.0


def test_rank_join_back_is_distributed(spark):
    """The rank frame joins back by value without any global window:
    no single-task ordered window may appear in the plan."""
    df = spark.createDataFrame([(i % 7,) for i in range(100)], "xv: long")
    plan = spearman_rho(df.withColumnRenamed("xv", "x").withColumn("y", F.col("x") + 1), "x", "y")._jdf.queryExecution().executedPlan().toString()
    # windows in the plan must be keyed by the range-partition id
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "pid" in line


def test_lorenz_deciles_exact_with_ties(spark):
    """Bucket assignment by tie-averaged rank, masses and cumulative
    shares checked against a naive computation; last share is 1."""
    random.seed(13)
    xs = [random.randint(0, 30) * 10 for _ in range(173)]
    from opl_spark.operators.ranking import lorenz_deciles

    df = spark.createDataFrame([(v,) for v in xs], "xv: long")
    rows = {r["bucket"]: r for r in lorenz_deciles(df, "xv").collect()}
    n, total = len(xs), sum(xs)
    r2 = _naive_rank2(xs)
    want_bucket = {}
    for v in xs:
        b = (5 * r2[v] + n - 1) // n
        want_bucket.setdefault(b, []).append(v)
    assert set(rows) == set(want_bucket)
    cum = 0
    for b in sorted(want_bucket):
        cum += sum(want_bucket[b])
        assert rows[b]["n_members"] == len(want_bucket[b])
        assert rows[b]["bucket_value"] == sum(want_bucket[b])
        assert rows[b]["cum_share"] == pytest.approx(
            round(cum / total, 6), abs=1e-6
        )
    assert rows[max(rows)]["cum_share"] == 1.0


def test_lorenz_rejects_odd_buckets(spark):
    from opl_spark.operators.ranking import lorenz_deciles

    df = spark.createDataFrame([(1,)], "xv: long")
    with pytest.raises(ValueError, match="even"):
        lorenz_deciles(df, "xv", buckets=7)


def test_mann_whitney_matches_naive_with_ties(spark):
    """U from direct pairwise counting (wins + half-ties), z from the
    tie-corrected normal approximation."""
    from opl_spark.operators.ranking import mann_whitney_u

    random.seed(23)
    g1 = [random.randint(0, 40) + 5 for _ in range(70)]   # shifted up
    g2 = [random.randint(0, 40) for _ in range(90)]
    rows = [(v, True) for v in g1] + [(v, False) for v in g2]
    df = spark.createDataFrame(rows, "x: long, g: boolean")
    row = mann_whitney_u(df, "x", "g").collect()[0]
    u_naive = sum(
        1.0 if a > b else (0.5 if a == b else 0.0) for a in g1 for b in g2
    )
    n1, n2 = len(g1), len(g2)
    n = n1 + n2
    pooled = g1 + g2
    tie_t = sum(
        pooled.count(v) ** 3 - pooled.count(v) for v in set(pooled)
    )
    sigma2 = n1 * n2 * ((n + 1) * n * (n - 1) - tie_t) / (12 * n * (n - 1))
    z_naive = (u_naive - n1 * n2 / 2) / math.sqrt(sigma2)
    assert (row["n1"], row["n2"]) == (n1, n2)
    assert row["u1"] == pytest.approx(u_naive, abs=1e-9)
    assert row["z"] == pytest.approx(round(z_naive, 6), abs=1e-6)
    assert row["z"] > 2  # the planted shift is detectable


def test_mann_whitney_identical_groups_z_zero(spark):
    from opl_spark.operators.ranking import mann_whitney_u

    rows = [(v, True) for v in range(50)] + [(v, False) for v in range(50)]
    df = spark.createDataFrame(rows, "x: long, g: boolean")
    row = mann_whitney_u(df, "x", "g").collect()[0]
    assert row["u1"] == 50 * 50 / 2
    assert row["z"] == 0.0


def test_row_rank2_matches_naive_per_row(spark):
    """The no-join-back row rank: every row carries the same doubled
    tie-averaged rank the distinct-value pass would assign."""
    from opl_spark.operators.ranking import row_rank2

    random.seed(29)
    vals = [random.randint(0, 15) for _ in range(300)] + [None] * 7
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "i: long, xv: long")
    with shuffle_partitions(spark, 6):
        got = row_rank2(df, "xv", "r2").collect()
    want = _naive_rank2([v for v in vals if v is not None])
    assert len(got) == 300  # NULLs excluded
    for r in got:
        assert r["r2"] == want[vals[r["i"]]], r


def test_degenerate_inputs_yield_null_not_crash(spark):
    """ANSI sessions raise DIVIDE_BY_ZERO on double x/0 — degenerate
    statistics (zero variance, one-sided group, fully-tied margin)
    must come back as NULL, not as a crashed job (code-review r10)."""
    from opl_spark.operators.ranking import lorenz_deciles, mann_whitney_u

    # constant x → Spearman undefined
    const = spark.createDataFrame([(1, 2), (1, 3), (1, 5)], "x: long, y: long")
    row = spearman_rho(const, "x", "y").collect()[0]
    assert row["n"] == 3 and row["spearman_rho"] is None
    # constant y → Kendall denominator 0; counts are 0, not NULL
    ky = spark.createDataFrame([(1, 7), (2, 7), (3, 7)], "x: long, y: long")
    row = kendall_tau_b(ky, "x", "y").collect()[0]
    assert (row["concordant"], row["discordant"]) == (0, 0)
    assert row["kendall_tau_b"] is None
    # single distinct x → empty theta-join → counts 0
    kx = spark.createDataFrame([(1, 2), (1, 3), (1, 3)], "x: long, y: long")
    row = kendall_tau_b(kx, "x", "y").collect()[0]
    assert (row["concordant"], row["discordant"]) == (0, 0)
    # one-sided group and all-tied values → U defined, z undefined
    one_side = spark.createDataFrame(
        [(5, True), (7, True)], "x: long, g: boolean"
    )
    row = mann_whitney_u(one_side, "x", "g").collect()[0]
    assert (row["n1"], row["n2"]) == (2, 0) and row["z"] is None
    tied = spark.createDataFrame(
        [(5, True), (5, False), (5, True), (5, False)], "x: long, g: boolean"
    )
    row = mann_whitney_u(tied, "x", "g").collect()[0]
    assert row["z"] is None and row["u1"] == 2 * 2 / 2
    # zero-total population → Lorenz shares NULL (gini's contract)
    zeros = spark.createDataFrame([(0,)] * 8, "xv: long")
    assert all(
        r["cum_share"] is None for r in lorenz_deciles(zeros, "xv").collect()
    )


def test_row_rank2_rejects_fractional_and_survives_name_collisions(spark):
    """Review pins: a fractional value column raises (the -1 value
    frame means 'strictly smaller' only on integers — silent
    mis-ranking otherwise), and caller columns named like the
    internals (off/__pid/__lt/__eq) pass through untouched."""
    from opl_spark.operators.ranking import row_rank2

    frac = spark.createDataFrame([(1.5,), (2.0,)], "xv: double")
    with pytest.raises(ValueError, match="integral"):
        row_rank2(frac, "xv", "r2")
    clash = spark.createDataFrame(
        [(3, 10, 11, 12, 13), (1, 20, 21, 22, 23), (3, 30, 31, 32, 33)],
        "xv: long, off: long, __pid: long, __lt: long, __eq: long",
    )
    rows = sorted(
        row_rank2(clash, "xv", "r2").collect(), key=lambda r: r["off"]
    )
    assert [r["r2"] for r in rows] == [5, 2, 5]  # ranks 2.5, 1, 2.5 doubled
    # caller columns intact
    assert [(r["off"], r["__pid"], r["__lt"], r["__eq"]) for r in rows] == [
        (10, 11, 12, 13), (20, 21, 22, 23), (30, 31, 32, 33)
    ]


def test_row_rank2_accepts_decimal_scale_zero(spark):
    """The guard admits decimal(p,0) (an integral type in the house
    fixed-point convention); the value-based window frames' integer
    literal bounds must analyze over a decimal order column (advice
    r10: this path was guard-admitted but untested)."""
    from pyspark.sql import functions as F

    from opl_spark.operators.ranking import row_rank2

    df = spark.range(0, 60).select(
        F.col("id").alias("i"),
        (F.col("id") % 5).cast("decimal(12,0)").alias("v"),
    )
    with shuffle_partitions(spark, 4):
        got = row_rank2(df, "v", "r2").collect()
    want = _naive_rank2([i % 5 for i in range(60)])
    assert len(got) == 60
    for r in got:
        assert r["r2"] == want[int(r["v"])], r
    # fractional decimal still rejected
    dfrac = spark.range(0, 4).select(
        (F.col("id") / 2).cast("decimal(10,2)").alias("v")
    )
    with pytest.raises(ValueError, match="integral"):
        row_rank2(dfrac, "v", "r2")
