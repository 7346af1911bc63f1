"""Distributed exact ranking and rank statistics.

A global ``RANK() OVER (ORDER BY x)`` in Spark plans as a SINGLE-TASK
window — the whole table funnels through one reducer, the exact
anti-pattern the repo-wide plan audit rejects.  This module computes
exact tie-averaged ranks with the classic two-pass range-partition
scheme instead: rank the DISTINCT values (ties collapse to one row, so
no tie group ever straddles a partition boundary), range-partition
them, take a per-partition running sum of tie counts (a window keyed
by the partition id — P parallel window groups, not one), and close
the cross-partition prefix with a partition-count-sized offset join
(P rows, broadcast).  Every step is distributed; the only driver-side
value is nothing at all — offsets stay in the plan.

Ranks are exposed DOUBLED (``rank2 = 2 × average rank``), which makes
them exact BIGINTs even when a tie group has even size (average ranks
are multiples of ½).  Downstream statistics (Spearman's ρ, the Gini
coefficient) then run in pure integer/decimal arithmetic to the final
division — the ``q_correlation`` / ``q_zscore_outliers`` exactness
discipline, bit-stable on any engine and any partitioning.

Reference parity: the reference engine has no rank statistics; these
extend the analytics tier (SURVEY.md §2.10) alongside Pearson
(``q_correlation``) and HHI (``q_revenue_concentration``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: decimal wide enough for Gini-style n·Σ(rank2·x) cross-products at
#: 100 TB row counts (≈1e29 at n=1e10, x=1e9 cents) — same type the
#: Pearson query uses for its moment sums.  Rank-RANK cross-products
#: (Spearman's n·Σ(rx2·ry2)) grow ~4n⁴ and exceed 38 digits near
#: n≈3e9; past that the failure is LOUD, not silent — ANSI raises
#: ARITHMETIC_OVERFLOW in the aggregate, and non-ANSI trips the
#: rescale-hint raise in :func:`_pearson_over`.
_BIG = "decimal(38,0)"


def avg_rank2(df: DataFrame, value_col: str) -> DataFrame:
    """Exact tie-averaged ranks of ``value_col``, doubled to stay
    integral: returns one row per DISTINCT non-null value with columns
    ``(v, c, rank2)`` where ``c`` is the tie-group size and
    ``rank2 = 2·avg_rank = 2·(#{u < v}) + c + 1`` (a BIGINT; divide by
    two for the conventional average rank).

    Execution shape (no global single-task window anywhere):

    1. ``groupBy(value)`` — one hash shuffle over distinct values;
    2. ``repartitionByRange`` on the value — distinct values spread
       over P range buckets, materialized once via a lazy
       ``localCheckpoint`` so the partition ids the two consumers see
       are the SAME physical exchange (range sampling re-runs could
       otherwise disagree between branches);
    3. per-partition running tie-count sum — a window PARTITIONED BY
       the partition id (P parallel groups);
    4. cross-partition offsets — a P×P broadcast theta-join over the
       per-partition totals (P = shuffle partitions, driver-bounded by
       construction).

    Join the result back on the value column to attach per-row ranks;
    the rank frame is |distinct|-sized, so Spark/AQE picks broadcast
    vs shuffle join on real cardinality.
    """
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    vals = (
        df.select(F.col(value_col).alias("v"))
        .filter(F.col("v").isNotNull())
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("c"))
        .repartitionByRange(n_part, F.col("v"))
        .withColumn("pid", F.spark_partition_id())
        # lazy: the first action pins partition ids for BOTH branches
        .localCheckpoint(eager=False)
    )
    w_before = (
        Window.partitionBy("pid")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = vals.withColumn(
        "before_local", F.coalesce(F.sum("c").over(w_before), F.lit(0))
    )
    totals = vals.groupBy("pid").agg(F.sum("c").alias("t"))
    offs = _prefix_offsets(totals, "pid")
    return (
        local.join(F.broadcast(offs), "pid")
        .select(
            F.col("v"),
            F.col("c"),
            (
                F.lit(2) * (F.col("off") + F.col("before_local"))
                + F.col("c")
                + F.lit(1)
            ).alias("rank2"),
        )
    )


def _prefix_offsets(totals: DataFrame, pid_col: str) -> DataFrame:
    """Cross-partition prefix offsets for the two-pass rank schemes:
    given per-partition totals ``(pid, t)``, return ``(pid, off)``
    where ``off = Σ t over smaller pids`` — a P×P broadcast theta-join
    (P = shuffle partitions, driver-bounded by construction).  Shared
    by :func:`avg_rank2` and :func:`row_rank2` so the offset logic
    cannot diverge between them."""
    return (
        totals.alias("a")
        .join(
            F.broadcast(totals.alias("b")),
            F.col(f"b.{pid_col}") < F.col(f"a.{pid_col}"),
            "left",
        )
        .groupBy(F.col(f"a.{pid_col}").alias(pid_col))
        .agg(F.coalesce(F.sum("b.t"), F.lit(0)).alias("off"))
    )


def _null_safe_ratio(num, den):
    """ROUND(num/den, 6) with a NULL (not a crash) on a zero
    denominator: Spark 4 sessions run ANSI mode by default, where a
    double division by zero raises DIVIDE_BY_ZERO — but a degenerate
    input (zero variance, empty group, all-tied column) is a
    well-defined 'statistic undefined' case, not an error."""
    return F.when(den == 0, F.lit(None).cast("double")).otherwise(
        F.round(num / den, 6)
    )


def _pearson_over(
    pairs: DataFrame, x: str, y: str, out_col: str
) -> DataFrame:
    """Exact-moment Pearson over two integral columns: the five sums
    in decimal(38,0) (order-independent), floats only in the closing
    division.  A zero-variance column yields a NULL statistic
    (undefined, not a crash).  Decimal overflow of a moment sum is
    LOUD either way: ANSI sessions (this engine's default) raise
    ARITHMETIC_OVERFLOW inside the aggregation itself; the guard
    below covers non-ANSI deployments, where overflow degrades to
    NULL sums — a NULL statistic with non-NULL sums is then the
    overflow signature and raises with a rescale hint."""
    st = pairs.select(
        F.col(x).cast(_BIG).alias("x"), F.col(y).cast(_BIG).alias("y")
    ).agg(
        F.count(F.lit(1)).cast(_BIG).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
            "double"
        )
    )
    stat = _null_safe_ratio(num, den)
    sums_ok = (
        F.col("sx").isNotNull()
        & F.col("sy").isNotNull()
        & F.col("sxy").isNotNull()
        & F.col("sxx").isNotNull()
        & F.col("syy").isNotNull()
    )
    # a zero denominator is the legitimate NULL (zero variance); a
    # NULL den or NULL num with healthy sums is the non-ANSI overflow
    # signature (the product overflowed where the sums did not)
    stat = F.when(
        stat.isNull() & sums_ok & ~den.eqNullSafe(F.lit(0.0)),
        F.raise_error(
            f"{out_col}: decimal(38,0) overflow — rescale the inputs"
        ).cast("double"),
    ).otherwise(stat)
    return st.select(
        F.col("n").cast("long").alias("n"), stat.alias(out_col)
    )


def _rank2_from_counts(counts: DataFrame, v_col: str, c_col: str) -> DataFrame:
    """Doubled tie-averaged ranks of a SMALL pre-counted value frame
    ``(v, c)`` — ``rank2 = 2·#{u < v} + c + 1`` via a broadcast
    theta-join over the frame itself (|domain|² comparisons), the same
    closed form :func:`avg_rank2` computes.  For a domain-bounded
    column (an ordinal scale, a 1..50 quantity) this replaces
    avg_rank2's whole range-exchange + partition-id checkpoint +
    window + offset machinery — all of it sized for |rows|-distinct
    frames — with one tiny in-plan join: no extra corpus scan, no
    sampling job, no checkpoint.  Only for caller-asserted SMALL
    domains: the theta-join is quadratic in |domain|."""
    lt = counts.select(
        F.col(v_col).alias("__bv"), F.col(c_col).alias("__bc")
    )
    return (
        counts.join(F.broadcast(lt), F.col("__bv") < F.col(v_col), "left")
        .groupBy(v_col, c_col)
        .agg(F.coalesce(F.sum("__bc"), F.lit(0)).alias("__lt"))
        .select(
            F.col(v_col),
            F.col(c_col),
            (
                F.lit(2) * F.col("__lt") + F.col(c_col) + F.lit(1)
            ).alias("rank2"),
        )
    )


def spearman_rho(
    df: DataFrame, x_col: str, y_col: str, low_card_x: bool = False
) -> DataFrame:
    """Spearman rank correlation with exact tie correction: Pearson
    over the tie-averaged ranks of ``x_col`` and ``y_col`` (doubled
    ranks — scale-invariant for a correlation, and integral, so every
    moment sum is exact decimal arithmetic).

    Rows with a NULL in either column are excluded BEFORE ranking, so
    both rank variables cover the same n rows.  Returns one row
    ``(n, spearman_rho)``.

    Scale shape: two ROW rank passes (:func:`row_rank2` — one range
    exchange each, carrying the other column along; no distinct-value
    frame and no join-back, which would shuffle the full table twice
    more per variable on a ~|rows|-distinct metric), one combinable
    moment aggregate.  Nothing driver-sized, no global window.
    Integral inputs (the fixed-point house convention) — the rank
    pass's value-based window frames require it.
    """
    base = df.select(
        F.col(x_col).alias("xv"), F.col(y_col).alias("yv")
    ).filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
    if low_card_x:
        # caller-asserted domain knowledge (guide §8): when x ranges
        # over a small fixed domain (an ordinal scale, a bounded count
        # like order quantity), its rank2 is a function of the VALUE —
        # rank the |domain|-sized count frame and broadcast it back
        # instead of paying a second full row rank pass (range
        # exchange + checkpoint + window over every row).  r14: the
        # counts now come OFF THE Y-RANK PASS's materialized frame
        # (ranked_y rows = base rows — both null screens sit in base —
        # and Catalyst prunes the unused window from the count
        # branch), and the |domain|-sized frame ranks via the
        # broadcast theta-join closed form (:func:`_rank2_from_counts`
        # — identical 2·#{u<v}+c+1 by definition), so the corpus scans
        # once total and avg_rank2's range-exchange + checkpoint +
        # window machinery drops out of the plan.  For ~row-distinct
        # x this would broadcast a row-sized frame — keep the default
        # row path there.
        ranked_y = row_rank2(base, "yv", "ry2")
        xc = ranked_y.groupBy("xv").agg(F.count(F.lit(1)).alias("c"))
        xr = _rank2_from_counts(xc, "xv", "c").select(
            "xv", F.col("rank2").alias("rx2")
        )
        ranked = ranked_y.join(F.broadcast(xr), "xv")
    else:
        ranked = row_rank2(row_rank2(base, "xv", "rx2"), "yv", "ry2")
    return _pearson_over(ranked, "rx2", "ry2", "spearman_rho")


def gini_coefficient(df: DataFrame, value_col: str) -> DataFrame:
    """Gini coefficient of a non-negative integral quantity (revenue
    cents, token counts) with exact tie handling:

        G = (Σᵢ rank2ᵢ·xᵢ − (n+1)·Σx) / (n·Σx)

    where ``rank2`` is the doubled tie-averaged ascending rank — the
    standard mean-difference form rearranged so the numerator is pure
    integer arithmetic (the ½ of the average rank cancels against the
    2 of ``2·Σrᵢxᵢ``).  Ties take the same rank2, which matches the
    tie-symmetric definition ``G = Σᵢⱼ|xᵢ−xⱼ| / (2n²μ)`` exactly.

    NULL values are excluded; a zero-total population (all x = 0)
    yields NULL (Gini undefined).  Returns one row
    ``(n, total, gini)``.
    """
    base = df.select(F.col(value_col).alias("xv")).filter(
        F.col(value_col).isNotNull()
    )
    ranks = avg_rank2(base, "xv")
    st = ranks.agg(
        F.sum("c").cast(_BIG).alias("n"),
        F.sum(F.col("c").cast(_BIG) * F.col("v").cast(_BIG)).alias("t"),
        F.sum(
            F.col("c").cast(_BIG)
            * F.col("rank2").cast(_BIG)
            * F.col("v").cast(_BIG)
        ).alias("srx"),
    )
    return st.select(
        F.col("n").cast("long").alias("n"),
        F.col("t").cast("long").alias("total"),
        _null_safe_ratio(
            (
                F.col("srx") - (F.col("n") + F.lit(1)) * F.col("t")
            ).cast("double"),
            (F.col("n") * F.col("t")).cast("double"),
        ).alias("gini"),
    )


def kendall_tau_b(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Kendall's τ-b between two BOUNDED-CARDINALITY ordinal columns
    via the joint contingency table: concordant/discordant pair counts
    come from a cell×cell comparison, so the quadratic term is
    |cells|², not n² — exact, and bounded by the ordinal domains
    (quantize/bin an unbounded column first; that is the documented
    contract, the same one ``chi2_independence`` carries).

        C = Σ c(a)·c(b) over cell pairs with x_b > x_a, y_b > y_a
        D = Σ c(a)·c(b) over cell pairs with x_b > x_a, y_b < y_a
        τ_b = (C − D) / √((n₀ − n₁)(n₀ − n₂))

    with n₀ = n(n−1)/2 and n₁/n₂ the per-x / per-y tie-pair sums.
    All counts are exact decimals; floats enter at the final division.
    NULL rows are excluded (a NULL is not ordered against anything).
    Returns one row ``(n, concordant, discordant, kendall_tau_b)``.

    Scale shape: ONE hash aggregate over the data builds the cell
    table; everything after runs on |cells| rows — the cell-pair
    theta-join is a broadcast nested-loop over a domain-bounded frame
    (50×11 for quantity×discount), never a shuffle over facts.
    """
    cells = (
        df.select(F.col(x_col).alias("x"), F.col(y_col).alias("y"))
        .filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast(_BIG).alias("c"))
        .localCheckpoint(eager=False)
    )
    pair_cd = (
        cells.alias("a")
        .join(F.broadcast(cells.alias("b")), F.col("b.x") > F.col("a.x"))
        .agg(
            F.sum(
                F.when(
                    F.col("b.y") > F.col("a.y"),
                    F.col("a.c") * F.col("b.c"),
                ).otherwise(F.lit(0).cast(_BIG))
            ).alias("concordant"),
            F.sum(
                F.when(
                    F.col("b.y") < F.col("a.y"),
                    F.col("a.c") * F.col("b.c"),
                ).otherwise(F.lit(0).cast(_BIG))
            ).alias("discordant"),
        )
    )
    two = F.lit(2).cast(_BIG)
    ties = cells.agg(F.sum("c").alias("n"))
    tx = (
        cells.groupBy("x")
        .agg(F.sum("c").alias("cx"))
        .agg((F.sum(F.col("cx") * F.col("cx")) - F.sum("cx")).alias("tie_x2"))
    )
    ty = (
        cells.groupBy("y")
        .agg(F.sum("c").alias("cy"))
        .agg((F.sum(F.col("cy") * F.col("cy")) - F.sum("cy")).alias("tie_y2"))
    )
    # the theta-join is EMPTY when x has one distinct value — the
    # pair counts are then genuinely 0, not NULL
    zero = F.lit(0).cast(_BIG)
    conc = F.coalesce(F.col("concordant"), zero)
    disc = F.coalesce(F.col("discordant"), zero)
    st = ties.crossJoin(tx).crossJoin(ty).crossJoin(pair_cd)
    n0_2 = F.col("n") * (F.col("n") - F.lit(1))  # 2·n₀
    # a fully-tied margin makes the denominator 0 → τ undefined (NULL,
    # not an ANSI DIVIDE_BY_ZERO crash)
    tau = _null_safe_ratio(
        (two * (conc - disc)).cast("double"),
        F.sqrt(
            (n0_2 - F.col("tie_x2")).cast("double")
            * (n0_2 - F.col("tie_y2")).cast("double")
        ),
    )
    return st.select(
        F.col("n").cast("long").alias("n"),
        conc.cast("long").alias("concordant"),
        disc.cast("long").alias("discordant"),
        tau.alias("kendall_tau_b"),
    )


def lorenz_deciles(
    df: DataFrame, value_col: str, buckets: int = 10
) -> DataFrame:
    """The Lorenz-curve table behind the Gini coefficient: the
    population split into ``buckets`` equal-rank slices (ascending by
    value), each row reporting its member count, its value mass, and
    the CUMULATIVE share of the total — "the bottom 40% of customers
    hold 9% of revenue".

    Bucket assignment is by tie-averaged rank (``ceil(B·r/n)``), so a
    tie group lands in ONE bucket — deterministic under any engine's
    sort, at the cost of slightly uneven bucket sizes when ties
    straddle a boundary (the same rule both the Spark plan and the
    SQL oracle apply; a ROW_NUMBER split would be partition-order
    lottery).  The bucket index is exact integral arithmetic
    (``(B/2·rank2 + n − 1) div n`` — doubled ranks make B·r integral
    for even B); the cumulative sum runs over the ≤``buckets``-row
    summary via a broadcast suffix join, never a global window over
    the population.

    Returns ``(bucket, n_members, bucket_value, cum_share)`` with
    ``cum_share`` rounded to 6 places.  NULL values are excluded.
    """
    if buckets % 2 != 0:
        raise ValueError("lorenz_deciles: buckets must be even "
                         "(doubled-rank bucket math)")
    ranks = avg_rank2(
        df.select(F.col(value_col).alias("xv")).filter(
            F.col(value_col).isNotNull()
        ),
        "xv",
    )
    tot = ranks.agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c").cast(_BIG) * F.col("v").cast(_BIG)).alias("t"),
    )
    half = buckets // 2
    # rank2 ≤ 2n, so half·rank2 + n stays exact in BIGINT up to
    # n ≈ 9·10¹⁷/buckets — far past any population count
    dec = (
        ranks.crossJoin(F.broadcast(tot))
        .withColumn(
            "bucket",
            F.expr(f"({half}L * rank2 + n - 1) div n").cast("int"),
        )
    )
    grp = dec.groupBy("bucket").agg(
        F.sum("c").alias("n_members"),
        F.sum(F.col("c").cast(_BIG) * F.col("v").cast(_BIG)).alias(
            "bucket_value"
        ),
        F.max("t").alias("t"),
    )
    # cumulative over the ≤buckets-row summary: broadcast suffix join
    cum = (
        grp.alias("a")
        .join(
            F.broadcast(grp.alias("b")),
            F.col("b.bucket") <= F.col("a.bucket"),
        )
        .groupBy(
            F.col("a.bucket").alias("bucket"),
            F.col("a.n_members").alias("n_members"),
            F.col("a.bucket_value").alias("bucket_value"),
            F.col("a.t").alias("t"),
        )
        .agg(F.sum("b.bucket_value").alias("cum_value"))
    )
    return cum.select(
        "bucket",
        F.col("n_members").cast("long").alias("n_members"),
        F.col("bucket_value").cast("long").alias("bucket_value"),
        # zero-total population → shares undefined (NULL, not an ANSI
        # DIVIDE_BY_ZERO), matching gini_coefficient's contract
        _null_safe_ratio(
            F.col("cum_value").cast("double"), F.col("t").cast("double")
        ).alias("cum_share"),
    )


def mann_whitney_u(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) two-sample test with exact
    tie handling — "is one group's distribution stochastically
    larger?", the nonparametric complement to the mean-based z-test.

    ``group_col`` must be boolean (true = group 1).  Pooled
    tie-averaged ranks come from :func:`avg_rank2`; then

        2·U₁ = Σ_{i∈G1} rank2ᵢ − n₁(n₁+1)            (exact BIGINT)
        σ²   = n₁n₂·((n+1)n(n−1) − Σ(t³−t)) / (12n(n−1))
        z    = (2U₁ − n₁n₂) / (2σ)                   (no continuity corr.)

    with the tie term Σ(t³−t) straight off the rank frame's tie-group
    sizes.  Every sum is exact decimal; the float expression is written
    identically in the SQL oracle so the IEEE sequence matches.  NULL
    values or groups are excluded.  Returns one row
    ``(n1, n2, u1, z)`` — ``u1`` is half-integral under ties, exact as
    a double.

    Scale shape: ONE row rank pass (:func:`row_rank2` — one range
    exchange carrying the group flag, no distinct frame, no
    join-back; the tie term rides the same pass as Σ_rows(c²−1)
    ≡ Σ_values(t³−t)), one combinable aggregate; the closing math
    runs on one row.
    """
    base = df.select(
        F.col(value_col).alias("xv"), F.col(group_col).alias("g")
    ).filter(F.col(value_col).isNotNull() & F.col(group_col).isNotNull())
    ranked = row_rank2(base, "xv", "rank2", ties_col="tc")
    j = ranked.agg(
        F.sum(F.when(F.col("g"), F.lit(1)).otherwise(F.lit(0)))
        .cast(_BIG)
        .alias("n1"),
        F.sum(F.when(~F.col("g"), F.lit(1)).otherwise(F.lit(0)))
        .cast(_BIG)
        .alias("n2"),
        F.sum(
            # cast BEFORE the sum: a group rank-sum approaches 2n·n₁,
            # past int64 at the row counts _BIG is sized for
            F.when(F.col("g"), F.col("rank2").cast(_BIG)).otherwise(
                F.lit(0).cast(_BIG)
            )
        ).alias("r2_1"),
        F.sum(
            F.col("tc").cast(_BIG) * F.col("tc").cast(_BIG) - F.lit(1)
        ).alias("tie_t"),
    )
    n = F.col("n1") + F.col("n2")
    n0_2b = n * (n - 1)
    u2 = F.col("r2_1") - F.col("n1") * (F.col("n1") + 1)  # 2·U₁
    var_num = ((n + 1) * n * (n - 1) - F.col("tie_t")).cast("double")
    var_den = (F.lit(12).cast(_BIG) * n * (n - 1)).cast("double")
    # degenerate inputs (n < 2, an empty group, or every value tied)
    # make σ = 0 → z undefined (NULL, not an ANSI DIVIDE_BY_ZERO)
    sigma2 = F.when(n0_2b == 0, F.lit(None).cast("double")).otherwise(
        (F.col("n1") * F.col("n2")).cast("double") * var_num / var_den
    )
    zden = F.lit(2.0) * F.sqrt(sigma2)
    z = F.when(
        zden.isNull() | (zden == 0.0), F.lit(None).cast("double")
    ).otherwise(
        F.round((u2 - F.col("n1") * F.col("n2")).cast("double") / zden, 6)
    )
    return j.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        (u2.cast("double") / 2.0).alias("u1"),
        z.alias("z"),
    )


def row_rank2(
    df: DataFrame,
    value_col: str,
    out_col: str,
    ties_col: str | None = None,
) -> DataFrame:
    """Attach the doubled tie-averaged rank of ``value_col`` to EVERY
    ROW — no distinct-value table, no join-back.  The fast path for
    ranking a ~|rows|-distinct column (Spearman over a continuous
    metric), where :func:`avg_rank2`'s rank-frame join-back would
    shuffle the full table twice more.

    One range exchange spreads rows by value (equal values land in
    ONE partition — range partitioning is a function of the key, so
    no tie group straddles a boundary), materialized once via a lazy
    ``localCheckpoint`` so the three consumers (window pass,
    per-partition totals, any chained rank pass) read the SAME
    physical partitioning instead of re-executing the upstream plan.
    A single window stage per partition computes the strictly-smaller
    row count (a VALUE-based frame, ``rangeBetween(-∞, -1)``) and the
    tie-group size (``rangeBetween(0, 0)`` — same sort, same stage);
    the cross-partition prefix closes with the P-row broadcast
    offset join shared with avg_rank2.

    Measured trade-off (r10 review follow-up): a pure-function
    partition id (approxQuantile cutpoint literals) removes the
    materialization-for-consistency requirement, but every variant
    benched WORSE at sf0.1 — skipping materialization re-executes
    the upstream plan once per consumer (~3–4× slower on the chained
    Spearman), ``persist`` leaks CacheManager entries a returned
    lazy frame can never unpersist, and cutpoint-hash layouts
    bottleneck the checkpoint write on ≤P distinct keys (~1.5×
    slower).  The range-exchange + lazy localCheckpoint here is the
    empirical winner; its known cost is Spark's documented
    localCheckpoint trade (executor loss fails the job instead of
    recomputing).

    ``value_col`` must be an INTEGRAL type (the house fixed-point
    convention — scale currency to cents first): the −1 frame bound
    means "strictly smaller" only on integers, so fractional input
    raises rather than silently mis-ranking.  Rows with a NULL value
    are excluded.  Returns ``df``'s rows (minus NULLs) with
    ``out_col`` added; ``ties_col`` additionally exposes the row's
    tie-group size (each of the c tied rows carries c —
    Σ_rows(c²−1) then equals the classic per-value tie term Σ(t³−t),
    so rank-sum tests ride the same single pass).
    """
    from pyspark.sql import types as T

    dtype = df.schema[value_col].dataType
    if not isinstance(
        dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ) and not (isinstance(dtype, T.DecimalType) and dtype.scale == 0):
        raise ValueError(
            f"row_rank2: {value_col} must be integral (got {dtype}); "
            "scale fixed-point values to integers first"
        )
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    # internal names guaranteed absent from the caller's columns
    taken = set(df.columns) | {out_col, ties_col or ""}
    pid_c, lt_c, eq_c, off_c = (
        next(
            n for i in range(len(taken) + 1)
            if (n := f"__{base}{i or ''}") not in taken
        )
        for base in ("pid", "lt", "eq", "off")
    )
    d = (
        df.filter(F.col(value_col).isNotNull())
        .repartitionByRange(n_part, F.col(value_col))
        .withColumn(pid_c, F.spark_partition_id())
        # lazy: the first action pins partition ids for all consumers
        .localCheckpoint(eager=False)
    )
    w_lt = (
        Window.partitionBy(pid_c)
        .orderBy(value_col)
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_eq = Window.partitionBy(pid_c).orderBy(value_col).rangeBetween(0, 0)
    ranked = d.withColumn(
        lt_c, F.coalesce(F.count(F.lit(1)).over(w_lt), F.lit(0))
    ).withColumn(eq_c, F.count(F.lit(1)).over(w_eq))
    totals = d.groupBy(F.col(pid_c).alias("pid")).agg(
        F.count(F.lit(1)).alias("t")
    )
    offs = _prefix_offsets(totals, "pid").select(
        F.col("pid").alias(pid_c), F.col("off").alias(off_c)
    )
    out = ranked.join(F.broadcast(offs), pid_c).withColumn(
        out_col,
        F.lit(2) * (F.col(off_c) + F.col(lt_c)) + F.col(eq_c) + F.lit(1),
    )
    if ties_col is not None:
        out = out.withColumn(ties_col, F.col(eq_c))
    return out.drop(pid_c, lt_c, eq_c, off_c)
