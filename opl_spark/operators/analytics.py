"""Event-stream analytics: ordered funnels, retention cohorts,
outlier screens — the product-analytics tier a warehouse serves next
to its OLAP cubes (the reference's events use case generalized; no
reference analogue, same Spark-first discipline).

Scale shapes:
- every per-user reduction is a map-side-combinable groupBy on
  ``user_id``; chained funnel stages join on that same key, so one
  hash partitioning serves the whole pipeline (no re-shuffle between
  stages under AQE);
- outputs are report-sized (steps, cohort×offset cells, event types),
  never event-sized;
- the z-score screen is EXACT integer/decimal arithmetic — no float
  mean/variance on the comparison path, so borderline rows cannot
  flip across engines or partitionings (the same determinism rule the
  cube's decimal money sums follow).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def funnel(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
) -> DataFrame:
    """Ordered funnel: a user reaches step i by doing ``steps[i]``
    STRICTLY AFTER their step i-1 time (first qualifying occurrence).
    Emits ``(step, step_name, n_users)`` — one row per step.

    Stage i is a groupBy(user).min(ts) over events of type i gated by
    the previous stage's time: user-keyed joins all the way down, and
    the final count-per-stage is one pass over the joined per-user
    step-time table (counts are column counts, so no per-step jobs).
    """
    if not steps:
        raise ValueError("funnel: steps must be non-empty")
    ev = df.select(
        F.col(user_col).alias("u"),
        F.col(ts_col).alias("t"),
        F.col(type_col).alias("et"),
    )
    stage = (
        ev.filter(F.col("et") == steps[0])
        .groupBy("u")
        .agg(F.min("t").alias("t0"))
    )
    acc = stage
    for i, s in enumerate(steps[1:], start=1):
        nxt = (
            ev.filter(F.col("et") == s)
            .join(acc.select("u", F.col(f"t{i-1}")), "u")
            .filter(F.col("t") > F.col(f"t{i-1}"))
            .groupBy("u")
            .agg(F.min("t").alias(f"t{i}"))
        )
        acc = acc.join(nxt, "u", "left")
    counts = acc.agg(
        *[F.count(F.col(f"t{i}")).alias(f"n{i}") for i in range(len(steps))]
    )
    def _q(name: str) -> str:
        # step names land inside selectExpr — escape, never interpolate
        # raw (a quote in a step name would otherwise crash or inject)
        return name.replace("\\", "\\\\").replace("'", "\\'")

    stack = ", ".join(
        f"{i}, '{_q(s)}', n{i}" for i, s in enumerate(steps)
    )
    return counts.selectExpr(
        f"stack({len(steps)}, {stack}) AS (step, step_name, n_users)"
    )


def retention_cohorts(
    df: DataFrame, user_col: str, ts_col: str
) -> DataFrame:
    """Weekly retention triangle: users grouped by first-seen week
    (cohort), counted distinct in each later week —
    ``(cohort_week, week_offset, n_users)``.

    Two combinable aggregations around one user-keyed join: first-seen
    is a user-sized groupBy-min; the event stream joins that on
    ``user_id`` (broadcast when the user dimension fits, hash
    co-partitioned otherwise) and reduces straight to cohort×offset
    cells.  The distinct is over (cohort, offset, user) — bounded by
    users × active weeks, not events.
    """
    ev = df.select(
        F.col(user_col).alias("u"),
        F.date_trunc("week", F.col(ts_col)).cast("date").alias("w"),
    )
    firsts = ev.groupBy("u").agg(F.min("w").alias("cohort_week"))
    return (
        ev.join(firsts, "u")
        .select(
            "cohort_week",
            (F.datediff(F.col("w"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
            "u",
        )
        .distinct()
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def rolling_active(
    df: DataFrame, user_col: str, ts_col: str, window_days: int = 7
) -> DataFrame:
    """Rolling N-day distinct active users per observed day —
    ``(day, n_users)`` for every day that has at least one event, where
    ``n_users`` counts users active in ``[day-(N-1), day]``.

    COUNT(DISTINCT) inside a sliding window isn't expressible as a
    window function in either engine, and a day×events range self-join
    scans the stream once per day.  Instead: dedupe to (user, day)
    rows (map-side combinable), explode each into its N covered days
    (bounded fan-out N — the 100 TB cost is N× the user-day table, not
    the event stream), clip to observed days with a broadcast-sized
    day semi-join, and dedupe again before counting.
    """
    ud = df.select(
        F.col(user_col).alias("u"), F.col(ts_col).cast("date").alias("d")
    ).distinct()
    days = ud.select("d").distinct()
    covered = ud.select(
        "u",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), window_days - 1))
        ).alias("day"),
    ).distinct()
    return (
        covered.join(F.broadcast(days.withColumnRenamed("d", "day")), "day", "semi")
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def new_vs_returning(df: DataFrame, user_col: str, ts_col: str) -> DataFrame:
    """Per-day split of active users into first-ever-seen ("new") vs
    returning — ``(day, n_new, n_returning)``.

    First-seen is a user-sized groupBy-min; the (user, day) activity
    table joins it on the user key (broadcast when the user dimension
    fits) and reduces straight to day rows.  Both aggregations are
    map-side combinable; nothing event-sized survives the first
    dedupe.
    """
    ud = df.select(
        F.col(user_col).alias("u"), F.col(ts_col).cast("date").alias("day")
    ).distinct()
    firsts = ud.groupBy("u").agg(F.min("day").alias("first_day"))
    return (
        ud.join(firsts, "u")
        .groupBy("day")
        .agg(
            F.sum((F.col("day") == F.col("first_day")).cast("long")).alias("n_new"),
            F.sum((F.col("day") > F.col("first_day")).cast("long")).alias(
                "n_returning"
            ),
        )
    )


def scd2_intervals(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    attr_cols: list[str],
    tiebreak_col: str,
    open_end: str | None = None,
) -> DataFrame:
    """Slowly-changing-dimension type-2 history: each (key, ts) record
    becomes a validity interval ``[valid_from, valid_to)``, where
    ``valid_to`` is the next record's timestamp for that key.  The
    warehouse pattern for turning an append-only change log into
    point-in-time-joinable history.

    ``open_end`` picks the open-row convention: ``None`` leaves the
    current row's ``valid_to`` NULL (callers test ``IS NULL``, as
    :func:`pit_lookup` does); a timestamp string (Kimball's
    ``"9999-12-31"``) closes every interval so consumers can use a
    plain ``ts < valid_to`` — and nothing NULL crosses an engine
    boundary.  ``is_current`` flags the open row either way.

    One ``lead`` window partitioned BY KEY (parallelism = number of
    keys; no global sort), ordered by (ts, tiebreak) so same-day
    records produce a deterministic chain.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    cols = [key_col, tiebreak_col, *attr_cols]
    nxt = F.lead(F.col(ts_col)).over(w)
    valid_to = (
        nxt
        if open_end is None
        else F.coalesce(nxt, F.lit(open_end).cast(df.schema[ts_col].dataType))
    )
    return df.select(
        *cols,
        F.col(ts_col).alias("valid_from"),
        valid_to.alias("valid_to"),
        (F.lead(F.col(ts_col)).over(w).isNull()).alias("is_current"),
    )


def snapshot_diff(
    old: DataFrame, new: DataFrame, key_col: str, compare_cols: list[str]
) -> DataFrame:
    """Keyed diff of two snapshot DataFrames: emits one row per key
    present in either side, classified ``added`` / ``removed`` /
    ``changed`` / ``unchanged`` by comparing ``compare_cols``
    null-safely.  The CDC primitive for validating incremental loads
    against full recomputes.

    One full outer join on the key — co-partitioned single shuffle;
    the comparison is a codegen'd eqNullSafe conjunction, and callers
    filter ``kind != 'unchanged'`` before collecting anything.
    """
    o = old.select(
        F.col(key_col).alias("k"), *[F.col(c).alias(f"old_{c}") for c in compare_cols]
    )
    n = new.select(
        F.col(key_col).alias("k"), *[F.col(c).alias(f"new_{c}") for c in compare_cols]
    )
    o = o.withColumn("_in_old", F.lit(True))
    n = n.withColumn("_in_new", F.lit(True))
    same = None
    for c in compare_cols:
        eq = F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
        same = eq if same is None else (same & eq)
    joined = o.join(n, "k", "full_outer")
    kind = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(
        F.col("k").alias(key_col),
        kind.alias("kind"),
        *[F.col(f"old_{c}") for c in compare_cols],
        *[F.col(f"new_{c}") for c in compare_cols],
    )


def zscore_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    z: int = 3,
    value_decimals: int = 2,
) -> DataFrame:
    """Per-group outlier screen: count values with ``|value - mean| >
    z·stddev_pop`` — computed EXACTLY.

    Float means/variances differ across engines and reduce orders in
    the last ulps, which can flip borderline rows and break result
    reproducibility.  Instead, values are scaled to integers
    (``value_decimals`` fixed decimals), and the test
    ``(v-μ)² > z²σ²`` is cleared of divisions:

        (n·V - S)² > z² · (n·S2 - S²)

    with S=Σv, S2=Σv² as DECIMAL(38,0) sums — exact, order-independent,
    identical on any engine.  Emits ``(group, n, n_outliers, mean)``;
    the reported mean is the one float op (one division of two exact
    integers — bit-identical everywhere).
    """
    scale = 10**value_decimals
    big = "decimal(38,0)"
    v = F.round(F.col(value_col) * scale).cast("long")
    ev = df.select(F.col(group_col).alias("grp"), v.alias("v"))
    stats = ev.groupBy("grp").agg(
        F.count(F.lit(1)).cast(big).alias("n"),
        F.sum(F.col("v").cast(big)).alias("s"),
        F.sum((F.col("v").cast(big) * F.col("v").cast(big))).alias("s2"),
    )
    dev = F.col("n") * F.col("v").cast(big) - F.col("s")
    bound = F.lit(z * z).cast(big) * (
        F.col("n") * F.col("s2") - F.col("s") * F.col("s")
    )
    # decimal(38,0) is the widest exact type: (n·v-S)² overflows it
    # once n·|v| nears 10¹⁹ (e.g. 10¹⁰ rows of 10⁹-scaled values).
    # Overflow yields NULL (non-ANSI), and summing a NULL flag would
    # silently UNDERCOUNT outliers — so a flag that is NULL while its
    # inputs are not raises instead; callers rescale value_decimals.
    flag = dev * dev > bound
    flag = F.when(
        flag.isNull() & F.col("v").isNotNull(),
        F.raise_error(
            "zscore_outliers: decimal(38,0) overflow — lower value_decimals"
        ).cast("boolean"),
    ).otherwise(flag)
    return (
        ev.join(stats, "grp")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(flag.cast("long")).alias("n_outliers"),
            F.round(
                F.max(F.col("s")).cast("double")
                / (F.max(F.col("n")).cast("double") * scale),
                6,
            ).alias("mean"),
        )
    )


def validate_contract(
    df: DataFrame,
    checks: list[tuple[str, "F.Column"]],
    fk: list[tuple[str, str, DataFrame, str]] | None = None,
) -> DataFrame:
    """Data-contract validation (the dbt-test / Great-Expectations
    tier): each check is ``(rule_name, violation_predicate)``; ``fk``
    entries are ``(rule_name, local_col, parent_df, parent_col)``
    orphan checks.  Emits ``(rule, n_rows, n_violations)`` — one row
    per rule, never row-level data, so the report is rule-sized.

    ALL rules reduce in one pass over ``df`` (r13; was one aggregate
    pass plus a separate anti-join scan + count per FK rule, stitched
    on the driver): each FK check becomes a row-count-preserving LEFT
    join against the deduped parent keys carrying a hit marker (the
    parent side is key-distinct, so the join is 1:1 at most and every
    conditional sum still sees each input row exactly once), the
    orphan test is ``col IS NOT NULL AND marker IS NULL``, and the
    per-rule report rows come from exploding ONE struct array off the
    single aggregate row.  Fully lazy — no driver actions, no
    createDataFrame round-trip, and ``df`` is scanned once however
    many rules there are.
    """
    probe = df
    fk = fk or []
    checks = list(checks)
    if not checks and not fk:
        # zero rules: F.array() of no elements is VOID-typed and the
        # explode below would raise AnalysisException (r13 advice) —
        # an empty report is the contract, emitted without a scan
        return df.sparkSession.createDataFrame(
            [], "rule string, n_rows long, n_violations long"
        )
    fk_preds: list[tuple[str, "F.Column"]] = []
    for i, (name, col, parent, pcol) in enumerate(fk):
        hit = f"__hit_{i}"
        # broadcast: the deduped parent KEY frame is the small side by
        # contract (a dimension's key set); without the hint a
        # non-broadcast plan would shuffle the full-width fact once
        # per FK rule where the old anti-join moved only the key
        # column (r13 advice)
        probe = probe.join(
            F.broadcast(
                parent.select(
                    F.col(pcol).alias(col), F.lit(1).alias(hit)
                ).distinct()
            ),
            col,
            "left",
        )
        fk_preds.append(
            (name, F.col(col).isNotNull() & F.col(hit).isNull())
        )
    aggs = [F.count(F.lit(1)).alias("__n")]
    for name, pred in list(checks) + fk_preds:
        aggs.append(F.sum(pred.cast("long")).alias(name))
    row = probe.agg(*aggs)
    # sum() over zero rows is NULL — an empty load is a valid input to
    # a validator and must report 0 violations, not crash
    rules = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule"),
                F.col("__n").cast("long").alias("n_rows"),
                F.coalesce(F.col(name), F.lit(0))
                .cast("long")
                .alias("n_violations"),
            )
            for name, _ in list(checks) + fk_preds
        ]
    )
    return row.select(F.explode(rules).alias("r")).select(
        "r.rule", "r.n_rows", "r.n_violations"
    )


def pareto_front_2d(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """2-D skyline (Pareto front, maximizing both integer dimensions):
    the distinct ``(x, y)`` pairs not dominated by any pair that is >=
    in both dimensions and > in at least one.

    Scale shape — never a global sort/window: (1) per-x maxima (one
    keyed agg; removes same-x dominance), (2) LOCAL fronts inside
    ``x DIV bucket_width`` buckets via a bucket-partitioned running
    max over strictly-greater x, (3) cross-bucket domination resolved
    through the bucket-count-sized summary (max y per bucket),
    self-joined and broadcast back.  The classical sort-scan skyline
    needs a single ordered pass; bucketing restores partition
    parallelism and keeps every window bounded by one bucket.
    """
    from pyspark.sql import Window

    bucket_width = 100_000
    pts = (
        df.groupBy(F.col(x_col).alias("x"))
        .agg(F.max(F.col(y_col)).alias("y"))
        .withColumn("bucket", F.expr(f"x div {int(bucket_width)}"))
    )
    # strictly-greater-x running max inside the bucket (range frame on
    # DESC x: "1 PRECEDING" = x >= current + 1)
    w = (
        Window.partitionBy("bucket")
        .orderBy(F.col("x").desc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    local = pts.withColumn("max_above", F.max("y").over(w))
    # cross-bucket thresholds: the bucket summary is metadata-sized
    # (x_range / bucket_width rows), so the suffix max is a driver-side
    # scan of it — same discipline as IVF centroids / Bloom words —
    # then a broadcast equality join (an inequality self-join would
    # plan a nested loop, which the repo-wide audit forbids)
    summary = sorted(
        (r["bucket"], r["by"])
        for r in pts.groupBy("bucket").agg(F.max("y").alias("by")).collect()
    )
    thr_rows, best = [], None
    for bucket, by in reversed(summary):
        if best is not None:
            thr_rows.append((bucket, best))
        best = by if best is None else max(best, by)
    spark = df.sparkSession
    if thr_rows:
        thr = spark.createDataFrame(thr_rows, ["bucket", "thr"])
    else:
        thr = spark.createDataFrame([], "bucket long, thr long")
    return (
        local.join(F.broadcast(thr), "bucket", "left")
        .filter(
            (F.col("max_above").isNull() | (F.col("y") > F.col("max_above")))
            & (F.col("thr").isNull() | (F.col("y") > F.col("thr")))
        )
        .select("x", "y")
    )
