"""Model-/data-quality evaluation metrics over distributed tables —
the scoring half of a training-data pipeline: once filters, dedup and
retrieval indexes exist, the pipeline needs ROC-AUC for its quality
classifiers, agreement statistics between labelling heuristics, and
retrieval-quality metrics (precision@k / nDCG@k) for its embedding
indexes.  Reference parity: the reference engine (OLAP.php) has no
evaluation surface — these extend the training-data tier the way
operators/sampling.py and operators/text.py do.

Engine-portability discipline (the repo's oracle contract): every
metric here reduces to BIGINT sums of integer-valued terms —
histogram-binned rank statistics for AUC, confusion-count
cross-multiplications for kappa, micro-unit quantized log-discounts
for nDCG — with one final cross-multiplied division rounded(6) on the
wire.  No transcendental ever crosses an aggregation un-quantized.

Scale discipline: AUC is the HISTOGRAM algorithm (bin scores, one
cumulative pass over the bounded bin table — never a global sort of
the fact stream); kappa reduces a labels²-sized confusion matrix;
retrieval metrics rank only per-query top-k shortlists.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def roc_auc_binned(
    df: DataFrame,
    score_col: Column,
    label_col: Column,
) -> DataFrame:
    """ROC-AUC of ``score_col`` against binary ``label_col`` via the
    histogram-binned Mann-Whitney U statistic.

    Scores are quantized to ``floor(s·scale + 0.5)`` integer bins
    (``scale`` = 10⁶), the
    bin table (bounded by the score range × scale, NOT the row count)
    gets one cumulative pass, and

        U·2 = Σ_bins 2·pos_b·neg_below_b + pos_b·neg_b   (ties = ½)
        AUC = U·2 / (2·n_pos·n_neg)

    — all-BIGINT until the single final division.  This is the
    100 TB-shaped AUC: the only shuffle is the bin aggregation
    (map-side combinable), and the ordered window runs over the
    BIN SUMMARY, not the fact stream.  Emits one row
    ``(n_pos, n_neg, auc)``.
    """
    scale = 1_000_000.0
    bins = (
        df.select(
            F.floor(score_col.cast("double") * F.lit(scale) + F.lit(0.5))
            .cast("long")
            .alias("qs"),
            label_col.cast("long").alias("y"),
        )
        .groupBy("qs")
        .agg(
            F.sum("y").alias("pos"),
            (F.count(F.lit(1)) - F.sum("y")).alias("neg"),
        )
    )
    w = Window.orderBy("qs").rowsBetween(Window.unboundedPreceding, -1)
    cum = bins.withColumn("neg_below", F.coalesce(F.sum("neg").over(w), F.lit(0)))
    # Degenerate single-class guard: with n_pos*n_neg = 0 the
    # Mann-Whitney denominator vanishes; emit the chance value 0.5
    # (defined, visible) rather than a silent NULL.
    return cum.agg(
        F.sum("pos").alias("n_pos"),
        F.sum("neg").alias("n_neg"),
        F.when(F.sum("pos") * F.sum("neg") == 0, F.lit(0.5))
        .otherwise(
            F.round(
                F.sum(
                    2 * F.col("pos") * F.col("neg_below") + F.col("pos") * F.col("neg")
                ).cast("double")
                / (2 * F.sum("pos") * F.sum("neg")).cast("double"),
                6,
            )
        )
        .alias("auc"),
    )


def cohens_kappa(df: DataFrame, rater_a: Column, rater_b: Column) -> DataFrame:
    """Cohen's kappa between two categorical raters (e.g. a labelled
    column vs a heuristic classifier) — chance-corrected agreement:

        kappa = (N·D − Σ_l row_l·col_l) / (N² − Σ_l row_l·col_l)

    with D the diagonal count and row/col the marginals.  Everything
    up to the final division is BIGINT over the labels²-sized
    confusion matrix (one map-side-combinable aggregate; marginal
    joins are label-count-sized).  Emits one row
    ``(n, n_agree, po, pe, kappa)`` with po/pe the observed/expected
    agreement rates.
    """
    conf = (
        df.select(rater_a.alias("a"), rater_b.alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        # labels²-sized frame with THREE consumers (row marginals, col
        # marginals, totals): materialize once or each branch re-scans
        # the corpus and re-evaluates the rater expressions (r13)
        .localCheckpoint(eager=False)
    )
    rows = conf.groupBy("a").agg(F.sum("c").alias("row_c"))
    cols = conf.groupBy("b").agg(F.sum("c").alias("col_c"))
    # Σ row_l·col_l over labels present in BOTH marginals (absent in
    # either ⇒ the product term is 0 — inner join is exact)
    s = (
        rows.join(cols, rows["a"] == cols["b"])
        .agg(F.sum(F.col("row_c") * F.col("col_c")).alias("s"))
    )
    totals = conf.agg(
        F.sum("c").alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), F.col("c")).otherwise(F.lit(0))).alias(
            "d"
        ),
    )
    out = totals.crossJoin(F.broadcast(s))
    return out.select(
        F.col("n").cast("long").alias("n"),
        F.col("d").cast("long").alias("n_agree"),
        F.round(F.col("d").cast("double") / F.col("n").cast("double"), 6).alias("po"),
        F.round(
            F.col("s").cast("double") / (F.col("n") * F.col("n")).cast("double"), 6
        ).alias("pe"),
        # degenerate pe == 1 (both raters constant): kappa is 0/0 —
        # define it as perfect agreement ? 1 : 0 instead of dividing
        F.when(
            F.col("n") * F.col("n") == F.col("s"),
            F.when(F.col("d") == F.col("n"), F.lit(1.0)).otherwise(F.lit(0.0)),
        )
        .otherwise(
            F.round(
                (F.col("n") * F.col("d") - F.col("s")).cast("double")
                / (F.col("n") * F.col("n") - F.col("s")).cast("double"),
                6,
            )
        )
        .alias("kappa"),
    )


def krippendorff_alpha(
    df: DataFrame, rater_a: Column, rater_b: Column
) -> DataFrame:
    """Krippendorff's alpha (nominal metric, two raters, no missing
    values) — the reliability companion to :func:`cohens_kappa` that
    corrects chance agreement by the POOLED value distribution instead
    of per-rater marginals.  With N units, D agreements, and pooled
    label counts n_c = (#a=c) + (#b=c):

        alpha = 1 − 2·(N−D)·(2N−1) / (4N² − Σ_c n_c²)

    (the coincidence-matrix form collapsed for m=2 raters).  Integer
    BIGINT arithmetic to the single final division, over one
    labels²-sized confusion aggregate plus label-count-sized marginal
    joins — the same scale shape as kappa.  Emits one row
    ``(n_units, n_agree, do_rate, de_rate, alpha)``; the degenerate
    constant-label case (4N² = Σn_c²) is defined as 1 on full
    agreement else 0, mirroring the kappa guard."""
    conf = (
        df.select(rater_a.alias("a"), rater_b.alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        # three consumers (rows, cols, totals) — same materialization
        # rationale as cohens_kappa (r13)
        .localCheckpoint(eager=False)
    )
    rows = conf.groupBy("a").agg(F.sum("c").alias("row_c"))
    cols = conf.groupBy("b").agg(F.sum("c").alias("col_c"))
    # pooled marginal n_c needs labels present in EITHER rater — full
    # outer join, unlike kappa's product-exact inner join
    marg = rows.join(cols, rows["a"] == cols["b"], "full_outer").select(
        (F.coalesce(F.col("row_c"), F.lit(0)) + F.coalesce(F.col("col_c"), F.lit(0))).alias("nc")
    )
    s2 = marg.agg(F.sum(F.col("nc") * F.col("nc")).alias("s2"))
    totals = conf.agg(
        F.sum("c").alias("n"),
        F.sum(
            F.when(F.col("a") == F.col("b"), F.col("c")).otherwise(F.lit(0))
        ).alias("d"),
    )
    out = totals.crossJoin(F.broadcast(s2))
    n, d, ss = F.col("n"), F.col("d"), F.col("s2")
    de_num = 4 * n * n - ss
    return out.select(
        n.cast("long").alias("n_units"),
        d.cast("long").alias("n_agree"),
        F.round((n - d).cast("double") / n.cast("double"), 6).alias("do_rate"),
        F.round(
            de_num.cast("double") / (2 * n * (2 * n - 1)).cast("double"), 6
        ).alias("de_rate"),
        F.when(
            de_num == 0,
            F.when(d == n, F.lit(1.0)).otherwise(F.lit(0.0)),
        )
        .otherwise(
            F.round(
                F.lit(1.0)
                - (2 * (n - d) * (2 * n - 1)).cast("double")
                / de_num.cast("double"),
                6,
            )
        )
        .alias("alpha"),
    )


def mcnemar_test(
    df: DataFrame, truth: Column, pred_a: Column, pred_b: Column
) -> DataFrame:
    """McNemar's test for two classifiers evaluated on the SAME
    examples — the paired significance check kappa/alpha don't give
    you: of the discordant pairs, b = A right / B wrong and c = A
    wrong / B right; the statistic (with continuity correction)

        chi2 = max(|b − c| − 1, 0)² / (b + c)

    is chi-square(1) under H0 "both classifiers err at the same rate"
    (Edwards continuity correction, clamped at 0 so b == c scores
    exactly 0 — the correction may never increase the statistic).
    One map-side-combinable aggregate over the corpus (two
    conditional sums), BIGINT until the single final division; the
    degenerate b + c = 0 case (no discordant pairs) is defined as
    chi2 = 0.  Emits one row ``(n, n_b, n_c, chi2)``."""
    a_ok = (pred_a == truth).cast("long")
    b_ok = (pred_b == truth).cast("long")
    agg = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(a_ok * (1 - b_ok)).alias("n_b"),
        F.sum((1 - a_ok) * b_ok).alias("n_c"),
    )
    b, c = F.col("n_b"), F.col("n_c")
    adj = F.greatest(F.abs(b - c) - 1, F.lit(0))
    num = adj * adj
    return agg.select(
        F.col("n").cast("long").alias("n"),
        b.cast("long").alias("n_b"),
        c.cast("long").alias("n_c"),
        F.when(b + c == 0, F.lit(0.0))
        .otherwise(F.round(num.cast("double") / (b + c).cast("double"), 6))
        .alias("chi2"),
    )


def chi2_independence(
    df: DataFrame, col_a: Column, col_b: Column
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns, plus Cramér's V effect size — the association check the
    drift tier (psi/ks) doesn't give for category × category (e.g. "is
    order priority independent of order status?").  Emits one row
    ``(n, r_levels, c_levels, dof, chi2, cramers_v)``.

    Engine-deterministic by the repo's micro-quantization rule: using
    the identity chi2 = N·Σ n²ᵢⱼ/(rᵢcⱼ) − N, each cell's term is
    floor(1e9·n²/(r·c) + 0.5) — a fixed chain of IEEE double ops on
    exact integers — and the cross-cell SUM is then BIGINT (order-
    independent), so a SQL oracle replays the statistic bit-for-bit
    where a naive double Σ(n−e)²/e would drift in the last ulp with
    aggregation order.  Quantization error is ≤ cells·N/1e9 ≪ the
    6-decimal emission.  Scale shape: one (a, b) count aggregation
    (cells = |A|×|B| rows, category-sized), window margins over the
    CELL table (never the fact stream), one final reduce.

    NULL is a LEVEL, not a hole: each column is coalesced to the
    sentinel ``'__null__'`` (string-cast first, so the sentinel types
    uniformly) BEFORE cell counting — otherwise the null group counts
    in n/margins/chi2 while ``collect_set`` (and a SQL oracle's
    COUNT(DISTINCT)) drops it from r_levels/c_levels, leaving the
    statistic and its dof inconsistent.  Oracles must apply the same
    ``COALESCE(CAST(x AS VARCHAR), '__null__')``."""
    # margin column names must not collide case-insensitively with the
    # cell count ("n" vs "N" is ambiguous under Spark's default
    # case-insensitive resolution)
    cells = df.groupBy(
        F.coalesce(col_a.cast("string"), F.lit("__null__")).alias("__a"),
        F.coalesce(col_b.cast("string"), F.lit("__null__")).alias("__b"),
    ).agg(F.count(F.lit(1)).alias("nc")).localCheckpoint(eager=False)
    # ^ category²-sized, two consumers (totals + margin windows):
    # materialize once instead of scanning the fact table twice (r13)
    w_a, w_b = Window.partitionBy("__a"), Window.partitionBy("__b")
    # grand totals as a 1-row broadcast join-back, NOT an unordered
    # OVER () fold: the fold planned a single-partition WindowExec
    # whose warning is indistinguishable from a real data-sized global
    # window in logs (r10 verdict).  Same values — __a/__b are
    # sentinel-coalesced, so count_distinct == size(collect_set).
    totals = cells.agg(
        F.sum("nc").alias("nt"),
        F.count_distinct("__a").alias("rl"),
        F.count_distinct("__b").alias("cl"),
    )
    t = cells.select(
        "nc",
        F.sum("nc").over(w_a).alias("rm"),
        F.sum("nc").over(w_b).alias("cm"),
    ).crossJoin(F.broadcast(totals))
    term = F.expr(
        "cast(floor(1e9 * cast(nc * nc as double) / cast(rm * cm as double)"
        " + 0.5) as bigint)"
    )
    agg = t.select(
        term.alias("t"), "nt", "rl", "cl"
    ).agg(
        F.sum("t").alias("s"),
        F.max("nt").alias("nt"),
        F.max("rl").alias("rl"),
        F.max("cl").alias("cl"),
    )
    chi2 = F.expr(
        "round(cast(nt as double) * (cast(s as double) / 1e9) - nt, 6)"
    )
    return agg.select(
        F.col("nt").cast("long").alias("n"),
        F.col("rl").cast("int").alias("r_levels"),
        F.col("cl").cast("int").alias("c_levels"),
        ((F.col("rl") - 1) * (F.col("cl") - 1)).cast("int").alias("dof"),
        chi2.alias("chi2"),
        # dof = 0 (a column with one level) is DEFINED as V = 0 — the
        # raw formula divides by least(rl-1, cl-1) = 0, where Spark
        # yields NULL and DuckDB inf, so the guard keeps the two
        # engines (and downstream readers) agreeing on degenerate input
        F.expr(
            "case when least(rl - 1, cl - 1) = 0 then 0.0d else "
            "round(sqrt(greatest(cast(nt as double) * (cast(s as double)"
            " / 1e9) - nt, 0.0d) / (cast(nt as double)"
            " * least(rl - 1, cl - 1))), 6) end"
        ).alias("cramers_v"),
    )


def mutual_information(
    df: DataFrame, col_a: Column, col_b: Column
) -> DataFrame:
    """Mutual information (nats) between two categorical columns —
    the effect-size companion of :func:`chi2_independence` on the
    identical cell-table shape: MI = Σᵢⱼ (nᵢⱼ/N)·ln(nᵢⱼ·N / (rᵢ·cⱼ)),
    0 exactly at independence, growing with association.  Emits one
    row ``(n, r_levels, c_levels, mi)``.

    Determinism: each cell's term is floor(1e9·(n·ln(n·N/(r·c))/N)
    + 0.5) — a FIXED chain of IEEE double ops on exact integer-valued
    inputs, with one ``ln`` per cell (the q_pmi precedent: both
    engines' libm ln agree on these operands) — and the cross-cell
    sum is BIGINT, so aggregation order can't drift the statistic.
    NULL categories coalesce to the ``'__null__'`` sentinel level in
    both engines, exactly as in chi2_independence.  Scale shape: one
    (a, b) count aggregation, window margins over the category²-sized
    CELL table, one final reduce."""
    cells = df.groupBy(
        F.coalesce(col_a.cast("string"), F.lit("__null__")).alias("__a"),
        F.coalesce(col_b.cast("string"), F.lit("__null__")).alias("__b"),
    ).agg(F.count(F.lit(1)).alias("nc")).localCheckpoint(eager=False)
    # ^ two consumers — same materialization as chi2_independence (r13)
    w_a, w_b = Window.partitionBy("__a"), Window.partitionBy("__b")
    # 1-row grand-total broadcast join-back (chi2_independence's
    # shape) instead of an unordered OVER () fold — see the note there
    totals = cells.agg(
        F.sum("nc").alias("nt"),
        F.count_distinct("__a").alias("rl"),
        F.count_distinct("__b").alias("cl"),
    )
    t = cells.select(
        "nc",
        F.sum("nc").over(w_a).alias("rm"),
        F.sum("nc").over(w_b).alias("cm"),
    ).crossJoin(F.broadcast(totals))
    term = F.expr(
        "cast(floor(1e9 * (cast(nc as double)"
        " * ln(cast(nc as double) * cast(nt as double)"
        " / (cast(rm as double) * cast(cm as double)))"
        " / cast(nt as double)) + 0.5) as bigint)"
    )
    agg = t.select(term.alias("t"), "nt", "rl", "cl").agg(
        F.sum("t").alias("s"),
        F.max("nt").alias("nt"),
        F.max("rl").alias("rl"),
        F.max("cl").alias("cl"),
    )
    return agg.select(
        F.col("nt").cast("long").alias("n"),
        F.col("rl").cast("int").alias("r_levels"),
        F.col("cl").cast("int").alias("c_levels"),
        F.expr("round(cast(s as double) / 1e9, 6)").alias("mi"),
    )


#: nDCG position discounts in integer micro-units:
#: w_i = floor(1e6 / log2(i+1) + 0.5).  Computed ONCE here with
#: Python's log2 and replayed as literals in both engines — a
#: transcendental evaluated per-rank at runtime would re-open the
#: ulp-portability hole the quantization exists to close.
def ndcg_weight_micro(rank: int) -> int:
    return int(math.floor(1_000_000.0 / math.log2(rank + 1) + 0.5))


def retrieval_eval(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    n_queries: int = 20,
    k: int = 10,
) -> DataFrame:
    """Label-based retrieval quality for an embedding index: for each
    of the ``n_queries`` lowest-id vectors, take its top-``k`` cosine
    neighbors (self excluded) and score how many share the query's
    label — precision@k and nDCG@k with binary gains.

    Scale shape: neighbor generation is :func:`knn_join` (per-batch
    gemm, per-query shortlist shuffle — never corpus×queries rows);
    ranking/metric windows run per query over k-sized shortlists.
    nDCG discounts are the micro-unit literals of
    :func:`ndcg_weight_micro`, so DCG/IDCG are exact BIGINT sums and
    the single final division is the only float op.  Emits one row per
    query: ``(qid, label, n_hits, precision, ndcg)``.
    """
    from opl_spark.operators.similarity import knn_join

    qrows = (
        df.select(F.col(id_col), F.col(vec_col), F.col(label_col))
        .orderBy(id_col)
        .limit(n_queries)
        .collect()
    )  # queries ≪ corpus: metadata-sized driver state, the knn_join regime
    queries = [(int(r[id_col]), [float(x) for x in r[vec_col]]) for r in qrows]
    qlabels = df.sparkSession.createDataFrame(
        [(int(r[id_col]), r[label_col]) for r in qrows], ["qid", "qlabel"]
    )

    # k+1 then drop self: the query vector itself always ranks first
    nn = knn_join(df, vec_col, id_col, queries, k=k + 1).filter(
        F.col("id") != F.col("qid")
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), "id")
    ranked = nn.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= k)

    pool_labels = df.select(
        F.col(id_col).alias("id"), F.col(label_col).alias("nlabel")
    )
    weights = F.create_map(
        *[x for i in range(1, k + 1) for x in (F.lit(i), F.lit(ndcg_weight_micro(i)))]
    )
    scored = (
        ranked.join(pool_labels, "id")
        .join(F.broadcast(qlabels), "qid")
        .select(
            "qid",
            "qlabel",
            "r",
            (F.col("nlabel") == F.col("qlabel")).cast("long").alias("rel"),
            weights[F.col("r")].alias("w_micro"),
        )
    )
    per_q = scored.groupBy("qid", "qlabel").agg(
        F.sum("rel").alias("n_hits"),
        F.sum(F.col("rel") * F.col("w_micro")).alias("dcg_micro"),
    )
    # IDCG = the hits packed into the best ranks — a prefix sum of the
    # weight literals, selected by n_hits (0 hits ⇒ ndcg 0 by definition)
    prefix = [0]
    for i in range(1, k + 1):
        prefix.append(prefix[-1] + ndcg_weight_micro(i))
    idcg = F.create_map(
        *[x for h in range(0, k + 1) for x in (F.lit(h), F.lit(prefix[h]))]
    )
    return per_q.select(
        "qid",
        F.col("qlabel").alias("label"),
        F.col("n_hits").cast("long").alias("n_hits"),
        F.round(F.col("n_hits").cast("double") / F.lit(float(k)), 6).alias(
            "precision"
        ),
        F.when(F.col("n_hits") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.col("dcg_micro").cast("double")
                / idcg[F.col("n_hits")].cast("double"),
                6,
            )
        )
        .alias("ndcg"),
    )


def mrr_weight_micro(rank: int) -> int:
    """Reciprocal-rank in integer micro-units: floor(1e6/r + 0.5) —
    literal per shortlist position, same portability rationale as
    :func:`ndcg_weight_micro`."""
    return int(math.floor(1_000_000.0 / rank + 0.5))


def mrr_eval(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    n_queries: int = 20,
    k: int = 10,
) -> DataFrame:
    """Mean-reciprocal-rank inputs for the embedding index: for each
    query (lowest ``n_queries`` ids), the rank of the FIRST top-``k``
    cosine neighbor sharing its label, and the micro-unit reciprocal
    rank (0 when no neighbor hits).  ``AVG(rr)`` over the output is
    the index's MRR@k; per-query rows are emitted so misses are
    attributable (the eval-report shape, like :func:`retrieval_eval`).

    Same scale shape as retrieval_eval: knn_join shortlists, per-query
    k-sized windows, BIGINT micro-units until the final division.
    Emits ``(qid, label, first_hit_rank, rr)`` — first_hit_rank 0 on
    miss.
    """
    from opl_spark.operators.similarity import knn_join

    qrows = (
        df.select(F.col(id_col), F.col(vec_col), F.col(label_col))
        .orderBy(id_col)
        .limit(n_queries)
        .collect()
    )
    queries = [(int(r[id_col]), [float(x) for x in r[vec_col]]) for r in qrows]
    qlabels = df.sparkSession.createDataFrame(
        [(int(r[id_col]), r[label_col]) for r in qrows], ["qid", "qlabel"]
    )
    nn = knn_join(df, vec_col, id_col, queries, k=k + 1).filter(
        F.col("id") != F.col("qid")
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), "id")
    ranked = nn.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= k)
    pool_labels = df.select(F.col(id_col).alias("id"), F.col(label_col).alias("nlabel"))
    rrs = F.create_map(
        *[x for i in range(1, k + 1) for x in (F.lit(i), F.lit(mrr_weight_micro(i)))]
    )
    hits = (
        ranked.join(pool_labels, "id")
        .join(F.broadcast(qlabels), "qid")
        .filter(F.col("nlabel") == F.col("qlabel"))
        .groupBy("qid", "qlabel")
        .agg(F.min("r").alias("first_hit_rank"))
    )
    return (
        F.broadcast(qlabels)
        .join(hits.select("qid", "first_hit_rank"), "qid", "left")
        .select(
            "qid",
            F.col("qlabel").alias("label"),
            F.coalesce(F.col("first_hit_rank"), F.lit(0))
            .cast("long")
            .alias("first_hit_rank"),
            F.round(
                F.coalesce(
                    rrs[F.col("first_hit_rank")], F.lit(0)
                ).cast("double")
                / F.lit(1000000.0),
                6,
            ).alias("rr"),
        )
    )


def ece_binned(
    df: DataFrame,
    prob_col: Column,
    label_col: Column,
    n_bins: int = 10,
) -> DataFrame:
    """Expected calibration error of a probabilistic classifier:
    predictions micro-quantized, cut into ``n_bins`` equal-width
    probability bins, and

        ECE = Σ_b (n_b/N)·|acc_b − conf_b|
            = Σ_b |pos_b·1e6 − Σ_b q_pred| / (N·1e6)

    — the common-denominator form keeps the whole sum BIGINT (each
    bin's |accuracy − confidence| clears against the same 1e6 scale),
    so the only float op is the final division.  One combinable bin
    aggregate + a one-row reduce; emits ``(n, ece)`` plus the worst
    bin's index and gap for triage.
    """
    q = F.floor(prob_col.cast("double") * 1000000 + F.lit(0.5)).cast("long")
    staged = df.select(
        q.alias("qp"), label_col.cast("long").alias("y")
    ).select(
        # clamp BOTH ends so out-of-range probabilities (p<0 or p>1)
        # land in the edge bins and the declared n_bins bound holds
        F.greatest(
            F.least(
                F.floor(F.col("qp") * n_bins / 1000000).cast("long"),
                F.lit(n_bins - 1),
            ),
            F.lit(0).cast("long"),
        ).alias("bin"),
        "qp",
        "y",
    )
    bins = staged.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_b"),
        F.sum("y").alias("pos_b"),
        F.sum("qp").alias("conf_b"),
    )
    gap = F.abs(F.col("pos_b") * 1000000 - F.col("conf_b"))
    per_bin = bins.select("bin", "n_b", gap.alias("gap"))
    return per_bin.agg(
        F.sum("n_b").cast("long").alias("n"),
        F.round(
            F.sum("gap").cast("double") / (F.sum("n_b") * 1000000).cast("double"),
            6,
        ).alias("ece"),
        F.max(F.struct(F.col("gap"), F.col("bin"))).getField("bin").alias(
            "worst_bin"
        ),
    )


def psi_drift(
    df: DataFrame,
    value_col: Column,
    split_col: Column,
    bin_width: float,
    n_bins: int,
) -> DataFrame:
    """Population-stability index between the two sides of a boolean
    split (reference = false, current = true) over fixed-width value
    bins — the standard feature-drift monitor between ingest batches:

        PSI = Σ_b (p_b − q_b) · ln(p_b / q_b)

    with add-one smoothed bin counts (both sides always positive).
    Each bin's term is computed from BIGINT counts in one fixed float
    sequence and quantized to NANO-units before the cross-engine sum
    (the per-element quantization rule — bins are few, terms are
    tiny).  One combinable (bin, side) count + a bins-sized reduce.
    Emits one row ``(n_ref, n_cur, psi)``.
    """
    staged = df.select(
        # two-sided clamp: negative values land in bin 0 instead of
        # spawning bins below the declared [0, n_bins) range
        F.greatest(
            F.least(
                F.floor(value_col.cast("double") / F.lit(bin_width)).cast("long"),
                F.lit(n_bins - 1),
            ),
            F.lit(0).cast("long"),
        ).alias("bin"),
        split_col.cast("long").alias("cur"),
    )
    bins = staged.groupBy("bin").agg(
        (F.sum(1 - F.col("cur")) + 1).alias("a"),  # ref, add-one smoothed
        (F.sum("cur") + 1).alias("b"),  # current
    )
    tot = bins.agg(
        F.sum("a").alias("ta"), F.sum("b").alias("tb")
    )
    j = bins.crossJoin(F.broadcast(tot))
    # FIXED sequence: diff = a/ta − b/tb; l = ln((a·tb)/(b·ta));
    # term quantized to nano-units so the engine-side sum is exact
    diff = F.col("a").cast("double") / F.col("ta").cast("double") - F.col(
        "b"
    ).cast("double") / F.col("tb").cast("double")
    lg = F.log(
        (F.col("a") * F.col("tb")).cast("double")
        / (F.col("b") * F.col("ta")).cast("double")
    )
    termq = F.floor(diff * lg * 1000000000 + F.lit(0.5)).cast("long")
    return j.select("a", "b", termq.alias("t")).agg(
        (F.sum("a") - F.count(F.lit(1))).cast("long").alias("n_ref"),
        (F.sum("b") - F.count(F.lit(1))).cast("long").alias("n_cur"),
        F.round(F.sum("t").cast("double") / F.lit(1000000000.0), 6).alias("psi"),
    )


def label_noise(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
) -> DataFrame:
    """Neighborhood-vote mislabel screen (the confident-learning
    heuristic): a vector whose ``k`` nearest neighbors mostly carry a
    DIFFERENT label is a labeling-error candidate — the complement of
    :func:`label_centroid_outliers` (far-from-own-class vs
    surrounded-by-other-classes; a point can be either without the
    other).

    Same scale machinery as the retrieval metrics: knn_join shortlists
    for the ``n_queries`` (100) lowest ids, per-query ``k``-sized (5)
    windows, all integer counts.  Emits ``(vec_id, label, n_disagree)``
    for candidates with ≥ ``min_disagree`` (4) disagreeing neighbors.
    """
    from opl_spark.operators.similarity import knn_join

    n_queries, k, min_disagree = 100, 5, 4
    qrows = (
        df.select(F.col(id_col), F.col(vec_col), F.col(label_col))
        .orderBy(id_col)
        .limit(n_queries)
        .collect()
    )
    queries = [(int(r[id_col]), [float(x) for x in r[vec_col]]) for r in qrows]
    qlabels = df.sparkSession.createDataFrame(
        [(int(r[id_col]), r[label_col]) for r in qrows], ["qid", "qlabel"]
    )
    nn = knn_join(df, vec_col, id_col, queries, k=k + 1).filter(
        F.col("id") != F.col("qid")
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), "id")
    ranked = nn.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= k)
    pool_labels = df.select(F.col(id_col).alias("id"), F.col(label_col).alias("nlabel"))
    votes = (
        ranked.join(pool_labels, "id")
        .join(F.broadcast(qlabels), "qid")
        .groupBy("qid", "qlabel")
        .agg(
            F.sum((F.col("nlabel") != F.col("qlabel")).cast("long")).alias(
                "n_disagree"
            )
        )
    )
    return votes.filter(F.col("n_disagree") >= min_disagree).select(
        F.col("qid").alias("vec_id"),
        F.col("qlabel").alias("label"),
        F.col("n_disagree").cast("long").alias("n_disagree"),
    )


def cuped_adjustment(
    df: DataFrame,
    pre_col: str,
    post_col: str,
    arm_col: str,
) -> DataFrame:
    """CUPED variance reduction for A/B readouts (Deng, Xu, Kohavi &
    Walker, WSDM 2013): adjust each unit's post-period metric by its
    PRE-experiment covariate, ŷᵢ = yᵢ − θ(xᵢ − x̄) with the pooled
    θ = cov(x, y)/var(x), which shrinks the readout's variance by the
    squared pre/post correlation without biasing the arm difference
    (the covariate predates assignment).

    One pass: per-arm exact moment sums in decimal(38,0) (the
    q_correlation discipline — order-independent, combinable), the
    pooled moments from folding the arm rows (arm-count-sized), θ as
    the single float division, and the adjusted means as a fixed
    arithmetic expression over exact-sum-derived doubles — written
    IDENTICALLY in the SQL oracle, so the IEEE ops sequence matches
    bit for bit.  A zero-variance covariate yields θ = 0 (nothing to
    adjust with), not an infinity.

    Inputs must be integral (scale currency to cents first).  Returns
    one row per arm: ``(arm, n, mean_raw, mean_cuped, theta)``,
    means and θ rounded to 6 places.

    Scale shape: ONE hash aggregate over units; everything after runs
    on |arms| rows against a 1-row pooled-moment broadcast.
    """
    big = "decimal(38,0)"
    base = df.select(
        F.col(arm_col).alias("arm"),
        F.col(pre_col).cast(big).alias("x"),
        F.col(post_col).cast(big).alias("y"),
    )
    arms = base.groupBy("arm").agg(
        F.count(F.lit(1)).cast(big).alias("n_a"),
        F.sum("x").alias("sx_a"),
        F.sum("y").alias("sy_a"),
        F.sum(F.col("x") * F.col("y")).alias("sxy_a"),
        F.sum(F.col("x") * F.col("x")).alias("sxx_a"),
    )
    tot = arms.agg(
        F.sum("n_a").alias("n"),
        F.sum("sx_a").alias("sx"),
        F.sum("sy_a").alias("sy"),
        F.sum("sxy_a").alias("sxy"),
        F.sum("sxx_a").alias("sxx"),
    )
    joined = arms.crossJoin(F.broadcast(tot))
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    theta = F.when(den == 0, F.lit(0.0)).otherwise(
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / den.cast("double")
    )
    mean_raw = F.col("sy_a").cast("double") / F.col("n_a").cast("double")
    mean_x_a = F.col("sx_a").cast("double") / F.col("n_a").cast("double")
    mean_x = F.col("sx").cast("double") / F.col("n").cast("double")
    return joined.select(
        F.col("arm"),
        F.col("n_a").cast("long").alias("n"),
        F.round(mean_raw, 6).alias("mean_raw"),
        F.round(mean_raw - theta * (mean_x_a - mean_x), 6).alias(
            "mean_cuped"
        ),
        F.round(theta, 6).alias("theta"),
    )
