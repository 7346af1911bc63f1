"""Physical-plan assertions: the scale properties SURVEY.md §4 claims
(partition pruning driven by cut compilation, parquet predicate
pushdown, column pruning) must be visible in the executed plan — not
just intended."""

import pytest

from opl_spark.cube import CubeEngine
from opl_spark.facts import build_loans_fact, default_catalog
from plan_helpers import partition_filters, pushed_filters, read_schemas


@pytest.fixture(scope="module")
def warehouse_engine(spark, sf_dir, tmp_path_factory):
    """loans2 written as a (year, month)-partitioned parquet warehouse
    — the layout SnapshotEngine.write produces — then served by a
    CubeEngine reading it back."""
    path = str(tmp_path_factory.mktemp("wh") / "loans2")
    build_loans_fact(spark, sf_dir).write.partitionBy("year", "month").parquet(path)
    eng = CubeEngine(default_catalog())
    eng.register_fact("loans2", spark.read.parquet(path))
    return eng


def test_hierarchy_cut_prunes_partitions(warehouse_engine):
    df = warehouse_engine.aggregate(
        "loans2", cut="date:1995,3", drilldown="loan_type", measure="value"
    )
    # the (year, month) path cut must land in PartitionFilters, so the
    # scan touches one month's directory, not the table's history
    pf = partition_filters(df)
    assert pf, "no scan with PartitionFilters found"
    assert "year" in pf[0] and "month" in pf[0], pf[0]
    assert "1995" in pf[0] and "3" in pf[0], pf[0]


def test_flat_cut_pushes_down_to_parquet(warehouse_engine):
    df = warehouse_engine.aggregate(
        "loans2", cut="loan_type:O", drilldown="date", measure="value"
    )
    pushed = pushed_filters(df)
    assert pushed, "no scan with PushedFilters found"
    assert "loan_type" in pushed[0], pushed[0]


def test_aggregate_prunes_columns(warehouse_engine):
    df = warehouse_engine.aggregate("loans2", drilldown="loan_type", measure="value")
    schemas = read_schemas(df)
    assert schemas, "no scan with ReadSchema found"
    # only the group key + measure are read; wide columns stay on disk
    assert "loan_type" in schemas[0] and "value" in schemas[0]
    for unused in ("priority", "segment", "consortia_label"):
        assert unused not in schemas[0], schemas[0]


def test_topk_plans_take_ordered_not_global_window(spark, sf_dir):
    """The brute-force top-k selection must plan as TakeOrderedAndProject
    (per-partition heaps, driver merges k·partitions rows) — never an
    unpartitioned Window, which funnels the whole scored corpus through
    one partition."""
    from opl_spark.operators.similarity import topk_scored
    from opl_spark.plans import formatted_plan
    from opl_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    plan = formatted_plan(topk_scored(emb, "embedding", "vec_id", q, k=10))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan


def test_contamination_broadcasts_bench_side(spark, sf_dir):
    """The benchmark shingle set must reach the corpus probe as a
    broadcast hash join — a shuffled join here would move the corpus
    shingle stream for a metadata-sized right side."""
    from pyspark.sql import functions as F

    from opl_spark.operators.dedup import contamination
    from opl_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    df = contamination(
        docs.filter(F.col("doc_id") >= 5), docs.filter(F.col("doc_id") < 5),
        "text", "doc_id", 5,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_tuple_range_cut_prunes_on_leading_level(warehouse_engine):
    df = warehouse_engine.aggregate(
        "loans2",
        cut="date:1994,10-1995,2",
        drilldown="date:year|date:month",
        measure="value",
    )
    # the tuple range compiles to plain (year, month) comparisons,
    # which reach the partition columns so the range prunes directories
    pf = partition_filters(df)
    assert pf and "year" in pf[0], pf


def test_connector_day_window_prunes_year_and_month(warehouse_engine):
    """The connector's ``date:Y,M,D-Y,M,D`` window also compares
    ``day``, which is no partition column; Catalyst still derives a
    partition filter from the (year, month) part of each bound."""
    df = warehouse_engine.aggregate(
        "loans2",
        cut="date:1994,12,20-1995,1,16",
        drilldown="segment",
        measure="value",
    )
    pf = partition_filters(df)
    assert pf and "year" in pf[0] and "month" in pf[0], pf


# ---------------------------------------------------------------------------
# round-2 pipeline operators: shuffle-count assertions
# ---------------------------------------------------------------------------


def _exchanges(df) -> int:
    import re

    from opl_spark.plans import formatted_plan

    # count plan NODES ("(5) Exchange"), not tree-sketch echoes of them
    return len(re.findall(r"\(\d+\) Exchange", formatted_plan(df)))


def test_map_only_ops_have_no_shuffle(spark, sf_dir):
    """mix_sources / stratified_sample / quantize are claimed map-only
    (a 100 TB corpus streams through without a single shuffle) — the
    plan must contain zero Exchange nodes."""
    from opl_spark.operators.sampling import mix_sources, stratified_sample
    from opl_spark.operators.similarity import quantize_embeddings
    from opl_spark.sources import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    emb = load_table(spark, sf_dir, "embeddings")
    assert _exchanges(mix_sources(docs, "source", "doc_id", {"src0": 2.0})) == 0
    assert _exchanges(stratified_sample(docs, "source", "doc_id", {"src0": 0.5})) == 0
    assert _exchanges(quantize_embeddings(emb, "embedding", "vec_id")) == 0


def test_zorder_agg_is_single_shuffle(spark, sf_dir):
    """The Z-order bucket rollup is one partial-agg shuffle — the
    Morton key itself is a pure expression, not a repartition."""
    from opl_spark import workload

    df = workload.queries()["q_zorder"](spark, sf_dir)
    assert _exchanges(df) == 1


def test_incremental_dedup_no_global_exchange_beyond_keys(spark, sf_dir):
    """Anti-join + batch agg: every Exchange must be hash partitioning
    on the content hash — no single-partition funnels."""
    from opl_spark.plans import formatted_plan
    from opl_spark import workload

    plan = formatted_plan(workload.queries()["q_incremental_dedup"](spark, sf_dir))
    assert "SinglePartition" not in plan


def test_chunking_is_map_only(spark, sf_dir):
    """Sliding-window chunking claims zero shuffles — the token array,
    start offsets, and slices are all row-local HOF expressions."""
    from opl_spark.operators.text import chunk_documents
    from opl_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    assert _exchanges(chunk_documents(docs, "text", "doc_id")) == 0


def test_vocab_build_plans_take_ordered(spark, sf_dir):
    """The vocabulary top-N must be TakeOrderedAndProject (per-partition
    heaps), never a global sort of the whole vocabulary."""
    from opl_spark.operators.text import build_vocab
    from opl_spark.plans import formatted_plan
    from opl_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = formatted_plan(build_vocab(docs, "text", "doc_id", 100))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan


def test_pq_encode_is_map_only(spark, sf_dir):
    """PQ encoding is one Arrow-batched map pass — no shuffle; only
    (id, m codes) survive the scan."""
    from opl_spark.operators.similarity import pq_encode_quantized, pq_train_quantized
    from opl_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    book = pq_train_quantized(emb, "embedding", "vec_id", m=4, k=8)
    assert _exchanges(pq_encode_quantized(emb, "embedding", "vec_id", book)) == 0


def test_pack_sequences_window_is_sharded(spark, sf_dir):
    """The packing running-sum must window over (grp, shard) — two
    partition keys — so a corpus with a handful of sources never
    serializes one source's whole token stream through a single task."""
    import re

    from opl_spark.operators.text import pack_sequences
    from opl_spark.plans import formatted_plan
    from opl_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = formatted_plan(pack_sequences(docs, "text", "doc_id", "source"))
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    for spec in specs:
        # partition keys = leading args before the first ordered arg
        args = spec.split(", ")
        n_keys = 0
        for a in args:
            if " ASC" in a or " DESC" in a:
                break
            n_keys += 1
        assert n_keys >= 2, spec


@pytest.mark.slow  # r14 slow tier
def test_no_scale_killers_in_any_registered_query(spark):
    """Repo-wide physical-plan audit: no registered query may plan a
    cartesian product, a nested-loop join (except a broadcast against
    a provably single-row side), an unpartitioned RANKING window, or —
    new r10 (verdict task 4) — an unpartitioned UNORDERED window
    (``OVER ()``) over anything bigger than a summary table: it
    funnels everything into one task just the same.

    Detection is the SAME code production uses (plans.scale_lint /
    unpartitioned_ordered_windows / unpartitioned_unordered_windows) —
    one detector, no drift between the CI gate and the library.  Plans
    are inspected at sf0.001 (plan SHAPE is scale-invariant; AQE only
    narrows it at runtime)."""
    from opl_spark import workload
    from opl_spark.plans import formatted_plan
    from opl_spark.plans.inspect import (
        unpartitioned_ordered_windows,
        unpartitioned_unordered_windows,
    )

    # broadcast cross-join against a single-row aggregate (corpus count
    # guards / zero-fill defaults / report-total shares) is 1-row x N —
    # legitimate
    single_row_broadcast_ok = {
        "q_tfidf", "q_zero_fill", "q_bm25_search", "q_pmi", "q_cube_share",
        "q_negative_pairs", "q_benford", "q_temporal_split",
        "q_class_separation", "q_ab_zstat", "q_basket_rules",
        "q_sales_opportunity", "q_important_stock", "q_stupid_backoff",
        # constant-size broadcast sides (label set / threshold list /
        # vocab-size list / 1-row totals)
        "q_naive_bayes", "q_pr_curve", "q_churn_cohort", "q_dedup_report",
        "q_vocab_coverage",
        # lifetime-summary x lifetime-summary non-equi suffix-sum join
        "q_survival_hazard",
        # 1-row corpus-size broadcast onto the (doc,term) aggregate
        "q_doc_keywords",
        # 4-row lag-list broadcast onto the day summary
        "q_acf",
        # 1-row reference-date + quartile-boundary broadcasts
        "q_rfm_segments",
        # day-spine broadcast (calendar-sized) onto the user list
        "q_periodic_snapshot",
        # 1-row totals/percentile broadcast onto the customer summary
        "q_revenue_concentration",
        # lazy RRF now exposes bm25's 1-row corpus-stats crossJoin in
        # the fused plan (the legs are LIMIT-bounded shortlists)
        "q_hybrid_search",
        # 1-row corpus-token-total broadcast onto the scored token
        # stream (r13: unigram_logprob's total rides the plan instead
        # of a driver .first() scalar; ccnet_bucket consumes it)
        "q_unigram_logprob", "q_ccnet_bucket",
        # 1-row distinct-doc-count broadcast onto the token-df counts
        "q_heavy_hitters",
        # 1-row bigram-type total broadcast onto the scored stream
        "q_kneser_ney",
        # 1-row confusion totals x 1-row marginal-product broadcast
        "q_cohens_kappa",
        # 1-row confusion totals x 1-row pooled-marginal Σnc² broadcast
        # (kappa's shape); the FULL OUTER label-marginal join is
        # label-count-sized on both sides
        "q_krippendorff_alpha",
        # 1-row bin-total broadcast onto the 20-row bin table
        "q_psi_drift",
        # 1-row train-vocab (tot, V) broadcast onto the val token stream
        "q_heldout_perplexity",
        # rank statistics (r10): the cross-partition prefix offsets are
        # a P x P theta-join over PER-PARTITION TOTALS (P = shuffle
        # partitions, driver-bounded by construction, ranking.py);
        # q_lorenz_deciles adds the ≤10-row bucket-summary suffix join
        # and the 1-row (n, total) broadcast
        "q_spearman", "q_gini", "q_lorenz_deciles",
        # 1-row pooled-moment broadcast onto the |arms|-row summary
        "q_cuped",
        # 1-row tie-term broadcast onto the 1-row rank-sum summary
        "q_mann_whitney",
        # cell x cell concordance theta-join over the 50x11 joint
        # contingency table — domain-bounded, never n^2 (ranking.py
        # kendall_tau_b; the documented bounded-ordinal contract)
        "q_kendall_tau",
        # r11: the former unordered OVER () folds are now 1-row
        # grand-total broadcasts onto category²-sized cell tables
        # (chi2/MI, evaluate.py) and the #groups-sized counts table
        # (temperature_mix, sampling.py) — the corpus legs stay pure
        # BroadcastHashJoin
        "q_chi2_independence", "q_mutual_information", "q_temperature_mix",
    }
    # ordered window over a GROUP-SUMMARY input (bucket stats, report
    # rows) — bounded by construction, not a fact-stream funnel
    # q_hybrid_search: the two ranking windows run over LIMIT-bounded
    # shortlist legs (≤50 rows each), not the corpus — the lazy-RRF
    # rewrite traded the old eager collect for these summary windows
    # q_auc: the cumulative pass of histogram AUC runs over the score
    # BIN table (bounded by score range x quantization, not row count)
    summary_window_ok = {"q_id_gaps", "q_vocab_coverage", "q_hybrid_search", "q_auc"}
    # r11: no unordered-OVER-() exemptions remain — the three former
    # folds (chi2/MI/temperature_mix) were rewritten as 1-row
    # broadcast join-backs, so the unordered-window check runs
    # exemption-free over every registered query.
    sf = "/root/testdata/sf0.001"
    flagged = {}
    for name, fn in workload.queries().items():
        plan = formatted_plan(fn(spark, sf))
        hits = []
        if "CartesianProduct" in plan:
            hits.append("cartesian")
        if "BroadcastNestedLoopJoin" in plan and name not in single_row_broadcast_ok:
            hits.append("nested-loop join")
        if name not in summary_window_ok and unpartitioned_ordered_windows(plan):
            hits.append("global window")
        if unpartitioned_unordered_windows(plan):
            hits.append("unordered global window")
        if hits:
            flagged[name] = hits
    assert not flagged, flagged


def test_bucketed_graph_rounds_have_no_edge_side_exchange(spark, sf_dir):
    """The bucketed-edge pagerank variant must (1) scan the bucketed
    catalog table ('Bucketed: true'), (2) plan STRICTLY fewer
    exchanges than the plain variant, and (3) keep only the inherent
    per-round message shuffle — ≤ iterations exchanges total, where
    the plain form re-shuffles the full edge list every round."""
    import re

    from opl_spark import workload
    from opl_spark.plans import formatted_plan

    qs = workload.queries()
    plain = formatted_plan(qs["q_pagerank"](spark, sf_dir))
    buck = formatted_plan(qs["q_pagerank_bucketed"](spark, sf_dir))

    def n_exchanges(p):
        return len(re.findall(r"^\(\d+\) Exchange", p, flags=re.M))

    assert "Bucketed: true" in buck
    assert n_exchanges(buck) < n_exchanges(plain)
    assert n_exchanges(buck) <= 3  # one message shuffle per iteration


def test_star_join_broadcasts_all_dimensions(spark, sf_dir):
    """The Q5-shaped star join must broadcast every dimension side
    (region, nation, supplier, customer) so the only shuffle-bearing
    join is fact⋈fact (orders⋈lineitem): at 100 TB the dims stay
    megabyte-scale while the fact streams partition-local."""
    from opl_spark import workload
    from opl_spark.plans import formatted_plan

    df = workload.queries()["q_regional_revenue"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3, plan
    # the top-10 query is TakeOrdered, never a global sort
    plan3 = formatted_plan(workload.queries()["q_top_unshipped"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan3, plan3


def test_tpch_block2_plan_shapes(spark, sf_dir):
    """Physical-strategy pins for the second TPC-H block: bilateral
    trade (Q7) and product profit (Q9) broadcast every dimension side
    so only orders⋈lineitem shuffles; the returns report (Q10) plans
    its top-20 as TakeOrderedAndProject; the LIKE filter in Q9 prunes
    the part dimension BEFORE its broadcast exchange (the predicate
    must sit under the exchange, not above the join)."""
    from opl_spark import workload
    from opl_spark.plans import formatted_plan

    qs = workload.queries()
    p7 = formatted_plan(qs["q_volume_shipping"](spark, sf_dir))
    assert p7.count("BroadcastHashJoin") >= 3, p7
    p9 = formatted_plan(qs["q_product_profit"](spark, sf_dir))
    assert p9.count("BroadcastHashJoin") >= 3, p9
    # LIKE predicate below the exchange: the filter appears in a scan/
    # filter node that feeds a BroadcastExchange, not post-join
    assert "widget" in p9 and p9.index("widget") < p9.index("BroadcastExchange") or (
        "Contains(p_name" in p9
    ), p9
    p10 = formatted_plan(qs["q_returned_items"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p10, p10


def test_weighted_sample_plans_take_ordered(spark, sf_dir):
    """A-ES weighted sampling is a map-only key + top-k: the plan must
    be TakeOrderedAndProject over the scan with no Exchange before the
    limit (nothing corpus-sized crosses a shuffle)."""
    from opl_spark import workload
    from opl_spark.plans import formatted_plan

    plan = formatted_plan(workload.queries()["q_weighted_sample"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan


def test_scale_lint_flags_known_bad_and_passes_known_good(spark, sf_dir):
    """The library linter must flag a cartesian product and a global
    ranking window, and pass a clean aggregate."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from opl_spark.plans import scale_lint
    from opl_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    bad_cart = docs.crossJoin(docs.withColumnRenamed("doc_id", "d2"))
    assert any("cartesian" in f or "nested-loop" in f for f in scale_lint(bad_cart))
    bad_window = docs.withColumn(
        "rn", F.row_number().over(Window.orderBy("doc_id"))
    )
    assert any("global window" in f for f in scale_lint(bad_window))
    # unordered OVER () funnels identically
    bad_unordered = docs.withColumn(
        "tot", F.sum("doc_id").over(Window.partitionBy())
    )
    assert any(
        "unordered global window" in f for f in scale_lint(bad_unordered)
    )
    good = docs.groupBy((F.col("doc_id") % 10).alias("b")).count()
    assert scale_lint(good) == []


def test_scale_lint_catches_expression_sort_keys(spark, sf_dir):
    """The regression the balanced-paren extractor exists for: an
    unpartitioned window ordered by an EXPRESSION (nested parens in
    windowspecdefinition) must still be flagged."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from opl_spark.plans import scale_lint
    from opl_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    bad = docs.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.col("doc_id").cast("string")))
    )
    assert any("global window" in f for f in scale_lint(bad))
    # and a PARTITIONED window with an expression key stays clean
    good = docs.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy(F.col("doc_id") % 5).orderBy(
                F.col("doc_id").cast("string")
            )
        ),
    )
    assert scale_lint(good) == []


def test_candidate_generation_plans_no_self_join(spark, sf_dir):
    """The grouped-bucket pair expansion (operators/dedup.py:
    bucket_pairs) exists to remove the postings SELF-JOIN from every
    candidate generator — Spark plans each self-join alias as its own
    postings build, doubling upstream work.  Pin it at the plan level:
    candidate generation up to the pair stream must contain ZERO join
    nodes and exactly the documented exchanges (index groupBy, plus
    the pair-count groupBy where the operator aggregates pairs)."""
    import re

    from pyspark.sql import functions as F

    from opl_spark.operators.dedup import (
        bucket_pairs,
        fuzzy_pairs,
        minhash_lsh_candidates,
        minhash_signatures,
        simhash,
        simhash_candidates,
    )
    from opl_spark.plans import formatted_plan
    from opl_spark.sources import load_table

    def joins(df) -> int:
        return len(
            re.findall(
                r"\(\d+\) (?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin"
                r"|BroadcastNestedLoopJoin|CartesianProduct)",
                formatted_plan(df),
            )
        )

    docs = load_table(spark, sf_dir, "documents")
    cust = load_table(spark, sf_dir, "customer")

    sigs = minhash_signatures(docs, "text", "doc_id", 16, 3)
    assert joins(minhash_lsh_candidates(sigs, 4, 4)) == 0
    sim = simhash(docs, "text", "doc_id")
    assert joins(simhash_candidates(sim)) == 0
    assert joins(fuzzy_pairs(cust, "c_name")) == 0

    # the raw expansion itself is generator-only: one exchange for the
    # index groupBy, none for the pair stream
    postings = docs.select(
        F.col("doc_id").alias("doc"),
        F.explode(F.split("text", r"\s+")).alias("w"),
    )
    buckets = postings.groupBy("w").agg(
        F.sort_array(F.collect_list("doc")).alias("ds")
    )
    pairs = bucket_pairs(buckets)
    assert joins(pairs) == 0
    assert _exchanges(pairs) == 1


def test_round10_new_query_plan_shapes(spark, sf_dir):
    """Physical-strategy pins for the r10 registrations: the SRP
    recall curve's RETURNED plan runs only on the 11 truth∪query rows
    (the truth ids were selected by a separate TakeOrderedAndProject
    job and collected, 10 rows — so the plan must carry a pushed
    vec_id IN-filter and a broadcast band-key join, never a shuffle
    join or cartesian); the measured-recall summary plans its
    singleton row via the tagged Union (no 1-row × 1-row nested-loop
    join); degree distribution aggregates by hash with no cartesian
    anywhere."""
    from opl_spark import workload
    from opl_spark.plans import formatted_plan

    qs = workload.queries()
    curve = qs["q_srp_recall_curve"](spark, sf_dir)
    p = formatted_plan(curve)
    assert "BroadcastHashJoin" in p and "CartesianProduct" not in p, p
    assert "SortMergeJoin" not in p, p
    assert any("vec_id" in f for f in pushed_filters(curve)), (
        "truth-id filter must reach the parquet scan"
    )
    p2 = formatted_plan(qs["q_lsh_recall_measured"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p2 and "CartesianProduct" not in p2, p2
    assert "Union" in p2, p2
    p3 = formatted_plan(qs["q_degree_distribution"](spark, sf_dir))
    assert "HashAggregate" in p3 and "CartesianProduct" not in p3, p3


def test_shingle_pair_sizes_ride_postings_no_join(spark, sf_dir):
    """r14: with no stop-shingle cap, the per-doc set size rides the
    postings as a struct(doc, n_sh) bucket entry, so the Jaccard /
    containment score needs NO sizes join and NO second corpus scan —
    the whole pair pipeline is scan → index groupBy → pair groupBy.
    Pin it at the plan level: zero join nodes, exactly one parquet
    scan of the corpus.  (The capped path keeps the sizes join — sizes
    there must count SURVIVING shingles.)"""
    import re

    from opl_spark.operators.dedup import containment_pairs, ngram_jaccard_pairs
    from opl_spark.plans import formatted_plan
    from opl_spark.sources import load_table

    def joins(df) -> int:
        return len(
            re.findall(
                r"\(\d+\) (?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin"
                r"|BroadcastNestedLoopJoin|CartesianProduct)",
                formatted_plan(df),
            )
        )

    def scans(df) -> int:
        return len(re.findall(r"\(\d+\) Scan parquet", formatted_plan(df)))

    docs = load_table(spark, sf_dir, "documents")
    jac = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.2)
    assert joins(jac) == 0
    assert scans(jac) == 1
    cont = containment_pairs(docs, "text", "doc_id", n=3)
    assert joins(cont) == 0
    assert scans(cont) == 1
