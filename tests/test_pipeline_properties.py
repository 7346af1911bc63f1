"""Property tests for the corpus-pipeline operators: for randomized
inputs, structural invariants that the oracle hash-compare can't
express (losslessness, exact budgets, entropy bounds, packing order).

One Spark job per hypothesis example is the cost model — examples are
capped low and the data tiny; these are semantics probes, not load
tests.
"""

import pytest

#: slow tier (r14): property/soak/cluster suites run via `pytest -m slow`;
#: the default (`-m 'not slow'`) is the fast tier the driver's verify times.
pytestmark = pytest.mark.slow

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from opl_spark.operators.sampling import budget_sample
from opl_spark.operators.text import chunk_documents, token_entropy

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_words = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "delta", "x1", "y2"]),
    min_size=1,
    max_size=40,
)


@settings(**_SETTINGS)
@given(words=_words, size=st.integers(2, 12), overlap=st.integers(0, 6))
def test_chunks_reassemble_to_original(spark, words, size, overlap):
    if overlap >= size:
        overlap = size - 1
    step = size - overlap
    df = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    rows = sorted(
        (r["chunk_id"], r["chunk"], r["n_tokens"])
        for r in chunk_documents(df, "text", "doc_id", size, overlap).collect()
    )
    # chunk ids are contiguous from 0; every chunk fits the window
    assert [r[0] for r in rows] == list(range(len(rows)))
    assert all(r[2] <= size for r in rows)
    # the first `step` tokens of every chunk, plus the final chunk's
    # tail, reassemble the document exactly (losslessness)
    rebuilt = []
    for cid, chunk, _n in rows:
        toks = chunk.split(" ")
        rebuilt.extend(toks[:step] if cid < len(rows) - 1 else toks)
    assert rebuilt == words


@settings(**_SETTINGS)
@given(
    sizes=st.lists(st.integers(0, 12), min_size=1, max_size=4),
    budget=st.integers(1, 8),
)
def test_budget_sample_is_exact(spark, sizes, budget):
    rows = [
        (g * 100 + i, f"g{g}") for g, n in enumerate(sizes) for i in range(n)
    ]
    if not rows:
        return
    df = spark.createDataFrame(rows, "doc_id long, source string")
    per = {
        r["source"]: r["n"]
        for r in budget_sample(df, "source", "doc_id", budget)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for g, n in enumerate(sizes):
        assert per.get(f"g{g}", 0) == min(n, budget)


@settings(**_SETTINGS)
@given(words=_words)
def test_token_entropy_bounds(spark, words):
    df = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    row = token_entropy(df, "text", "doc_id").first()
    n = len(words)
    assert row["n_tokens"] == n
    # the emitted value is round(·, 6): allow half an ulp of that scale
    assert -5e-7 <= row["entropy"] <= math.log(n) + 5e-7
    # entropy is 0 iff all tokens identical
    if len(set(words)) == 1:
        assert row["entropy"] == 0.0


@settings(**_SETTINGS)
@given(
    n_tok=st.lists(st.integers(1, 30), min_size=1, max_size=25),
    budget=st.integers(8, 64),
)
def test_pack_sequences_contiguous_and_ordered(spark, n_tok, budget):
    """Per-(grp, shard) exactness: within every shard, seq_id is
    exactly floor(preceding-shard-token-count / budget) — same-corpus
    reproducibility reduced to arithmetic, shard by shard."""
    from opl_spark.operators.text import pack_sequences

    shards = 16  # pack_sequences' shard count
    rows = [(i, "g", " ".join("w" for _ in range(n))) for i, n in enumerate(n_tok)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = sorted(
        (r["doc"], r["shard"], r["seq_id"]) for r in
        pack_sequences(df, "text", "doc_id", "source", budget).collect()
    )
    import pyspark.sql.functions as F  # noqa: F401  (xxhash64 parity below)

    # recompute the expected shard assignment with Spark's own xxhash64
    shard_of = {
        r["doc_id"]: r["s"]
        for r in df.selectExpr(
            f"doc_id", f"pmod(xxhash64(doc_id), {shards}) AS s"
        ).collect()
    }
    # replay the packing per shard
    acc = {s: 0 for s in range(shards)}
    for (doc, shard, seq), n in zip(out, n_tok):
        assert shard == shard_of[doc]
        assert seq == acc[shard] // budget
        acc[shard] += n
    # within each shard, seq ids are monotone in doc order from 0
    per_shard = {}
    for doc, shard, seq in out:
        per_shard.setdefault(shard, []).append(seq)
    for seqs in per_shard.values():
        assert seqs[0] == 0
        assert all(a <= b for a, b in zip(seqs, seqs[1:]))


# ---------------------------------------------------------------------------
# round-5 metric invariants (evaluate.py / sampling.py)
# ---------------------------------------------------------------------------

_scored_rows = st.lists(
    st.tuples(st.integers(-50, 50), st.booleans()), min_size=4, max_size=30
).filter(lambda rs: any(y for _, y in rs) and any(not y for _, y in rs))


@settings(**_SETTINGS)
@given(rows=_scored_rows)
def test_auc_invariant_under_monotone_affine_rescale(spark, rows):
    """Rank statistics see only the ORDER of scores: AUC(2s+3) == AUC(s).
    (Integer scores, so quantization preserves ties exactly.)"""
    from opl_spark.operators.evaluate import roc_auc_binned

    base = [(float(s), int(y)) for s, y in rows]
    moved = [(2.0 * s + 3.0, y) for s, y in base]
    a1 = roc_auc_binned(
        spark.createDataFrame(base, "s double, y long"), F.col("s"), F.col("y")
    ).collect()[0]["auc"]
    a2 = roc_auc_binned(
        spark.createDataFrame(moved, "s double, y long"), F.col("s"), F.col("y")
    ).collect()[0]["auc"]
    assert a1 == a2


@settings(**_SETTINGS)
@given(rows=_scored_rows)
def test_auc_of_flipped_labels_complements_to_one(spark, rows):
    """AUC(s, y) + AUC(s, ¬y) == 1 — midrank tie handling keeps the
    identity exact, not just approximate."""
    from opl_spark.operators.evaluate import roc_auc_binned

    base = [(float(s), int(y)) for s, y in rows]
    flip = [(s, 1 - y) for s, y in base]
    a = roc_auc_binned(
        spark.createDataFrame(base, "s double, y long"), F.col("s"), F.col("y")
    ).collect()[0]["auc"]
    b = roc_auc_binned(
        spark.createDataFrame(flip, "s double, y long"), F.col("s"), F.col("y")
    ).collect()[0]["auc"]
    assert abs(a + b - 1.0) <= 2e-6, (a, b)


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(st.sampled_from("abc"), st.sampled_from("abc")),
        min_size=3,
        max_size=30,
    )
)
def test_kappa_is_symmetric_in_raters(spark, rows):
    from opl_spark.operators.evaluate import cohens_kappa

    df = spark.createDataFrame(rows, "a string, b string")
    k_ab = cohens_kappa(df, F.col("a"), F.col("b")).collect()[0]["kappa"]
    k_ba = cohens_kappa(df, F.col("b"), F.col("a")).collect()[0]["kappa"]
    assert k_ab == k_ba


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 99), st.booleans()), min_size=4, max_size=40
    ).filter(lambda rs: any(y for _, y in rs) and any(not y for _, y in rs))
)
def test_psi_is_symmetric_under_side_swap(spark, rows):
    """(p−q)·ln(p/q) is symmetric in (p, q): swapping which side is
    'reference' must not change PSI (up to the nano quantization)."""
    from opl_spark.operators.evaluate import psi_drift

    df = spark.createDataFrame(
        [(float(v), bool(y)) for v, y in rows], "value double, cur boolean"
    )
    p1 = psi_drift(df, F.col("value"), F.col("cur"), 25.0, 4).collect()[0]["psi"]
    p2 = psi_drift(df, F.col("value"), ~F.col("cur"), 25.0, 4).collect()[0]["psi"]
    assert abs(p1 - p2) <= 2e-9, (p1, p2)


@settings(**_SETTINGS)
@given(
    n=st.integers(5, 40),
    n_domains=st.integers(1, 4),
)
def test_curriculum_keys_strictly_increase_within_domain(spark, n, n_domains):
    from opl_spark.operators.sampling import curriculum_interleave

    rows = [(i, f"dom{i % n_domains}") for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = curriculum_interleave(df, "doc_id", "source").collect()
    assert len(out) == n
    assert all(1 <= r["weight"] <= 4 and r["sched_key"] > 0 for r in out)
    by_dom = {}
    for r in out:
        by_dom.setdefault(r["grp"], []).append((r["r"], r["sched_key"]))
    for seq in by_dom.values():
        seq.sort()
        keys = [k for _, k in seq]
        assert keys == sorted(keys) and len(set(keys)) == len(keys)


@settings(**_SETTINGS)
@given(
    postings=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 14)),  # (key, doc)
        min_size=0,
        max_size=60,
        unique=True,
    )
)
def test_bucket_pairs_equals_self_join_reference(spark, postings):
    """bucket_pairs (grouped-key expansion) must emit EXACTLY the
    multiset the classic postings self-join emits: one (id_a < id_b)
    row per key both docs share — the contract every candidate
    generator now leans on."""
    from collections import Counter
    from itertools import combinations

    from opl_spark.operators.dedup import bucket_pairs

    df = spark.createDataFrame(
        postings or [(0, 0)], "k int, doc int"
    )
    if not postings:
        df = df.limit(0)
    buckets = df.groupBy("k").agg(
        F.sort_array(F.collect_list("doc")).alias("ds")
    )
    got = Counter(
        (r["id_a"], r["id_b"]) for r in bucket_pairs(buckets).collect()
    )
    by_key: dict[int, list[int]] = {}
    for k, doc in postings:
        by_key.setdefault(k, []).append(doc)
    want = Counter(
        (a, b)
        for docs in by_key.values()
        for a, b in combinations(sorted(docs), 2)
    )
    assert got == want


@settings(**_SETTINGS)
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["red", "blue", "fox", "dog", "run", "sit"]),
            min_size=1,
            max_size=8,
        ).map(" ".join),
        min_size=1,
        max_size=10,
    ),
    threshold=st.sampled_from([0.3, 0.5, 0.8]),
)
def test_setsim_join_equals_full_index_enumeration(spark, texts, threshold):
    """The prefix-filter correctness theorem, property-tested: the
    PPJoin path (rarest-first prefixes + length/positional filters +
    exact verify) must emit EXACTLY the pairs the full inverted index
    emits at the same threshold — recall 1, no cap approximation."""
    from opl_spark.operators.dedup import ngram_jaccard_pairs, setsim_join

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in setsim_join(df, "text", "doc_id", threshold=threshold).collect()
    }
    want = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in ngram_jaccard_pairs(
            df, "text", "doc_id", n=3, threshold=threshold
        ).collect()
    }
    assert got == want


@settings(**_SETTINGS)
@given(
    words=st.lists(
        st.text(alphabet="ab", min_size=0, max_size=4),
        min_size=1,
        max_size=12,
        unique=True,
    )
)
def test_fuzzy_link_edges_connectivity_equals_fuzzy_pairs(spark, words):
    """fuzzy_link_edges must (a) emit only true distance-≤1 pairs and
    (b) span exactly the connected components of the full fuzzy_pairs
    graph — the contract that lets entity resolution feed the O(bucket)
    edge set to CC instead of the O(bucket²) pair list."""
    from opl_spark.operators.dedup import fuzzy_link_edges, fuzzy_pairs

    df = spark.createDataFrame([(w,) for w in words], "w string")
    pairs = {
        (r["a"], r["b"]) for r in fuzzy_pairs(df, "w").collect()
    }
    links = {
        tuple(sorted((r["a"], r["b"])))
        for r in fuzzy_link_edges(df, "w").collect()
    }
    assert links <= pairs, "every link edge must be a real distance-1 pair"

    def components(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        comp = {}
        for x in list(parent):
            comp.setdefault(find(x), set()).add(x)
        return {frozenset(v) for v in comp.values()}

    assert components(links) == components(pairs)


@settings(**_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 20)),
        min_size=1,
        max_size=40,
    )
)
def test_dedup_clusters_matches_union_find_reference(spark, edges):
    """The connected-components operator must produce exactly the
    labelling an independent pure-Python union-find computes: every
    node that appears in any non-self pair maps to its component's
    minimum id.  Random multigraphs with self-loops and duplicate
    edges included."""
    from opl_spark.operators.dedup import dedup_clusters

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    nodes = set()
    for a, b in edges:
        if a != b:
            parent[find(a)] = find(b)
            nodes.update((a, b))
    comp_min: dict[int, int] = {}
    for x in nodes:
        r = find(x)
        comp_min[r] = min(comp_min.get(r, x), x)
    want = {(x, comp_min[find(x)]) for x in nodes}

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {(r["doc"], r["keeper"]) for r in dedup_clusters(df).collect()}
    assert got == want


@settings(**_SETTINGS)
@given(
    shared=st.lists(
        st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=6, max_size=10
    ),
    pre_a=st.lists(st.sampled_from(["xx", "yy"]), max_size=5),
    pre_b=st.lists(st.sampled_from(["pp", "qq"]), max_size=5),
)
def test_winnowing_guarantee_shared_run_shares_fingerprint(
    spark, shared, pre_a, pre_b
):
    """The Schleimer/Wilkerson/Aiken winnowing GUARANTEE: two
    documents sharing a run of ≥ window+n-1 consecutive words must
    share at least one fingerprint, no matter what surrounds the run
    (n=3, window=4 → runs of ≥ 6 words here).  This is the property
    the plagiarism/near-dup pipeline leans on; the oracle pair checks
    values, not the guarantee itself."""
    from opl_spark.operators.text import winnow_fingerprints

    doc_a = " ".join(pre_a + shared)
    doc_b = " ".join(pre_b + shared)
    df = spark.createDataFrame(
        [(0, doc_a), (1, doc_b)], "doc_id long, text string"
    )
    fps = winnow_fingerprints(df, "text", "doc_id")
    by_doc: dict[int, set] = {0: set(), 1: set()}
    for r in fps.collect():
        by_doc[r["doc"]].add(r["fp"])
    assert by_doc[0] & by_doc[1], (doc_a, doc_b)


@settings(**_SETTINGS)
@given(
    left=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 50)),
        min_size=1,
        max_size=15,
    ),
    right=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 50), st.integers(0, 9)),
        min_size=1,
        max_size=15,
    ),
)
def test_asof_join_matches_pandas_merge_asof(spark, left, right):
    """Backward as-of join vs the pandas merge_asof reference on
    random keyed event times (ties and duplicate timestamps included):
    every left row must pick the latest right row at-or-before its
    timestamp within its key; unmatched left rows drop (the operator's
    documented INNER semantics — the reference's NaN rows)."""
    import pandas as _pd

    from opl_spark.operators.temporal import asof_join

    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)],
        "k long, lts long, lid long",
    )
    # dedupe right on (k, ts): with duplicate timestamps the winner is
    # tie-broken differently by the two engines — keep max value per
    # (k, ts), a deterministic reference both sides agree on
    rbest: dict[tuple, int] = {}
    for k, t, v in right:
        rbest[(k, t)] = max(rbest.get((k, t), v), v)
    rrows = [(k, t, v) for (k, t), v in sorted(rbest.items())]
    rdf = spark.createDataFrame(rrows, "k long, rts long, v long")
    got = {
        r["lid"]: r["v"]
        for r in asof_join(ldf, rdf, ["k"], "lts", "rts").collect()
    }
    lp = _pd.DataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)],
        columns=["k", "ts", "lid"],
    ).sort_values("ts", kind="stable")
    rp = _pd.DataFrame(rrows, columns=["k", "ts", "v"]).sort_values(
        "ts", kind="stable"
    )
    ref = _pd.merge_asof(lp, rp, on="ts", by="k", direction="backward")
    want = {
        int(r.lid): int(r.v) for r in ref.itertuples() if not _pd.isna(r.v)
    }
    assert got == want


@settings(**_SETTINGS)
@given(
    left=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 30)),
        min_size=1,
        max_size=12,
    ),
    right=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 30)),
        min_size=1,
        max_size=12,
    ),
    lookback=st.sampled_from([1, 5, 10]),
)
def test_interval_join_matches_bruteforce(spark, left, right, lookback):
    """Keyed interval join vs the O(n·m) definition: for every left
    row, exactly the right rows with right_ts in (left_ts - lookback,
    left_ts] on the same key — half-open lower bound and closed upper
    bound included in the check (boundary rows are where window joins
    go wrong)."""
    from collections import Counter

    from opl_spark.operators.temporal import interval_join

    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)],
        "k long, lts long, lid long",
    )
    rdf = spark.createDataFrame(
        [(k, t, j) for j, (k, t) in enumerate(right)],
        "k long, rts long, rid long",
    )
    got = Counter(
        (r["lid"], r["rid"])
        for r in interval_join(ldf, rdf, ["k"], "lts", "rts", lookback).collect()
    )
    want = Counter(
        (i, j)
        for i, (lk, lt) in enumerate(left)
        for j, (rk, rt) in enumerate(right)
        if lk == rk and lt - lookback < rt <= lt
    )
    assert got == want


def test_bucket_pairs_duplicate_postings_emit_self_pairs(spark):
    """bucket_pairs' documented DISTINCT-entries precondition: a doc
    appearing twice in one bucket yields an id_a == id_b self-pair
    (positional i < j slice), unlike the self-join's strict a < b.
    Pins the hazard the docstring states so external callers with
    multiset postings know to dedupe or filter id_a != id_b."""
    from collections import Counter

    from opl_spark.operators.dedup import bucket_pairs

    buckets = spark.createDataFrame(
        [(0, [3, 3, 7]), (1, [5, 5])], "k int, ds array<int>"
    )
    got = Counter(
        (r["id_a"], r["id_b"]) for r in bucket_pairs(buckets).collect()
    )
    assert got == Counter({(3, 3): 1, (3, 7): 2, (5, 5): 1})


# ---------------------------------------------------------------------------
# rank statistics (r10): invariants the oracle hash-compare can't express
# ---------------------------------------------------------------------------

_rank_vals = st.lists(st.integers(0, 12), min_size=4, max_size=50)


@settings(**_SETTINGS)
@given(xs=_rank_vals)
def test_rank2_partition_invariance_and_sum(spark, xs):
    """Doubled ranks are independent of the partition count, and the
    row-weighted rank sum is exactly n(n+1) — the closed form any
    correct tie-averaged ranking must satisfy."""
    from opl_spark.operators.ranking import avg_rank2
    from plan_helpers import shuffle_partitions

    df = spark.createDataFrame([(v,) for v in xs], "xv: long")
    with shuffle_partitions(spark, 2):
        a = {r["v"]: r["rank2"] for r in avg_rank2(df, "xv").collect()}
    with shuffle_partitions(spark, 7):
        b = {r["v"]: r["rank2"] for r in avg_rank2(df, "xv").collect()}
    assert a == b
    assert sum(xs.count(v) * r2 for v, r2 in a.items()) == len(xs) * (len(xs) + 1)


@settings(**_SETTINGS)
@given(pairs=st.lists(st.tuples(st.integers(0, 9), st.integers(0, 9)),
                      min_size=4, max_size=40))
def test_spearman_sign_antisymmetry(spark, pairs):
    """ρ(x, −y) = −ρ(x, y) exactly: rank reversal is exact under tie
    averaging, so the doubled-rank moments flip sign before any
    float enters."""
    from opl_spark.operators.ranking import spearman_rho

    df = spark.createDataFrame(pairs, "x: long, y: long")
    neg = df.select("x", (-F.col("y")).alias("y"))
    r1 = spearman_rho(df, "x", "y").collect()[0]["spearman_rho"]
    r2 = spearman_rho(neg, "x", "y").collect()[0]["spearman_rho"]
    if r1 is None:
        assert r2 is None  # degenerate input stays degenerate
    else:
        assert abs(r1 + r2) <= 2e-6  # ±1 ulp of the 6-dp rounding


@settings(**_SETTINGS)
@given(xs=st.lists(st.integers(0, 500), min_size=3, max_size=40),
       k=st.integers(2, 7))
def test_gini_scale_invariance(spark, xs, k):
    """G(k·x) = G(x) for k > 0 — numerator and denominator scale by
    the same exact integer factor before the single division."""
    from opl_spark.operators.ranking import gini_coefficient

    df = spark.createDataFrame([(v,) for v in xs], "xv: long")
    scaled = df.select((F.col("xv") * k).alias("xv"))
    g1 = gini_coefficient(df, "xv").collect()[0]["gini"]
    g2 = gini_coefficient(scaled, "xv").collect()[0]["gini"]
    assert g1 == g2


@settings(**_SETTINGS)
@given(pairs=st.lists(st.tuples(st.integers(0, 6), st.integers(0, 6)),
                      min_size=4, max_size=40))
def test_kendall_symmetry(spark, pairs):
    """τ-b(x, y) = τ-b(y, x): concordance is symmetric in the pair,
    even though the cell-pair join orders on x."""
    from opl_spark.operators.ranking import kendall_tau_b

    df = spark.createDataFrame(pairs, "x: long, y: long")
    swapped = df.select(F.col("y").alias("x"), F.col("x").alias("y"))
    t1 = kendall_tau_b(df, "x", "y").collect()[0]
    t2 = kendall_tau_b(swapped, "x", "y").collect()[0]
    assert t1["kendall_tau_b"] == t2["kendall_tau_b"]
    assert t1["concordant"] == t2["concordant"]


@settings(**_SETTINGS)
@given(rows=st.lists(st.tuples(st.integers(0, 30), st.booleans()),
                     min_size=4, max_size=40))
def test_mann_whitney_u_complement(spark, rows):
    """U₁ + U₂ = n₁·n₂ exactly (every cross pair is a win, a loss, or
    half-and-half under ties) — flipping the group flag must yield
    the complementary U and the negated z."""
    from opl_spark.operators.ranking import mann_whitney_u

    df = spark.createDataFrame(rows, "x: long, g: boolean")
    flipped = df.select("x", (~F.col("g")).alias("g"))
    r1 = mann_whitney_u(df, "x", "g").collect()[0]
    r2 = mann_whitney_u(flipped, "x", "g").collect()[0]
    assert r1["u1"] + r2["u1"] == r1["n1"] * r1["n2"]
    if r1["z"] is None:
        assert r2["z"] is None
    else:
        assert abs(r1["z"] + r2["z"]) <= 2e-6


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    vecs=st.lists(
        st.lists(st.integers(-50, 50), min_size=3, max_size=3),
        min_size=2, max_size=7, unique_by=tuple,
    ),
    num=st.integers(1, 9),
    den=st.integers(10, 10),
)
def test_integer_exact_verify_matches_fraction_arithmetic(spark, vecs, num, den):
    """embedding_dup_pairs(integer_exact=True): for random integer
    vectors, pair inclusion must equal EXACT rational arithmetic
    cos(a,b) >= num/den (Fraction — no floats anywhere), and every
    emitted cosine must round-trip the deterministic d/(sqrt*sqrt)
    expression.  This is the contract that retires the sf1
    float-boundary class: no summation order can flip membership."""
    from fractions import Fraction

    from opl_spark.operators.similarity import embedding_dup_pairs

    vecs = [v for v in vecs if any(x != 0 for x in v)]
    if len(vecs) < 2:
        return
    threshold = num / den  # e.g. 0.3 — str() gives the exact decimal
    rows = [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, q array<double>, bk int")
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_dup_pairs(
            df, "q", "vec_id", "bk", threshold=threshold, integer_exact=True
        ).collect()
    }
    frac_t = Fraction(str(threshold))
    want = set()
    for i in range(len(vecs)):
        for j in range(i + 1, len(vecs)):
            a, b = vecs[i], vecs[j]
            d = sum(x * y for x, y in zip(a, b))
            na = sum(x * x for x in a)
            nb = sum(x * x for x in b)
            # cos >= t  <=>  d >= 0 and d^2/(na*nb) >= t^2 (exact)
            if d >= 0 and Fraction(d * d, na * nb) >= frac_t * frac_t:
                want.add((i, j))
    assert got == want
