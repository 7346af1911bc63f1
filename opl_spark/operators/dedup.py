"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Scale design (the point of each variant):

- **exact**       — one hash-partitioned groupBy on the key; the only
  full-shuffle pass, and it's map-side combinable.
- **n-gram Jaccard** — exact pairwise similarity via a shingle
  inverted index (explode → grouped-bucket pair expansion → count;
  see :func:`bucket_pairs`). Quadratic in the worst case; the
  reference implementation for verifying candidates.
- **MinHash-LSH** — the 100 TB path: fixed-width signatures (k
  hashes), banded into buckets; only docs sharing a band bucket pair
  up.  Cost is O(docs × k) map work + one shuffle on band keys —
  no all-pairs comparison ever materializes.
- **SimHash**     — 63-bit fingerprint; near-dup candidates via
  pigeonhole chunk banding (hamming ≤ 3 ⇒ at least one of 4 16-bit
  chunks equal).

Everything is built-in column expressions (xxhash64, transform,
aggregate) — no Python UDFs, no driver-side loops.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from opl_spark.sources.registry import open_parquet


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup: one surviving row id per duplicate group + group
    size.  ``min(id)`` as the deterministic keeper."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias("keeper"), F.count(F.lit(1)).alias("copies")
    )


def words_col(text: Column) -> Column:
    return F.split(F.lower(F.trim(text)), r"\s+")


def shingle_seq_col(text: Column, n: int = 3) -> Column:
    """Positional (non-distinct) word n-gram shingle sequence — the
    input for order-sensitive consumers like winnowing.

    Built as a ``zip_with`` chain over shifted copies of the word
    array.  The shape matters: Spark interprets higher-order-function
    lambdas and re-evaluates any CAPTURED outer expression once per
    element (no CSE inside HOFs), so a ``transform(idx, i ->
    slice(words, i, n))`` re-splits the text O(words) times — O(n²)
    per document.  Here every O(words) expression (split, slice) is a
    lambda ARGUMENT, evaluated once per document; the lambda itself
    only concats its two element args.  ``zip_with`` null-pads the
    shorter (shifted) side and ``concat_ws`` skips NULLs, so the tail
    yields short shingles exactly like a short trailing slice; the
    final ``slice`` drops them to keep size-n+1 shingles (min 1)."""
    words = words_col(text)
    sz = F.array_size(words)
    sh = words
    for j in range(1, n):
        shifted = F.slice(words, j + 1, F.greatest(sz - j, F.lit(0)))
        sh = F.zip_with(sh, shifted, lambda a, b: F.concat_ws(" ", a, b))
    return F.slice(sh, 1, F.greatest(sz - (n - 1), F.lit(1)))


def shingles_col(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (set semantics — the Jaccard /
    MinHash input)."""
    return F.array_distinct(shingle_seq_col(text, n))


def widen_narrow_scan(
    df: DataFrame, bytes_per_slice: int | None = None
) -> DataFrame:
    """Scale-adaptive parallelism floor for compute-bound map stages
    (guide §2.5 "repartition immediately after the read").

    A single-row-group parquet file (or any few-split input) plans a
     1-task scan, so everything before the first Exchange — shingling,
    per-element hashing, tokenization — runs on ONE core regardless of
    cluster size (measured at sf0.1: the 10-gram span build is a
    single task on local[32]; widening it cut span_duplication_profile
    2.9x).  When the planned scan is NARROWER than the session's
    default parallelism, round-robin repartition to that width: the
    exchange moves only the raw input rows (by premise few splits'
    worth), and the expensive per-row compute above it parallelizes.
    At scale the scan is already wider than the cluster and this is
    the IDENTITY — no exchange is added, so it is not a local-only
    tuning.  Row-to-partition assignment is results-invariant here:
    every consumer in this module aggregates/joins on keys and sorts
    any collected list (the house ``sort_array(collect_list)`` rule).
    The ``.rdd`` probe only plans the scan subtree; it runs no job.

    ``bytes_per_slice`` (r14): cap the widened width at
    ``plan-estimated input bytes / bytes_per_slice`` instead of always
    the full default parallelism.  For PYTHON map stages (pandas UDF /
    mapInPandas) every extra slice costs a per-stage worker hand-off
    (~0.1 s each measured), so tiny inputs must not fan out to 32
    workers for sub-second compute — the r13 multimodal revert — while
    10× inputs still widen proportionally (the r14 sf1 heavy leg read
    11.4 s single-worker for the BMP tier).  JVM-codegen callers keep
    the default (full width): their per-slice cost is a task launch,
    ~100× cheaper.  The stats probe is plan-time only — no job."""
    sess = df.sparkSession
    target = sess.sparkContext.defaultParallelism
    if bytes_per_slice:
        est = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        target = max(1, min(target, est // int(bytes_per_slice)))
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


# ---------------------------------------------------------------------------
# exact n-gram Jaccard via inverted index (SQL-expressible oracle path)
# ---------------------------------------------------------------------------


def bucket_pairs(buckets: DataFrame) -> DataFrame:
    """Per-key candidate-pair expansion: ``(…, ds sorted array<doc>)``
    → one row per unordered pair ``(id_a < id_b)`` within each key's
    bucket, all other columns dropped.

    Precondition: entries within each bucket must be DISTINCT.  The
    positional slice emits every pair of positions ``i < j``, so a doc
    appearing twice in one bucket yields an ``id_a == id_b`` self-pair
    that the classic self-join's strict ``a < b`` predicate would have
    excluded.  Every in-repo caller builds buckets with
    ``collect_list`` over per-doc DISTINCT feature sets (so a doc
    appears at most once per key); external callers with multiset
    postings must dedupe first or filter ``id_a != id_b`` after
    (pinned by ``test_bucket_pairs_duplicate_postings_emit_self_pairs``).

    This replaces the classic inverted-index SELF-JOIN.  The join
    plans the whole postings build twice (one scan per alias — Spark
    does not CSE self-join branches) and shuffles the postings stream
    twice; grouping once and expanding pairs map-side plans the
    upstream ONCE and shuffles it once.  Measured at sf0.1 on the
    ngram pipeline: 4.3 s → ~2 s, identical output.

    Scale: per-key work and memory are O(bucket²) / O(bucket) — the
    same d² candidate blowup the self-join has for a key shared by d
    docs, so the stop-key caps (``max_doc_freq`` / ``max_bucket``)
    remain the 100 TB requirement; the d-sized array buffer OOMs far
    later than the d² pair stream becomes infeasible, so the array is
    never the binding constraint.  The expansion is two map-side
    generators (posexplode, then a 1-based ``slice`` from i+2), not a
    nested higher-order build of the full pair array — peak row width
    stays O(bucket), and both generators pipeline inside the same
    stage as the upstream aggregation."""
    return buckets.select(
        F.col("ds").alias("__ds"), F.posexplode("ds").alias("__i", "id_a")
    ).select(
        "id_a",
        F.explode(
            F.slice(F.col("__ds"), F.col("__i") + F.lit(2), F.size("__ds"))
        ).alias("id_b"),
    )


def _shingle_buckets(
    df: "DataFrame",
    text_col: str,
    id_col: str,
    n: int,
    max_doc_freq: int | None,
):
    """Shared inverted-index build for the shingle-pair family
    (:func:`ngram_jaccard_pairs`, :func:`containment_pairs`): per
    shingle-hash the SORTED bucket holding it, plus per-doc set sizes,
    with the optional ``max_doc_freq`` stop-shingle cap applied to
    BOTH (so sizes always reflect the surviving shingles — the
    documented approximation).  The cap is a bucket-size filter on the
    grouped index — one exchange, no frequency side-table join.

    Shape (r14): with no cap, the set size RIDES THE POSTINGS as a
    ``struct(doc, n_sh)`` bucket entry (:func:`_shingles_with_size` —
    ONE corpus scan, one shingle evaluation per doc) and ``sizes`` is
    returned as ``None``; the caller reads ``id_x.n_sh`` off the
    expanded pair instead of joining a sizes frame.  The old shape
    scanned and re-shingled the corpus a second time for the map-only
    sizes side and paid two |pairs|-frame joins to attach it — at
    100 TB the sizes frame exceeds broadcast range and those joins are
    real shuffles; carried sizes cost 8 bytes per posting/pair-stream
    row instead (guide §2.3/§2.4).  ``sort_array`` over
    ``struct(doc, n_sh)`` orders by ``doc`` first (docs are distinct
    within a bucket), so pair expansion order — and thus the emitted
    ``id_a < id_b`` orientation — is unchanged.  With the cap, sizes
    must count SURVIVING shingles, so the filtered path keeps the
    explode-and-count sizes frame (plain doc buckets, sizes joined)."""
    if max_doc_freq is None:
        # widen applied inside _shingles_with_size
        buckets = (
            _shingles_with_size(df, text_col, id_col, n)
            .groupBy("sh")
            .agg(
                F.sort_array(F.collect_list(F.struct("doc", "n_sh"))).alias(
                    "ds"
                )
            )
        )
        return buckets, None
    df = widen_narrow_scan(df)  # shingling is the compute (r13)
    buckets = (
        df.select(
            F.col(id_col).alias("doc"),
            F.explode(shingles_col(F.col(text_col), n)).alias("s"),
        )
        .select("doc", F.xxhash64("s").alias("sh"))
        .groupBy("sh")
        .agg(F.sort_array(F.collect_list("doc")).alias("ds"))
        .filter(F.size("ds") <= max_doc_freq)
    )
    sizes = (
        buckets.select(F.explode("ds").alias("doc"))
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    return buckets, sizes


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """All pairs with shingle-set Jaccard ≥ threshold.

    Inverted index via grouped buckets: explode distinct shingles,
    group each shingle's doc bucket once, expand co-occurring pairs
    map-side (:func:`bucket_pairs`), count per pair (= intersection
    size), then ``|A∩B| / (|A| + |B| - |A∩B|)``.  The index key is the
    shingle, so common-shingle skew is the scale hazard: a shingle in
    d docs expands d² pair rows.  ``max_doc_freq`` is the stop-shingle
    mitigation — over-shared shingles are dropped from the index (they
    carry little similarity signal but dominate the pair stream),
    which bounds per-key fan-out at max_doc_freq²; set it at 100 TB,
    leave ``None`` for the exact semantics, or use
    :func:`minhash_lsh_candidates` instead.  NOTE: with the filter on,
    intersection counts (and so Jaccard) are computed over the
    surviving shingles only — a documented approximation.

    Jaccard is emitted rounded(6) from exact integer counts —
    cross-engine stable.
    """
    # index key is the 64-bit shingle hash, not the shingle string —
    # the shuffle moves 8-byte longs instead of variable-width text
    # (collision odds over distinct shingles are ~|S|²/2⁶⁴ ≈ 0);
    # intersection counts come from grouped-bucket pair expansion
    # (one postings pass), not a postings self-join (two) — see
    # :func:`bucket_pairs`
    buckets, sizes = _shingle_buckets(df, text_col, id_col, n, max_doc_freq)
    jac = F.round(
        F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter")), 6
    )
    if sizes is None:
        # sizes ride the postings (see _shingle_buckets): group the
        # struct pairs with the sizes as EXTRA KEYS — n_sh is a
        # function of the doc id, so the groups are identical and the
        # partial aggregation is untouched; no sizes joins, no second
        # corpus scan
        inter = (
            bucket_pairs(buckets)
            .groupBy(
                F.col("id_a.doc").alias("id_a"),
                F.col("id_a.n_sh").alias("na"),
                F.col("id_b.doc").alias("id_b"),
                F.col("id_b.n_sh").alias("nb"),
            )
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        return inter.select(
            "id_a", "id_b", jac.alias("jaccard")
        ).filter(F.col("jaccard") >= threshold)
    inter = (
        bucket_pairs(buckets)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc").alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc").alias("id_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _shingles_with_size(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """ONE corpus scan → ``(doc, n_sh, sh)`` per shingle: the doc's
    shingle-hash stream with its set size carried on every row, so the
    contamination family needs no second sizes scan.

    Plan-shape care (r13, all three variants measured at sf0.1):

    - ``explode(attr)`` over a staged array alias triggers
      ``InferFiltersFromGenerate``; the inferred size/isnotnull filter
      is then pushed through the staging projection, re-inlining the
      full shingling expression TWICE more per doc (1.6x slower).
    - ``array_size(expr)`` as a SIBLING of ``explode(expr)`` collapses
      so the size recomputes the whole expression per exploded ROW
      (~30x slower).
    - This shape — staged array, explode of single-arg ``concat`` of
      it — defeats both: the non-attribute generator input skips the
      filter inference, and ``CollapseProject`` stages the array once
      per doc (2 expression evaluations per doc total, one scan; the
      old two-scan version paid the same 2 evaluations plus a second
      parquet text read)."""
    staged = widen_narrow_scan(df).select(
        F.col(id_col).alias("doc"),
        shingles_col(F.col(text_col), n).alias("__arr"),
    )
    return staged.select(
        "doc",
        F.array_size("__arr").cast("long").alias("n_sh"),
        F.explode(F.concat("__arr")).alias("s"),
    ).select("doc", "n_sh", F.xxhash64("s").alias("sh"))


def contamination(
    corpus: DataFrame,
    bench: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
) -> DataFrame:
    """Benchmark-contamination detection: corpus documents sharing at
    least one word ``n``-gram with a benchmark/eval set — the
    decontamination pass run before any training corpus ships (the
    standard 'n-gram overlap with test sets' check).

    Per contaminated document: ``n_overlap`` (distinct shared
    shingles), ``n_bench_docs`` (distinct benchmark documents hit), and
    ``overlap_frac`` (shared / document's shingle count).

    Scale shape: the benchmark side is orders of magnitude smaller
    than the corpus, so its exploded shingle set is broadcast — the
    probe is a map-side hash join against the corpus shingle stream
    (8-byte hashes, not strings), followed by one doc-keyed
    aggregation; the corpus is touched in a single pass."""
    c_sh = _shingles_with_size(corpus, text_col, id_col, n)
    b_sh = bench.select(
        F.col(id_col).alias("bdoc"),
        F.explode(shingles_col(F.col(text_col), n)).alias("s"),
    ).select("bdoc", F.xxhash64("s").alias("sh"))
    hits = (
        c_sh.join(F.broadcast(b_sh), "sh")
        .groupBy("doc")
        .agg(
            F.count_distinct("sh").alias("n_overlap"),
            F.count_distinct("bdoc").alias("n_bench_docs"),
            F.max("n_sh").alias("n_sh"),
        )
    )
    return hits.select(
        "doc",
        "n_overlap",
        "n_bench_docs",
        F.round(F.col("n_overlap").cast("double") / F.col("n_sh"), 6).alias(
            "overlap_frac"
        ),
    )


# ---------------------------------------------------------------------------
# MinHash + banded LSH
# ---------------------------------------------------------------------------


#: Mersenne prime 2³¹−1 — the modulus of the portable MinHash
#: permutation family.  Products a·h stay < 2⁶² (int64-exact in both
#: Spark and DuckDB), which is what makes the portable path
#: oracle-replayable.
MINHASH_PRIME = 2147483647


def minhash_permutation(i: int) -> tuple[int, int]:
    """The (aᵢ, bᵢ) of portable permutation ``hᵢ(x) = (aᵢ·x + bᵢ) mod
    P`` — Knuth-style multiplicative constants reduced mod P, with
    aᵢ forced nonzero.  Shared verbatim by the SQL oracle."""
    a = (i * 2654435761 + 1) % MINHASH_PRIME
    b = (i * 40503 + 7) % MINHASH_PRIME
    return (a if a else 1, b)


def _factorizations(budget: int) -> list[tuple[int, int]]:
    """All (bands, rows_per_band) with bands × rows == budget."""
    return [
        (budget // r, r) for r in range(1, budget + 1) if budget % r == 0
    ]


def banding_curve(
    bands: int, rows_per_band: int, sims: list[float]
) -> list[float]:
    """Banded-LSH collision probabilities: P[candidate | sim = s] =
    1 − (1 − p(s)^rows)^bands, the classic S-curve (Leskovec/Rajaraman/
    Ullman, MMDS ch. 3).  ``sims`` are per-hash agreement
    probabilities — for MinHash that IS the Jaccard similarity; for
    SRP pass ``1 − θ/π`` (see :func:`srp_agreement_prob` in
    operators/similarity.py)."""
    return [
        1.0 - (1.0 - s ** rows_per_band) ** bands for s in sims
    ]


def lsh_banding_advise(
    threshold: float,
    signature_budget: int = 64,
    target_recall: float = 0.9,
    below: float | None = None,
) -> list[dict]:
    """Banding-parameter ADVISOR: given the similarity threshold the
    verify step will enforce and the signature budget (total hashes /
    bits), rank every (bands × rows) factorization by the S-curve —
    the LSH mirror of ``RollupStore.advise`` (rollups.py:132), pure
    math, no data pass (pair an advised setting with
    :func:`minhash_bucket_stats` for the measured-occupancy check).

    Per factorization: ``recall_at_threshold`` = P[a pair exactly AT
    the verify threshold becomes a candidate] (pairs above it do
    better — the S-curve is monotone), and ``fp_at_below`` = the same
    probability at dissimilarity ``below`` (default threshold/2) — the
    candidate-waste proxy, since below-threshold candidates cost a
    verify each and are then discarded.  ``recommended`` marks the
    advisor's pick: the factorization with the LOWEST false-positive
    proxy among those meeting ``target_recall``; when none reaches it,
    the highest-recall one (banding cannot hit the target at this
    budget — raise the budget).  Sorted recommended-first, then by
    descending recall.

    Calibration against the engine defaults (budget 64): at verify
    thresholds ≥ ~0.7 the advisor picks the default 16 × 4 banding
    (recall ≥ 0.99, fp_at_half ≈ 0.2–0.34); at 0.5 it recommends
    32 × 2 (recall 0.9999 vs 16 × 4's 0.64, bought with ~0.87
    fp-proxy — more verify work, which the verify step makes exact);
    at 0.2 only 64 × 1 reaches the target (fp ≈ 1 — a 64-hash budget
    simply cannot band-select at 0.2, so low-threshold pipelines like
    q_minhash_keep_best accept partial banding recall and lean on the
    exact verify).  The planted-dup recall pin for an advised setting
    lives in tests/test_operators.py."""
    if not 0 < threshold < 1:
        raise ValueError(f"threshold must be in (0,1), got {threshold}")
    below = threshold / 2 if below is None else below
    rows_out = []
    for b, r in _factorizations(signature_budget):
        recall, fp = banding_curve(b, r, [threshold, below])
        rows_out.append(
            {
                "bands": b,
                "rows_per_band": r,
                "recall_at_threshold": recall,
                "fp_at_below": fp,
                "recommended": False,
            }
        )
    meeting = [x for x in rows_out if x["recall_at_threshold"] >= target_recall]
    pick = (
        min(meeting, key=lambda x: x["fp_at_below"])
        if meeting
        else max(rows_out, key=lambda x: x["recall_at_threshold"])
    )
    pick["recommended"] = True
    return sorted(
        rows_out,
        key=lambda x: (not x["recommended"], -x["recall_at_threshold"]),
    )


def pow_chain_sql(x: str, n: int) -> str:
    """``x**n`` as an explicit multiplication chain (square-and-
    multiply) — pure IEEE-754 double multiplies, NO ``pow()``: libm
    pow differs in final-ulp rounding across engines/platforms, while
    a multiply tree with the same shape evaluates bit-identically on
    Spark and DuckDB.  Shared verbatim by q_lsh_tuning's oracle."""
    if n < 1:
        raise ValueError(f"pow_chain_sql needs n >= 1, got {n}")
    if n == 1:
        return x
    if n % 2 == 0:
        h = pow_chain_sql(x, n // 2)
        return f"({h} * {h})"
    return f"({pow_chain_sql(x, n - 1)} * {x})"


def banding_curve_sql(threshold: str, bands: int, rows_per_band: int) -> str:
    """``1 − (1 − t^r)^b`` with both powers as multiply chains —
    engine-deterministic S-curve collision probability (see
    :func:`pow_chain_sql`).  ``threshold`` must already be a DOUBLE
    expression (``CAST(0.5 AS DOUBLE)`` — the one double-literal form
    Spark SQL and DuckDB share; bare ``0.5`` parses as DECIMAL on
    DuckDB and would switch the arithmetic)."""
    one = "CAST(1.0 AS DOUBLE)"
    inner = f"({one} - {pow_chain_sql(threshold, rows_per_band)})"
    return f"{one} - {pow_chain_sql(inner, bands)}"


def banding_curve_frame(
    spark, threshold: float = 0.5, signature_budget: int = 64
) -> DataFrame:
    """The advisor's S-curve table AS A QUERY: one row per (bands ×
    rows) factorization of ``signature_budget`` with the collision
    probability at the verify ``threshold`` and at threshold/2 (the
    candidate-waste proxy) — what :func:`lsh_banding_advise` ranks,
    emitted as a DataFrame so the tuning table itself is driver-
    auditable against a SQL oracle recomputing the same multiply
    chains."""
    below = threshold / 2
    structs = ", ".join(
        "struct({b} as bands, {r} as rows_per_band, "
        "round({rec}, 6) as recall_at_threshold, "
        "round({fp}, 6) as fp_at_below)".format(
            b=b,
            r=r,
            rec=banding_curve_sql(f"CAST({threshold!r} AS DOUBLE)", b, r),
            fp=banding_curve_sql(f"CAST({below!r} AS DOUBLE)", b, r),
        )
        for b, r in _factorizations(signature_budget)
    )
    return (
        spark.range(1)
        .select(F.expr(f"explode(array({structs}))").alias("s"))
        .select("s.*")
    )


def _band_structs_sql(bands: int, rows_per_band: int, portable: bool) -> str:
    """The banded bucket-key expression (one ``struct(band, band_key)``
    per band, as a single JVM-parsed SQL string) shared by
    :func:`minhash_lsh_candidates` and :func:`minhash_bucket_stats` —
    ONE definition, so the occupancy report always describes exactly
    the buckets ``bucket_pairs`` expands (a drifted copy would report
    occupancy for buckets that no longer exist)."""

    def _key(b: int) -> str:
        joined = "concat_ws(',', {})".format(
            ", ".join(
                f"cast(element_at(sig, {b * rows_per_band + r + 1}) as string)"
                for r in range(rows_per_band)
            )
        )
        return joined if portable else f"xxhash64({joined})"

    return ", ".join(
        f"struct({b} as band, {_key(b)} as band_key)" for b in range(bands)
    )


def minhash_bucket_stats(
    sigs: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    portable: bool = False,
) -> DataFrame:
    """The advisor's measured half: ONE distributed pass over the
    signature frame returning per-band bucket occupancy — ``(band,
    n_buckets, max_bucket, est_candidate_pairs)`` where
    est_candidate_pairs = Σ k·(k−1)/2 over that band's bucket sizes,
    the exact pair fan-out :func:`bucket_pairs` would expand.  Read it next to
    :func:`lsh_banding_advise`'s S-curve: the curve says what recall a
    banding buys, this says what the candidate bill will be on YOUR
    corpus (boilerplate-heavy corpora blow up low-rows bandings long
    before the curve suggests)."""
    band_structs = _band_structs_sql(bands, rows_per_band, portable)
    return (
        sigs.select("doc", F.expr(f"explode(array({band_structs}))").alias("bk"))
        .groupBy("bk.band", "bk.band_key")
        .agg(F.count(F.lit(1)).alias("k"))
        .groupBy(F.col("band"))
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("k").alias("max_bucket"),
            F.round(F.sum(F.col("k") * (F.col("k") - 1) / 2), 1).alias(
                "est_candidate_pairs"
            ),
        )
        .orderBy("band")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    n: int = 3,
    portable: bool = False,
) -> DataFrame:
    """k-permutation MinHash signature as an ``array<bigint>`` column.

    Shape: explode shingles → string-hash each ONCE → groupBy(doc)
    with k per-permutation ``min`` aggregates → pack into an array.
    The k permutations are flat codegen'd aggregate expressions over a
    long, not higher-order-function lambdas (which Spark interprets
    per element, allocating a k-array per step).  The groupBy is
    map-side combinable, so what crosses the shuffle is one k-long row
    per document — at 100 TB that's the smallest possible exchange for
    this op.

    ``portable=False`` (default) hashes with ``xxhash64`` — the fast
    JVM path.  ``portable=True`` uses the md5-derived 32-bit hash and
    the explicit ``(a·h + b) mod P`` permutation family
    (:func:`minhash_permutation`), every step int64-exact — identical
    signatures on any engine, which is what lets the registered DuckDB
    oracle hash-check the full LSH pipeline (at the cost of md5 over
    xxhash64 in the shingle hash).

    Construction note (r9): the ``num_hashes`` min-aggregates are
    built as ONE SQL string parsed JVM-side (``F.expr``), not as
    num_hashes Python Column trees — the per-Column py4j round trips
    made DataFrame CONSTRUCTION alone cost ~0.85 s at 64 hashes
    (measured; the data work at sf0.1 is less than that).  Same
    expressions, same plan, same results — only the builder changed.
    """
    ex = widen_narrow_scan(df).select(
        F.col(id_col).alias("doc"),
        F.explode(shingles_col(F.col(text_col), n)).alias("s"),
    )
    if portable:
        ex = ex.select(
            "doc",
            F.expr(
                "pmod(cast(conv(substring(md5(s), 1, 8), 16, 10) as bigint), "
                f"{MINHASH_PRIME})"
            ).alias("h"),
        )
        mins = ", ".join(
            "min(({} * h + {}) % {})".format(*minhash_permutation(i), MINHASH_PRIME)
            for i in range(num_hashes)
        )
    else:
        ex = ex.select("doc", F.xxhash64("s").alias("h"))
        mins = ", ".join(f"min(xxhash64(h, {i}))" for i in range(num_hashes))
    return ex.groupBy("doc").agg(F.expr(f"array({mins})").alias("sig"))


def minhash_lsh_candidates(
    sigs: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket: int | None = 1000,
    portable: bool = False,
    with_band_counts: bool = False,
) -> DataFrame:
    """Banded LSH: docs agreeing on ALL rows of at least one band become
    candidate pairs.  The only shuffle is the groupBy on ``(band,
    band_key)`` — the signature matrix never leaves the executors, and
    bucket sizes (not corpus size²) bound the pair expansion.

    ``max_bucket`` is the hot-bucket guard, the LSH mirror of
    ``ngram_jaccard_pairs``'s ``max_doc_freq`` stop-shingles: a band
    key shared by more than ``max_bucket`` docs (boilerplate-heavy
    near-identical signatures) would contribute O(bucket²) pairs, so
    over-wide buckets are dropped before the pair expansion.  True
    near-dups that populate such a bucket agree on OTHER bands too
    (16 chances at 4-row agreement), so recall degrades gracefully
    while the worst-case expansion fan-out becomes max_bucket² per key.

    ``portable=True`` keys buckets by the raw comma-joined band values
    (a string) instead of their xxhash64 — identical buckets on any
    engine, matching :func:`minhash_signatures`'s portable mode.

    ``with_band_counts=True`` returns ``(id_a, id_b, n_bands)`` where
    ``n_bands`` is the number of SURVIVING bands the pair agreed on (a
    pair expanded from k buckets agrees on k band keys; bands dropped
    by ``max_bucket`` don't count, so the count is a lower bound) —
    the groupBy replaces the ``distinct``, same single exchange.  A
    pair with ``n_bands == bands`` agreed on every band key, i.e. on
    all ``bands × rows_per_band`` signature values — its estimated
    Jaccard is 1.0, which :func:`minhash_dedup_pairs`'s ``band_skip``
    uses to bypass the exact-intersect verify."""

    # band keys as ONE JVM-parsed SQL string — same expressions as the
    # per-Column builder this replaces (r9), ~200 fewer py4j round
    # trips per construction (see minhash_signatures' note); the
    # builder is shared with minhash_bucket_stats so the occupancy
    # report and the pair expansion can never drift apart
    band_structs = _band_structs_sql(bands, rows_per_band, portable)
    # group each (band, band_key) bucket once and expand pairs in-row
    # (see bucket_pairs) — ONE exchange of the band stream, where the
    # old window-count guard + self-join shuffled it three times
    # (window sort, then both join aliases); the hot-bucket guard is
    # now just a size filter on the grouped bucket, same semantics
    buckets = (
        sigs.select("doc", F.expr(f"explode(array({band_structs}))").alias("bk"))
        .groupBy("bk.band", "bk.band_key")
        .agg(F.sort_array(F.collect_list("doc")).alias("ds"))
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("ds") <= max_bucket)
    pairs = bucket_pairs(buckets)
    if with_band_counts:
        return pairs.groupBy("id_a", "id_b").agg(
            F.count(F.lit(1)).alias("n_bands")
        )
    return pairs.distinct()


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    portable: bool = False,
    band_skip: bool = False,
) -> DataFrame:
    """LSH candidates verified with exact Jaccard on the shingle sets
    (candidate generation is approximate; the verify join makes the
    output exact-above-threshold).  ``portable=True`` selects the
    md5-based engine-exact hash family so a SQL oracle can replay the
    whole pipeline (see :func:`minhash_signatures`).

    ``band_skip=True`` enables the all-bands-agree verify skip: a
    candidate pair found in every one of its ``bands`` band buckets
    agrees on all ``num_hashes`` signature values, so its minhash
    Jaccard estimate is exactly 1.0 and it bypasses the shingle
    intersect, emitted with ``jaccard = 1.0``; only pairs agreeing on
    a strict subset of bands go through the exact verify — and the
    shingle build is SEMI-JOINED down to just the docs those surviving
    pairs touch, so the second corpus-scale text pass (and its
    corpus-sized checkpoint) disappears when most candidates are
    exact/near-exact dups (the common shape of a crawl corpus).  The
    trade, stated precisely: (a) the emitted score for a skipped pair
    is the estimate 1.0, not the exact Jaccard — P[all ``num_hashes``
    hashes agree | J=j] = j^num_hashes, non-negligible for j near 1
    (j=0.95 → 0.95⁶⁴ ≈ 3.7%), so use the skip only where downstream
    consumes the thresholded pair SET, not the score values
    (q_minhash_keep_best does; q_dedup_minhash, which emits scores,
    does not); (b) a skipped pair below ``threshold`` would be a
    false positive with probability ≤ threshold^num_hashes (0.2⁶⁴ ≈
    10⁻⁴⁵ at the default) — astronomically below LSH's own recall
    approximation.  Pair-SET equality with the full verify is pinned
    by ``test_minhash_band_skip_same_pair_set``.

    Signatures are ``num_hashes`` = 64 minhashes of word 3-grams,
    banded 16 × 4, with a hot-bucket cap of 1000 docs.

    Resource note: the hashed-shingle frame is lazily
    ``localCheckpoint``ed so the verify join's two aliases compute it
    once instead of twice.  The checkpointed
    blocks are corpus-sized and stay pinned until BOTH the Python
    DataFrame objects are garbage-collected AND the JVM GC runs
    (Spark's ContextCleaner frees checkpoint blocks on RDD
    finalization) — a long-lived session calling this repeatedly will
    accumulate them between GC cycles (see BENCH_NOTES.md for the
    measured effect and bench.py for the explicit-GC mitigation)."""
    num_hashes, bands, n, max_bucket = 64, 16, 3, 1000
    rows = num_hashes // bands
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, n, portable)
    if band_skip:
        cand = minhash_lsh_candidates(
            sigs, bands, rows, max_bucket, portable, with_band_counts=True
        )
        # one lazy checkpoint on the (pair, n_bands) stream: the pair
        # output and the needed-doc semi-join both read it — without
        # it the whole signature pipeline would re-plan twice
        cand = cand.localCheckpoint(eager=False)
        need = cand.filter(F.col("n_bands") < bands)
        need_docs = need.select(F.col("id_a").alias("__nd")).unionByName(
            need.select(F.col("id_b").alias("__nd"))
        )
        # shingle ONLY the docs that still need the exact intersect —
        # the semi-join (distinct-izing by nature) runs before the
        # shingle explode, so the verify pass is O(partial-agreement
        # docs), not O(corpus); AQE broadcasts the small side at
        # runtime.  ONE join pipeline, no union: all-bands pairs take
        # the conditional 1.0 branch, their (possibly absent) shingle
        # rows never read
        # widen AFTER the semi-join: the broadcast semi keeps the scan's
        # (narrow) partitioning, so the repartition moves only the
        # surviving need-docs rows and the shingle transform above it
        # parallelizes; widening BEFORE would exchange the whole corpus
        # text just to drop most of it (measured regression, r13)
        sh = widen_narrow_scan(
            df.join(need_docs, F.col(id_col) == F.col("__nd"), "left_semi")
        ).select(
            F.col(id_col).alias("doc"),
            F.transform(
                shingles_col(F.col(text_col), n), lambda s: F.xxhash64(s)
            ).alias("sh"),
        )
        sh = sh.localCheckpoint(eager=False)  # need-docs-sized, read twice
        a = sh.select(F.col("doc").alias("id_a"), F.col("sh").alias("sh_a"))
        b = sh.select(F.col("doc").alias("id_b"), F.col("sh").alias("sh_b"))
        inter = F.array_size(F.array_intersect("sh_a", "sh_b"))
        union = F.array_size("sh_a") + F.array_size("sh_b") - inter
        jac = F.round(inter.cast("double") / union, 6)
        return (
            cand.join(a, "id_a", "left")
            .join(b, "id_b", "left")
            .select(
                "id_a",
                "id_b",
                F.when(F.col("n_bands") >= bands, F.lit(1.0))
                .otherwise(jac)
                .alias("jaccard"),
            )
            .filter(F.col("jaccard") >= threshold)
        )
    cand = minhash_lsh_candidates(sigs, bands, rows, max_bucket, portable)
    # verify over HASHED shingle arrays (8-byte longs, not variable-
    # width strings): the intersection COUNT is what matters and it is
    # hash-invariant (collision odds ~|S|²/2⁶⁴ ≈ 0), so this stays
    # engine-portable even in portable mode — only the signature/
    # bucket structure needs the portable hash family
    sh = widen_narrow_scan(df).select(
        F.col(id_col).alias("doc"),
        F.transform(
            shingles_col(F.col(text_col), n), lambda s: F.xxhash64(s)
        ).alias("sh"),
    # checkpoint (lazily) because BOTH verify sides read this frame —
    # Spark plans each join alias as its own scan+shingle build, so
    # without it the hashed-shingle corpus is computed twice.  The
    # persist is corpus-sized (doc id + hashed shingle array, spilling
    # to local disk), bought back by skipping a full second pass over
    # the text; retention contract in the docstring above
    ).localCheckpoint(eager=False)
    a = sh.select(F.col("doc").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.array_size(F.array_intersect("sh_a", "sh_b"))
    union = F.array_size("sh_a") + F.array_size("sh_b") - inter
    jac = F.round(inter.cast("double") / union, 6)
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 63,
    portable: bool = False,
) -> DataFrame:
    """SimHash fingerprint per document (63 bits by default).

    Per token hash once, then for each bit position sum ±1 votes
    across tokens; bit set where the vote is positive.  At most 63
    bits so the packed value stays inside a signed BIGINT.

    ``portable=True`` hashes tokens with the md5-derived 60-bit hash
    (15 hex chars — the widest prefix that stays signed-long-safe)
    instead of ``xxhash64``, making the fingerprint engine-exact and
    SQL-oracle-replayable; pass ``bits<=60`` with it.
    """
    if portable and bits > 60:
        raise ValueError("portable simhash carries 60 hash bits — pass bits<=60")
    ex = widen_narrow_scan(df).select(
        F.col(id_col).alias("doc"),
        F.explode(words_col(F.col(text_col))).alias("w"),
    )
    if portable:
        ex = ex.select(
            "doc",
            F.expr(
                "cast(conv(substring(md5(w), 1, 15), 16, 10) as bigint)"
            ).alias("h"),
        )
    else:
        ex = ex.select("doc", F.xxhash64("w").alias("h"))
    # one codegen'd sum aggregate per bit position (±1 votes),
    # map-side combinable — one 63-long row per doc crosses the
    # shuffle; votes AND the bit-pack are ONE JVM-parsed SQL string
    # (r9 construction rule: per-bit Python Column trees cost ~700
    # py4j round trips here — see minhash_signatures' note)
    packed = " + ".join(
        f"(case when sum(((shiftright(h, {b}) & 1) * 2) - 1) > 0 "
        f"then cast({1 << b} as bigint) else cast(0 as bigint) end)"
        for b in range(bits)
    )
    return ex.groupBy("doc").agg(F.expr(packed).alias("simhash"))


def simhash_candidates(sim: DataFrame) -> DataFrame:
    """Near-dup candidates by the pigeonhole principle: the 64-bit
    simhash splits into ``chunks`` = 4 chunks of 16 bits, and hamming
    ≤ chunks-1 guarantees at least one equal chunk — join on chunk
    equality, then exact hamming via ``bit_count(xor)``."""
    chunks = 4
    chunked = sim.select(
        "doc",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright("simhash", c * 16).bitwiseAND(F.lit(0xFFFF)).alias("ck"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("c"),
    ).select("doc", "simhash", "c.chunk", "c.ck")
    # grouped-bucket pair expansion (see bucket_pairs): each (chunk,
    # ck) bucket holds one (doc, simhash) struct per doc — sort_array
    # orders by doc, so expansion yields doc_a < doc_b directly and
    # both fingerprints travel with the pair for the hamming compute
    buckets = chunked.groupBy("chunk", "ck").agg(
        F.sort_array(F.collect_list(F.struct("doc", "simhash"))).alias("ds")
    )
    pairs = bucket_pairs(buckets)
    ham = F.bit_count(
        F.col("id_a.simhash").bitwiseXOR(F.col("id_b.simhash"))
    )
    return pairs.select(
        F.col("id_a.doc").alias("id_a"),
        F.col("id_b.doc").alias("id_b"),
        ham.alias("hamming"),
    ).distinct()


# ---------------------------------------------------------------------------
# Bloom-prefiltered decontamination (the unbroadcastable-bench scale path)
# ---------------------------------------------------------------------------


def _bloom_probe_positions(sh: Column, m_bits: int, k: int) -> list[Column]:
    """The k bit positions a shingle hash probes/sets in an m-bit Bloom
    filter — xxhash64 re-hashed with the probe index as extra input."""
    return [
        F.pmod(F.xxhash64(sh, F.lit(j)), F.lit(m_bits)) for j in range(k)
    ]


def build_bloom(
    hashes: DataFrame, col: str, m_bits: int = 1 << 16, k: int = 5
) -> list[int]:
    """Aggregate an m-bit Bloom filter over a hash column, returned as
    a dense little-endian list of ``m_bits/64`` int64 words.

    The build is one map + one 64-partition-max shuffle (`bit_or` per
    word index); the driver collects only ``m_bits/64`` rows (8 KiB at
    the default 2^16 bits) — metadata-sized regardless of how many
    billions of shingles went in.  That bound is the point: a bench
    set too large to broadcast as raw hashes still compresses to a
    constant-size filter.
    """
    pos = F.explode(
        F.array(*_bloom_probe_positions(F.col(col), m_bits, k))
    ).alias("pos")
    words = (
        hashes.select(pos)
        .select(
            F.shiftrightunsigned("pos", 6).cast("int").alias("w"),
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), F.pmod("pos", F.lit(64)).cast("int")
            ).alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("bits"))
        .collect()
    )
    dense = [0] * (m_bits // 64)
    for row in words:
        dense[row["w"]] = row["bits"]
    return dense


def bloom_might_contain(
    sh: Column, bloom: list[int], m_bits: int, k: int
) -> Column:
    """Membership probe against a literal Bloom filter: AND over the k
    probe bits, entirely codegen'd JVM expressions (no UDF)."""
    arr = F.array(*[F.lit(w) for w in bloom])
    cond = None
    for pos in _bloom_probe_positions(sh, m_bits, k):
        word = F.element_at(arr, F.shiftrightunsigned(pos, 6).cast("int") + 1)
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("long"), F.pmod(pos, F.lit(64)).cast("int")
        )
        bit = word.bitwiseAND(mask) != 0
        cond = bit if cond is None else (cond & bit)
    return cond


def bloom_contamination(
    corpus: DataFrame,
    bench: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
) -> DataFrame:
    """`contamination` for a benchmark set too large to broadcast as
    raw shingles: the corpus shingle stream is pre-filtered through a
    constant-size Bloom filter of the bench shingles (``m_bits`` = 2¹⁶
    bits, ``k`` = 5 hashes), and only the
    survivors (true overlaps + the filter's ~1e-5 false-positive tail)
    reach the exact join.  The join then discards false positives, so
    the OUTPUT IS EXACT — identical to `contamination` — while the
    shuffle carries only the overlap stream instead of the full
    corpus.

    At 100 TB: the filter is ~8 KiB broadcast to every task; the
    exact join's input shrinks from O(corpus shingles) to O(overlaps),
    which is what makes a shuffle join against a huge bench set
    feasible.  No broadcast hint on the join on purpose — the premise
    is that the bench side exceeds broadcast limits; AQE picks the
    strategy at real sizes.
    """
    # ONE corpus scan with the shingle count carried through the probe
    # (see _shingles_with_size for the plan-shape rationale, r13)
    m_bits, k = 1 << 16, 5
    c_sh = _shingles_with_size(corpus, text_col, id_col, n)
    b_sh = bench.select(
        F.col(id_col).alias("bdoc"),
        F.explode(shingles_col(F.col(text_col), n)).alias("s"),
    ).select("bdoc", F.xxhash64("s").alias("sh"))
    # two consumers (the filter-build action + the exact join):
    # materialize the bench shingle stream once (r13)
    b_sh = b_sh.localCheckpoint(eager=False)
    bloom = build_bloom(b_sh.select("sh"), "sh", m_bits, k)
    survivors = c_sh.filter(bloom_might_contain(F.col("sh"), bloom, m_bits, k))
    hits = (
        survivors.join(b_sh, "sh")
        .groupBy("doc")
        .agg(
            F.count_distinct("sh").alias("n_overlap"),
            F.count_distinct("bdoc").alias("n_bench_docs"),
            F.max("n_sh").alias("n_sh"),
        )
    )
    return hits.select(
        "doc",
        "n_overlap",
        "n_bench_docs",
        F.round(F.col("n_overlap").cast("double") / F.col("n_sh"), 6).alias(
            "overlap_frac"
        ),
    )


def incremental_dedup(
    new_batch: DataFrame, seen: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Cross-run exact dedup for incremental ingestion: the new batch
    keeps one doc per content hash (min id within the batch) minus
    anything whose hash already exists in the ingested corpus.

    Emits ``(doc, batch_copies)`` for the survivors.  At 100 TB the
    ``seen`` side is the warehouse's STORED content-hash column (write
    ``xxhash64(text)`` at ingest; re-hashing all of history every run
    would defeat the point) — here it is recomputed from text only
    because the synthetic table carries no hash column.

    Scale shape: map-side-combinable min/count per hash on the batch,
    one distinct on the seen hashes, then a LEFT ANTI hash join on the
    8-byte key — AQE broadcasts the batch side when it is small.
    """
    nb = new_batch.select(
        F.col(id_col).alias("doc"), F.xxhash64(F.col(text_col)).alias("h")
    )
    firsts = nb.groupBy("h").agg(
        F.min("doc").alias("doc"), F.count(F.lit(1)).alias("batch_copies")
    )
    seen_h = seen.select(F.xxhash64(F.col(text_col)).alias("h")).distinct()
    return firsts.join(seen_h, "h", "left_anti").select("doc", "batch_copies")


def keep_best_dedup(
    pairs: DataFrame, quality: DataFrame, id_col: str, score_col: str
) -> DataFrame:
    """Quality-aware keep rule over near-dup clusters: instead of the
    arbitrary min-id keeper, each connected component keeps its
    highest-quality member (max score, min-id tiebreak) — the keep rule
    real pre-training dedup uses (drop the OCR-garbled copy, keep the
    clean one).

    ``pairs`` is any near-dup pair stream (``id_a``/``id_b``);
    ``quality`` maps ``id_col`` → ``score_col``.  Components come from
    :func:`dedup_clusters` (large-star/small-star); the argmax is two
    map-side-combinable aggregations per cluster — max score, then min
    id among the members holding it — which stays correct for ANY
    orderable id type (a negate-the-id struct-max trick would
    null out string/UUID ids).  Emits ``(doc, keeper)`` for every
    clustered document.

    Quality coverage may be partial: members with no quality row are
    never chosen over scored members, and a cluster with NO scored
    member falls back to the min-id keeper (its component label)
    instead of silently vanishing — callers computing drops as
    ``doc != keeper`` would otherwise fail open and keep every
    duplicate in that cluster.
    """
    clusters = dedup_clusters(pairs)  # (doc, keeper=min-id label)
    scored = clusters.join(
        quality.select(F.col(id_col).alias("doc"), F.col(score_col).alias("__q")),
        "doc",
        "left",
    )
    best_q = scored.groupBy(F.col("keeper").alias("cluster")).agg(
        F.max("__q").alias("__best_q")
    )
    best = (
        scored.join(
            best_q,
            (scored["keeper"] == best_q["cluster"])
            & (scored["__q"] == best_q["__best_q"]),  # null __q never matches
        )
        .groupBy("cluster")
        .agg(F.min("doc").alias("best"))
    )
    return (
        clusters.join(best, clusters.keeper == best.cluster, "left")
        .select(
            "doc",
            F.coalesce(F.col("best"), F.col("keeper")).alias("keeper"),
        )
    )


def source_overlap(
    df: DataFrame,
    text_col: str,
    group_col: str,
    n: int = 3,
) -> DataFrame:
    """Cross-source contamination matrix: exact shingle-set Jaccard
    between every pair of sources — the corpus-composition diagnostic
    that tells you two "different" domains are mirrors of each other
    before they double-weight the training mix.

    Shape: distinct (source, shingle) postings (combinable distinct),
    per-source set sizes, then shingle-keyed grouped-bucket pair
    expansion (:func:`bucket_pairs`) whose fan-out is bounded by
    sources-per-shingle², NOT docs² — the output is the
    source×source triangle.
    """
    # postings shuffle as 8-byte shingle hashes, not strings (the
    # ngram_jaccard_pairs convention; collision odds ~|S|²/2⁶⁴ ≈ 0)
    sh = (
        widen_narrow_scan(df).select(
            F.col(group_col).alias("src"),
            F.explode(shingles_col(F.col(text_col), n)).alias("s"),
        )
        .select("src", F.xxhash64("s").alias("sh"))
        .distinct()
    )
    # grouped-bucket index (see bucket_pairs); two consumers (sizes +
    # pair expansion): materialize it once instead of re-shingling the
    # corpus per branch (r13)
    buckets = (
        sh.groupBy("sh")
        .agg(F.sort_array(F.collect_list("src")).alias("ds"))
        .localCheckpoint(eager=False)
    )
    sizes = (
        buckets.select(F.explode("ds").alias("src"))
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("n_sh"))
        # sources-sized, read twice (the a-side and b-side joins)
        .localCheckpoint(eager=False)
    )
    inter = (
        bucket_pairs(buckets)
        .groupBy(F.col("id_a").alias("src_a"), F.col("id_b").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("src").alias("src_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("src").alias("src_b"), F.col("n_sh").alias("nb"))
    union = F.col("na") + F.col("nb") - F.col("inter")
    return (
        inter.join(sa, "src_a")
        .join(sb, "src_b")
        .select(
            "src_a",
            "src_b",
            "inter",
            union.alias("union_sh"),
            F.round(F.col("inter").cast("double") / union, 6).alias("jaccard"),
        )
    )


def span_duplication_profile(
    df: DataFrame, text_col: str, id_col: str, n: int = 10
) -> DataFrame:
    """Exact substring-duplication profile (the corpus diagnostic
    behind exact-substring dedup, Lee et al. 2021 "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499):
    per document, how many of its positional word ``n``-gram spans
    occur ≥2 times anywhere in the corpus (including self-repeats) —
    ``(doc, n_spans, n_dup_spans, dup_frac)``.

    The pipeline decision this feeds: trim or drop documents whose
    duplicated-span fraction is high.  Scale shape: positional spans
    shuffle as 8-byte hashes; corpus span frequency is one map-side
    combinable count; the profile is one join back on the hash + a
    doc-keyed aggregation.  No pair join anywhere — cost is linear in
    corpus spans, which is what makes the substring formulation
    tractable where document-pair Jaccard is not.
    """
    from pyspark.sql import Window

    spans = widen_narrow_scan(df).select(
        F.col(id_col).alias("doc"),
        F.explode(shingle_seq_col(F.col(text_col), n)).alias("s"),
    ).select("doc", F.xxhash64("s").alias("sh"))
    # corpus span frequency as an UNORDERED window count over the span
    # hash: the span stream shuffles ONCE and is never recomputed —
    # the aggregate+self-join shape paid the explode twice and the
    # shuffle twice (measured 2x slower at sf0.1).  Positional-span
    # hash groups are near-unique, so no hot partition.
    f = F.count(F.lit(1)).over(Window.partitionBy("sh"))
    dup = (F.col("f") >= 2).cast("long")
    return (
        spans.withColumn("f", f)
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(dup).alias("n_dup_spans"),
            F.round(
                F.sum(dup).cast("double") / F.count(F.lit(1)), 6
            ).alias("dup_frac"),
        )
    )


def _symspell_keyed(df: DataFrame, str_col: str) -> DataFrame:
    """Shared SymSpell blocking-key build (:func:`fuzzy_pairs`,
    :func:`fuzzy_link_edges`): per DISTINCT value, the identity key
    (pos 0) plus each single-character-deletion key (pos i), keys
    hashed to 8-byte longs — ``(w, pos, k)``.

    Deletion neighborhood: ``substr(w, 1, i-1) || substr(w, i+1)`` per
    1-based position i; one distinct (vocabulary-sized) pass and a
    map-only HOF variant explode (``len+1`` keys per value)."""
    vals = df.select(F.col(str_col).alias("w")).distinct()
    return vals.select(
        "w",
        F.explode(
            F.concat(
                F.array(F.struct(F.lit(0).alias("pos"), F.col("w").alias("k"))),
                F.expr(
                    "transform(sequence(1, length(w)), i -> struct(i AS pos,"
                    " concat(substring(w, 1, i - 1),"
                    " substring(w, i + 1, length(w))) AS k))"
                ),
            )
        ).alias("p"),
    ).select("w", F.col("p.pos").alias("pos"), F.xxhash64("p.k").alias("k"))


def fuzzy_pairs(df: DataFrame, str_col: str) -> DataFrame:
    """All DISTINCT value pairs within Levenshtein distance 1, via
    symmetric-delete blocking (the SymSpell candidate scheme): every
    value emits itself plus each single-character deletion as a
    blocking key; any two strings at edit distance ≤1 (insert, delete,
    or substitute) provably share at least one key, so the candidate
    space is bucket-bounded — never the quadratic all-pairs the naive
    fuzzy join scans.

    One distinct (vocabulary-sized) pass, a map-only HOF variant
    explode (``len+1`` keys per value), and grouped-bucket pair
    expansion ON THE KEY (:func:`bucket_pairs`).
    Carrying the DELETION POSITION with each key makes the blocking
    EXACT for distance 1 — no verify step at all:

    * identity(short) == delete(long, i)  ⇒ one insert/delete, d = 1
    * delete(a, i) == delete(b, i)        ⇒ substitution at i, d = 1
    * delete(a, i) == delete(b, j), i ≠ j ⇒ d = 2 — rejected by the
      position test, which is what the old levenshtein verify spent
      its time discovering (2.8 s of the 4.9 s sf0.1 wall; the
      positional form runs the same inputs in 1.7 s)

    Keys cross the shuffle as 8-byte xxhash64 longs (collision odds
    ~keys²/2⁶⁴ ≈ 0, same convention as the shingle index).  Emits
    ``(a, b)`` with ``a < b``.  Only distance 1 is supported —
    deeper neighborhoods need recursive deletes, which grow the key
    set combinatorially (SymSpell's documented trade)."""
    keyed = _symspell_keyed(df, str_col)
    # grouped-bucket pair expansion on the delete-key (see
    # bucket_pairs): sort by (w, pos) so expansion yields w_a <= w_b;
    # same-w entries (one word producing the same delete key at two
    # positions) are excluded by the strict a < b filter exactly as in
    # the old self-join
    buckets = keyed.groupBy("k").agg(
        F.sort_array(F.collect_list(F.struct("w", "pos"))).alias("ds")
    )
    return (
        bucket_pairs(buckets)
        .filter(
            (F.col("id_a.w") < F.col("id_b.w"))
            & (
                (F.col("id_a.pos") == F.col("id_b.pos"))
                | (F.col("id_a.pos") == 0)
                | (F.col("id_b.pos") == 0)
            )
        )
        .select(F.col("id_a.w").alias("a"), F.col("id_b.w").alias("b"))
        .distinct()
    )


def setsim_join(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact set-similarity self-join — all unordered doc pairs whose
    DISTINCT word ``n``-gram (``n`` = 3) shingle sets have Jaccard ≥
    ``threshold`` — via PREFIX FILTERING (Chaudhuri et al., ICDE 2006;
    PPJoin, Xiao et al., WWW 2008): ``(id_a, id_b, jaccard)``.

    Where the full inverted index (:func:`ngram_jaccard_pairs`)
    generates a candidate from EVERY shared shingle, prefix filtering
    orders each set by GLOBAL shingle frequency (rarest first, ties by
    shingle) and indexes only the first ``|S| - ceil(t·|S|) + 1``
    elements: two sets with Jaccard ≥ t must share at least one
    prefix element under a common total order (sharing none leaves
    the maximum possible overlap below t·|A∪B|), so recall is exactly
    1 while the candidate space shrinks to collisions on RARE
    shingles.  That is the 100 TB story: posting buckets are keyed by
    the corpus's rare tail instead of its boilerplate, so the
    O(bucket²) pair expansion concentrates where buckets are
    naturally tiny, WITHOUT the ``max_doc_freq`` recall trade the
    capped full index makes.  (Set elements must come from a large
    sparse vocabulary for the frequency skew to exist — shingles, not
    raw words.)

    Execution shape: shingles hash to 8-byte longs at the source (the
    output is ORDER-INDEPENDENT — any common total order yields the
    same verified pairs at recall 1, so (freq, hash) is as valid an
    order as (freq, shingle) and nothing string-width ever shuffles);
    corpus frequency attaches as ONE unordered window count over the
    hash (no agg + join-back — the mask_spans shape, measured 2x);
    prefixes explode from the doc-grouped (freq, hash) struct sort (no
    global rank window), pairs expand via grouped buckets
    (:func:`bucket_pairs`), and the exact verify joins hashed shingle
    arrays (intersection COUNTS are hash-invariant, same convention
    as the MinHash verify)."""
    from pyspark.sql import Window

    n = 3
    tok = widen_narrow_scan(df).select(
        F.col(id_col).alias("doc"),
        F.transform(
            shingles_col(F.col(text_col), n), lambda s: F.xxhash64(s)
        ).alias("hs"),
    ).filter(F.size("hs") > 0)
    # lazy-checkpoint the hashed-shingle frame: it feeds the prefix
    # build and BOTH verify aliases — three plan branches that would
    # otherwise each re-scan and re-tokenize.  Retention contract as
    # minhash_dedup_pairs: blocks stay pinned until Python AND JVM GCs
    # run (see that docstring / BENCH_NOTES for the mitigation).
    tok = tok.localCheckpoint(eager=False)
    posts = tok.select("doc", F.explode("hs").alias("h"))
    keyed = posts.withColumn(
        "c", F.count(F.lit(1)).over(Window.partitionBy("h"))
    )
    ordered = keyed.groupBy("doc").agg(
        F.sort_array(F.collect_list(F.struct("c", "h"))).alias("ts")
    )
    sz = F.size("ts")
    # same 1e-9 ceil slack as the candidate filters below: a float
    # t·|S| landing a hair above an integer must lengthen (never
    # shorten) the indexed prefix, or a boundary pair could be missed
    plen = sz - F.ceil(F.lit(float(threshold)) * sz - 1e-9).cast("int") + 1
    # prefix postings carry (doc, 1-based prefix position, set size):
    # the PPJoin candidate filters below need both
    prefix = ordered.select(
        "doc",
        F.size("ts").alias("sz"),
        F.posexplode(
            F.transform(
                F.slice("ts", 1, F.greatest(plen, F.lit(1))), lambda s: s["h"]
            )
        ).alias("pos", "h"),
    )
    buckets = prefix.groupBy("h").agg(
        F.sort_array(
            F.collect_list(F.struct("doc", (F.col("pos") + 1).alias("pos"), "sz"))
        ).alias("ds")
    )
    t = float(threshold)
    pa, pb = F.col("id_a"), F.col("id_b")
    # PPJoin candidate filters, applied BEFORE the distinct and the
    # verify join — each discards pairs that provably cannot reach t:
    # length filter: |B| ≥ t·|A| (Jaccard ≥ t bounds the size ratio);
    # positional filter: tokens before this shared prefix position
    # are all distinct across the pair, so the best remaining overlap
    # min(|A|-i, |B|-j) + 1 must reach the required α = ⌈t/(1+t)·
    # (|A|+|B|)⌉ (a pair may pass via a different, earlier collision —
    # per-collision filtering + distinct keeps recall exactly 1).
    # The 1e-9 slack under each ceil makes the float bound a certain
    # RELAXATION of the exact rational one: t·sz or t/(1+t)·(sa+sb)
    # rounding a hair above an integer must never prune a pair sitting
    # exactly on the boundary — recall stays provably 1 at the cost of
    # (at most) a few extra verified candidates.
    alpha = F.ceil(F.lit(t / (1.0 + t)) * (pa["sz"] + pb["sz"]) - 1e-9)
    cand = (
        bucket_pairs(buckets)
        .filter(
            (pb["sz"] >= F.ceil(F.lit(t) * pa["sz"] - 1e-9))
            & (pa["sz"] >= F.ceil(F.lit(t) * pb["sz"] - 1e-9))
            & (
                F.least(pa["sz"] - pa["pos"], pb["sz"] - pb["pos"]) + 1
                >= alpha
            )
        )
        .select(pa["doc"].alias("id_a"), pb["doc"].alias("id_b"))
        .distinct()
    )
    a = tok.select(F.col("doc").alias("id_a"), F.col("hs").alias("hs_a"))
    b = tok.select(F.col("doc").alias("id_b"), F.col("hs").alias("hs_b"))
    inter = F.array_size(F.array_intersect("hs_a", "hs_b"))
    union = F.array_size("hs_a") + F.array_size("hs_b") - inter
    jac = F.round(inter.cast("double") / union, 6)
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def fuzzy_link_edges(df: DataFrame, str_col: str) -> DataFrame:
    """Connectivity-preserving SymSpell linkage edges: a SUBSET of
    :func:`fuzzy_pairs` with identical connected components but
    O(bucket) edges per delete-key bucket instead of O(bucket²) — the
    entity-resolution input (only components matter there, not the
    pair list).

    Within one delete-key bucket, the distance-1 relation is a union
    of cliques: all entries sharing a deletion POSITION are pairwise
    substitutions at that position, and the (unique) identity entry is
    at distance 1 from every delete entry.  A clique's connectivity is
    carried by a spanning STAR, so the sorted-by-(pos, w) bucket emits
    one edge per element: to its position-run's HEAD (the run minimum
    — a same-position substitution pair), and each run head to the
    identity entry when one exists (insert/delete pair).  Runs without
    an identity entry stay mutually unlinked — those cross-position
    pairs are distance 2, exactly what fuzzy_pairs' positional test
    rejects.  Every emitted edge IS a real distance-≤1 pair, so the
    linked node set also matches fuzzy_pairs' exactly.  Stars (not
    predecessor chains) keep the per-bucket diameter ≤ 2, so the
    downstream star-CC converges in as few rounds as on the full
    quadratic pair set.

    At 100 TB this is the difference between shuffling Σb² and Σb
    candidate edges into the CC stage; the per-bucket work is one
    map-side HOF over the already-grouped array (the same single
    exchange fuzzy_pairs pays).  Measured at sf0.1 on the customer
    linkage graph: 262.5k pairs → 58.5k edges."""
    keyed = _symspell_keyed(df, str_col)
    buckets = (
        keyed.groupBy("k")
        .agg(F.sort_array(F.collect_list(F.struct("pos", "w"))).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    # run heads = indices opening a position run; element i links to
    # the largest head ≤ i (its run's minimum), a head links to the
    # identity entry (always index 0 when present — pos 0 sorts first)
    edges = F.expr(
        """
        filter(
          transform(sequence(1, size(ds) - 1), i ->
            CASE
              WHEN ds[i].pos != ds[i - 1].pos THEN
                CASE WHEN ds[0].pos = 0
                     THEN struct(ds[0].w AS a, ds[i].w AS b)
                     ELSE CAST(NULL AS struct<a: string, b: string>)
                END
              ELSE struct(
                ds[element_at(
                    filter(sequence(0, i - 1),
                           j -> j = 0 OR ds[j].pos != ds[j - 1].pos),
                    -1)].w AS a,
                ds[i].w AS b)
            END),
          x -> x IS NOT NULL)
        """
    )
    return (
        buckets.select(F.explode(edges).alias("e"))
        .select("e.a", "e.b")
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def mask_repeated_spans(
    df: DataFrame, text_col: str, id_col: str, n: int = 10
) -> DataFrame:
    """Exact-substring dedup, REMOVAL side (Lee et al. 2021,
    arXiv:2107.06499): drop every word that lies inside a positional
    ``n``-gram span occurring ≥2 times corpus-wide, and rebuild the
    document from the surviving words — ``(doc, clean_text,
    n_words, n_removed)``.

    Scale shape mirrors :func:`span_duplication_profile`: spans cross
    the shuffle as 8-byte hashes, corpus frequency is one combinable
    count, and the duplicated START positions come back to each doc as
    one collected array (bounded by the doc's own span count).  The
    word-level mask is then a map-side array HOF — position ``i``
    survives when no duplicated start ``s`` covers it (``s ≤ i <
    s+n``) — so nothing word-sized ever joins or shuffles twice.
    Documents with no duplicated span pass through via the left join's
    empty-array fallback.
    """
    base = widen_narrow_scan(df).select(
        F.col(id_col).alias("doc"), words_col(F.col(text_col)).alias("w")
    )
    spans = base.select(
        "doc",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0), F.greatest(F.array_size("w") - n, F.lit(0))
                ),
                lambda i: F.concat_ws(" ", F.slice(F.col("w"), i + 1, n)),
            )
        ).alias("pos", "s"),
    ).select("doc", "pos", F.xxhash64("s").alias("sh"))
    from pyspark.sql import Window

    # same single-shuffle window-count shape as
    # span_duplication_profile (vs agg + semi-join: measured 2x)
    starts = (
        spans.withColumn(
            "f", F.count(F.lit(1)).over(Window.partitionBy("sh"))
        )
        .filter(F.col("f") >= 2)
        .groupBy("doc")
        .agg(F.collect_list("pos").alias("starts"))
    )
    joined = base.join(starts, "doc", "left").withColumn(
        "starts", F.coalesce(F.col("starts"), F.array().cast("array<int>"))
    )

    kept = F.filter(
        F.zip_with(
            F.col("w"),
            F.sequence(F.lit(0), F.array_size("w") - 1),
            lambda x, i: F.struct(x.alias("x"), i.alias("i")),
        ),
        lambda p: F.size(
            F.filter(
                F.col("starts"),
                lambda s: (s <= p["i"]) & (p["i"] < s + F.lit(n)),
            )
        )
        == 0,
    )
    return joined.select(
        "doc",
        F.concat_ws(" ", F.transform(kept, lambda p: p["x"])).alias("clean_text"),
        F.array_size("w").cast("long").alias("n_words"),
        (F.array_size("w") - F.size(kept)).cast("long").alias("n_removed"),
    )


def dedup_clusters(pairs: DataFrame) -> DataFrame:
    """Resolve near-dup pairs into connected components: every document
    maps to its component's minimum id (the canonical keeper) —
    ``(doc, keeper)``, one row per document that appears in any
    NON-SELF pair (self-pairs carry no linkage and are dropped; pinned
    against a union-find reference by
    ``test_dedup_clusters_matches_union_find_reference``).

    Alternating large-star / small-star rounds (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond") converge in
    O(log n) rounds regardless of component diameter, and each round
    is a serial scheduling step on Spark, so it is the one CC operator:
    at sf0.1 per-node min-label propagation was no faster on any of the
    four CC queries and ran more jobs on each (39 against 18 on the
    high-diameter entity-resolution linkage graph).

    large-star(u): every neighbor v > u re-links to m(u) = min(N(u) ∪ {u})
    small-star(u): every neighbor v ≤ u (and u itself) links to m(u)
    At the fixpoint every component is a star centered on its min.

    Execution shape — 2 shuffles per round: each half-round computes
    m(u) as a WINDOW min over the symmetric edge explode
    (``min(v) over (partition by u)`` — one exchange, no join back; a
    broadcast of m would cap V at driver memory).  Edges are deduped
    every second round: every operator in the round — m, the star
    relink targets, the final keeper min — is a function of the
    SUPPORT of the edge multiset, and duplicate rows map one-to-one
    through large/small relinks, so the multiset's support evolves
    exactly as the deduped edge set would.  The odd-round distinct
    bounds the row count to |E| + O(|V|), and only half the rounds pay
    its extra (a, b) exchange.  Large-star emits no self-loops at all
    (a = v > u ≥ m = b); small-star's are dropped by one map-side
    ``a != b`` filter.  The per-node self-link ``(u, m)`` reuses the
    window stage's partitioning (a groupBy on the window's own key
    plans no exchange).

    Convergence detection is STRUCTURAL and rides the round's own
    window pass: the edge support is a min-centered star set iff no
    node has both m(u) != u (it is not a center) and more than one
    DISTINCT neighbor (it is not a leaf) — and since m(u) != u forces
    m(u) = min(v), "more than one distinct neighbor" is exactly
    ``max(v) != m`` on the same window (duplicate-tolerant where a
    plain degree count is not) — checked with a take-1 ``isEmpty`` on
    the neighbor frame the round computes anyway.  The checkpointed
    frame is that neighbor frame (lineage truncation per round), the
    round body and the final keeper read both reuse it, and the
    driver only ever sees the boolean — never data.  The probe runs
    on round 0 (an already-star input exits with zero round bodies)
    and then on odd rounds only: a star set is a FIXPOINT of both
    half-rounds, so the sparser cadence costs at most one
    support-no-op round against half the serial probe actions.
    """
    from pyspark.sql import Window

    undirected = (
        pairs.select(
            F.least(F.col("id_a"), F.col("id_b")).alias("lo"),
            F.greatest(F.col("id_a"), F.col("id_b")).alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
        # lazy: round 0's star-check action materializes it
        .localCheckpoint(eager=False)
    )
    members = (
        undirected.select(F.col("lo").alias("doc"))
        .union(undirected.select("hi"))
        .distinct()
        # lazy: derives from the checkpointed edge blocks and is only
        # consumed by the closing join — eager would schedule an extra
        # upfront job for data not needed until the loop ends
        .localCheckpoint(eager=False)
    )

    def nbrs(e: DataFrame) -> DataFrame:
        return e.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
                    F.struct(F.col("b").alias("u"), F.col("a").alias("v")),
                )
            ).alias("p")
        ).select("p.u", "p.v")

    _w_u = Window.partitionBy("u")

    def with_min(nb: DataFrame, mx: bool = False) -> DataFrame:
        # m(u) = min(N(u) ∪ {u}) attached to every (u, v) row in ONE
        # exchange (window min — no join back); the max rides the
        # same window when the star-check needs it
        out = nb.withColumn("m", F.least(F.min("v").over(_w_u), F.col("u")))
        return out.withColumn("mx", F.max("v").over(_w_u)) if mx else out

    max_iter = 30
    edges = undirected.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    nb = None
    for _r in range(max_iter):
        # checkpoint the SYMMETRIC NEIGHBOR frame (not the edge list):
        # the star-check materializes it, then the round body and —
        # on the last round — the keeper read reuse the same blocks
        nb = with_min(nbrs(edges), mx=True).localCheckpoint(eager=False)
        # min-centered star support ⇔ every node is a center (m == u)
        # or a single-distinct-neighbor leaf (m != u forces m =
        # min(v), so max(v) != m ⇔ ≥ 2 distinct neighbors); take-1
        # scan, short-circuits on the first counterexample.  Probed
        # on round 0 and odd rounds only (docstring: a star set is a
        # fixpoint, so a skipped probe costs at most one support-
        # no-op round; each probe is a serial driver action)
        if (_r == 0 or _r % 2 == 1) and nb.filter(
            (F.col("m") != F.col("u")) & (F.col("mx") != F.col("m"))
        ).isEmpty():
            break
        # large-star: a = v > u ≥ m = b, so no self-loops and no need
        # to canonicalize before small-star (dups can't change a min)
        large = nb.filter(F.col("v") > F.col("u")).select(
            F.col("v").alias("a"), F.col("m").alias("b")
        )
        nb2 = with_min(
            large.select(
                F.explode(
                    F.array(
                        F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
                        F.struct(F.col("b").alias("u"), F.col("a").alias("v")),
                    )
                ).alias("p")
            ).select("p.u", "p.v")
        )
        # the per-node self-link rides the window's partitioning: a
        # groupBy on the window key plans NO extra exchange
        selfs = nb2.groupBy("u").agg(F.min("m").alias("m"))
        # next round's edges: the raw small-star multiset, self-loops
        # dropped map-side — no canonicalize/distinct exchange (see
        # docstring: every consumer is support-invariant)
        small = (
            nb2.filter(F.col("v") <= F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .union(selfs.select(F.col("u").alias("a"), F.col("m").alias("b")))
        )
        edges = small.filter(F.col("a") != F.col("b"))
        if _r % 2 == 1:
            # alternating-round dedup (docstring): bound the duplicate
            # carry-over contraction creates, so the next two rounds'
            # window sorts run on the support, not the multiset; rows
            # here are already min-first (b = m < a), so a distinct
            # needs no re-canonicalization
            edges = edges.distinct()
    else:
        # round budget exhausted before the fixpoint: refresh nb so
        # the keeper read still reflects the LAST round's progress
        nb = with_min(nbrs(edges), mx=True).localCheckpoint(eager=False)
    # at the fixpoint each component is a star on its min, and m(u) IS
    # the keeper (center: m == u; leaf: m == its center) — read it off
    # the already-checkpointed neighbor frame, no extra edge pass
    keepers = nb.groupBy(F.col("u").alias("doc")).agg(
        F.min("m").alias("keeper")
    )
    return members.join(keepers, "doc", "left").select(
        "doc", F.coalesce(F.col("keeper"), F.col("doc")).alias("keeper")
    )


def triangle_count(pairs: DataFrame) -> DataFrame:
    """Exact triangle count over an undirected pair graph — one row
    ``(n_nodes, n_edges, n_triangles)``.  The graph-health diagnostic
    for linkage/dedup graphs (a spike in triangles means transitive
    near-dup clusters are denser than pairwise scoring suggests).

    Scale shape is the classic degree-oriented wedge join (MapReduce
    triangle counting): edges orient from the LOWER-degree endpoint to
    the higher (ties by id), which bounds every node's out-degree by
    O(√m); wedges (u→v, u→w) then join once against the oriented edge
    set.  Cost is Σ out_deg(u)² = O(m^1.5) worst case instead of the
    unoriented Σ deg(u)² a hub node would explode.
    """
    # checkpoint the canonical edge list ONCE: it feeds four plan
    # branches (degrees, orientation, wedges, closing edges) and three
    # actions — without this the upstream pair computation (the
    # expensive part, e.g. a fuzzy join) re-executes per branch
    # counting needs only identity, not the values — node ids shuffle
    # as 8-byte xxhash64 longs (collision odds ~n²/2⁶⁴), and the
    # hashed edge list re-canonicalizes on the hash order
    e = (
        pairs.select(
            F.xxhash64(F.col("id_a").cast("string")).alias("ha"),
            F.xxhash64(F.col("id_b").cast("string")).alias("hb"),
        )
        .select(
            F.least(F.col("ha"), F.col("hb")).alias("lo"),
            F.greatest(F.col("ha"), F.col("hb")).alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
        # lazy: the first of the consuming actions materializes it
        .localCheckpoint(eager=False)
    )
    nbr = e.select(
        F.explode(
            F.array(
                F.struct(F.col("lo").alias("u"), F.col("hi").alias("v")),
                F.struct(F.col("hi").alias("u"), F.col("lo").alias("v")),
            )
        ).alias("p")
    ).select("p.u", "p.v")
    deg = nbr.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    ranked = (
        nbr.join(deg.withColumnRenamed("u", "v").withColumnRenamed("d", "dv"), "v")
        .join(deg, "u")
        # orient u→v when (deg, id) of u < (deg, id) of v
        .filter(
            (F.col("d") < F.col("dv"))
            | ((F.col("d") == F.col("dv")) & (F.col("u") < F.col("v")))
        )
        .select("u", "v")
    )
    # wedge expansion via the house grouped-bucket trick (r13): the
    # classic w1⋈w2 self-join plans the oriented-edge derivation once
    # per alias and shuffles it twice; grouping each u's (distinct,
    # oriented) out-neighbors once and expanding position pairs
    # map-side emits the identical a<b wedge set from ONE exchange
    # (bucket_pairs' sorted-array order IS the a<b filter).  Out-degree
    # is O(√m) by the orientation, so bucket width is bounded.
    wedges = bucket_pairs(
        ranked.groupBy("u").agg(F.sort_array(F.collect_list("v")).alias("ds"))
    ).select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    closing = e.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    # single-action fold (r13): the three census figures used to be
    # three SERIAL driver actions (count, first, count) stitched back
    # with createDataFrame — three full job round-trips per call.  The
    # house tagged-Union fold (the q_lsh_recall_measured shape — no
    # 1-row × 1-row nested-loop join, so the repo-wide cartesian audit
    # stays exemption-free) plans them as one lazy query: each leg is
    # a combinable single-row aggregate, the closing keyless agg folds
    # the 3-row union, and the checkpointed edge list still
    # materializes exactly once inside the one job.
    def leg(tag: str, v):
        return v.select(F.lit(tag).alias("k"), F.col("v"))

    folded = (
        leg("n", nbr.agg(F.count_distinct("u").alias("v")))
        .unionAll(leg("e", e.agg(F.count(F.lit(1)).alias("v"))))
        .unionAll(
            leg(
                "t",
                wedges.join(closing, ["a", "b"]).agg(
                    F.count(F.lit(1)).alias("v")
                ),
            )
        )
    )
    pick = lambda tag: F.max(F.when(F.col("k") == tag, F.col("v")))
    return folded.groupBy().agg(
        pick("n").alias("n_nodes"),
        pick("e").alias("n_edges"),
        pick("t").alias("n_triangles"),
    )


def sentence_dedup(
    df: DataFrame, text_col: str, id_col: str, min_count: int = 3
) -> DataFrame:
    """C4-style sentence-level dedup REMOVAL: sentences occurring at
    least ``min_count`` times corpus-wide (boilerplate, cookie
    banners, licence footers) are dropped from every document and the
    document is rebuilt in original order (arXiv:1910.10683 §2.2 uses
    the three-sentence rule; span-level twin: ``mask_repeated_spans``).

    Scale shape: sentences shuffle once as 8-byte xxhash64 keys and
    corpus frequencies come from ONE unordered window count over that
    hash (no count-table self-join, no second shuffle — the same
    rewrite that halved ``span_duplication_profile``); the rebuild is
    a doc-keyed sort_array + array_join.  Sentence hash groups are
    near-unique outside true boilerplate, so the window has no
    hot-partition exposure.

    Sentence boundary = ``\\.\\s+`` (portable across engines — RE2 has
    no lookbehind, so fancier splitters would diverge from the SQL
    oracle).
    """
    from pyspark.sql import Window

    sents = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(
            F.split(F.trim(F.col(text_col)), r"\.\s+")
        ).alias("pos", "sent"),
    ).filter(F.length(F.trim(F.col("sent"))) > 0)
    hashed = sents.select(
        "doc", "pos", "sent", F.xxhash64(F.lower(F.trim(F.col("sent")))).alias("sh")
    )
    w = Window.partitionBy("sh")
    flagged = hashed.withColumn("freq", F.count(F.lit(1)).over(w))
    kept = flagged.filter(F.col("freq") < min_count)
    rebuilt = kept.groupBy("doc").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "sent"))),
                lambda s: s["sent"],
            ),
            ". ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = hashed.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sentences"))
    return (
        totals.join(rebuilt, "doc", "left")
        .select(
            "doc",
            "n_sentences",
            (F.col("n_sentences") - F.coalesce("n_kept", F.lit(0))).alias(
                "n_dropped"
            ),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental NEAR-dup maintenance: a persisted LSH signature store
# ---------------------------------------------------------------------------

#: Partition fan-out for the signature store's bucket dimension.  Each
#: (band, bucket_shard) pair is one parquet partition; a probe touches
#: only the partitions its own band keys hash into.
STORE_BUCKET_SHARDS = 8

#: The store's banding (bands × rows per band), shared by the build and
#: every probe so their band keys agree.
STORE_BANDS, STORE_ROWS_PER_BAND = 16, 4


def _banded_sigs(
    sigs: DataFrame, bands: int, rows_per_band: int
) -> DataFrame:
    """(doc, sig, band, band_key, bucket_shard) — one row per band."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    F.concat_ws(",", *[
                        F.element_at("sig", b * rows_per_band + r + 1).cast("string")
                        for r in range(rows_per_band)
                    ])
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return (
        sigs.select("doc", "sig", F.explode(band_structs).alias("bk"))
        .select(
            "doc",
            "sig",
            F.col("bk.band").alias("band"),
            F.col("bk.band_key").alias("band_key"),
            F.pmod(F.col("bk.band_key"), F.lit(STORE_BUCKET_SHARDS)).alias(
                "bucket_shard"
            ),
        )
    )


def build_signature_store(
    df: DataFrame,
    text_col: str,
    id_col: str,
    store_path: str,
) -> None:
    """Materialize the corpus's banded MinHash signatures as the
    persistent NEAR-dup index: parquet partitioned by
    ``(band, bucket_shard)`` so an incremental probe reads only the
    partitions its own band keys land in — the near-dup analogue of
    the exact-dedup hash ledger (``incremental_dedup``).

    Store size is bands × corpus rows of (doc, band_key, sig) — the
    signature matrix, NOT the text; at 100 TB of text the store is
    ~3 orders smaller and is the only thing history ever re-reads.
    """
    bands, rows_per_band = STORE_BANDS, STORE_ROWS_PER_BAND
    sigs = minhash_signatures(df, text_col, id_col, bands * rows_per_band)
    _banded_sigs(sigs, bands, rows_per_band).write.partitionBy(
        "band", "bucket_shard"
    ).mode("overwrite").parquet(store_path)


def near_dedup_incremental(
    spark,
    store_path: str,
    new_batch: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Probe a new ingest batch against the persisted signature store:
    emits ``(doc, dup_of, sim)`` for every new document whose MinHash
    similarity to some stored document reaches ``threshold`` (sim =
    fraction of agreeing minhashes, the unbiased Jaccard estimate).

    The batch's own ids stay visible to the probe, so a second probe
    of the same batch self-detects.  A missing store (fresh pipeline,
    :func:`build_signature_store` never run) bootstraps: the batch's
    signatures become the store's first rows and the report is empty.

    Scale shape: the batch's banded keys join the store on
    ``(band, bucket_shard, band_key)`` — the partition columns lead,
    so only the batch's own (band, shard) partitions are scanned
    (batch-sized × bands partitions, never the whole store), and
    bucket membership bounds the candidate fan-out exactly as in
    :func:`minhash_lsh_candidates`.  Signature agreement is one
    ``zip_with`` over the two 64-long arrays — no text ever re-reads.
    New signatures append to the store afterwards (same partitioning),
    so the index stays current without rebuilds.

    Returns the duplicate report; the caller anti-joins it to admit
    only novel documents (mirroring ``incremental_dedup``).
    """
    from pyspark.errors import AnalysisException
    from pyspark.sql.types import DoubleType, StructField, StructType

    bands, rows_per_band = STORE_BANDS, STORE_ROWS_PER_BAND
    n_hashes = bands * rows_per_band
    sigs = minhash_signatures(new_batch, text_col, id_col, n_hashes)
    banded = _banded_sigs(sigs, bands, rows_per_band).localCheckpoint(eager=True)
    try:
        store_raw = open_parquet(spark, store_path)
    except AnalysisException:
        # bootstrap: no index yet — seed it with this batch, report nothing
        banded.write.partitionBy("band", "bucket_shard").mode("append").parquet(
            store_path
        )
        id_type = banded.schema["doc"].dataType
        return spark.createDataFrame(
            [],
            StructType(
                [
                    StructField("doc", id_type),
                    StructField("dup_of", id_type),
                    StructField("sim", DoubleType()),
                ]
            ),
        )
    store = store_raw.select(
        F.col("doc").alias("old_doc"),
        F.col("sig").alias("old_sig"),
        "band",
        "band_key",
        "bucket_shard",
    )
    # no pair-dedup before the verify (r13, same rewrite as
    # similarity.py:srp_probe): duplicate (doc, old_doc) candidates
    # from multi-band collisions verify to the identical (sim,
    # old_doc) struct and the keep-best max absorbs them, so the old
    # ``.distinct()`` was an extra Exchange carrying both 64-long
    # signature arrays — strictly more shuffle bytes than the ≤
    # bands−1 redundant zip_with evaluations it saved.
    cand = banded.join(store, ["band", "bucket_shard", "band_key"]).select(
        "doc", "old_doc", "sig", "old_sig"
    )
    agree = F.aggregate(
        F.zip_with("sig", "old_sig", lambda a, b: (a == b).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    dups = (
        cand.withColumn("sim", F.round(agree.cast("double") / n_hashes, 6))
        .filter(F.col("sim") >= threshold)
        .groupBy("doc")
        .agg(
            F.max(F.struct(F.col("sim"), (-F.col("old_doc")).alias("no"))).alias("b")
        )
        .select("doc", (-F.col("b.no")).alias("dup_of"), F.col("b.sim").alias("sim"))
    )
    dups = dups.localCheckpoint(eager=True)  # pin before the store mutates
    banded.write.partitionBy("band", "bucket_shard").mode("append").parquet(
        store_path
    )
    return dups


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT pairs: directed (a → b) with
    ``|A∩B| / |A| ≥ threshold`` (4/5) — the quote/subset detector
    Jaccard misses (a short doc wholly embedded in a long one scores
    near-zero Jaccard but containment 1.0).  Broder's
    resemblance-vs-containment distinction (SEQUENCES '97).

    Same inverted-index scale shape as :func:`ngram_jaccard_pairs`
    (8-byte shingle-hash index keys), but containment is directional,
    so the intersection count — computed ONCE per unordered pair via
    grouped-bucket expansion (:func:`bucket_pairs`) — is mirrored into
    both orientations after the pair aggregation (half the pair-stream
    shuffle of the old a ≠ b self-join).  The threshold test is
    integer cross-multiplied (``inter · den ≥ |A| · num``) so boundary
    pairs can't flip across engines; the reported score is round(6)
    from exact counts.

    Emits ``(id_a, id_b, containment)`` = fraction of A's shingles
    also in B.
    """
    threshold_num, threshold_den = 4, 5
    buckets, _ = _shingle_buckets(df, text_col, id_col, n, None)
    # sizes ride the postings (see _shingle_buckets): the mirror
    # explode carries the NEW a-side's size, so the threshold test
    # and score are map-side — no sizes join, no second corpus scan
    und = (
        bucket_pairs(buckets)
        .groupBy(
            F.col("id_a.doc").alias("id_a"),
            F.col("id_a.n_sh").alias("na"),
            F.col("id_b.doc").alias("id_b"),
            F.col("id_b.n_sh").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    inter = und.select(
        F.explode(
            F.array(
                F.struct("id_a", "id_b", "inter", "na"),
                F.struct(
                    F.col("id_b").alias("id_a"),
                    F.col("id_a").alias("id_b"),
                    F.col("inter"),
                    F.col("nb").alias("na"),
                ),
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b", "p.inter", "p.na")
    return inter.filter(
        F.col("inter") * threshold_den >= F.col("na") * threshold_num
    ).select(
        "id_a",
        "id_b",
        F.round(F.col("inter").cast("double") / F.col("na"), 6).alias("containment"),
    )
