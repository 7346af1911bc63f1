"""Corpus-composition operators: weighted domain mixing with
deterministic up/down-sampling.

The mixing step of a pre-training data pipeline assigns each source
(domain) a weight and materializes the mixed corpus: weight 2.5 means
every document appears twice and half the documents appear a third
time; weight 0.4 means a deterministic 40% of documents appear once.

Scale shape: one map-only pass — the weight lookup is a literal
CASE chain (no join), the copy count is arithmetic on the id, and the
fan-out is ``explode(sequence(...))``.  No shuffle at all; at 100 TB
the mixed corpus streams straight into the next stage (or a
partitioned write).  Determinism matters as much as scale here: the
epoch membership is gated on ``id mod resolution``, not ``rand()``,
so re-runs, retried tasks, and different cluster layouts all emit the
same mix (the same property `split_col` relies on for train/val
splits).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def copies_col(id_col: Column, weight: Column) -> Column:
    """Number of copies of a row under ``weight``: ``floor(w)`` whole
    epochs plus one more for the deterministic ``frac(w)`` share of
    ids (chosen by ``id mod resolution``, ``resolution`` = 100)."""
    resolution = 100
    whole = F.floor(weight).cast("long")
    frac_gate = F.pmod(id_col, F.lit(resolution)) < F.round(
        (weight - F.floor(weight)) * resolution
    ).cast("long")
    return whole + F.when(frac_gate, F.lit(1)).otherwise(F.lit(0)).cast("long")


def mix_sources(
    df: DataFrame,
    source_col: str,
    id_col: str,
    weights: dict[str, float],
) -> DataFrame:
    """Materialize a weighted domain mix: each input row appears
    ``copies_col(id, weight(source))`` times (weight 1.0 for a source
    not in ``weights``), tagged with a 1-based ``epoch`` column.

    Rows whose copy count is 0 are filtered BEFORE the sequence is
    built (Spark's ``sequence(1, 0)`` infers step -1 and would yield
    ``[1, 0]``, not an empty array).
    """
    weight = F.lit(1.0)
    for src, w in sorted(weights.items()):
        weight = F.when(F.col(source_col) == src, F.lit(float(w))).otherwise(
            weight
        )
    copies = copies_col(F.col(id_col), weight)
    return (
        df.withColumn("__copies", copies)
        .filter(F.col("__copies") >= 1)
        .withColumn(
            "epoch",
            F.explode(F.sequence(F.lit(1).cast("long"), F.col("__copies"))),
        )
        .drop("__copies")
    )


# ---------------------------------------------------------------------------
# deterministic hash-gated sampling
# ---------------------------------------------------------------------------

#: Knuth's multiplicative constant (2654435761 = floor(2^32 / phi)):
#: multiplies the id into a well-mixed 32-bit bucket so correlated /
#: dense ids don't bias the sample the way a plain modulus would.
_KNUTH = 2654435761
_M32 = 1 << 32


def rendezvous_shard_col(id_col: str, k: int) -> Column:
    """Rendezvous (highest-random-weight) shard assignment: each row
    goes to argmax over shards s of hash(id, s) — the classic HRW rule
    (Thaler & Ravishankar 1998).  Unlike ``pmod(id, k)`` routing, a
    resize from k to k+1 shards remaps only ~1/(k+1) of the corpus
    (each row moves ONLY if the new shard wins its rendezvous), which
    is what makes HRW the right router for training-data shards that
    get re-balanced as the corpus grows.

    Map-only, portable: the weight is the md5-derived 32-bit hash of
    ``"<id>:<s>"`` (the repo's engine-exact hash idiom), the argmax is
    one ``array_max`` over k literal structs — ties (≈2⁻³² per
    shard pair) resolve to the LARGER shard id, and the whole
    expression is ONE JVM-parsed SQL string (r9 construction rule).
    ``id_col`` is backtick-quoted into that string, so names needing
    quoting work; a backtick in the name itself is rejected."""
    if k < 1:
        raise ValueError(f"rendezvous_shard_col: k must be >= 1, got {k}")
    if "`" in id_col:
        raise ValueError(
            "rendezvous_shard_col: backticks are not supported in id_col"
        )
    id_col = f"`{id_col}`"
    structs = ", ".join(
        "struct(cast(conv(substring(md5(concat(cast({id} as string),"
        " ':', '{s}')), 1, 8), 16, 10) as bigint) as h,"
        " {s} as shard)".format(id=id_col, s=s)
        for s in range(k)
    )
    return F.expr(f"array_max(array({structs})).shard")


def stratified_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    rates: dict[str, float],
) -> DataFrame:
    """Per-group deterministic sampling: each group keeps its own
    hash-gated fraction of rows (e.g. downsample boilerplate-heavy
    domains, keep the long tail whole; a group not in ``rates`` keeps
    every row).  One map-only filter pass —
    the rate lookup is a literal CASE chain, no join, no shuffle, no
    sampling state."""
    # thresholds become Python ints up front (truncation, not engine
    # float->int casts, whose rounding rules differ across engines)
    thr = F.lit(_M32)
    for g, r in sorted(rates.items()):
        thr = F.when(F.col(group_col) == g, F.lit(int(r * _M32))).otherwise(thr)
    bucket = F.pmod(F.col(id_col) * F.lit(_KNUTH), F.lit(_M32))
    return df.filter(bucket < thr)


def budget_sample(
    df: DataFrame, group_col: str, id_col: str, budget: int
) -> DataFrame:
    """Fixed-budget per-group sampling: keep exactly
    ``min(budget, group_size)`` rows per group — the "N docs per
    domain" cap a corpus-composition step enforces (rate-based
    sampling can't hit an exact per-group count).

    Selection order is a deterministic shuffle: rows rank by
    ``(md5(id), id)`` within the group, so the pick is uniform-ish yet
    identical on any engine and across runs (md5 is portable where
    xxhash64 is Spark-only).  The ranking window is PARTITIONED by the
    group — each group ranks on its own executors, no global sort.
    """
    from pyspark.sql.window import Window

    h = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(group_col).orderBy(h, F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= budget)
        .drop("__rn")
    )


def soft_dedup_sample(
    df: DataFrame, text_col: str, id_col: str, salt: int = 0
) -> DataFrame:
    """Soft dedup BY SAMPLING: keep each row with probability
    ``1/copies`` of its exact-duplicate group, so the expected kept
    mass per distinct text is exactly 1 — the materialized cousin of
    ``q_dup_weights`` (which keeps everything and attaches the weight;
    this draws the sample when downstream can't consume weights).

    Deterministic: the coin is the same portable multiplicative hash
    as :func:`stratified_sample` (int64 multiply + modulus, identical on
    any engine), the threshold is the INTEGER floor ``2^32 // copies``
    (no float -> int cast whose rounding could differ across engines),
    so the kept set is stable across runs, retries, and partitionings.
    One combinable copy-count per content hash + one join back on the
    16-byte key + a map-only filter.
    """
    g = df.groupBy(F.md5(F.col(text_col)).alias("__h")).agg(
        F.count(F.lit(1)).alias("copies")
    )
    bucket = F.pmod(
        F.col(id_col) * F.lit(_KNUTH) + F.lit(salt), F.lit(_M32)
    )
    thr = (F.lit(_M32).cast("long") / F.col("copies")).cast("long")
    return (
        df.withColumn("__h", F.md5(F.col(text_col)))
        .join(g, "__h")
        .filter(bucket < thr)
        .select(F.col(id_col), F.col("copies"))
    )


def temperature_mix(
    df: DataFrame,
    group_col: str,
    id_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-based source rebalancing (the multilingual-LM
    alpha-sampling recipe, arXiv:1901.07291 §3.1): each source's copy
    factor is ``(n_max / n_g)^(1-alpha)`` — alpha=1 keeps natural
    proportions, alpha→0 upsamples small sources toward parity with
    the largest.  The factor is computed IN the plan (counts CTE +
    single-row max, both broadcast), then materialized with the same
    deterministic ``copies_col`` explode as ``mix_sources``.

    Cross-engine determinism: the pow result rounds to 6 decimals
    before the copy arithmetic, so a last-ulp libm difference between
    engines can never flip a floor/gate."""
    counts = df.groupBy(F.col(group_col).alias("__g")).agg(
        F.count(F.lit(1)).alias("__n")
    )
    # corpus max as a 1-row broadcast join-back onto the GROUP-SIZED
    # counts table (metadata scale on both sides) — not an unordered
    # OVER () fold, whose single-partition WindowExec warning is
    # indistinguishable from a real global window in logs (r10
    # verdict).  The corpus-side plan stays one BroadcastHashJoin;
    # the 1-row nested-loop lives entirely on the counts leg.
    counts = counts.crossJoin(
        F.broadcast(counts.agg(F.max("__n").alias("__n_max")))
    )
    weight = F.round(
        F.pow(F.col("__n_max").cast("double") / F.col("__n"), 1.0 - alpha), 6
    )
    copies = copies_col(F.col(id_col), weight)
    return (
        df.join(F.broadcast(counts), df[group_col] == counts["__g"])
        .withColumn("__copies", copies)
        .filter(F.col("__copies") >= 1)
        .withColumn(
            "epoch",
            F.explode(F.sequence(F.lit(1).cast("long"), F.col("__copies"))),
        )
        .drop("__g", "__n", "__n_max", "__copies")
    )


# ---------------------------------------------------------------------------
# DSIR: importance resampling toward a target distribution
# ---------------------------------------------------------------------------


def dsir_weights(
    df: DataFrame,
    text_col: str,
    id_col: str,
    target: Column,
) -> DataFrame:
    """DSIR importance log-weights (arXiv:2302.03169): score every
    document by how much more likely its hashed-token profile is under
    a TARGET slice of the corpus than under the raw corpus — the
    selection signal behind "pick web text that looks like Wikipedia".

    Features are hashed token buckets (portable md5-prefix hash so a
    SQL oracle can replay the exact bucketing); both bucket-count
    profiles (target, raw) are ``buckets``-sized (256) tables.  The add-one
    smoothed log-ratio per bucket is quantized to INTEGER micronats,
    so each document's score is an exact integer sum — no
    order-dependent float accumulation across engines — and floats
    only appear at the final ``/1e6`` emission.

    Scale shape: the token explode is persisted (MEMORY_AND_DISK,
    LRU-evictable) and scanned exactly twice — once for the combined
    raw+target bucket profile (a single conditional aggregation, not
    two separate corpus scans), once for the per-doc score join.  The
    two corpus totals come from the 256-row profile table, not another
    corpus pass.  The per-bucket lambda table broadcasts (≤ a few
    KiB); per-doc aggregation is map-side combinable.  Resampling
    itself is then a deterministic gate on the emitted weight (e.g.
    ``percentile_filter`` or the hash coin of :func:`stratified_sample`),
    kept out of this operator so callers choose the budget.
    """
    from pyspark import StorageLevel

    buckets = 256
    toks = df.select(
        F.col(id_col).alias("doc"),
        target.alias("__t"),
        F.explode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("tok"),
    ).withColumn(
        "bucket",
        F.pmod(
            F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long"),
            F.lit(buckets),
        ),
    )
    # cached across the profile pass (materialized by the totals
    # .first() below) and the lazy per-doc join the caller executes.
    toks = toks.persist(StorageLevel.MEMORY_AND_DISK)
    prof = toks.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum(F.when(F.col("__t"), 1).otherwise(0)).alias("ct"),
    )
    totals = prof.agg(F.sum("cr").alias("rt"), F.sum("ct").alias("tt")).first()
    raw_total = int(totals["rt"])
    tgt_total = int(totals["tt"] or 0)
    lam = prof.select(
        "bucket",
        F.round(
            (
                F.log(
                    (F.col("ct") + 1).cast("double")
                    / F.lit(float(tgt_total + buckets))
                )
                - F.log(
                    (F.col("cr") + 1).cast("double")
                    / F.lit(float(raw_total + buckets))
                )
            )
            * 1e6
        )
        .cast("long")
        .alias("lam_micro"),
    )
    per_doc = (
        toks.join(F.broadcast(lam), "bucket")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lam_micro").alias("__s"),
        )
    )
    return per_doc.select(
        "doc",
        "n_tokens",
        (F.col("__s").cast("double") / 1e6).alias("log_weight"),
    )


def curriculum_interleave(
    df: DataFrame,
    id_col: str,
    group_col: str,
) -> DataFrame:
    """Deterministic weighted interleaving of source domains into one
    training order: a domain with weight ``w`` contributes one example
    every ``base/w`` schedule ticks, so heavier domains appear
    proportionally more often and every prefix of the schedule holds
    (approximately) the target mixture — the data-ORDERING half of
    weighted mixing (``mix_sources`` decides how much; this decides
    when).

    The schedule key is the exact rational "r-th item of a rate-w
    stream plays at (2r−1)/(2w)" cleared to integers:
    ``sched_key = (2·r − 1) · (base / w)`` with ``base`` divisible by
    every weight (840 covers 1..8) — no float ever enters the
    ordering.  Weights derive from the engine-portable md5 hash of the
    group name (``1 + h mod max_weight``, ``max_weight`` = 4); within
    a group, rank r orders by the md5 of the id (a deterministic
    shuffle, so the interleave never replays ingest order).

    Scale shape: one per-GROUP ranking window (partitioned) + map-only
    key arithmetic.  The GLOBAL order is carried by the key, not
    materialized — writers range-partition / sortWithinPartitions on
    ``(sched_key, grp, id)`` (the writer-ordering rule), so no global
    sort happens here.  Emits ``(id, grp, weight, r, sched_key)``.
    """
    from pyspark.sql.window import Window

    max_weight, base = 4, 840
    grp_h = F.conv(F.substring(F.md5(F.col(group_col)), 1, 8), 16, 10).cast("long")
    staged = df.select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("grp"),
        (grp_h % max_weight + 1).alias("weight"),
        F.md5(F.col(id_col).cast("string")).alias("__ord"),
    )
    w = Window.partitionBy("grp").orderBy("__ord", "id")
    return (
        staged.withColumn("r", F.row_number().over(w).cast("long"))
        .withColumn(
            "sched_key",
            ((2 * F.col("r") - 1) * (F.lit(base) / F.col("weight")).cast("long")),
        )
        .drop("__ord")
    )
