"""Similarity search over embedding columns (``array<float>``).

Three tiers, per the standard ANN playbook:

- **brute-force cosine top-k** — the exactness baseline: one map pass
  computing cosine per row + a ``TakeOrderedAndProject`` top-k
  (per-partition k-heaps, driver merges k·partitions rows).  At 100 TB
  this is a full scan but embarrassingly parallel; still the right
  tool for one-off queries and for verifying the approximate path.
- **batch kNN** (:func:`knn_join`) — top-k for a whole query SET in
  one corpus sweep: per-Arrow-batch gemm against the closure-broadcast
  query matrix with per-batch truncation.
- **IVF (inverted-file) top-k** — the scale path: every vector is
  assigned to its nearest centroid (:func:`ivf_assign`); queries score
  only the vectors of the ``nprobe`` nearest cells.

The hot loops (pair dots, query dots, centroid assignment) run as
Arrow-batched numpy kernels (Pandas UDFs).  All math is double;
similarities surface rounded(6), which absorbs the ~1e-15
summation-order differences between numpy, Spark
expressions, and the DuckDB oracle.

Centroid choice here is deterministic seeding (first ``k`` vectors);
production systems drop in k-means centroids — the query plumbing is
identical.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window

from opl_spark.sources.registry import open_parquet


def dot_col(a: Column, b: Column) -> Column:
    """Sequential-order dot product (index order, double)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


# ---------------------------------------------------------------------------
# Arrow-vectorized kernels (the hot path)
#
# Per-element expression math over array columns runs through Spark's
# INTERPRETED higher-order-function evaluator — fine for one vector,
# ruinous for 10⁵+ pair×dim evaluations.  The float kernels below move
# the inner loops to numpy over Arrow batches: one BLAS-shaped call
# per ~10k-row batch, ~100× the interpreted throughput, and the 100 TB
# path (executor-side, no shuffle added, batch size bounded by
# spark.sql.execution.arrow.maxRecordsPerBatch).
#
# Each UDF stacks its batch inline: a module-level helper would make
# cloudpickle serialize the UDF by reference to this package, which
# Python workers launched by an external harness cannot import.
# ---------------------------------------------------------------------------


def cosine_lit_udf(query: list[float]):
    """pandas_udf v → cosine similarity against a fixed query vector
    (closure-captured; broadcast with the task binary)."""
    q = np.asarray(query, dtype=np.float64)
    qn = float(np.sqrt(q @ q))

    @pandas_udf("double")
    def cos(va: pd.Series) -> pd.Series:
        if len(va) == 0:
            return pd.Series(np.empty(0, dtype=np.float64))
        a = np.stack(va.to_numpy()).astype(np.float64, copy=False)
        return pd.Series((a @ q) / (np.sqrt(np.einsum("ij,ij->i", a, a)) * qn))

    return cos


def assign_cell_udf(centroids: list[tuple[int, list[float]]]):
    """pandas_udf v → nearest-centroid cell id (squared-euclidean
    argmin; ties break toward the lowest cell id)."""
    cents = sorted(centroids)
    ids = np.asarray([cid for cid, _ in cents], dtype=np.int64)
    c = np.stack([np.asarray(v, dtype=np.float64) for _, v in cents])

    @pandas_udf("long")
    def cell(va: pd.Series) -> pd.Series:
        if len(va) == 0:
            return pd.Series(np.empty(0, dtype=np.int64))
        a = np.stack(va.to_numpy()).astype(np.float64, copy=False)
        d2 = ((a[:, None, :] - c[None, :, :]) ** 2).sum(axis=-1)
        return pd.Series(ids[np.argmin(d2, axis=1)])

    return cell


def topk_scored(
    df: DataFrame, vec_col: str, id_col: str, query: list[float], k: int = 10
) -> DataFrame:
    """The lazy scoring+selection half of brute-force top-k:
    ``orderBy(sim desc, id).limit(k)``, which Spark plans as
    ``TakeOrderedAndProject`` — every partition keeps a local k-heap and
    the driver merges k·partitions candidate rows.  No global sort, no
    single-partition Window: the whole corpus never converges on one
    executor, so this shape survives a 100× corpus."""
    sim = cosine_lit_udf(query)(F.col(vec_col))
    scored = df.select(F.col(id_col).alias("id"), F.round(sim, 6).alias("sim"))
    return scored.orderBy(F.col("sim").desc(), F.col("id")).limit(k)


def cosine_topk(
    df: DataFrame, vec_col: str, id_col: str, query: list[float], k: int = 10
) -> DataFrame:
    """Brute-force cosine top-k: ``(id, round(sim,6), rank)`` for the k
    most similar vectors.  Deterministic tiebreak: (-sim, id).

    Rank is derived from the collected k rows (metadata-sized by
    construction — k ≪ corpus, like the IVF centroid table): the
    alternative, ``row_number`` over an unpartitioned Window, moves the
    entire scored corpus to a single partition before ranking."""
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    rows = topk_scored(df, vec_col, id_col, query, k).collect()  # k rows, in order
    schema = StructType(
        [
            StructField("id", df.schema[id_col].dataType),
            StructField("sim", DoubleType()),
            StructField("rank", LongType()),
        ]
    )
    return df.sparkSession.createDataFrame(
        [(r["id"], r["sim"], i + 1) for i, r in enumerate(rows)], schema
    )


# ---------------------------------------------------------------------------
# IVF
# ---------------------------------------------------------------------------


def seed_centroids(
    df: DataFrame, vec_col: str, id_col: str, ncells: int = 8
) -> list[tuple[int, list[float]]]:
    """Deterministic centroid seeding: the ``ncells`` lowest-id
    vectors.  (Swap-in point for k-means.)  Driver-side by design —
    centroids are tiny metadata, like the fact catalog."""
    rows = df.select(id_col, vec_col).orderBy(id_col).limit(ncells).collect()
    return [(i, list(r[vec_col])) for i, r in enumerate(rows)]


def kmeans_centroids(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    iters: int = 5,
) -> list[tuple[int, list[float]]]:
    """Lloyd k-means over the embedding column — the production
    centroid builder :func:`seed_centroids` stands in for.

    Each iteration: one vectorized assignment pass (Arrow-batched
    argmin against the closure-broadcast centroid matrix — no join,
    no shuffle) + one per-(cell, dim) mean (posexplode → map-side-
    combinable aggregate whose shuffle carries k×d scalars).  The
    driver only ever touches k×d centroid values per iteration —
    metadata-sized, like the catalog.  Empty cells keep their previous
    centroid.  Deterministic: seeding is the k lowest-id vectors and
    every step is a pure function of the data."""
    cents = seed_centroids(df, vec_col, id_col, k)
    for _ in range(iters):
        assigned = ivf_assign(df, vec_col, cents)
        means = (
            assigned.select("cell", F.posexplode(vec_col).alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .collect()  # k×d rows — metadata-sized by construction
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(r["cell"], {})[r["pos"]] = r["m"]
        cents = [
            (cid, [by_cell[cid][i] for i in range(len(by_cell[cid]))])
            if cid in by_cell
            else (cid, vec)
            for cid, vec in cents
        ]
    return cents


def quantized_weights_col(vec: Column) -> Column:
    """``floor(x·1e3 + ½)`` per element — integer-valued doubles, the
    engine-exact coordinate grid shared with the SQL oracles."""
    return F.transform(vec, lambda x: F.floor(x.cast("double") * 1000.0 + 0.5))


def assign_cells_quantized(
    wdf: DataFrame, centroids: list[tuple[int, list[int]]]
) -> DataFrame:
    """Nearest-centroid assignment over INTEGER coordinates: per-cell
    squared distances are staged as named columns (HOF-capture rule),
    each a sum of integer-valued doubles < 2^53 — exact under any
    summation order — and the argmin is ``array_min`` over
    (d2, cell) structs, i.e. lexicographic (d2 asc, cell asc): the
    same tie-break a SQL ``row_number() OVER (ORDER BY d2, cell)``
    replays.  Input needs a ``w`` column from
    :func:`quantized_weights_col`; adds ``cell``."""
    staged = wdf
    names = []
    for cell, c in centroids:
        clit = F.array(*[F.lit(float(v)) for v in c])
        name = f"__d2_{cell}"
        names.append((cell, name))
        staged = staged.withColumn(
            name,
            F.aggregate(
                F.zip_with(F.col("w"), clit, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).cast("long"),
        )
    arr = F.array(
        *[
            F.struct(
                F.col(name).alias("d2"), F.lit(cell).cast("long").alias("cell")
            )
            for cell, name in names
        ]
    )
    return staged.withColumn("cell", F.array_min(arr)["cell"]).drop(
        *[n for _, n in names]
    )


def kmeans_centroids_quantized(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    iters: int = 3,
) -> list[tuple[int, list[int]]]:
    """Lloyd k-means in INTEGER arithmetic — the oracle-replayable
    sibling of :func:`kmeans_centroids` (whose float means no second
    engine reproduces bit-for-bit).

    Coordinates quantize to the 1e-3 grid; seeds are the k lowest-id
    vectors (cell id = id rank); each iteration is one exact integer
    assignment pass (see :func:`assign_cells_quantized`) + one
    per-(cell, dim) integer sum whose shuffle carries k×d scalars, and
    the new centroid is the half-up rounded mean
    ``(2·Σ + n) // (2n)`` (floor division — matches the SQL oracle's
    explicit floor-div CASE), staying on the same integer grid.  Empty
    cells keep their previous centroid.  Every step is a pure integer
    function of the data — identical centroids on any engine, any
    partitioning."""
    wdf = df.select(
        F.col(id_col).alias("id"), quantized_weights_col(F.col(vec_col)).alias("w")
    )
    seed_rows = wdf.orderBy("id").limit(k).collect()
    seed_rows.sort(key=lambda r: r["id"])
    cents = [(i, [int(v) for v in r["w"]]) for i, r in enumerate(seed_rows)]
    d = len(cents[0][1])
    for _ in range(iters):
        assigned = assign_cells_quantized(wdf, cents)
        sums = (
            assigned.select("cell", F.posexplode("w").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(
                F.sum(F.col("x").cast("long")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()  # k×d rows — metadata-sized by construction
        )
        acc: dict[int, dict[int, tuple[int, int]]] = {}
        for r in sums:
            acc.setdefault(int(r["cell"]), {})[int(r["pos"])] = (
                int(r["s"]),
                int(r["n"]),
            )
        new_cents = []
        for cid, old in cents:
            if cid in acc:
                cell = acc[cid]
                new_cents.append(
                    (
                        cid,
                        [
                            (2 * cell[i][0] + cell[i][1]) // (2 * cell[i][1])
                            for i in range(d)
                        ],
                    )
                )
            else:
                new_cents.append((cid, old))
        cents = new_cents
    return cents


def ivf_topk_quantized(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    ncells: int = 8,
    nprobe: int = 2,
    iters: int = 3,
    centroids: list[tuple[int, list[int]]] | None = None,
) -> DataFrame:
    """IVF top-k over integer k-means cells: train
    :func:`kmeans_centroids_quantized`, probe the ``nprobe`` cells
    nearest the quantized query (integer distances, min-cell ties),
    then brute-force the pooled cells with the standard round-6 cosine
    ranking.  Training, probing, and cell membership are all
    integer-exact, so the full pipeline is replayed by an unrolled SQL
    oracle; only the final cosine uses floats, in the same round-6
    form the brute-force oracle already hash-checks.

    ``centroids`` (pre-trained, e.g. a per-data-dir memo shared with a
    recall-curve consumer) skips training; training is a pure integer
    function of the data, so a caller-supplied result is
    plan-indistinguishable from retraining."""
    import math

    cents = centroids if centroids is not None else kmeans_centroids_quantized(
        df, vec_col, id_col, k=ncells, iters=iters
    )
    qw = [math.floor(float(x) * 1000.0 + 0.5) for x in query]
    by_dist = sorted(
        (sum((a - b) * (a - b) for a, b in zip(qw, c)), cid) for cid, c in cents
    )
    probe = [cid for _, cid in by_dist[:nprobe]]
    wdf = df.select(
        F.col(id_col).alias("__kid"),
        F.col(vec_col).alias("__kvec"),
        quantized_weights_col(F.col(vec_col)).alias("w"),
    )
    pool = (
        assign_cells_quantized(wdf, cents)
        .filter(F.col("cell").isin([int(c) for c in probe]))
        .select(F.col("__kid").alias(id_col), F.col("__kvec").alias(vec_col))
    )
    return cosine_topk(pool, vec_col, id_col, query, k)


def ivf_assign(
    df: DataFrame,
    vec_col: str,
    centroids: list[tuple[int, list[float]]],
) -> DataFrame:
    """Assign every vector to its nearest centroid (cell).

    One vectorized map pass against the (tiny, closure-broadcast)
    centroid matrix — no join, no shuffle.
    """
    return df.withColumn("cell", assign_cell_udf(centroids)(F.col(vec_col)))


def probe_cells(
    centroids: list[tuple[int, list[float]]], query: list[float], nprobe: int
) -> list[int]:
    """The nprobe nearest cells to the query (driver-side: ncells is
    metadata-sized)."""

    def d2(c):
        return sum((x - y) * (x - y) for x, y in zip(c, query))

    return [cid for cid, _ in sorted(centroids, key=lambda t: (d2(t[1]), t[0]))[:nprobe]]


def ivf_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    ncells: int = 8,
    nprobe: int = 2,
) -> DataFrame:
    """IVF approximate top-k over ``ncells`` seeded cells: restrict the
    brute-force scan to the ``nprobe`` cells nearest the query: only
    ``nprobe/ncells`` of the vectors are scored."""
    cents = seed_centroids(df, vec_col, id_col, ncells)
    cells = probe_cells(cents, query, nprobe)
    assigned = ivf_assign(df, vec_col, cents)
    pool = assigned.filter(F.col("cell").isin(cells))
    return cosine_topk(pool, vec_col, id_col, query, k)


def knn_join(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    queries: list[tuple[int, list[float]]],
    k: int = 3,
) -> DataFrame:
    """Batch kNN: top-k corpus neighbors for EVERY query vector.

    Scale shape: the query matrix rides in the UDF closure (broadcast
    with the task binary — queries ≪ corpus is the regime this is
    for), each Arrow batch scores corpus×queries with one gemm and
    emits only its per-query top-(k+8) — so shuffle volume is
    O(batches·queries·k) id/sim rows, never corpus×queries.  The final
    exact (rounded-sim desc, id) ranking happens engine-side per
    query; the +8 margin makes batch truncation safe against rounding
    ties at the k boundary."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    qs = sorted(queries)
    qids = np.asarray([q for q, _ in qs], dtype=np.int64)
    qmat = np.stack([np.asarray(v, dtype=np.float64) for _, v in qs])
    qnorm = np.sqrt(np.einsum("ij,ij->i", qmat, qmat))
    id_type = df.schema[id_col].dataType
    mid_schema = StructType(
        [
            StructField("qid", LongType()),
            StructField("id", id_type),
            StructField("raw_sim", DoubleType()),
        ]
    )
    keep = k + 8

    def batches(it):
        import pandas as _pd

        for pdf in it:
            if len(pdf) == 0:
                continue
            a = np.stack(pdf["__v"].to_numpy()).astype(np.float64, copy=False)
            ids = pdf["__id"].to_numpy()
            an = np.sqrt(np.einsum("ij,ij->i", a, a))
            sims = (a @ qmat.T) / np.outer(an, qnorm)  # n_batch × n_queries
            rows_q, rows_i, rows_s = [], [], []
            for j in range(len(qids)):
                col = sims[:, j]
                top = np.argsort(-col, kind="stable")[:keep]
                rows_q.extend([qids[j]] * len(top))
                rows_i.extend(ids[top])
                rows_s.extend(col[top])
            yield _pd.DataFrame({"qid": rows_q, "id": rows_i, "raw_sim": rows_s})

    scored = df.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    ).mapInPandas(batches, mid_schema)
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), "id")
    return (
        scored.select("qid", "id", F.round("raw_sim", 6).alias("sim"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def embedding_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    bucket_col: str,
    threshold: float = 0.99,
    integer_exact: bool = False,
) -> DataFrame:
    """Embedding near-dup: pairs with cosine ≥ threshold, compared only
    within ``bucket_col`` groups (the blocking key — an LSH band, an
    IVF cell, or any cheap partitioner).

    Shape: one shuffle on the bucket key, then per-bucket BLAS — each
    group normalizes its n×d matrix once and takes the upper triangle
    of N·Nᵀ, so only n·d floats cross Arrow per bucket (never the n²
    pair rows) and the inner loop is a single gemm.  The kernel
    pre-filters at threshold−1e-9 (a superset); the exact
    ``round(·,6) ≥ threshold`` predicate is applied engine-side so
    rounding semantics match SQL HALF_UP.  Bucket sizes bound both
    memory (n²) and skew — at 100 TB the blocking key must keep groups
    ≤ ~10⁵ rows (sub-block larger cells upstream).

    ``integer_exact=True`` is the ENGINE-PORTABLE verify for
    integer-valued vectors (e.g. :func:`quantized_weights_col` output):
    the threshold test runs in exact integer arithmetic —
    ``d ≥ 0 ∧ den²·d² ≥ num²·‖a‖²·‖b‖²`` with ``num/den =
    Fraction(threshold)`` — so inclusion can NEVER flip on float
    summation order (the sf1 q_srp_lsh divergence class: 11 pairs
    whose raw-double cosines straddled 0.3 by one ulp between numpy
    and DuckDB).  The emitted cosine is then a chain of single
    correctly-rounded IEEE ops on integer-exact inputs
    (``d / (√‖a‖² · √‖b‖²)``), identical on every engine.  The raw
    float path stays the default — true cosines on un-quantized
    coordinates."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    id_type = df.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("raw_cos", DoubleType()),
        ]
    )
    pre_threshold = threshold - 1e-9
    if integer_exact:
        from fractions import Fraction

        if threshold <= 0:
            raise ValueError(
                "embedding_dup_pairs(integer_exact) needs threshold > 0: "
                "the squared compare drops sign information"
            )
        frac = Fraction(str(threshold))
        t_num, t_den = frac.numerator, frac.denominator
        # int64 guard: den²·d² and num²·na·nb must stay < 2^63, and
        # every gemm partial sum < 2^53 (d ≤ max‖·‖²  ⇒  one bound)
        norm_cap = (1 << 31) // max(t_num, t_den, 1)

    def block(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "raw_cos": []})
        order = np.argsort(pdf["__id"].to_numpy(), kind="stable")
        ids = pdf["__id"].to_numpy()[order]
        a = np.stack(pdf["__v"].to_numpy()[order]).astype(np.float64, copy=False)
        if integer_exact:
            # unnormalized exact-integer gram (products and partial
            # sums all < 2^53 under the norm_cap guard ⇒ any BLAS
            # summation order yields the same exact value)
            gram = a @ a.T
            norms = np.diag(gram)
            if norms.max(initial=0.0) > norm_cap:
                raise ValueError(
                    "embedding_dup_pairs(integer_exact): squared norm "
                    f"{norms.max()} exceeds the int64-safe cap {norm_cap} "
                    f"for threshold {threshold} — coarsen the "
                    "quantization grid or use the float path"
                )
            iu, ju = np.triu_indices(n, k=1)
            d = gram[iu, ju]
            di = np.rint(d).astype(np.int64)
            na = np.rint(norms).astype(np.int64)
            keep = (di >= 0) & (
                t_den * t_den * di * di >= t_num * t_num * na[iu] * na[ju]
            )
            sa = np.sqrt(norms)
            cos = d / (sa[iu] * sa[ju])
        else:
            a /= np.linalg.norm(a, axis=1, keepdims=True)
            gram = a @ a.T
            iu, ju = np.triu_indices(n, k=1)
            cos = gram[iu, ju]
            keep = cos >= pre_threshold
        return pd.DataFrame(
            {"id_a": ids[iu[keep]], "id_b": ids[ju[keep]], "raw_cos": cos[keep]}
        )

    pairs = (
        df.select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__v"),
            F.col(bucket_col).alias("__bk"),
        )
        .groupBy("__bk")
        .applyInPandas(block, out_schema)
    )
    rounded = pairs.select(
        "id_a", "id_b", F.round("raw_cos", 6).alias("cosine")
    )
    if integer_exact:
        # inclusion already decided by the kernel's exact-integer
        # predicate; a float re-filter here could disagree at the
        # boundary (the very class this mode removes)
        return rounded
    return rounded.filter(F.col("cosine") >= threshold)


def srp_agreement_prob(cosine: float) -> float:
    """P[one SRP sign bit agrees | angle θ] = 1 − θ/π (Charikar 2002,
    Goemans–Williamson) — the per-hash agreement probability that maps
    a COSINE threshold onto the generic banding S-curve, the SRP twin
    of Jaccard being MinHash's per-hash agreement probability."""
    import math

    return 1.0 - math.acos(max(-1.0, min(1.0, cosine))) / math.pi


def srp_banding_advise(
    cos_threshold: float,
    n_bits: int = 24,
    target_recall: float = 0.9,
) -> list[dict]:
    """Banding advisor for SRP-LSH (:func:`srp_lsh_pairs`): same
    S-curve selection as ``lsh_banding_advise`` (operators/dedup.py)
    but with the cosine threshold first mapped through
    :func:`srp_agreement_prob` — because SRP bits agree with
    probability 1 − θ/π, NOT with probability cos θ, a cosine-0.8 pair
    agrees per-bit at ~0.795 and the right banding differs from the
    Jaccard-0.8 one.  The dissimilar-pair cosine for the false-positive
    proxy is cos of 1.5× the threshold angle.  Output rows carry
    the cosine inputs alongside the bit-agreement probabilities the
    curve actually used."""
    import math

    from opl_spark.operators.dedup import lsh_banding_advise

    if not -1 < cos_threshold < 1:
        raise ValueError(f"cos_threshold must be in (-1,1), got {cos_threshold}")
    theta = math.acos(cos_threshold)
    below_cos = math.cos(min(math.pi, 1.5 * theta))
    p_t = srp_agreement_prob(cos_threshold)
    p_b = srp_agreement_prob(below_cos)
    out = lsh_banding_advise(
        p_t, n_bits, target_recall=target_recall, below=p_b
    )
    for row in out:
        row["cos_threshold"] = cos_threshold
        row["cos_below"] = below_cos
        row["bit_agreement_at_threshold"] = p_t
    return out


#: the smallest SRP band key (in sign bits) the index defaults will
#: accept: a band key of r bits has only 2^r distinct values, so bucket
#: occupancy at fixed r grows LINEARLY with corpus size and the
#: candidate bill quadratically — the failure mode the full-suite sf1
#: slope measured on q_srp_incremental (6-bit keys => a constant 64
#: buckets).  8 bits (256 buckets/band) is the floor below which the
#: defaults refuse to go.
SRP_MIN_ROWS_PER_BAND = 8

#: signature budgets the default derivation searches, cheapest first —
#: SRP bits are weak versus MinHash rows (a MinHash band key is r WIDE
#: hashes; an SRP band key is r single bits), so honest banding at
#: cosine thresholds needs bigger budgets than text LSH's 64.
SRP_DEFAULT_BUDGETS = (24, 32, 48, 64, 96, 128, 192)


def srp_banding_defaults(cos_threshold: float) -> tuple[int, int]:
    """Derive ``(n_bits, bands)`` for the persisted SRP index from the
    declared verify threshold (r12 verdict task 6): the smallest
    signature budget in :data:`SRP_DEFAULT_BUDGETS` whose banding meets
    ``target_recall`` (0.9) at the threshold with band keys of at least
    :data:`SRP_MIN_ROWS_PER_BAND` bits.

    Below cos ≈ 0.7 the per-bit agreement (1 − θ/π) is weak enough
    that NO banding inside the budget list reaches the recall target
    without dropping to short band keys — the quadratic-fan-out regime
    BENCH_NOTES documents for q_srp_incremental's sf1 slope — so the
    derivation REFUSES with guidance instead of silently installing a
    flood-prone index: pass explicit ``n_bits``/``bands`` to opt in,
    or route the job
    through the IVF family, which is the registered 100 TB path for
    low-threshold best-match tasks."""
    target_recall = 0.9
    for budget in SRP_DEFAULT_BUDGETS:
        fits = [
            r
            for r in srp_banding_advise(
                cos_threshold, budget, target_recall=target_recall
            )
            if r["recall_at_threshold"] >= target_recall
            and r["rows_per_band"] >= SRP_MIN_ROWS_PER_BAND
        ]
        if fits:
            # lowest false-positive proxy among qualifying factorizations
            best = min(fits, key=lambda r: r["fp_at_below"])
            return budget, best["bands"]
    raise ValueError(
        f"srp_banding_defaults: no banding within a {SRP_DEFAULT_BUDGETS[-1]}-bit "
        f"budget reaches recall {target_recall} at cos_threshold "
        f"{cos_threshold} with band keys >= {SRP_MIN_ROWS_PER_BAND} bits — "
        f"below ~0.7 SRP banding needs short keys whose bucket fan-out "
        f"grows quadratically with corpus size.  Opt in explicitly with "
        f"n_bits=/bands=, or use the IVF index family for low-threshold "
        f"best-match tasks."
    )


def _resolve_srp_banding(
    threshold: float, n_bits: int | None, bands: int | None
) -> tuple[int, int]:
    """Banding resolution of a :func:`srp_dedup_incremental` probe with
    no store manifest to read it from: explicit values pass through
    untouched (the caller owns the trade; registered queries pin their
    oracles this way); ``None`` derives from the advisor at the
    declared threshold.  An explicit budget with derived bands warns
    when the pick falls below the key-width floor instead of refusing
    (the budget was the caller's word)."""
    import warnings

    if n_bits is not None and bands is not None:
        return n_bits, bands
    if n_bits is None and bands is not None:
        raise ValueError(
            "_resolve_srp_banding: bands= without n_bits= is ambiguous — "
            "give both or neither"
        )
    if n_bits is None:
        return srp_banding_defaults(threshold)
    rows = srp_banding_advise(threshold, n_bits)
    best = next((r for r in rows if r.get("recommended")), rows[0])
    if best["rows_per_band"] < SRP_MIN_ROWS_PER_BAND:
        warnings.warn(
            f"SRP banding at cos_threshold {threshold} within an explicit "
            f"{n_bits}-bit budget picked {best['rows_per_band']}-bit band "
            f"keys (< {SRP_MIN_ROWS_PER_BAND}): bucket fan-out grows "
            f"quadratically with corpus size — raise the budget",
            stacklevel=3,
        )
    return n_bits, best["bands"]


def srp_plane_coeff(j: int, i: int) -> int:
    """Deterministic integer hyperplane coefficient for SRP-LSH bit
    ``j``, dimension ``i``: the portable 32-bit md5 hash of ``"j:i"``
    mapped to [-1000, 1000].  Computed ONCE driver-side and baked as
    literals into both the Spark plan and the SQL oracle (the same
    shared-constant convention as minhash_permutation /
    ndcg_weight_micro) — no per-row hashing anywhere."""
    import hashlib

    h = int(hashlib.md5(f"{j}:{i}".encode()).hexdigest()[:8], 16)
    return h % 2001 - 1000


def srp_lsh_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dims: int,
    threshold: float = 0.5,
    portable: bool = False,
) -> DataFrame:
    """Signed-random-projection LSH (Charikar 2002 — the COSINE twin
    of MinHash banding) over an embedding column: each vector's
    ``n_bits`` = 24 sign bits of integer hyperplane projections split
    into ``bands`` = 4 banded bucket keys; same-bucket pairs verify with the
    exact cosine — ``(id_a, id_b, cosine ≥ threshold)``.

    P[bit agrees] = 1 − θ/π, so a (bands × rows) banding tunes the
    recall/candidate trade exactly like text LSH — and unlike the
    label-blocked :func:`embedding_dup_pairs` it needs NO preexisting
    blocking key.  Candidates are approximate (banding recall), the
    verify is exact — same contract as :func:`minhash_dedup_pairs`.

    Everything up to the verify is INTEGER-exact and engine-portable:
    coordinates quantize to the 1e-3 grid (:func:`quantized_weights_col`),
    plane coefficients are driver-side literals
    (:func:`srp_plane_coeff`), and each projection is a sum of
    integer-valued doubles < 2^53 (order-independent), so a SQL
    oracle replays buckets bit-for-bit.

    Scale shape: signatures are map-only (the quantized vector is
    staged as a NAMED column, so the ``n_bits`` projection aggregates
    reference an attribute, never re-evaluate the transform — the
    repo's HOF-capture rule); one shuffle on the (band, key) bucket;
    per-bucket gemm verify via :func:`embedding_dup_pairs`'s kernel
    (n·d floats cross Arrow per bucket, never n² rows).

    ``portable=True`` verifies on the QUANTIZED integer coordinates
    (the same 1e-3 grid the bucket keys already use) with
    ``embedding_dup_pairs(integer_exact=True)`` — inclusion at the
    threshold is exact integer arithmetic and the emitted cosine is
    engine-deterministic, so a SQL oracle replays the whole query
    hash-exact at any scale (the raw-double default left 11 sf1 pairs
    straddling cosine 0.3 by one ulp of engine summation order).
    Same portable-vs-fast-path contract as
    :func:`~opl_spark.operators.dedup.minhash_dedup_pairs`."""
    n_bits, bands = 24, 4
    if portable:
        melted = srp_banded_keys(
            df, vec_col, id_col, dims, n_bits, bands, keep_quantized=True
        ).select("__id", "__q", F.struct("band", "key").alias("__bk"))
        return embedding_dup_pairs(
            melted, "__q", "__id", "__bk", threshold=threshold,
            integer_exact=True,
        ).distinct()
    melted = srp_banded_keys(df, vec_col, id_col, dims, n_bits, bands).select(
        "__id", "__v", F.struct("band", "key").alias("__bk")
    )
    verified = embedding_dup_pairs(
        melted, "__v", "__id", "__bk", threshold=threshold
    )
    # a pair colliding in several bands verifies identically each time
    return verified.distinct()


def srp_banded_keys(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dims: int,
    n_bits: int = 24,
    bands: int = 4,
    keep_quantized: bool = False,
) -> DataFrame:
    """The shared SRP banding stage: ``(__id, __v double-array, band,
    key)`` — one row per (vector, band), keys from the integer sign-bit
    construction documented on :func:`srp_lsh_pairs` (which consumes
    this; :func:`build_srp_index` / :func:`srp_dedup_incremental`
    persist/probe it).  ``keep_quantized`` carries the ``__q``
    integer-grid column through for the portable integer-exact
    verify."""
    if n_bits % bands != 0:
        raise ValueError(
            f"srp_banded_keys: n_bits ({n_bits}) must divide evenly into "
            f"bands ({bands}) — trailing bits would be silently unused"
        )
    rows_per_band = n_bits // bands
    planes = [
        [srp_plane_coeff(j, i) for i in range(dims)] for j in range(n_bits)
    ]
    from opl_spark.operators.dedup import widen_narrow_scan

    qdf = widen_narrow_scan(df).select(
        F.col(id_col).alias("__id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
        quantized_weights_col(F.col(vec_col)).alias("__q"),
    )
    # each bit's plane-projection is ONE JVM-parsed SQL string — the
    # per-element F.lit() construction cost n_bits × dims py4j round
    # trips (24 × 64 = 1536 per frame build; q_srp_incremental builds
    # two frames), the same construction-time fat the r9 minhash
    # expr-string rewrite removed.  Identical expressions and results.
    bit_cols = []
    for j in range(n_bits):
        arr = ", ".join(f"{float(c)!r}D" for c in planes[j])
        proj = (
            f"aggregate(zip_with(__q, array({arr}), (a, b) -> a * b), "
            "0.0D, (acc, x) -> acc + x)"
        )
        bit_cols.append(
            F.expr(f"case when {proj} >= 0.0D then 1 else 0 end").alias(f"__b{j}")
        )
    carry = ["__id", "__v"] + (["__q"] if keep_quantized else [])
    staged = qdf.select(*carry, *bit_cols)
    keys = [
        sum(
            (F.col(f"__b{b * rows_per_band + k}") * (1 << k))
            for k in range(rows_per_band)
        ).alias(f"__k{b}")
        for b in range(bands)
    ]
    keyed = staged.select(*carry, *keys)
    return keyed.select(
        *carry,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"__k{b}").alias("key"))
                    for b in range(bands)
                ]
            )
        ).alias("__bk"),
    ).select(
        *carry, F.col("__bk.band").alias("band"), F.col("__bk.key").alias("key")
    )


#: bucket_shard fan-out of the persisted SRP index — with band as the
#: leading partition column this bounds partition count at
#: bands × min(2^rows_per_band, SRP_STORE_SHARDS).
SRP_STORE_SHARDS = 16


def _srp_store_rows(
    df: DataFrame, vec_col: str, id_col: str, dims: int, n_bits: int, bands: int
) -> DataFrame:
    """Banded keys in the PERSISTED layout: ``(vec_id, vec, band, key,
    bucket_shard)``."""
    return srp_banded_keys(df, vec_col, id_col, dims, n_bits, bands).select(
        F.col("__id").alias("vec_id"),
        F.col("__v").alias("vec"),
        "band",
        "key",
        F.pmod("key", F.lit(SRP_STORE_SHARDS)).alias("bucket_shard"),
    )


def _write_srp_meta(
    spark, store_path: str, dims: int, n_bits: int, bands: int
) -> None:
    """Persist the store's banding as a 1-row parquet under
    ``_srp_meta`` — underscore-prefixed, so Spark's file index hides it
    from the partitioned signature scan.  The store is self-describing:
    probes resolve their banding FROM it, which is what makes derived
    defaults safe (a probe declaring a different threshold than the
    build can never silently band-mismatch the persisted keys)."""
    spark.createDataFrame(
        [(int(dims), int(n_bits), int(bands))],
        "dims int, n_bits int, bands int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{store_path}/_srp_meta")


def _read_srp_meta(spark, store_path: str) -> dict | None:
    from pyspark.errors import AnalysisException

    # existence probe through the Hadoop FS API (portable to any FS the
    # session reaches) — quieter and cheaper than letting the parquet
    # reader raise-and-log on every fresh-pipeline bootstrap
    jvm = spark._jvm
    meta_path = jvm.org.apache.hadoop.fs.Path(f"{store_path}/_srp_meta")
    fs = meta_path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(meta_path):
        return None  # legacy store (pre-manifest) or no store at all
    try:
        row = open_parquet(spark, f"{store_path}/_srp_meta").first()
    except AnalysisException:
        return None
    return None if row is None else row.asDict()


def build_srp_index(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    store_path: str,
    dims: int,
) -> None:
    """Materialize the corpus's banded SRP signatures as the
    persistent EMBEDDING near-dup index: parquet partitioned by
    ``(band, bucket_shard)`` so an incremental probe reads only the
    partitions its own band keys land in — the cosine twin of the
    banded-MinHash store (``dedup.py:build_signature_store``).

    Store size is bands × corpus rows of (id, vector, key): the
    vectors ride along because the probe's exact-cosine verify needs
    them — at 100 TB of media the embedding store is still orders
    smaller than the payloads, and it is the only thing history ever
    re-reads.

    Banding (r12 verdict task 6): ``n_bits``/``bands`` derive from
    :func:`srp_banding_defaults` at the cosine ``threshold`` = 0.8 the
    downstream probes verify at by default — recall ≥ 0.9 with band
    keys ≥ 8 bits.  The resolved banding is persisted in the store's
    ``_srp_meta`` manifest, and probes default to it — so the build is
    the ONE place banding is decided."""
    n_bits, bands = srp_banding_defaults(0.8)
    _srp_store_rows(df, vec_col, id_col, dims, n_bits, bands).write.partitionBy(
        "band", "bucket_shard"
    ).mode("overwrite").parquet(store_path)
    _write_srp_meta(df.sparkSession, store_path, dims, n_bits, bands)


def srp_probe(
    store: DataFrame,
    banded_batch: DataFrame,
    threshold: float,
    exclude_ids: DataFrame | None = None,
) -> DataFrame:
    """Core SRP probe: join a banded batch against banded store rows
    on ``(band, bucket_shard, key)``, verify bucket-mates with the
    EXACT cosine on the raw double vectors, keep each batch vector's
    best stored match — ``(vec_id, dup_of, cos)``.  Shared by the
    persisted-store probe (:func:`srp_dedup_incremental`) and the
    storeless split-frame query twin (q_srp_incremental).

    ``exclude_ids`` (optional, a one-column ``vec_id`` frame) removes
    those stored ids from candidacy AFTER the banded join — a
    batch-sized broadcast anti-join, so the partition-pruned store
    scan is untouched.  :func:`srp_dedup_incremental` passes the
    batch's own ids here under ``exclude_self`` so a replayed
    micro-batch (whose signatures already landed in the store) probes
    the pre-batch index and reproduces its original report.

    ID TYPE CONTRACT: ``vec_id`` must be NUMERIC — the keep-best
    tie-break (max cos, then MIN stored id) rides one struct-max via
    arithmetic negation of the id, which keeps the aggregation
    map-side combinable (a window would forbid partial aggregation).
    Non-numeric ids raise immediately rather than mis-sorting."""
    from pyspark.sql.types import NumericType

    id_type = store.schema["vec_id"].dataType
    if not isinstance(id_type, NumericType):
        raise TypeError(
            f"srp_probe: vec_id must be a numeric type for the min-id "
            f"tie-break (got {id_type.simpleString()}); map string ids "
            f"to a numeric surrogate (e.g. xxhash64) before indexing"
        )
    old = store.select(
        F.col("vec_id").alias("old_id"),
        F.col("vec").alias("old_vec"),
        "band",
        "key",
        "bucket_shard",
    )
    # NO pair-dedup between the banded join and the verify (r13): a
    # pair colliding in several bands verifies to the SAME (cos,
    # old_id) struct each time, and the closing keep-best max is
    # duplicate-insensitive — so the old ``.distinct()`` here was a
    # full extra Exchange of BOTH raw vectors (~2·dims·8 B per
    # candidate) purely to avoid ≤ bands−1 redundant map-side dot
    # products per pair.  Dropping it removes the only payload-sized
    # shuffle between the bucket join and the (combiner-shrunk)
    # keep-best aggregation.
    cand = banded_batch.join(old, ["band", "key", "bucket_shard"]).select(
        "vec_id", "vec", "old_id", "old_vec"
    )
    if exclude_ids is not None:
        cand = cand.join(
            F.broadcast(exclude_ids.select(F.col("vec_id").alias("old_id"))),
            "old_id",
            "left_anti",
        )
    cos = F.round(
        dot_col(F.col("vec"), F.col("old_vec"))
        / (norm_col(F.col("vec")) * norm_col(F.col("old_vec"))),
        6,
    )
    return (
        cand.withColumn("cos", cos)
        .filter(F.col("cos") >= threshold)
        .groupBy("vec_id")
        .agg(
            F.max(
                F.struct(F.col("cos"), (-F.col("old_id")).alias("no"))
            ).alias("b")
        )
        .select(
            "vec_id",
            (-F.col("b.no")).alias("dup_of"),
            F.col("b.cos").alias("cos"),
        )
    )


def srp_dedup_incremental(
    spark,
    store_path: str,
    new_batch: DataFrame,
    vec_col: str,
    id_col: str,
    dims: int,
    n_bits: int | None = None,
    bands: int | None = None,
    threshold: float = 0.8,
    append: bool = True,
    exclude_self: bool = False,
) -> DataFrame:
    """Probe a new embedding batch against the persisted SRP index:
    emits ``(vec_id, dup_of, cos)`` for every new vector whose exact
    cosine to some stored vector reaches ``threshold`` (best match —
    max cos, min stored id on ties; numeric-id contract per
    :func:`srp_probe`).  New signatures append to the store
    afterwards (same partitioning), so the index stays current
    without rebuilds — the embedding twin of
    ``dedup.py:near_dedup_incremental``, pinned by the same
    verbatim/edited/novel/self-detect pytest contract.

    ``exclude_self=True`` makes the batch's own ids invisible to its
    probe (broadcast anti-join inside :func:`srp_probe`).  On a FIRST
    run it is a no-op (the ids aren't stored yet); on an at-least-once
    REPLAY — crash after the signature append, micro-batch re-fired —
    it is what makes the probe reproduce the original report instead
    of every vector matching itself at cos 1.0.  The interactive
    default stays False so a deliberate second probe self-detects
    ("is this already indexed?"); an at-least-once caller (a
    foreachBatch sink, a retried job) should set it True.

    A missing store (fresh pipeline, :func:`build_srp_index` never
    run) is a valid bootstrap state, not a crash: the batch's
    signatures are written as the store's first rows (when
    ``append``) and the report is empty — so batch 0 of a stream
    starts the index instead of dying on AnalysisException.

    Scale shape: the batch's banded keys join the store on
    ``(band, bucket_shard, key)`` with the partition columns leading,
    so only the batch's own (band, shard) partitions are scanned —
    batch-sized × bands partitions, never the whole store — and
    bucket membership bounds candidate fan-out exactly as in
    :func:`srp_lsh_pairs`.  Candidate recall is the banding S-curve
    (``srp_banding_advise`` picks n_bits/bands for a target); the
    verify is exact, so reported cosines carry no approximation."""
    from pyspark.errors import AnalysisException
    from pyspark.sql.types import DoubleType, StructField, StructType

    # banding resolution (r12 verdict task 6): the store's _srp_meta
    # manifest is the source of truth — a probe can never band-mismatch
    # the persisted keys, whatever threshold it declares.  Explicit
    # values must AGREE with the manifest; derivation from the
    # threshold happens only when there is no store yet (bootstrap)
    # or the store predates the manifest (legacy, pass explicit).
    meta = _read_srp_meta(spark, store_path)
    if meta is not None:
        if n_bits is not None and (n_bits, bands) != (meta["n_bits"], meta["bands"]):
            raise ValueError(
                f"srp_dedup_incremental: explicit banding ({n_bits}, {bands}) "
                f"contradicts the store's manifest "
                f"({meta['n_bits']}, {meta['bands']}) at {store_path}"
            )
        n_bits, bands = meta["n_bits"], meta["bands"]
    else:
        n_bits, bands = _resolve_srp_banding(threshold, n_bits, bands)
    banded = _srp_store_rows(
        new_batch, vec_col, id_col, dims, n_bits, bands
    ).localCheckpoint(eager=True)
    try:
        store = open_parquet(spark, store_path)
    except AnalysisException:
        # bootstrap: no index yet — seed it with this batch, report nothing
        if append:
            banded.write.partitionBy("band", "bucket_shard").mode(
                "append"
            ).parquet(store_path)
            _write_srp_meta(spark, store_path, dims, n_bits, bands)
        id_type = banded.schema["vec_id"].dataType
        return spark.createDataFrame(
            [],
            StructType(
                [
                    StructField("vec_id", id_type),
                    StructField("dup_of", id_type),
                    StructField("cos", DoubleType()),
                ]
            ),
        )
    exclude = banded.select("vec_id").distinct() if exclude_self else None
    dups = srp_probe(store, banded, threshold, exclude_ids=exclude)
    dups = dups.localCheckpoint(eager=True)  # pin before the store mutates
    if append:
        banded.write.partitionBy("band", "bucket_shard").mode("append").parquet(
            store_path
        )
    return dups


def quantize_embeddings(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """Symmetric absmax int8 quantization of an embedding column —
    the storage/memory scale path for ANN: a 64-dim float32 vector
    (256 B) becomes 64 int8 codes + one float scale (~68 B), and the
    int8 dot product is SIMD-friendly on any probe hardware.

    Per vector: ``scale = max(|v_i|)`` and ``q_i = floor(v_i / scale
    * 127 + 0.5)`` (round-half-up via floor, which is portable across
    engines, unlike round-half-even/away variants).  Emits bookkeeping
    the pipeline records per shard: dims, scale, integer L1/sum of the
    codes (exact, no float-order sensitivity), and the max absolute
    reconstruction error.

    Scale shape: map-only, all built-in higher-order functions — no
    shuffle, no Python.  Zero vectors (scale 0) are dropped, matching
    the oracle's guard.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    out = df.select(F.col(id_col), v.alias("__v")).select(
        F.col(id_col),
        F.col("__v"),
        F.array_max(F.transform("__v", F.abs)).alias("__s"),
    )
    q = F.transform(
        "__v", lambda x: F.floor(x / F.col("__s") * 127 + F.lit(0.5)).cast("long")
    )
    out = out.filter(F.col("__s") > 0).select(
        F.col(id_col), "__v", "__s", q.alias("__q")
    )
    recon = F.array_max(
        F.zip_with(
            "__v", "__q", lambda a, b: F.abs(a - b * F.col("__s") / 127)
        )
    )
    return out.select(
        F.col(id_col),
        F.array_size("__v").alias("dims"),
        F.round("__s", 6).alias("scale"),
        F.aggregate(
            F.transform("__q", F.abs), F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("q_l1"),
        F.aggregate(
            "__q", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("q_sum"),
        F.round(recon, 6).alias("max_err"),
    )


def quantized_topk(
    df: DataFrame, vec_col: str, id_col: str, query: list[float], k: int = 10
) -> DataFrame:
    """Brute-force top-k over int8-quantized codes — the cheap scan
    path `quantize_embeddings` exists for: the scan touches ~68 B per
    vector instead of 256+ B, and the inner product is int64-exact.

    The absmax scales cancel in the cosine ratio, so the score is
    ``int_dot / (sqrt(int_norm_a) * sqrt(int_norm_q))`` — integer
    arithmetic up to one final double division, hence bit-identical on
    any engine (no float summation-order sensitivity at all).

    Same selection shape as `cosine_topk`: TakeOrdered (per-partition
    k-heaps), rank derived from the k collected rows.
    """
    import math

    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    qs = max(abs(float(x)) for x in query)
    qq = [math.floor(float(x) / qs * 127 + 0.5) for x in query]
    nq = sum(c * c for c in qq)

    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = df.select(F.col(id_col).alias("id"), v.alias("__v")).select(
        "id", "__v", F.array_max(F.transform("__v", F.abs)).alias("__s")
    )
    codes = F.transform(
        "__v", lambda x: F.floor(x / F.col("__s") * 127 + F.lit(0.5)).cast("long")
    )
    base = base.filter(F.col("__s") > 0).select("id", codes.alias("__q"))
    qlit = F.array(*[F.lit(int(c)) for c in qq])
    dot = F.aggregate(
        F.zip_with("__q", qlit, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n2 = F.aggregate(
        F.transform("__q", lambda a: a * a),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    qsim = F.round(
        dot.cast("double") / (F.sqrt(n2.cast("double")) * F.lit(math.sqrt(float(nq)))),
        6,
    )
    scored = base.select("id", qsim.alias("qsim"))
    rows = scored.orderBy(F.col("qsim").desc(), F.col("id")).limit(k).collect()
    schema = StructType(
        [
            StructField("id", df.schema[id_col].dataType),
            StructField("qsim", DoubleType()),
            StructField("rank", LongType()),
        ]
    )
    return df.sparkSession.createDataFrame(
        [(r["id"], r["qsim"], i + 1) for i, r in enumerate(rows)], schema
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: list[tuple[int, list[float]]],
    threshold: float = 0.95,
) -> DataFrame:
    """Semantic deduplication (the SemDeDup recipe, Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, compare cosines
    only WITHIN each cluster, and drop every document that has a
    lower-id near-duplicate (cosine >= threshold) in its cluster — the
    lowest id of each near-dup group survives as the representative.

    Emits ``(dropped, cell)``.  Scale shape: the assignment is one
    vectorized map pass against the closure-broadcast centroid matrix;
    the pair search is `embedding_dup_pairs` (one shuffle on the cell
    key, per-cell BLAS gram matrix, upper triangle only); the final
    cell lookup joins a dropped-id set that is tiny by construction
    (it is bounded by the duplicate count, not the corpus).
    """
    assigned = ivf_assign(df, vec_col, centroids)
    pairs = embedding_dup_pairs(assigned, vec_col, id_col, "cell", threshold)
    dropped = pairs.select(F.col("id_b").alias("dropped")).distinct()
    cells = assigned.select(F.col(id_col).alias("dropped"), "cell")
    return dropped.join(cells, "dropped")


# ---------------------------------------------------------------------------
# product quantization (PQ)
# ---------------------------------------------------------------------------


def pq_train_quantized(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    m: int = 8,
    k: int = 16,
) -> list[list[list[int]]]:
    """Product-quantization codebook trained in INTEGER arithmetic, so
    a SQL oracle can replay it.

    Coordinates quantize to the 1e-3 grid; per subspace the seeds are
    the first ``k`` DISTINCT quantized subvectors in id order (== the
    min-id representative of each distinct subvector, ordered by that
    min id — the grouping a SQL oracle replays), and each Lloyd round
    is an exact integer argmin (first-lowest-cell ties) plus the
    half-up integer mean ``(2·Σ + n) // (2n)``, for ``iters`` = 8
    rounds.  Only the deterministic ``orderBy(id).limit(sample)``
    sample (2048 rows) crosses the driver.  Returns
    ``codebook[m][k'][d/m]`` integer lists."""
    sample, iters = 2048, 8
    rows = (
        df.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy("i")
        .limit(sample)
        .collect()
    )
    x = np.floor(
        np.array([r["v"] for r in rows], dtype=np.float64) * 1000.0 + 0.5
    ).astype(np.int64)
    d = x.shape[1]
    if d % m:
        raise ValueError(f"dims ({d}) not divisible by m ({m})")
    sub = d // m
    book: list[list[list[int]]] = []
    for j in range(m):
        xs = x[:, j * sub : (j + 1) * sub]
        seen: dict[tuple, np.ndarray] = {}
        for row in xs:
            key = tuple(int(t) for t in row)
            if key not in seen:
                seen[key] = row
            if len(seen) == k:
                break
        cents = np.array(list(seen.values()), dtype=np.int64)
        for _ in range(iters):
            d2 = ((xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)  # first occurrence = lowest cell
            new = cents.copy()
            for c in range(len(cents)):
                members = xs[assign == c]
                if len(members):
                    n = len(members)
                    s = members.sum(axis=0)
                    new[c] = (2 * s + n) // (2 * n)
            cents = new
        book.append([[int(t) for t in row] for row in cents])
    return book


def pq_encode_quantized(
    df: DataFrame, vec_col: str, id_col: str, codebook: list[list[list[int]]]
) -> DataFrame:
    """PQ encoding against an INTEGER codebook: quantize the row, then
    per subspace take the argmin-distance codeword (lowest index on
    ties) — all int64 numpy, bit-identical to the SQL replay."""
    cb = [np.asarray(c, dtype=np.int64) for c in codebook]
    sub = cb[0].shape[1]

    @pandas_udf("array<int>")
    def enc(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series(np.empty(0, dtype=object))
        a = np.floor(
            np.stack(vs.to_numpy()).astype(np.float64, copy=False) * 1000.0 + 0.5
        ).astype(np.int64)
        codes = np.empty((len(a), len(cb)), dtype=np.int32)
        for j, cents in enumerate(cb):
            xs = a[:, j * sub : (j + 1) * sub]
            d2 = ((xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            codes[:, j] = d2.argmin(axis=1)
        return pd.Series(list(codes))

    return df.select(F.col(id_col).alias("id"), enc(F.col(vec_col)).alias("codes"))


def pq_topk_quantized(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    codebook: list[list[list[int]]],
    k: int = 10,
    rerank: int = 0,
) -> DataFrame:
    """Asymmetric-distance top-k over INTEGER PQ codes.  The lookup
    tables (per-subspace query·codeword dots and codeword norms) are
    exact integers, so ``psim = num / (sqrt(rn2) · ‖qw‖)`` is a fixed
    IEEE op sequence over integer inputs — bit-identical doubles on
    every engine, which makes both the emitted round-6 scores AND the
    (psim desc, id) ranking oracle-replayable.  ``rerank > 0`` takes
    the ``rerank·k`` ADC shortlist and reranks with the exact round-6
    cosine (the construct the brute-force oracle hash-checks)."""
    import math

    cb = [np.asarray(c, dtype=np.int64) for c in codebook]
    sub = cb[0].shape[1]
    qw = np.floor(np.asarray(query, dtype=np.float64) * 1000.0 + 0.5).astype(
        np.int64
    )
    qn = math.sqrt(float(int((qw * qw).sum())))
    if qn == 0.0:
        raise ValueError("pq_topk_quantized: query has zero norm")
    dots = [
        (cb[j] @ qw[j * sub : (j + 1) * sub]).astype(np.int64)
        for j in range(len(cb))
    ]
    n2s = [(cb[j] * cb[j]).sum(axis=1).astype(np.int64) for j in range(len(cb))]

    @pandas_udf("double")
    def adc(codes: pd.Series) -> pd.Series:
        if len(codes) == 0:
            return pd.Series(np.empty(0, dtype=np.float64))
        c = np.stack(codes.to_numpy()).astype(np.int64, copy=False)
        num = np.zeros(len(c), dtype=np.int64)
        rn2 = np.zeros(len(c), dtype=np.int64)
        for j in range(c.shape[1]):
            num += dots[j][c[:, j]]
            rn2 += n2s[j][c[:, j]]
        numf = num.astype(np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            out = numf / (np.sqrt(rn2.astype(np.float64)) * qn)
        return pd.Series(np.where(rn2 > 0, out, -np.inf))

    scored = pq_encode_quantized(df, vec_col, id_col, codebook).select(
        "id", F.round(adc(F.col("codes")), 6).alias("psim")
    )
    if rerank > 0:
        short = (
            scored.orderBy(F.col("psim").desc(), F.col("id"))
            .limit(rerank * k)
            .select("id")
        )
        pool = df.join(F.broadcast(short), df[id_col] == short.id, "left_semi")
        return cosine_topk(pool, vec_col, id_col, query, k).select(
            "id", F.col("sim").alias("psim"), "rank"
        )
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    rows = scored.orderBy(F.col("psim").desc(), F.col("id")).limit(k).collect()
    schema = StructType(
        [
            StructField("id", df.schema[id_col].dataType),
            StructField("psim", DoubleType()),
            StructField("rank", LongType()),
        ]
    )
    return df.sparkSession.createDataFrame(
        [(r["id"], r["psim"], i + 1) for i, r in enumerate(rows)], schema
    )


def ivfpq_topk_quantized(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    ncells: int = 8,
    nprobe: int = 2,
    m: int = 8,
    codebook_k: int = 16,
) -> DataFrame:
    """IVF-PQ with BOTH stages integer-exact: the coarse inverted file
    uses quantized seed centroids (the k lowest-id vectors on the
    integer grid — :func:`kmeans_centroids_quantized` with zero Lloyd
    rounds, matching the float path's deterministic seeding) with
    integer cell assignment/probing, and the fine stage is the
    integer-PQ ADC scan of the probed pool — the whole composition
    replayable by one unrolled SQL oracle."""
    import math

    cents = kmeans_centroids_quantized(df, vec_col, id_col, k=ncells, iters=0)
    qw = [math.floor(float(x) * 1000.0 + 0.5) for x in query]
    by_dist = sorted(
        (sum((a - b) * (a - b) for a, b in zip(qw, c)), cid) for cid, c in cents
    )
    probe = [cid for _, cid in by_dist[:nprobe]]
    wdf = df.select(
        F.col(id_col).alias("__kid"),
        F.col(vec_col).alias("__kvec"),
        quantized_weights_col(F.col(vec_col)).alias("w"),
    )
    pool = (
        assign_cells_quantized(wdf, cents)
        .filter(F.col("cell").isin([int(c) for c in probe]))
        .select(F.col("__kid").alias(id_col), F.col("__kvec").alias(vec_col))
    )
    book = pq_train_quantized(df, vec_col, id_col, m=m, k=codebook_k)
    return pq_topk_quantized(pool, vec_col, id_col, query, book, k=k)


def pca_components(
    df: DataFrame, vec_col: str, k: int = 2
) -> tuple[list[float], list[list[float]], list[float]]:
    """Distributed PCA fit: returns ``(mean, components, variances)``
    with ``components`` the top-k eigenvectors of the sample
    covariance (rows, length d) and ``variances`` their eigenvalues.

    Scale shape: ONE Arrow-batched pass emits a (n, Σx, ΣxxT) partial
    PER BATCH (a single row of d + d² doubles — one BLAS gemm per
    batch, no d²-wide explode of the data); the driver sums
    batch-count many partials and eigendecomposes the d×d covariance
    locally.  Driver state is partials × d² — metadata-sized, like
    the k-means centroids.  Eigenvector signs canonicalize to
    largest-|entry| positive so output is deterministic across
    partitionings."""
    import numpy as np
    import pandas as pd

    def partials(batches):
        for pdf in batches:
            x = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            yield pd.DataFrame(
                {
                    "n": [x.shape[0]],
                    "s": [x.sum(axis=0).tolist()],
                    "g": [(x.T @ x).ravel().tolist()],
                }
            )

    parts = (
        df.select(vec_col)
        .mapInPandas(partials, "n long, s array<double>, g array<double>")
        .collect()
    )
    if not parts:
        raise ValueError("pca_components: empty input")
    n = sum(p["n"] for p in parts)
    d = len(parts[0]["s"])
    s = np.zeros(d)
    g = np.zeros((d, d))
    for p in parts:
        s += np.asarray(p["s"])
        g += np.asarray(p["g"]).reshape(d, d)
    mu = s / n
    cov = g / n - np.outer(mu, mu)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = []
    for i in order:
        v = vecs[:, i]
        if v[np.argmax(np.abs(v))] < 0:
            v = -v
        comps.append(v.tolist())
    return mu.tolist(), comps, [float(vals[i]) for i in order]


def pca_project(
    df: DataFrame, vec_col: str, id_col: str, k: int = 2
) -> DataFrame:
    """Project every vector onto the corpus's top-k principal
    components — ``(id, pc1..pck)``.  Fit is :func:`pca_components`
    (one distributed pass); projection is a second map-only
    Arrow-batched pass against the closure-broadcast (d×k) component
    matrix.  The d→k reduction is what makes downstream per-cell ANN /
    visualization / whitening cheap."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    mu, comps, _ = pca_components(df, vec_col, k)
    w = np.asarray(comps).T  # d×k
    m = np.asarray(mu)

    @pandas_udf("array<double>")
    def project(vs: pd.Series) -> pd.Series:
        x = np.stack(vs.to_numpy()).astype("float64") - m
        return pd.Series(list((x @ w).round(6)))

    out = df.select(F.col(id_col), project(F.col(vec_col)).alias("__p"))
    return out.select(
        id_col, *[F.col("__p")[i].alias(f"pc{i+1}") for i in range(k)]
    )


def _ceil_div(a: int, b: int) -> int:
    return -((-a) // b)


def _rescale_int(mat):
    """Floor-divide an int64 matrix so entries fit in ±10⁶ — the
    deterministic renormalization both engines replay identically."""
    import numpy as np

    m = int(np.abs(mat).max())
    dd = max(1, _ceil_div(m, 10**6))
    return np.floor_divide(mat, dd)


def _dominant_eigvec_int(mat) -> list[int]:
    """Dominant eigenvector by deterministic integer MATRIX SQUARING:
    ``M ← rescale(M²)`` doubles the effective power each step (2^12 =
    4096 after 12 squarings), which converges even on near-spherical
    spectra where plain power iteration would need hundreds of
    matvecs (the testdata's λ₂/λ₁ ≈ 0.987 → 0.987⁴⁰⁹⁶ ≈ 5e-24).
    Every step is integer arithmetic (entries ≤ 1e6, product sums ≤
    64·1e12 < 2^53 — exact under any summation order) plus one
    IEEE-exact final renormalization, so a SQL oracle replays the
    exact iterate.  The vector is read off as the column of the
    (near-rank-1) powered matrix with the largest diagonal."""
    import math

    import numpy as np

    squarings = 12
    M = _rescale_int(np.asarray(mat, dtype=np.int64))
    for _ in range(squarings):
        M = _rescale_int(M @ M)
    j = int(max(range(M.shape[0]), key=lambda t: (M[t, t], -t)))
    y = M[:, j].astype(np.int64)
    my = int(np.abs(y).max())
    if my == 0:
        return [0] * M.shape[0]
    dy = max(1, _ceil_div(my, 10**6))
    z = np.floor_divide(y, dy)
    n2 = int((z * z).sum())
    if n2 == 0:
        return [0] * M.shape[0]
    r = math.sqrt(float(n2))
    return [math.floor(int(t) * 1000000.0 / r + 0.5) for t in z]


def _canon_sign(v: list[int]) -> list[int]:
    i = max(range(len(v)), key=lambda j: (abs(v[j]), -j))
    return [-t for t in v] if v[i] < 0 else v


def pca_power_project(
    df: DataFrame, vec_col: str, id_col: str, k: int = 2
) -> DataFrame:
    """Top-k PCA projection by INTEGER-EXACT power iteration — the
    oracle-replayable sibling of :func:`pca_project` (which uses a
    float eigensolver no second engine can reproduce bit-for-bit).

    Coordinates quantize to the 1e-3 integer grid, the scatter matrix
    ``C = n·Σwwᵀ − (Σw)(Σw)ᵀ`` is an exact integer (positive scale —
    eigenvectors unchanged), the dominant direction comes from
    12 integer matrix SQUARINGS (effective power 2^12 —
    converges on near-spherical spectra; :func:`_dominant_eigvec_int`),
    the second component comes from exact
    integer Hotelling deflation ``C₂ = (C·(vᵀv)² − (vᵀCv)·vvᵀ) //
    (vᵀv)²``, and the per-row projection ``pcj_q = (n·⟨w, vⱼ⟩ −
    ⟨Σw, vⱼ⟩) // n`` is integer floor-division — every emitted value
    is a BIGINT identical on any engine.  Signs canonicalize to
    largest-|entry| positive (min-index tie-break).

    Scale shape: ONE Arrow-batched pass emits integer ``(n, Σw, wᵀw)``
    partials per batch (int64 — exact, so the reduce is
    order-independent, unlike the float gram of pca_components);
    driver state is batches × d² ints; projection is a second
    map-only pass of higher-order-function expressions.  int64/2^53
    headroom: per-row dots bound 64·1e3·1e6 = 6.4e10, times n — exact
    to n ≈ 1.4e8 rows; beyond that, divide the projection by n before
    the multiply or widen to decimal.
    """
    import numpy as np
    import pandas as pd

    def partials(batches):
        for pdf in batches:
            x = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            w = np.floor(x * 1000.0 + 0.5).astype(np.int64)
            yield pd.DataFrame(
                {
                    "n": [int(x.shape[0])],
                    "s": [w.sum(axis=0).tolist()],
                    "g": [(w.T @ w).ravel().tolist()],
                }
            )

    parts = (
        df.select(vec_col)
        .mapInPandas(partials, "n long, s array<long>, g array<long>")
        .collect()
    )
    if not parts:
        raise ValueError("pca_power_project: empty input")
    n = sum(int(p["n"]) for p in parts)
    d = len(parts[0]["s"])
    S = [0] * d
    G = [[0] * d for _ in range(d)]
    for p in parts:
        ps, pg = list(p["s"]), list(p["g"])
        for i in range(d):
            S[i] += int(ps[i])
            row = G[i]
            base = i * d
            for j in range(d):
                row[j] += int(pg[base + j])
    C = [[n * G[i][j] - S[i] * S[j] for j in range(d)] for i in range(d)]
    comps: list[list[int]] = []
    M = C
    for _ in range(k):
        Mq = [[int(t) for t in row]
              for row in _rescale_int(np.asarray(M, dtype=np.int64))]
        v = _canon_sign(_dominant_eigvec_int(Mq))
        comps.append(v)
        vv = sum(t * t for t in v)
        if vv == 0:
            M = Mq
            continue
        # exact integer Hotelling deflation (Python ints — the
        # Mq·vv² term reaches ~4e33, past int64; the oracle uses
        # HUGEINT intermediates for the same step)
        ray = sum(Mq[i][j] * v[i] * v[j] for i in range(d) for j in range(d))
        vv2 = vv * vv
        M = [
            [(Mq[i][j] * vv2 - ray * v[i] * v[j]) // vv2 for j in range(d)]
            for i in range(d)
        ]
    out = df.select(
        F.col(id_col).alias("id"),
        F.transform(
            F.col(vec_col), lambda x: F.floor(x.cast("double") * 1000.0 + 0.5)
        ).alias("__w"),
    )
    # stage each aggregate dot as a named column before reusing it —
    # captured expression trees re-evaluate per reference (HOF rule).
    for ci, v in enumerate(comps, start=1):
        vlit = F.array(*[F.lit(float(t)) for t in v])
        c_off = sum(S[i] * v[i] for i in range(d))
        dot = F.aggregate(
            F.zip_with(F.col("__w"), vlit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).cast("long")
        out = out.withColumn(
            f"__num{ci}", F.lit(n).cast("long") * dot - F.lit(c_off).cast("long")
        )
    cols = [F.col("id")]
    for ci in range(1, len(comps) + 1):
        num = F.col(f"__num{ci}")
        pc = ((num - F.pmod(num, F.lit(n))) / F.lit(n)).cast("long")
        cols.append(pc.alias(f"pc{ci}_q"))
    return out.select(*cols)


# ---------------------------------------------------------------------------
# MMR: diversity-aware selection from a similarity shortlist
# ---------------------------------------------------------------------------


#: quantization scales shared by mmr_select and its SQL oracle: raw
#: coordinates → 1e-3 integer grid, unit vectors → 1e-6 integer grid.
#: Every downstream dot product is then a sum of integer-valued
#: doubles < 2^53, which is EXACT under any summation order — the
#: property that lets a sequential SQL fold replay a BLAS gemm
#: bit-for-bit (see with_unit_quantized).
_MMR_COORD_SCALE = 1000.0
_MMR_UNIT_SCALE = 1000000.0


def with_unit_quantized(df: DataFrame, vec_col: str, out: str = "u") -> DataFrame:
    """Integer-exact unit quantization of a vector column, staged as
    named columns per the repo HOF-capture rule (a lambda may capture
    ATTRIBUTES, never expression trees — an unstaged norm would
    re-evaluate the whole Σw² fold once per output element):
    ``w = floor(x·1e3 + ½)`` per element, then
    ``u = floor(w·1e6/‖w‖ + ½)`` — every step is an elementwise IEEE
    double op (mul, add, div, sqrt, floor are all correctly rounded),
    so ANY engine given the same input floats produces the same
    integers; the norm ``‖w‖² = Σw²`` is a sum of integer-valued
    doubles and therefore order-independent.  Zero vectors map to the
    zero vector.  This is what makes cosine pipelines (MMR, quantized
    top-k) replayable by a DuckDB oracle with no float drift.

    Returns ``df`` with ``out`` added (array<double> of integer-valued
    elements); the ``__uq*`` scaffolding columns are dropped.
    """
    w_c, n_c = f"__uq_w_{out}", f"__uq_nrm_{out}"
    df = df.withColumn(
        w_c,
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * _MMR_COORD_SCALE + 0.5),
        ),
    )
    df = df.withColumn(
        n_c,
        F.sqrt(
            F.aggregate(
                F.zip_with(F.col(w_c), F.col(w_c), lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
    )
    df = df.withColumn(
        out,
        F.when(
            F.col(n_c) > 0,
            F.transform(
                F.col(w_c),
                lambda y: F.floor(y * _MMR_UNIT_SCALE / F.col(n_c) + 0.5),
            ),
        ).otherwise(F.transform(F.col(w_c), lambda x: F.lit(0.0))),
    )
    return df.drop(w_c, n_c)


def _quantize_unit_np(mat):
    """numpy replica of with_unit_quantized (same IEEE op sequence)."""
    import numpy as np

    w = np.floor(mat.astype(np.float64) * _MMR_COORD_SCALE + 0.5)
    n2 = (w * w).sum(axis=-1, keepdims=True)
    safe = np.where(n2 > 0, n2, 1.0)
    u = np.floor(w * _MMR_UNIT_SCALE / np.sqrt(safe) + 0.5)
    return np.where(n2 > 0, u, 0.0)


def mmr_select(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    shortlist: int = 50,
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR 1998):
    pick ``k`` results that balance query relevance against redundancy
    with the already-picked set —

        argmax_d  λ·sim(q, d) − (1−λ)·max_{s∈S} sim(d, s)

    — the standard answer to "my top-10 nearest neighbours are ten
    copies of the same document".

    Similarities are integer dot products of 1e-6-quantized unit
    vectors (:func:`with_unit_quantized`, scale 1e12) and λ = 0.7 is
    taken in percent (``lam_pct`` = 70), so the whole greedy chain is
    integer arithmetic — the same picks, scores, and tie-breaks on
    every engine, which is what lets the registered DuckDB oracle
    replay the full unrolled chain (cosine at 1e-6 precision; ranking
    unchanged unless two candidates are closer than that).

    Scale shape: the DISTRIBUTED stage is the shortlist — quantized
    cosine top-``shortlist`` via TakeOrderedAndProject, which bounds
    everything after it.  The greedy loop is inherently sequential in
    k and runs on the collected shortlist (shortlist·dim ints —
    metadata-sized like the IVF centroids) as one integer gram matrix
    + k argmax passes.  Ties break on min id; emits
    ``(id, sim_q, mmr_q, pick)`` in pick order, where ``sim_q`` is
    cosine·1e12 and ``mmr_q = lam_pct·sim_q − (100−lam_pct)·red_q``.
    """
    import numpy as np

    lam_pct = 70
    qu = _quantize_unit_np(np.asarray(query, dtype=np.float64))
    if not np.any(qu):
        raise ValueError("mmr_select: query has zero norm — cosine undefined")
    qu_lit = F.array(*[F.lit(float(x)) for x in qu])
    scored = (
        with_unit_quantized(
            df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("__v")),
            "__v",
            out="u",
        )
        .withColumn(
            "qsim",
            F.aggregate(
                F.zip_with(F.col("u"), qu_lit, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).cast("long"),
        )
        .select("id", "u", "qsim")
        .orderBy(F.col("qsim").desc(), F.col("id"))
        .limit(shortlist)
    )
    rows = scored.collect()
    rows.sort(key=lambda r: r["id"])
    ids = [r["id"] for r in rows]
    unit = np.array([r["u"] for r in rows], dtype=np.float64)
    qsim = [int(r["qsim"]) for r in rows]
    gram = unit @ unit.T  # integer-valued doubles — exact
    picked: list[int] = []
    out = []
    remaining = set(range(len(ids)))
    for pick in range(1, min(k, len(ids)) + 1):
        best_i, best_score = None, None
        for i in sorted(remaining):
            red = int(max((gram[i, j] for j in picked), default=0.0))
            score = lam_pct * qsim[i] - (100 - lam_pct) * red
            if best_score is None or score > best_score:
                best_i, best_score = i, score
        picked.append(best_i)
        remaining.discard(best_i)
        out.append((ids[best_i], qsim[best_i], int(best_score), pick))
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [
            StructField("id", df.schema[id_col].dataType),
            StructField("sim_q", LongType()),
            StructField("mmr_q", LongType()),
            StructField("pick", LongType()),
        ]
    )
    return df.sparkSession.createDataFrame(out, schema)


# ---------------------------------------------------------------------------
# Hybrid retrieval (lexical + dense, reciprocal-rank fusion)
# ---------------------------------------------------------------------------


def hybrid_search_rrf(
    docs: DataFrame,
    emb: DataFrame,
    text_col: str,
    doc_id_col: str,
    vec_col: str,
    vec_id_col: str,
    query_terms: list[str],
    query_vec: list[float],
    k: int = 10,
    shortlist: int = 50,
) -> DataFrame:
    """Hybrid retrieval: BM25 lexical shortlist + dense cosine
    shortlist fused by reciprocal-rank fusion (Cormack et al.,
    SIGIR 2009).  RRF contributions are the INTEGER quotients
    ``1e9 // (k0 + rank)``, ``k0`` = 60 — engine-exact fusion scores
    with no float on the comparison path, so ordering and ties (broken
    by doc id) can never drift between engines.

    Scale shape: each leg is the already-scale-audited distributed
    operator (only query-term postings shuffle for BM25; one
    map-side-combinable TakeOrdered pass for cosine); fusion is a
    full-outer join of the two ``shortlist``-sized legs, and the
    ranking windows run over those shortlist-sized frames only —
    report-sized single-partition windows, never the corpus.  Docs
    outside a leg's shortlist simply lack that leg's contribution
    (standard top-k RRF).  The whole operator STAYS LAZY — one plan,
    nothing executes at construction time, so callers keep lineage
    and composability (the round-3 version collected both legs
    eagerly).

    Emits ``(doc, rrf_x, lex_rank, dense_rank)`` — ranks NULL when the
    doc missed that shortlist — ordered by (rrf_x desc, doc), top k.
    Assumes the embedding table's ids are the document ids (the
    testdata's doc_id == vec_id alignment)."""
    from pyspark.sql.window import Window

    from opl_spark.operators.text import bm25_search

    lex = bm25_search(docs, text_col, doc_id_col, query_terms, k=shortlist)
    dense = topk_scored(emb, vec_col, vec_id_col, query_vec, shortlist)
    lexr = lex.select(
        "doc",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), F.col("doc")))
        .cast("long")
        .alias("lex_rank"),
    )
    denser = dense.select(
        F.col("id").alias("doc"),
        F.row_number()
        .over(Window.orderBy(F.col("sim").desc(), F.col("id")))
        .cast("long")
        .alias("dense_rank"),
    )
    fused = lexr.join(denser, "doc", "full_outer")
    k0 = 60
    rrf = F.coalesce(
        F.expr(f"1000000000 div ({k0} + lex_rank)"), F.lit(0).cast("long")
    ) + F.coalesce(
        F.expr(f"1000000000 div ({k0} + dense_rank)"), F.lit(0).cast("long")
    )
    return (
        fused.select("doc", rrf.alias("rrf_x"), "lex_rank", "dense_rank")
        .orderBy(F.col("rrf_x").desc(), F.col("doc"))
        .limit(k)
    )


def random_projection(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    out_dim: int = 16,
    in_dim: int = 64,
) -> DataFrame:
    """Johnson–Lindenstrauss sign random projection (Achlioptas 2003):
    project ``in_dim`` → ``out_dim`` with the ±1 matrix derived from
    the portable multiplicative hash
    ``(i·2654435761 + j·40503 + i·j·2246822519 + salt) mod 2³² < 2³¹``
    (``salt`` = 11)
    → ±1 — no stored
    matrix, no RNG state, identical on any engine.  Output scaled by
    1/√out_dim so pairwise distances are preserved in expectation.

    Map-only and JVM-side: per row, ``transform`` over the output dims
    with a ``zip_with``+``aggregate`` inner product per dim — zero
    shuffles, zero Python.  Emits the exploded ``(id, dim, value)``
    long form (round(6)) so the check hashes scalar rows, not array
    reprs.

    Widened (r14): zero shuffles means a few-split input runs every
    out_dim×in_dim inner product on ONE core — the same
    single-row-group artifact the r13 SRP projection widen fixed
    (srp_banded_keys measured 11.4 s narrow vs 1.4 s widened for the
    same compute class); identity at scale (widen_narrow_scan
    contract).
    """
    import math

    from opl_spark.operators.dedup import widen_narrow_scan

    df = widen_narrow_scan(df)

    vec = F.col(vec_col)
    scale = 1.0 / math.sqrt(out_dim)
    salt = 11

    def sign(i: Column, j: Column) -> Column:
        # the bilinear i*j term is load-bearing: without it the sign
        # columns are shifted copies of one Weyl sequence (the matrix
        # is near-degenerate and distances are NOT preserved — JL
        # ratio std 1.4 vs the ~sqrt(2/k)=0.35 this form measures)
        h = (
            i * F.lit(2654435761)
            + j * F.lit(40503)
            + i * j * F.lit(2246822519)
            + F.lit(salt)
        ) % F.lit(4294967296)
        return F.when(h < 2147483648, F.lit(1.0)).otherwise(F.lit(-1.0))

    def proj(j: Column) -> Column:
        prods = F.zip_with(
            vec,
            F.sequence(F.lit(1), F.lit(in_dim)),
            lambda v, i: v.cast("double") * sign(i, j),
        )
        # trailing + 0.0 canonicalizes IEEE signed zero: a projection
        # that rounds to zero emerges as −0.0 or +0.0 depending on the
        # engine's summation order (equal values, different reprs —
        # the r13 sf1 sweep caught one such row); −0.0 + 0.0 = +0.0
        # and every other value is untouched.  The oracle carries the
        # same term.
        return F.round(
            F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x) * F.lit(scale),
            6,
        ) + F.lit(0.0)

    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.transform(F.sequence(F.lit(1), F.lit(out_dim)), proj)
        ).alias("pos", "value"),
    ).select("id", (F.col("pos") + 1).alias("dim"), "value")


def label_centroid_outliers(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    topk: int = 3,
) -> DataFrame:
    """Per-class embedding outliers: the ``topk`` vectors farthest
    (squared L2) from their own label's centroid — the mislabeled /
    corrupt-embedding screen a labeled corpus runs before training
    (an embedding-space cousin of the z-score/MAD outlier gates).

    Integer-exact end to end (the k-means discipline): coordinates
    quantize to ``floor(x·scale + 0.5)`` (``scale`` = 1000), the
    per-label centroid is the half-up integer mean ``(2·Σ + n) //
    (2n)`` (Python floor-div — the oracle replays it with the explicit
    DuckDB floor-div CASE),
    and distances are BIGINT sums of squared integer gaps, so ranking
    never touches a float.

    Scale shape: one (label, dim)-keyed combinable aggregate for the
    centroid sums (labels×dims rows — metadata-sized driver state,
    the k-means-centroid rule), one broadcast join of the centroid
    table back onto the corpus with a staged-column ``zip_with`` gemm
    (no posexplode of the corpus), and a per-LABEL ranking window.
    Emits ``(label, id, d2, rank)``.
    """
    from pyspark.sql.window import Window

    scale = 1000.0
    staged = df.select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("label"),
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast("long"),
        ).alias("wq"),
    )
    sums = (
        staged.select("label", F.posexplode("wq").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    by_label: dict = {}
    for r in sums:
        by_label.setdefault(r["label"], {})[r["pos"]] = (2 * r["s"] + r["n"]) // (
            2 * r["n"]
        )
    cent_rows = [
        (lab, [pos_map[p] for p in sorted(pos_map)]) for lab, pos_map in by_label.items()
    ]
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    cent_schema = StructType(
        [
            StructField("label", df.schema[label_col].dataType),
            StructField("cent", ArrayType(LongType())),
        ]
    )
    cent = df.sparkSession.createDataFrame(cent_rows, cent_schema)

    joined = staged.join(F.broadcast(cent), "label")
    d2 = F.aggregate(
        F.zip_with(F.col("wq"), F.col("cent"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("label").orderBy(F.col("d2").desc(), "id")
    return (
        joined.select("label", "id", d2.alias("d2"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= topk)
    )
