"""Extension workload: the LLM-data-pipeline operators (SURVEY.md §7.4
/ BASELINE.json north-star) as t2 queries — dedup, similarity search,
text analysis, multimodal, streaming-equivalent windows, metadata
endpoints.

Queries whose machinery is not ANSI-SQL-expressible (xxhash64-based
MinHash/SimHash, the Pandas-UDF decode) register WITHOUT an oracle —
the driver records the weaker rows-only check, as SURVEY.md §2 notes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opl_spark.cube import CubeEngine
from opl_spark.facts import (
    ACCESSIONS_FACT_SQL,
    GENERAL_INDEXES_FACT_SQL,
    LOANS_FACT_SQL,
    PATRIMONIO_FACT_SQL,
    build_accessions_fact,
    build_general_indexes_fact,
    build_patrimonio_fact,
    default_catalog,
)
from opl_spark.operators.dedup import (
    bloom_contamination,
    contamination,
    incremental_dedup,
    dedup_clusters,
    exact_dedup,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash,
    keep_best_dedup,
)
from opl_spark.operators.layout import zorder_key, zorder_sql
from opl_spark.operators.sampling import mix_sources, stratified_sample
from opl_spark.operators.multimodal import (
    decode_images,
    frame_sample,
    media_metadata,
    resize_images,
    with_media_column,
)
from opl_spark.operators.similarity import (
    cosine_topk,
    embedding_dup_pairs,
    ivf_topk,
    knn_join,
    quantize_embeddings,
    quantized_topk,
    seed_centroids,
    semantic_dedup,
)
from opl_spark.operators.text import (
    TOKEN_RE,
    clean_text_col,
    fingerprint_col,
    lang_id_col,
    pii_scrub_col,
    quality_columns,
    heavy_hitters,
    percentile_filter,
    repetition_profile,
    split_col,
    tfidf_top_terms,
    token_count_col,
    unigram_logprob,
    whitespace_token_count_col,
    winnow_fingerprints,
    build_vocab,
    chunk_documents,
    quantile_buckets,
)
from opl_spark.sources import load_table
from opl_spark.streaming.events import windowed_counts
from opl_spark.workload import register

# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------


@register(
    "q_dedup_exact",
    oracle="""
SELECT MIN(doc_id) AS keeper, COUNT(*) AS copies
FROM documents GROUP BY text
""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on document text: deterministic keeper + group size."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs, ["text"], "doc_id").select("keeper", "copies")


#: shared DuckDB shingle CTE (3-gram word shingles, mirrors
#: opl_spark.operators.dedup.shingles_col exactly)
_SHINGLE_CTE = r"""
WITH docs AS (
    SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
    FROM documents
),
sh AS (
    SELECT doc_id AS doc, unnest(list_distinct(
        list_transform(
            range(1, greatest(len(w) - 2, 1) + 1),
            i -> array_to_string(list_slice(w, i, i + 2), ' ')
        ))) AS s
    FROM docs
),
sizes AS (SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY doc),
inter AS (
    SELECT a.doc AS id_a, b.doc AS id_b, COUNT(*) AS i
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc < b.doc
    GROUP BY 1, 2
)
"""

# shared DuckDB connected-components CTE (recursive reach over the
# >=0.2-Jaccard 3-gram near-dup graph; the same min-id labels
# dedup_clusters computes by star contraction)
_COMPONENTS_CTE = (
    _SHINGLE_CTE.replace("WITH docs", "WITH RECURSIVE docs", 1)
    + """,
kp2 AS (
    SELECT id_a, id_b
    FROM inter
    JOIN sizes sa ON sa.doc = id_a
    JOIN sizes sb ON sb.doc = id_b
    WHERE ROUND(CAST(i AS DOUBLE) / (sa.n_sh + sb.n_sh - i), 6) >= 0.2
),
kedges AS (
    SELECT id_a AS a, id_b AS b FROM kp2
    UNION ALL SELECT id_b, id_a FROM kp2
),
kreach(node, r) AS (
    SELECT DISTINCT a, a FROM kedges
    UNION
    SELECT kreach.node, e.b FROM kreach JOIN kedges e ON e.a = kreach.r
),
comp AS (SELECT node AS doc, MIN(r) AS keeper FROM kreach GROUP BY node)
"""
)


@register(
    "q_dedup_ngram",
    oracle=_SHINGLE_CTE
    + """
SELECT id_a, id_b,
       ROUND(CAST(i AS DOUBLE) / (sa.n_sh + sb.n_sh - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc = id_a
JOIN sizes sb ON sb.doc = id_b
WHERE ROUND(CAST(i AS DOUBLE) / (sa.n_sh + sb.n_sh - i), 6) >= 0.2
""",
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup by exact 3-gram Jaccard (the inverted-index reference
    path that LSH approximates)."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.2)


@register(
    "q_setsim_join",
    oracle=_SHINGLE_CTE
    + """
SELECT id_a, id_b,
       ROUND(CAST(i AS DOUBLE) / (sa.n_sh + sb.n_sh - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc = id_a
JOIN sizes sb ON sb.doc = id_b
WHERE ROUND(CAST(i AS DOUBLE) / (sa.n_sh + sb.n_sh - i), 6) >= 0.5
""",
)
def q_setsim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity self-join by PREFIX FILTERING (Chaudhuri
    2006 / PPJoin, Xiao 2008) at Jaccard ≥ 0.5 over 3-gram shingle
    sets — the cap-free exact scale path next to the full inverted
    index (q_dedup_ngram) and LSH (q_dedup_minhash): candidates come
    only from collisions on each set's rarest-first frequency prefix,
    pruned further by the PPJoin length and positional filters, with
    recall exactly 1 by construction (no max_doc_freq approximation).
    The oracle is the full-index enumeration at the same threshold —
    identical output IS the prefix-filter correctness theorem."""
    from opl_spark.operators.dedup import setsim_join

    docs = load_table(spark, sf_dir, "documents")
    return setsim_join(docs, "text", "doc_id", threshold=0.5)


@register(
    "q_dedup_clusters",
    oracle=_COMPONENTS_CTE + "SELECT doc, keeper FROM comp",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs resolved to connected components with a
    deterministic min-id keeper per cluster (the keep/drop list a
    dedup pipeline actually consumes)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.2)
    return dedup_clusters(pairs)


@register(
    "q_dedup_ngram_capped",
    oracle=r"""
WITH docs AS (
    SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
    FROM documents
),
sh AS (
    SELECT doc_id AS doc, unnest(list_distinct(
        list_transform(
            range(1, greatest(len(w) - 2, 1) + 1),
            i -> array_to_string(list_slice(w, i, i + 2), ' ')
        ))) AS s
    FROM docs
),
freq AS (SELECT s, COUNT(*) AS df_ FROM sh GROUP BY 1),
kept AS (SELECT sh.doc, sh.s FROM sh JOIN freq ON freq.s = sh.s WHERE df_ <= 5),
sizes AS (SELECT doc, COUNT(*) AS n_sh FROM kept GROUP BY doc),
inter AS (
    SELECT a.doc AS id_a, b.doc AS id_b, COUNT(*) AS i
    FROM kept a JOIN kept b ON a.s = b.s AND a.doc < b.doc
    GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(CAST(i AS DOUBLE) / (sa.n_sh + sb.n_sh - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc = id_a
JOIN sizes sb ON sb.doc = id_b
WHERE ROUND(CAST(i AS DOUBLE) / (sa.n_sh + sb.n_sh - i), 6) >= 0.2
""",
)
def q_dedup_ngram_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stop-shingle SCALE path of exact n-gram dedup: shingles in
    more than ``max_doc_freq`` documents are dropped from the inverted
    index, bounding per-key join fan-out at max_doc_freq² (the
    documented approximation — Jaccard over surviving shingles)."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.2, max_doc_freq=5)


def _minhash_chain() -> str:
    """The CTE chain of the PORTABLE MinHash-LSH pipeline (mirrors
    ``operators/dedup.py:minhash_signatures`` /
    ``minhash_lsh_candidates`` / ``minhash_dedup_pairs`` with
    ``portable=True``): md5-derived 32-bit shingle hashes, the exact
    ``(a·h + b) mod 2³¹−1`` permutation family (literal (i,a,b) rows
    from ``minhash_permutation``), comma-joined band keys, the
    width-capped bucket pair expansion, plus the shingle-set ``sizes`` /
    ``ints`` tables the exact-Jaccard verify reads — every step
    int64-exact.  Starts after the ``WITH`` keyword so callers can
    prepend ``RECURSIVE`` and append further CTEs."""
    from opl_spark.operators.dedup import MINHASH_PRIME, minhash_permutation

    num_hashes, bands, max_bucket = 64, 16, 1000

    rows = num_hashes // bands
    perm_rows = ",\n    ".join(
        "({}, {}, {})".format(i, *minhash_permutation(i))
        for i in range(num_hashes)
    )
    return f"""docs AS MATERIALIZED (
    SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS w
    FROM documents
),
sh AS MATERIALIZED (
    SELECT doc_id AS doc, unnest(list_distinct(list_transform(
        range(1, greatest(len(w) - 2, 1) + 1),
        i -> array_to_string(list_slice(w, i, i + 2), ' ')))) AS s
    FROM docs
),
hs AS MATERIALIZED (
    SELECT doc, CAST(CAST(('0x' || substr(md5(s), 1, 8)) AS UBIGINT)
                     % {MINHASH_PRIME} AS BIGINT) AS h
    FROM sh
),
perm(i, a, b) AS MATERIALIZED (VALUES
    {perm_rows}
),
mins AS MATERIALIZED (
    SELECT hs.doc, p.i, MIN((p.a * hs.h + p.b) % {MINHASH_PRIME}) AS m
    FROM hs CROSS JOIN perm p GROUP BY 1, 2
),
bnd AS MATERIALIZED (
    SELECT doc, i // {rows} AS band,
           string_agg(CAST(m AS VARCHAR), ',' ORDER BY i) AS band_key
    FROM mins GROUP BY doc, i // {rows}
),
capped AS MATERIALIZED (
    SELECT doc, band, band_key FROM (
        SELECT doc, band, band_key,
               COUNT(*) OVER (PARTITION BY band, band_key) AS bn
        FROM bnd) WHERE bn <= {max_bucket}
),
cand AS MATERIALIZED (
    SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
    FROM capped a JOIN capped b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc < b.doc
),
sizes AS MATERIALIZED (SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY doc),
ints AS MATERIALIZED (
    SELECT c.id_a, c.id_b, COUNT(*) AS i
    FROM cand c
    JOIN sh a ON a.doc = c.id_a
    JOIN sh b ON b.doc = c.id_b AND b.s = a.s
    GROUP BY 1, 2
)"""


def _minhash_oracle() -> str:
    """Verified-pairs form of the portable MinHash-LSH replay: the
    :func:`_minhash_chain` candidates scored by exact Jaccard."""
    threshold = 0.5
    return f"""
WITH {_minhash_chain()}
SELECT c.id_a, c.id_b,
       ROUND(CAST(COALESCE(ints.i, 0) AS DOUBLE)
             / (za.n_sh + zb.n_sh - COALESCE(ints.i, 0)), 6) AS jaccard
FROM cand c
LEFT JOIN ints ON ints.id_a = c.id_a AND ints.id_b = c.id_b
JOIN sizes za ON za.doc = c.id_a
JOIN sizes zb ON zb.doc = c.id_b
WHERE ROUND(CAST(COALESCE(ints.i, 0) AS DOUBLE)
            / (za.n_sh + zb.n_sh - COALESCE(ints.i, 0)), 6) >= {threshold}
"""


@register("q_dedup_minhash", oracle=_minhash_oracle())
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates verified by exact Jaccard (the 100 TB
    dedup path).  16 bands × 4 rows ⇒ LSH threshold ≈ (1/16)^(1/4)
    ≈ 0.5, matching the verify threshold.  Runs the PORTABLE hash
    family (md5-derived 32-bit hashes, explicit mod-P permutations —
    int64-exact on every engine), so the full pipeline — signatures,
    banding, width cap, candidate join, Jaccard scores — is replayed
    hash-exact by the DuckDB oracle (was rows-only when keyed by
    xxhash64, which no second engine can reproduce); the xxhash64
    fast path stays the operator default and powers
    q_minhash_keep_best."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_dedup_pairs(docs, "text", "doc_id", threshold=0.5, portable=True)


_SIMHASH_ORACLE = r"""
WITH docs AS MATERIALIZED (
    SELECT doc_id AS doc, regexp_split_to_array(lower(trim(text)), '\s+') AS w
    FROM documents
),
toks AS MATERIALIZED (
    SELECT doc, CAST(('0x' || substr(md5(tok), 1, 15)) AS UBIGINT) AS h
    FROM (SELECT doc, unnest(w) AS tok FROM docs)
),
bitsb AS MATERIALIZED (SELECT CAST(unnest(range(0, 60)) AS INTEGER) AS b),
votes AS MATERIALIZED (
    SELECT doc, b,
           SUM(CAST((h >> b) & 1 AS BIGINT) * 2 - 1) AS v
    FROM toks CROSS JOIN bitsb GROUP BY 1, 2
)
SELECT doc,
       CAST(SUM(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END)
            AS BIGINT) AS simhash
FROM votes GROUP BY doc
"""


@register("q_simhash", oracle=_SIMHASH_ORACLE)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash fingerprints over the md5-derived portable token
    hash — bit votes, packing, everything integer, so the oracle
    replays the fingerprints hash-exact (was rows-only on xxhash64,
    which no second engine reproduces); the xxhash64 63-bit fast path
    remains the operator default."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash(docs, "text", "doc_id", bits=60, portable=True)


@register(
    "q_dedup_embedding",
    oracle="""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
),
pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(
             list_dot_product(a.v, b.v) /
             (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
             6) AS cosine
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.3
""",
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup within label buckets (blocking key
    keeps the pair space linear-ish)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_dup_pairs(emb, "embedding", "vec_id", "label", threshold=0.3)


def _srp_oracle() -> str:
    """SQL replay of srp_lsh_pairs(portable=True): the plane literals
    come from the SAME driver-side generator as the Spark plan, buckets
    replay in integer arithmetic, and the verify is the INTEGER-EXACT
    quantized-cosine contract — inclusion by ``den²·d² ≥ num²·na·nb``
    over exact integers (no float summation-order boundary; the
    raw-double idiom left 11 sf1 pairs straddling cosine==0.3 by one
    engine ulp), emitted cosine a chain of single correctly-rounded
    IEEE ops on identical integer inputs."""
    from fractions import Fraction

    from opl_spark.operators.similarity import srp_plane_coeff

    dims, n_bits, bands, threshold = 64, 24, 4, 0.3

    frac = Fraction(str(threshold))
    t_num, t_den = frac.numerator, frac.denominator
    rows = n_bits // bands
    vals = ", ".join(
        f"({j}, {i}, {srp_plane_coeff(j, i)})"
        for j in range(n_bits)
        for i in range(dims)
    )
    return f"""
WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT id, list_transform(v, x -> floor(x * 1000.0 + 0.5)) AS qv FROM e),
planes(j, i, c) AS (VALUES {vals}),
dots AS (
    SELECT q.id, p.j, SUM(q.qv[p.i + 1] * p.c) AS s
    FROM q CROSS JOIN planes p
    GROUP BY 1, 2
),
keys AS (
    SELECT id, j // {rows} AS band,
           CAST(SUM(CASE WHEN s >= 0 THEN (1 << (j % {rows})) ELSE 0 END)
                AS BIGINT) AS key
    FROM dots GROUP BY 1, 2
),
cand AS (
    SELECT DISTINCT a.id AS id_a, b.id AS id_b
    FROM keys a JOIN keys b ON a.band = b.band AND a.key = b.key AND a.id < b.id
),
scored AS (
    SELECT c.id_a, c.id_b,
           list_dot_product(x.qv, y.qv) AS dq,
           list_dot_product(x.qv, x.qv) AS naq,
           list_dot_product(y.qv, y.qv) AS nbq
    FROM cand c JOIN q x ON x.id = c.id_a JOIN q y ON y.id = c.id_b
)
SELECT DISTINCT id_a, id_b,
       ROUND(dq / (sqrt(naq) * sqrt(nbq)), 6) AS cosine
FROM scored
WHERE dq >= 0
  AND CAST({t_den * t_den} AS HUGEINT)
        * CAST(dq AS HUGEINT) * CAST(dq AS HUGEINT)
      >= CAST({t_num * t_num} AS HUGEINT)
        * CAST(naq AS HUGEINT) * CAST(nbq AS HUGEINT)
"""


@register("q_srp_lsh", oracle=_srp_oracle())
def q_srp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-key-free embedding near-dup: signed-random-projection
    LSH (Charikar 2002) banding over integer hyperplane sign bits →
    per-bucket exact-cosine gemm verify — the COSINE twin of
    q_dedup_minhash's text LSH, next to the label-blocked
    q_dedup_embedding (operators/similarity.py:srp_lsh_pairs).  Runs
    the PORTABLE integer-exact verify (quantized-grid cosine, exact
    integer threshold test), so the oracle replays buckets bit-for-bit
    AND the verified pairs hash-exact at any scale — the raw-double
    verify stays the operator default and left 11 sf1 pairs straddling
    cosine==0.3 by one ulp of engine summation order."""
    from opl_spark.operators.similarity import srp_lsh_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return srp_lsh_pairs(
        emb, "embedding", "vec_id", dims=64, threshold=0.3, portable=True
    )


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

_TOPK_ORACLE_BODY = """
scored AS (
    SELECT e.vec_id AS id,
           ROUND(
             list_dot_product(e.v, q.qv) /
             (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))),
             6) AS sim
    FROM pool e CROSS JOIN q
)
SELECT id, sim, CAST(row_number() OVER (ORDER BY sim DESC, id) AS BIGINT) AS rank
FROM scored
ORDER BY sim DESC, id
LIMIT 10
"""


#: per-data-dir probe-vector memo — every ANN-family query opens with
#: the same single-row lookup (vec_id 0); one ``first()`` job per data
#: directory instead of one per query.  Pure read, driver-trivial
#: state, keyed like _IVF_CENTROIDS below.
_QUERY_VEC: dict[str, list[float]] = {}


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    """The probe vector (vec_id 0) — driver-side single-row lookup,
    memoized per data directory."""
    if sf_dir not in _QUERY_VEC:
        row = (
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") == 0)
            .first()
        )
        _QUERY_VEC[sf_dir] = [float(x) for x in row["embedding"]]
    return _QUERY_VEC[sf_dir]


@register(
    "q_similarity_topk",
    oracle="""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
pool AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
"""
    + _TOPK_ORACLE_BODY,
)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for the vec_id-0 probe (the exactness
    baseline every ANN variant is checked against)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb, "embedding", "vec_id", _query_vec(spark, sf_dir), k=10)


@register(
    "q_similarity_ivf",
    oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
c AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < 8),
dists AS (
    SELECT e.vec_id, e.v, c.cell,
           list_sum(list_transform(range(1, 65),
               i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))) AS d2
    FROM e CROSS JOIN c
),
assign AS (
    SELECT vec_id, v, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        FROM dists
    ) WHERE rn = 1
),
probe AS (
    SELECT cell FROM (
        SELECT c.cell,
               list_sum(list_transform(range(1, 65),
                   i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))) AS d2
        FROM c CROSS JOIN q
    ) ORDER BY d2, cell LIMIT 2
),
pool AS (
    SELECT vec_id, v FROM assign WHERE cell IN (SELECT cell FROM probe)
),
"""
    + _TOPK_ORACLE_BODY,
)
def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-10: probe the 2 nearest of 8 cells, brute-force inside
    (the partition-pruned ANN scale path)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, "embedding", "vec_id", _query_vec(spark, sf_dir), k=10, ncells=8, nprobe=2
    )


def _ivf_kmeans_chain(k: int = 8, iters: int = 3, dim: int = 64) -> str:
    """The shared integer-k-means CTE prefix (through ``cent{iters}``,
    plus ``pool``/``wq``/``pts``) used by BOTH q_similarity_ivf_kmeans
    and q_ivf_recall_curve — one definition, so the recall curve always
    measures exactly the centroids the IVF query probes.  Mirrors
    ``operators/similarity.py:kmeans_centroids_quantized``: quantized
    coordinates, k lowest-id seeds, ``iters`` unrolled Lloyd rounds
    (integer assignment with (d2, cell) tie-break; half-up-rounded
    integer means via an explicit floor-div CASE — DuckDB ``//``
    truncates)."""

    def fd(a: str, b: str) -> str:
        return (
            f"(CASE WHEN ({a}) % ({b}) <> 0 AND ({a}) < 0 "
            f"THEN ({a}) // ({b}) - 1 ELSE ({a}) // ({b}) END)"
        )

    parts = [f"""pool AS MATERIALIZED (
    SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
wq AS MATERIALIZED (
    SELECT id, v, list_transform(v, x -> floor(x * 1000 + 0.5)) AS w FROM pool),
idx AS MATERIALIZED (SELECT CAST(unnest(range(1, {dim + 1})) AS BIGINT) AS i),
pts AS MATERIALIZED (
    SELECT id, i.i AS pos, w[i.i] AS x FROM wq CROSS JOIN idx i),
seeds AS MATERIALIZED (
    SELECT row_number() OVER (ORDER BY id) - 1 AS cell, id
    FROM wq ORDER BY id LIMIT {k}),
cent0 AS MATERIALIZED (
    SELECT s.cell, p.pos, CAST(p.x AS BIGINT) AS c
    FROM seeds s JOIN pts p ON p.id = s.id)"""]
    for t in range(1, iters + 1):
        parts.append(f""",
d{t} AS MATERIALIZED (
    SELECT p.id, c.cell, CAST(SUM((p.x - c.c) * (p.x - c.c)) AS BIGINT) AS d2
    FROM pts p JOIN cent{t - 1} c ON c.pos = p.pos GROUP BY 1, 2),
asg{t} AS MATERIALIZED (
    SELECT id, cell FROM (
        SELECT id, cell,
               row_number() OVER (PARTITION BY id ORDER BY d2, cell) AS rn
        FROM d{t}) WHERE rn = 1),
sums{t} AS MATERIALIZED (
    SELECT a.cell, p.pos, CAST(SUM(p.x) AS BIGINT) AS s, COUNT(*) AS n
    FROM asg{t} a JOIN pts p ON p.id = a.id GROUP BY 1, 2),
cent{t} AS MATERIALIZED (
    SELECT c.cell, c.pos,
           CAST(COALESCE({fd('2 * s.s + s.n', '2 * s.n')}, c.c) AS BIGINT) AS c
    FROM cent{t - 1} c
    LEFT JOIN sums{t} s ON s.cell = c.cell AND s.pos = c.pos)""")
    return "".join(parts)


def _ivf_kmeans_oracle() -> str:
    """DuckDB replay of the integer k-means IVF pipeline
    (:func:`_ivf_kmeans_chain` prefix): integer cell probing, then the
    same round-6 cosine ranking the brute-force oracle hash-checks."""
    k, iters, dim, nprobe, topk = 8, 3, 64, 2, 10
    parts = ["WITH ", _ivf_kmeans_chain(k, iters, dim)]
    parts.append(f""",
qd AS MATERIALIZED (
    SELECT c.cell, CAST(SUM((q.x - c.c) * (q.x - c.c)) AS BIGINT) AS d2
    FROM cent{iters} c JOIN pts q ON q.pos = c.pos AND q.id = 0 GROUP BY 1),
probe AS MATERIALIZED (SELECT cell FROM qd ORDER BY d2, cell LIMIT {nprobe}),
dfin AS MATERIALIZED (
    SELECT p.id, c.cell, CAST(SUM((p.x - c.c) * (p.x - c.c)) AS BIGINT) AS d2
    FROM pts p JOIN cent{iters} c ON c.pos = p.pos GROUP BY 1, 2),
members AS MATERIALIZED (
    SELECT id FROM (
        SELECT id, cell,
               row_number() OVER (PARTITION BY id ORDER BY d2, cell) AS rn
        FROM dfin) WHERE rn = 1 AND cell IN (SELECT cell FROM probe)),
qv AS MATERIALIZED (SELECT v AS qv FROM pool WHERE id = 0),
scored AS MATERIALIZED (
    SELECT e.id,
           ROUND(list_dot_product(e.v, q.qv)
                 / (sqrt(list_dot_product(e.v, e.v))
                    * sqrt(list_dot_product(q.qv, q.qv))), 6) AS sim
    FROM wq e JOIN members m ON m.id = e.id CROSS JOIN qv q)
SELECT id, sim,
       CAST(row_number() OVER (ORDER BY sim DESC, id) AS BIGINT) AS rank
FROM scored ORDER BY sim DESC, id LIMIT {topk}
""")
    return "".join(parts)


#: per-data-dir integer-k-means centroid memo: (sf_dir, k, iters) ->
#: the trained centroid list.  Same materialized-state semantics as
#: the bucketed-edge / rollup stores: training (iters Lloyd rounds, each a
#: Spark job) runs ONCE per data directory and every consumer —
#: q_similarity_ivf_kmeans's probe and q_ivf_recall_curve's tuning
#: table — reads the same k×dim integer list; switching directories
#: keys a fresh training pass instead of serving stale centroids.
#: Training is a pure integer function of the data
#: (kmeans_centroids_quantized), so the memo cannot change any result,
#: only skip recomputing it; state is k×dim ints — driver-trivial.
_IVF_CENTROIDS: dict[tuple[str, int, int], list[tuple[int, list[int]]]] = {}


def _ivf_centroids(
    spark: SparkSession, sf_dir: str, k: int = 8, iters: int = 3
) -> list[tuple[int, list[int]]]:
    key = (sf_dir, k, iters)
    if key not in _IVF_CENTROIDS:
        from opl_spark.operators.similarity import kmeans_centroids_quantized

        emb = load_table(spark, sf_dir, "embeddings")
        _IVF_CENTROIDS[key] = kmeans_centroids_quantized(
            emb, "embedding", "vec_id", k=k, iters=iters
        )
    return _IVF_CENTROIDS[key]


@register("q_similarity_ivf_kmeans", oracle=_ivf_kmeans_oracle())
def q_similarity_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-10 probing k-means centroids (3 Lloyd iterations) —
    the production centroid builder in place of deterministic seeding.
    Training runs in INTEGER arithmetic (quantized coordinates,
    integer assignment with min-cell ties, half-up integer means), so
    centroids, cell membership, and probing replay hash-exact from
    the unrolled DuckDB oracle (was rows-only while the float Lloyd
    loop was registered); the final ranking is the same round-6
    cosine the brute-force oracle hash-checks.  Recall vs brute force
    stays bounded in tests/test_operators.py.  Centroids come from the
    per-data-dir memo shared with q_ivf_recall_curve — one training
    pass serves both consumers (r9 verdict task 3)."""
    from opl_spark.operators.similarity import ivf_topk_quantized

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk_quantized(
        emb, "embedding", "vec_id", _query_vec(spark, sf_dir),
        k=10, ncells=8, nprobe=2, iters=3,
        centroids=_ivf_centroids(spark, sf_dir, k=8, iters=3),
    )


@register(
    "q_knn_batch",
    oracle="""
WITH q AS (
    SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
    FROM embeddings WHERE vec_id < 5
),
pool AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
scored AS (
    SELECT q.qid, p.id,
           ROUND(
             list_dot_product(p.v, q.qv) /
             (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(q.qv, q.qv))),
             6) AS sim
    FROM pool p CROSS JOIN q
)
SELECT qid, id, sim, rank FROM (
    SELECT qid, id, sim,
           CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS BIGINT)
               AS rank
    FROM scored
) WHERE rank <= 3
""",
)
def q_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch kNN: top-3 neighbors for each of the 5 lowest-id query
    vectors — per-batch gemm scoring with per-batch truncation, final
    exact per-query ranking engine-side."""
    emb = load_table(spark, sf_dir, "embeddings")
    qrows = emb.filter(F.col("vec_id") < 5).select("vec_id", "embedding").collect()
    queries = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in qrows]
    return knn_join(emb, "embedding", "vec_id", queries, k=3)


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

_LANGS_DESC = ("it", "fr", "es", "en", "de")  # lex-desc = argmax tiebreak order
_MARKER_SQL = {
    "en": "('the','and','of','to','in')",
    "es": "('el','la','de','que','y')",
    "de": "('der','die','und','das','ist')",
    "fr": "('le','la','les','et','est')",
    "it": "('il','la','di','che','e')",
}


def _lang_score_sql(lang: str) -> str:
    return (
        f"len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),"
        f" w -> w IN {_MARKER_SQL[lang]}))"
    )


_LANG_CASE = (
    "CASE WHEN "
    + " AND ".join(f"s_{lg} = 0" for lg in _LANGS_DESC)
    + " THEN 'und' "
    + " ".join(
        "WHEN "
        + " AND ".join(f"s_{lg} >= s_{other}" for other in _LANGS_DESC if other != lg)
        + f" THEN '{lg}'"
        for lg in _LANGS_DESC
    )
    + " END"
)


@register(
    "q_lang_id",
    oracle="WITH scored AS (SELECT doc_id, "
    + ", ".join(f"{_lang_score_sql(lg)} AS s_{lg}" for lg in _LANGS_DESC)
    + f" FROM documents)\nSELECT doc_id, {_LANG_CASE} AS predicted FROM scored",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic stopword-marker language ID (argmax with documented
    lex-desc tiebreak)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id_col(F.col("text")).alias("predicted"))


@register(
    "q_quality_score",
    oracle=r"""
WITH stats AS (
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_words,
           CAST(len(regexp_extract_all(text, '[^\w\s]')) AS BIGINT) AS n_punct,
           CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                w -> w IN ('the','and','of','to','in'))) AS BIGINT) AS stop_hits
    FROM documents
)
SELECT doc_id, n_chars, n_words,
       ROUND(CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words, 6) AS avg_word_len,
       ROUND(CAST(n_punct AS DOUBLE) / n_chars, 6) AS punct_ratio,
       ROUND(CAST(stop_hits AS DOUBLE) / n_words, 6) AS stopword_ratio
FROM stats
""",
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-training corpus quality heuristics (length / punctuation /
    stopword ratios), exact-integer-derived so ratios hash stably."""
    docs = load_table(spark, sf_dir, "documents")
    q = quality_columns(F.col("text"))
    return docs.select("doc_id", *[c.alias(k) for k, c in q.items()])


@register(
    "q_token_count",
    oracle=rf"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{TOKEN_RE}')) AS BIGINT) AS n_tokens,
       CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens
FROM documents
""",
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token count + whitespace token count."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count_col(F.col("text")).alias("n_tokens"),
        whitespace_token_count_col(F.col("text")).alias("n_ws_tokens"),
    )


@register(
    "q_fingerprint",
    oracle=r"""
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(
           regexp_split_to_array(trim(text), '\s+'))), ' ')) AS fingerprint
FROM documents
""",
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive bag-of-words md5 fingerprint (fingerprint
    clustering key)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint_col(F.col("text")).alias("fingerprint"))


@register(
    "q_text_clean",
    oracle=r"""
SELECT doc_id,
       trim(regexp_replace(
           regexp_replace(
               regexp_replace(text, '<[^>]*>', ' ', 'g'),
               '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
           '\s+', ' ', 'g')) AS cleaned
FROM documents
""",
)
def q_text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus cleaning pass: tag strip + control-char drop + whitespace
    collapse (the normalize-before-dedup stage)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", clean_text_col(F.col("text")).alias("cleaned"))


@register(
    "q_winnow",
    oracle=r"""
WITH docs AS (
    SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
    FROM documents
),
sh AS (
    SELECT doc_id, list_transform(
        range(1, greatest(len(w) - 2, 1) + 1),
        i -> md5(array_to_string(list_slice(w, i, i + 2), ' '))
    ) AS hs
    FROM docs
),
mins AS (
    SELECT doc_id, list_distinct(list_transform(
        range(1, greatest(len(hs) - 3, 1) + 1),
        i -> list_min(list_slice(hs, i, i + 3))
    )) AS fps
    FROM sh
)
SELECT doc_id AS doc, unnest(fps) AS fp FROM mins
""",
)
def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints: window-4 minima over md5-hashed 3-gram
    shingles (rolling-hash document fingerprinting, SIGMOD'03)."""
    docs = load_table(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, "text", "doc_id", n=3, window=4)


@register(
    "q_tfidf",
    oracle=r"""
WITH toks AS (
    SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
    FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
stats AS (SELECT term, SUM(tf) AS total_tf, COUNT(*) AS docfreq FROM tf GROUP BY 1),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents)
SELECT term, docfreq,
       ROUND(total_tf * ln(CAST(n_docs AS DOUBLE) / docfreq), 6) AS tfidf
FROM stats CROSS JOIN n
ORDER BY tfidf DESC, term
LIMIT 20
""",
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-20 terms by summed tf-idf (distributed TakeOrdered,
    broadcast corpus count)."""
    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, "text", "doc_id", k=20)


@register(
    "q_pii_scrub",
    oracle=r"""
WITH spiked AS (
    SELECT doc_id,
           text || ' contact user' || CAST(doc_id AS VARCHAR) ||
               '@example.com or call 555-0199' AS text
    FROM documents
)
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\+?\d{1,3}[-. ]\d{3}[-. ]\d{3,4}', '<PHONE>', 'g'),
           '\d{3}[-. ]\d{4}', '<PHONE>', 'g') AS scrubbed
FROM spiked
""",
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass (emails + phone-shaped runs redacted).  The
    synthetic corpus carries no PII, so deterministic identifiers are
    spiked into each document first — the scrub provably fires on
    every row and the oracle checks the redacted bytes."""
    docs = load_table(spark, sf_dir, "documents")
    spiked = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or call 555-0199"),
        ).alias("text"),
    )
    return spiked.select("doc_id", pii_scrub_col(F.col("text")).alias("scrubbed"))


@register(
    "q_repetition",
    oracle=r"""
WITH docs AS (
    SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
    FROM documents
),
grams AS (
    SELECT doc_id AS doc, unnest(list_transform(
        range(1, greatest(len(w) - 1, 1) + 1),
        i -> array_to_string(list_slice(w, i, i + 1), ' '))) AS g
    FROM docs
),
cnt AS (SELECT doc, g, COUNT(*) AS c FROM grams GROUP BY 1, 2)
SELECT doc,
       CAST(SUM(c) AS BIGINT) AS n_grams,
       COUNT(*) AS n_distinct,
       MAX(c) AS top_count,
       CAST(MAX(c) * 1000000 // SUM(c) AS BIGINT) AS top_ppm,
       CAST(COUNT(*) * 1000000 // SUM(c) AS BIGINT) AS distinct_ppm
FROM cnt GROUP BY doc
""",
)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition profile: per-doc 2-gram totals, the top
    2-gram's share, and the distinct-gram ratio — the repetition
    filters a pre-training quality pipeline thresholds on."""
    docs = load_table(spark, sf_dir, "documents")
    return repetition_profile(docs, "text", "doc_id", n=2)


@register(
    "q_split_sample",
    oracle=r"""
SELECT CASE WHEN doc_id % 100 < 90 THEN 'train' ELSE 'val' END AS split,
       source,
       COUNT(*) AS n_docs,
       CAST(SUM(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT))
            AS BIGINT) AS n_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1, 2
""",
)
def q_split_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val split (id-hash bucketing, 90/10) with
    per-(split, source) doc and token counts — the reproducible-split
    bookkeeping every corpus build records."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            split_col(F.col("doc_id")).alias("split"),
            "source",
            whitespace_token_count_col(F.col("text")).alias("t"),
            "n_chars",
        )
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("t").alias("n_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


_CONTAMINATION_ORACLE = r"""
WITH docs_w AS (
    SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
    FROM documents
),
sh AS (
    SELECT doc_id AS doc, unnest(list_distinct(list_transform(
        range(1, greatest(len(w) - 4, 1) + 1),
        i -> array_to_string(list_slice(w, i, i + 4), ' ')))) AS s
    FROM docs_w
),
sizes AS (SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY 1),
bench AS (SELECT doc AS bdoc, s FROM sh WHERE doc < 5),
hits AS (
    SELECT c.doc,
           COUNT(DISTINCT c.s) AS n_overlap,
           COUNT(DISTINCT b.bdoc) AS n_bench_docs
    FROM sh c JOIN bench b ON c.s = b.s
    WHERE c.doc >= 5
    GROUP BY 1
)
SELECT h.doc, h.n_overlap, h.n_bench_docs,
       ROUND(CAST(h.n_overlap AS DOUBLE) / z.n_sh, 6) AS overlap_frac
FROM hits h JOIN sizes z ON z.doc = h.doc
"""


@register("q_contamination", oracle=_CONTAMINATION_ORACLE)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing ≥1 word 5-gram
    with the benchmark set (here: the 5 lowest-id documents standing in
    for an eval set) — broadcast bench shingles, one corpus pass."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < 5)
    corpus = docs.filter(F.col("doc_id") >= 5)
    return contamination(corpus, bench, "text", "doc_id", n=5)


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------


@register(
    "q_multimodal_bytes",
    oracle="""
SELECT doc_id AS media_id,
       'application/octet-stream' AS mime,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       md5(text) AS content_md5
FROM documents
""",
)
def q_multimodal_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column metadata pass (byte length + content hash)
    — built-in expressions over the opaque payload."""
    docs = load_table(spark, sf_dir, "documents")
    return media_metadata(with_media_column(docs, "text", "doc_id"))


@register(
    "q_multimodal_decode",
    oracle="""
SELECT doc_id AS media_id,
       CAST(length(text) AS BIGINT) AS byte_len,
       CAST((length(text) % 64) + 1 AS INTEGER) AS width,
       CAST((length(text) % 48) + 1 AS INTEGER) AS height
FROM documents
""",
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas decode plumbing with the deterministic fake codec
    (codec="real" decodes via Pillow where installed — optional
    import, same plan; tests/test_operators.py).  The emitted columns
    are pure integer functions of the payload length, so the oracle
    replays the stub exactly (was rows-only — the Pandas-UDF shape is
    what the query exercises, not non-determinism)."""
    docs = load_table(spark, sf_dir, "documents")
    media = with_media_column(docs, "text", "doc_id")
    return decode_images(media, codec="fake").select(
        "media_id", "byte_len", "width", "height"
    )


@register(
    "q_bmp_decode",
    oracle="""
WITH dims AS (
    SELECT doc_id AS media_id,
           (octet_length(encode(text)) % 64) + 1 AS w,
           (octet_length(encode(text)) % 48) + 1 AS h
    FROM documents
)
SELECT media_id,
       CAST(54 + h * (((w * 3 + 3) // 4) * 4) AS BIGINT) AS byte_len,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height
FROM dims
""",
)
def q_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end without any optional dependency:
    synthesize a true 24-bit BMP per document (solid color keyed off
    the id, dims off the text byte length — operators/multimodal.py
    synthetic_bmp_media), then run the dependency-free numpy BMP
    decoder over the same mapInPandas plan the Pillow codec uses.
    Unlike q_multimodal_decode (stub codec — plumbing only), this row
    measures full container parsing + per-pixel channel statistics.
    The oracle replays the BMP geometry exactly: width/height from the
    dim rule, byte_len = 54-byte headers + 4-aligned row stride ×
    height.  Decoded features (channel means/stds) are pinned
    separately by tests/test_bmp_codec.py."""
    from opl_spark.operators.multimodal import decode_images, synthetic_bmp_media

    docs = load_table(spark, sf_dir, "documents")
    media = synthetic_bmp_media(docs, "text", "doc_id")
    return decode_images(media, codec="bmp").select(
        "media_id", "byte_len", "width", "height"
    )


@register(
    "q_multimodal_resize",
    oracle="""
WITH dims AS (
    SELECT doc_id AS media_id,
           (octet_length(encode(text)) % 64) + 1 AS w,
           (octet_length(encode(text)) % 48) + 1 AS h
    FROM documents
)
SELECT media_id,
       GREATEST(1, CAST(FLOOR(w * LEAST(1.0, 32.0 / GREATEST(w, h))) AS INT)) AS width,
       GREATEST(1, CAST(FLOOR(h * LEAST(1.0, 32.0 / GREATEST(w, h))) AS INT)) AS height
FROM dims
""",
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas resize plumbing: aspect-preserving target dims from
    the (fake-decoded) source dims; payload re-emitted executor-side."""
    docs = load_table(spark, sf_dir, "documents")
    media = with_media_column(docs, "text", "doc_id")
    return resize_images(media, max_dim=32).select("media_id", "width", "height")


@register(
    "q_frame_sample",
    oracle="""
SELECT doc_id AS media_id,
       CAST(off / 1024 AS INT) AS frame_no,
       CAST(off AS BIGINT) AS "offset"
FROM (
    SELECT doc_id, unnest(range(0, octet_length(encode(text)), 1024)) AS off
    FROM documents
)
""",
)
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-to-many mapInPandas frame sampling (one row per sampled
    offset) — the video-frame extraction shape."""
    docs = load_table(spark, sf_dir, "documents")
    media = with_media_column(docs, "text", "doc_id")
    return frame_sample(media, every_n_bytes=1024)


# ---------------------------------------------------------------------------
# streaming-equivalent windows
# ---------------------------------------------------------------------------


@register(
    "q_events_window",
    oracle="""
SELECT CAST(time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS VARCHAR)
           AS window_start,
       event_type,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS total_value
FROM events
GROUP BY 1, 2
""",
)
def q_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 5-minute window counts + exact sums — the batch twin of
    the Structured Streaming pipeline (same code path)."""
    return windowed_counts(load_table(spark, sf_dir, "events"), window="5 minutes")


@register(
    "q_sessionize",
    oracle="""
WITH ev AS (
    SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
),
flagged AS (
    SELECT user_id, us,
           CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                     > 30 * 60 * 1000000 OR
                lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
                THEN 1 ELSE 0 END AS new_s
    FROM ev
),
sessions AS (
    SELECT user_id, us,
           SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                            ROWS UNBOUNDED PRECEDING) AS sid
    FROM flagged
)
SELECT user_id,
       MIN(us) AS session_start_us,
       MAX(us) + 30 * 60 * 1000000 AS session_end_us,
       COUNT(*) AS n_events
FROM sessions GROUP BY user_id, sid
""",
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows per user (session_window), boundaries
    as epoch micros so the comparison is integer-exact."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("s"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("s.start")).alias("session_start_us"),
            F.unix_micros(F.col("s.end")).alias("session_end_us"),
            "n_events",
        )
    )


@register(
    "q_salted_agg",
    oracle="""
SELECT event_type, ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_v
FROM events
GROUP BY event_type
""",
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase sum over the skewed event_type key — salting
    is semantically transparent for reassociative aggregates, so the
    oracle is the plain GROUP BY."""
    from opl_spark.operators.skew import salted_sum

    ev = load_table(spark, sf_dir, "events").withColumn(
        "v", F.col("value").cast("decimal(18,6)")
    )
    out = salted_sum(ev, ["event_type"], "v", salt_buckets=16, salt_from=F.col("event_id"))
    return out.select(
        "event_type", F.round(F.col("sum_v").cast("double"), 6).alias("sum_v")
    )


@register(
    "q_embedding_centroid",
    oracle="""
SELECT label,
       CAST(pos - 1 AS INT) AS pos,
       ROUND(AVG(CAST(x AS DOUBLE)), 6) AS centroid
FROM (
    SELECT label, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS pos
    FROM embeddings
) t
GROUP BY 1, 2
""",
)
def q_embedding_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors (the k-means E-step / class-prototype
    builder), emitted as (label, dim, value) rows: posexplode + one
    map-side-combinable (label, pos)-keyed average — state per key is
    one running sum, and the shuffle carries labels×dims rows, not
    vectors.  round(6) absorbs float summation-order noise (the module
    convention for float-derived surfaces)."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("pos", "x"))
    return ex.groupBy("label", "pos").agg(
        F.round(F.avg(F.col("x").cast("double")), 6).alias("centroid")
    )


@register(
    "q_running_total",
    oracle="""
WITH e AS (
    SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
           CAST(value AS DECIMAL(18,6)) AS v
    FROM events
)
SELECT event_id, user_id, us,
       ROUND(CAST(SUM(v) OVER (
           PARTITION BY user_id ORDER BY us, event_id
           ROWS UNBOUNDED PRECEDING) AS DOUBLE), 6) AS running_value
FROM e
""",
)
def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running value total — the canonical PARTITIONED window
    (running frame = O(1) state per row; each user's history stays on
    one partition, so no global sort).  Exact decimal accumulation,
    canonical round(double, 6) on the wire."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            F.unix_micros("ts").alias("us"),
            F.col("value").cast("decimal(18,6)").alias("v"),
        )
        .withColumn("running_value", F.round(F.sum("v").over(w).cast("double"), 6))
        .drop("v")
    )


@register(
    "q_top_per_group",
    oracle="""
WITH ranked AS (
    SELECT user_id, event_id,
           ROUND(CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE), 6) AS v,
           CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY value DESC, event_id) AS BIGINT) AS rank
    FROM events
)
SELECT user_id, event_id, v, rank FROM ranked WHERE rank <= 2
""",
)
def q_top_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 events by value per user — partitioned row_number (every
    group ranks inside its own partition; contrast with the global
    top-k, which deliberately avoids any unpartitioned window)."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), "event_id")
    return (
        ev.select(
            "user_id",
            "event_id",
            F.round(F.col("value").cast("decimal(18,6)").cast("double"), 6).alias("v"),
            F.row_number().over(w).cast("long").alias("rank"),
        )
        .filter(F.col("rank") <= 2)
    )


@register(
    "q_pack_sequences",
    oracle=r"""
WITH t AS (
    SELECT doc_id AS doc, source AS grp,
           doc_id % 8 AS shard,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
    FROM documents
),
c AS (
    SELECT doc, grp, shard, n_tokens,
           SUM(n_tokens) OVER (
               PARTITION BY grp, shard ORDER BY doc
               ROWS UNBOUNDED PRECEDING) - n_tokens AS start_offset
    FROM t
)
SELECT doc, grp, shard, n_tokens,
       CAST(FLOOR(CAST(start_offset AS DOUBLE) / 512) AS BIGINT) AS seq_id
FROM c
""",
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sequence packing: per-(source, shard) running
    token offsets assign each document to the ~512-token training
    sequence where it starts — same corpus ⇒ same layout, any run, any
    cluster.  Sharding the window restores parallelism when sources
    are few; the portable ``doc % 8`` shard keeps the oracle
    cross-engine (production default is ``pmod(xxhash64(doc), n)``)."""
    from opl_spark.operators.text import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(
        docs, "text", "doc_id", "source", budget=512,
        shard_expr=F.pmod(F.col("doc_id"), F.lit(8)),
    )


@register(
    "q_approx_distinct",
    oracle="""
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS within_bound
FROM events GROUP BY event_type
""",
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per event type via HyperLogLog++
    (``approx_count_distinct``) — the sketch tier: mergeable fixed-size
    state instead of exact distinct sets, the 100 TB swap-in for
    count-distinct dashboards.

    Oracle (r11 verdict task 2): the raw HLL++ estimate has NO exact
    regime to promote — Spark's implementation keeps xxhash64-keyed
    registers and estimates small cardinalities with linear counting
    (an estimator, not a coupon recorder like DataSketches' LIST/SET
    modes), so no engine-neutral SQL can replay the value at any
    scale.  The strongest hash-checkable contract is therefore the
    merge-tree ENDPOINTS: emit the exact per-group distinct count
    (hash-checked against DuckDB) plus a ``within_bound`` flag folding
    a 5·rsd error-bound assertion into the row hash — the driver row
    turns red if the sketch ever drifts outside its documented bound.
    The envelope is 5·rsd, not 3·rsd (ADVICE r12): rsd is a standard
    deviation, so a 3σ flag is one-sided ~99.7% PER GROUP — across
    groups × driver rounds a legitimate tail draw would flip the row
    red with no code defect; 5σ (~6e-7) keeps the pin while removing
    the flake.  tests/test_operators.py pins the tighter 3·rsd bound
    where a single fixed dataset makes it deterministic.
    The estimate still runs in the plan (same partial/merge tree it
    has at 100 TB); production drops the exact leg and keeps only the
    sketch.  ``tests/test_operators.py`` pins the same bound."""
    ev = load_table(spark, sf_dir, "events")
    rsd = 0.05
    per = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd).alias("approx_users"),
        F.count_distinct("user_id").alias("exact_users"),
    )
    # 5-sigma envelope with an absolute floor for tiny groups
    # (5·rsd·n < 1 there, where linear counting is near-exact anyway);
    # see the docstring for why 3σ would flake across driver rounds.
    bound = F.greatest(
        F.lit(4.0), F.lit(5 * rsd) * F.col("exact_users").cast("double")
    )
    return per.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users")).cast("double")
            <= bound
        ).alias("within_bound"),
    )


@register(
    "q_distinct_users",
    oracle="""
SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct_user_id
FROM events
GROUP BY event_type
""",
)
def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-type distinct users via the two-stage dedup shape (no
    hot-key distinct-set state)."""
    from opl_spark.operators.skew import salted_distinct_count

    ev = load_table(spark, sf_dir, "events")
    return salted_distinct_count(ev, ["event_type"], "user_id")


@register(
    "q_length_quantiles",
    oracle="""
SELECT source,
       ROUND(quantile_cont(length(text), 0.5), 6)  AS p50,
       ROUND(quantile_cont(length(text), 0.95), 6) AS p95
FROM documents
GROUP BY source
""",
)
def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source document-length quantiles (the corpus quality
    profile every filtering pipeline starts from).  Spark ``percentile``
    and DuckDB ``quantile_cont`` share linear-interpolation semantics,
    so this is fully oracle-checkable; at 100 TB swap in
    ``percentile_approx`` (t-digest, map-side combinable) and accept
    the rank error."""
    docs = load_table(spark, sf_dir, "documents")
    pcts = F.expr("percentile(length(text), array(0.5, 0.95))")
    return docs.groupBy("source").agg(
        F.round(pcts[0], 6).alias("p50"), F.round(pcts[1], 6).alias("p95")
    )


@register(
    "q_rollup",
    oracle="WITH fact AS ("
    + LOANS_FACT_SQL
    + """)
SELECT consortia_id, year,
       ROUND(CAST(SUM(value) AS DOUBLE), 2) AS value, COUNT(*) AS n
FROM fact
GROUP BY ROLLUP (consortia_id, year)
""",
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP subtotals over (consortia → year): the multi-level
    drill-down the reference's API approximates with repeated calls,
    computed in one pass (Spark expands to grouping sets; partial
    aggregation still applies per set)."""
    from opl_spark.facts import build_loans_fact

    fact = build_loans_fact(spark, sf_dir)
    return (
        fact.rollup("consortia_id", "year")
        .agg(
            # exact decimal sum; canonical round(double,2) on the wire
            F.round(F.sum("value").cast("double"), 2).alias("value"),
            F.count(F.lit(1)).alias("n"),
        )
    )


_EVENTS_US_CTE = """
WITH e AS (
    SELECT event_id, user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
    FROM events
),
p AS (
    SELECT event_id AS purchase_id, user_id, us AS purchase_us
    FROM e WHERE event_type = 'purchase'
),
s AS (
    SELECT event_id AS signup_id, user_id, us AS signup_us
    FROM e WHERE event_type = 'signup'
),
c AS (
    SELECT event_id AS click_id, user_id, us AS click_us
    FROM e WHERE event_type = 'click'
)
"""


def _typed_events(spark: SparkSession, sf_dir: str, etype: str, prefix: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.col("event_type") == etype).select(
        F.col("event_id").alias(f"{prefix}_id"),
        "user_id",
        F.unix_micros("ts").alias(f"{prefix}_us"),
    )


@register(
    "q_asof_join",
    oracle=_EVENTS_US_CTE
    + """
SELECT p.purchase_id, p.user_id, p.purchase_us, s.signup_id, s.signup_us
FROM p ASOF JOIN s
  ON p.user_id = s.user_id AND s.signup_us <= p.purchase_us
""",
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest signup
    at-or-before it — union + per-key running-last window (one key
    shuffle, O(1) window state); oracle is DuckDB's native ASOF JOIN."""
    from opl_spark.operators.temporal import asof_join

    p = _typed_events(spark, sf_dir, "purchase", "purchase")
    s = _typed_events(spark, sf_dir, "signup", "signup")
    return asof_join(p, s, ["user_id"], "purchase_us", "signup_us")


@register(
    "q_interval_join",
    oracle=_EVENTS_US_CTE
    + """
SELECT p.purchase_id, p.user_id, p.purchase_us, c.click_id, c.click_us
FROM p JOIN c
  ON p.user_id = c.user_id
 AND c.click_us > p.purchase_us - 3600000000
 AND c.click_us <= p.purchase_us
""",
)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: clicks within the hour before each purchase, per
    user — the attribution/feature-window shape; the same condition
    over watermarked streams is Spark's stream-stream interval join."""
    from opl_spark.operators.temporal import interval_join

    p = _typed_events(spark, sf_dir, "purchase", "purchase")
    c = _typed_events(spark, sf_dir, "click", "click")
    return interval_join(p, c, ["user_id"], "purchase_us", "click_us", 3_600_000_000)


@register(
    "q_pivot",
    oracle="WITH fact AS ("
    + LOANS_FACT_SQL
    + """)
SELECT year,
       ROUND(CAST(SUM(CASE WHEN loan_type = 'F' THEN value END) AS DOUBLE), 2) AS F,
       ROUND(CAST(SUM(CASE WHEN loan_type = 'O' THEN value END) AS DOUBLE), 2) AS O,
       ROUND(CAST(SUM(CASE WHEN loan_type = 'P' THEN value END) AS DOUBLE), 2) AS P
FROM fact
WHERE year BETWEEN 1996 AND 1997
GROUP BY year
""",
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-tab pivot (year × loan_type value matrix) — the BI-tool
    presentation shape.  The pivot values are declared explicitly, so
    Spark skips the extra distinct-values job and the whole thing is
    one map-side-combinable aggregation (internally conditional sums,
    exactly the oracle's CASE form)."""
    from opl_spark.facts import build_loans_fact

    fact = build_loans_fact(spark, sf_dir)
    return (
        fact.filter(F.col("year").between(1996, 1997))
        .groupBy("year")
        .pivot("loan_type", ["F", "O", "P"])
        .agg(F.round(F.sum("value").cast("double"), 2))
    )


@register(
    "q_cube_sets",
    oracle="WITH fact AS ("
    + LOANS_FACT_SQL
    + """)
SELECT consortia_id, loan_type,
       ROUND(CAST(SUM(value) AS DOUBLE), 2) AS value, COUNT(*) AS n
FROM fact
GROUP BY CUBE (consortia_id, loan_type)
""",
)
def q_cube_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over (consortia, loan_type): every subtotal
    combination in ONE pass (Spark expands to grouping sets with
    partial aggregation per set — 4 passes of the reference's repeated
    aggregate calls collapse into one shuffle)."""
    from opl_spark.facts import build_loans_fact

    fact = build_loans_fact(spark, sf_dir)
    return fact.cube("consortia_id", "loan_type").agg(
        F.round(F.sum("value").cast("double"), 2).alias("value"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# composed corpus-filtering pipeline (the operators working together)
# ---------------------------------------------------------------------------


def _pipeline_oracle() -> str:
    clean = (
        r"trim(regexp_replace(regexp_replace(regexp_replace(text,"
        r" '<[^>]*>', ' ', 'g'), '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),"
        r" '\s+', ' ', 'g'))"
    )
    scores = ", ".join(f"{_lang_score_sql(lg)} AS s_{lg}" for lg in _LANGS_DESC)
    return f"""
WITH cleaned AS (SELECT doc_id, {clean} AS text FROM documents),
scored AS (
    SELECT doc_id, text,
           CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_words,
           CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS BIGINT) AS n_punct,
           CAST(length(text) AS BIGINT) AS n_chars,
           {scores}
    FROM cleaned
)
SELECT doc_id, n_words,
       CAST(len(regexp_extract_all(text, '{TOKEN_RE}')) AS BIGINT) AS n_tokens
FROM scored
WHERE {_LANG_CASE} = 'en'
  AND n_words >= 20
  AND ROUND(CAST(n_punct AS DOUBLE) / n_chars, 6) <= 0.3
"""


@register("q_pipeline_filter", oracle=_pipeline_oracle())
def q_pipeline_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data filter: clean → language-ID →
    quality thresholds → token stats, as ONE declarative plan (single
    map stage — Catalyst fuses the whole operator chain; nothing
    materializes between steps)."""
    docs = load_table(spark, sf_dir, "documents")
    cleaned = docs.select("doc_id", clean_text_col(F.col("text")).alias("text"))
    qc = quality_columns(F.col("text"))
    staged = cleaned.select(
        "doc_id",
        lang_id_col(F.col("text")).alias("lang"),
        qc["n_words"].alias("n_words"),
        qc["punct_ratio"].alias("punct_ratio"),
        token_count_col(F.col("text")).alias("n_tokens"),
    )
    return staged.filter(
        (F.col("lang") == "en")
        & (F.col("n_words") >= 20)
        & (F.col("punct_ratio") <= 0.3)
    ).select("doc_id", "n_words", "n_tokens")


# ---------------------------------------------------------------------------
# golden workload §2.8 — the remaining documented facts as cube queries
# ---------------------------------------------------------------------------


def _cube_over(spark, sf_dir, fact, builder, **kw):
    eng = CubeEngine(default_catalog())
    eng.register_fact(fact, builder(spark, sf_dir))
    return eng.aggregate(fact, **kw)


@register(
    "q_fact_accessions",
    oracle="WITH fact AS ("
    + ACCESSIONS_FACT_SQL
    + """)
SELECT consortia_id, consortia_label,
       ROUND(CAST(SUM(accessions) AS DOUBLE), 2) AS accessions,
       ROUND(CAST(SUM(target) AS DOUBLE), 2)     AS target
FROM fact
WHERE doc_type = 'Brand#4' AND year = 1996
GROUP BY 1, 2
""",
)
def q_fact_accessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """accessions fact (api-library-olap/README.md:96-161): docType
    slice + year cut, multi-measure drilldown to the consortia level
    (with its label attribute co-grouped)."""
    return _cube_over(
        spark,
        sf_dir,
        "accessions",
        build_accessions_fact,
        cut="doc_type:Brand#4|date:1996",
        drilldown="organization_level",
        measure="accessions|target",
    )


@register(
    "q_fact_general_indexes",
    oracle="WITH fact AS ("
    + GENERAL_INDEXES_FACT_SQL
    + """)
SELECT library_class, year,
       ROUND(CAST(SUM(apertura_mattutina) AS DOUBLE) / COUNT(apertura_mattutina), 6)
           AS apertura_mattutina,
       ROUND(CAST(SUM(apertura_pomeridiana) AS DOUBLE) / COUNT(apertura_pomeridiana), 6)
           AS apertura_pomeridiana
FROM fact
WHERE library_type = 'public'
GROUP BY 1, 2
""",
)
def q_fact_general_indexes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """general_indexes fact (Codice.gs:246-253): avg opening-hours
    indexes by library class × year for public libraries."""
    return _cube_over(
        spark,
        sf_dir,
        "general_indexes",
        build_general_indexes_fact,
        cut="library_type:public",
        drilldown="library_class|date",
        measure="apertura_mattutina|apertura_pomeridiana",
        aggregate="avg",
    )


@register(
    "q_fact_patrimonio",
    oracle="WITH fact AS ("
    + PATRIMONIO_FACT_SQL
    + """)
SELECT consortia_id, ROUND(CAST(SUM(value) AS DOUBLE), 2) AS value
FROM fact
WHERE data_pubblicazione BETWEEN 1990 AND 1999
GROUP BY 1
""",
)
def q_fact_patrimonio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """patrimonio fact (Codice.gs:248-250): holdings by consortia for a
    publication-decade range cut."""
    return _cube_over(
        spark,
        sf_dir,
        "patrimonio",
        build_patrimonio_fact,
        cut="data_pubblicazione:1990-1999",
        drilldown="consortia_id",
        measure="value",
    )


# ---------------------------------------------------------------------------
# metadata endpoints (M1-M3)
# ---------------------------------------------------------------------------


def _meta_values_oracle() -> tuple[str, str, str]:
    cat = default_catalog()
    ft = ", ".join(f"('{r['name']}', '{r['label']}')" for r in cat.fact_tables())
    dims = []
    meas = []
    for fact in [r["name"] for r in cat.fact_tables()]:
        for d in cat.dimensions(fact):
            for pos, lv in enumerate(d["levels"]):
                dims.append(f"('{fact}', '{d['name']}', '{lv['name']}', {pos})")
        for m in cat.measures(fact):
            aggs = ",".join(m["aggregates"])
            meas.append(f"('{fact}', '{m['name']}', '{m['column']}', '{aggs}')")
    return (
        f"SELECT * FROM (VALUES {ft}) AS t(name, label)",
        "SELECT * FROM (VALUES "
        + ", ".join(dims)
        + ") AS t(fact, dimension, level, position)",
        "SELECT * FROM (VALUES "
        + ", ".join(meas)
        + ") AS t(fact, measure, phys_column, aggregates)",
    )


_FT_SQL, _DIM_SQL, _MEAS_SQL = _meta_values_oracle()


@register("q_meta_fact_tables", oracle=_FT_SQL)
def q_meta_fact_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 — /olap/fact_tables."""
    rows = [(r["name"], r["label"]) for r in default_catalog().fact_tables()]
    return spark.createDataFrame(rows, "name string, label string")


@register("q_meta_dimensions", oracle=_DIM_SQL)
def q_meta_dimensions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 — /olap/<fact>/dimensions, flattened to rows."""
    cat = default_catalog()
    rows = []
    for fact in [r["name"] for r in cat.fact_tables()]:
        for d in cat.dimensions(fact):
            for pos, lv in enumerate(d["levels"]):
                rows.append((fact, d["name"], lv["name"], pos))
    return spark.createDataFrame(
        rows, "fact string, dimension string, level string, position int"
    )


@register("q_meta_measures", oracle=_MEAS_SQL)
def q_meta_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 — /olap/<fact>/measures, flattened to rows."""
    cat = default_catalog()
    rows = []
    for fact in [r["name"] for r in cat.fact_tables()]:
        for m in cat.measures(fact):
            rows.append((fact, m["name"], m["column"], ",".join(m["aggregates"])))
    return spark.createDataFrame(
        rows, "fact string, measure string, phys_column string, aggregates string"
    )


# ---------------------------------------------------------------------------
# corpus composition / layout / quantization (round-2 scale operators)
# ---------------------------------------------------------------------------


@register(
    "q_mix_sources",
    oracle="""
WITH w AS (
    SELECT doc_id, source,
           CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.4
                       WHEN 'src2' THEN 0.0 ELSE 1.0 END AS wt
    FROM documents
),
c AS (
    SELECT doc_id, source,
           CAST(FLOOR(wt) AS BIGINT)
           + CASE WHEN (doc_id % 100) < CAST(ROUND((wt - FLOOR(wt)) * 100) AS BIGINT)
                  THEN 1 ELSE 0 END AS copies
    FROM w
)
SELECT doc_id, source, CAST(e AS BIGINT) AS epoch
FROM (SELECT doc_id, source, unnest(range(1, copies + 1)) AS e
      FROM c WHERE copies >= 1)
""",
)
def q_mix_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted domain mixing: src0 upsampled 2.5x, src1 kept at a
    deterministic 40%, src2 dropped, everything else 1x — the corpus
    composition step, materialized as (doc, epoch) rows with zero
    shuffles (CASE weight lookup + sequence explode)."""
    docs = load_table(spark, sf_dir, "documents")
    return mix_sources(
        docs.select("doc_id", "source"),
        "source",
        "doc_id",
        {"src0": 2.5, "src1": 0.4, "src2": 0.0},
    )


@register("q_contamination_bloom", oracle=_CONTAMINATION_ORACLE)
def q_contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`q_contamination` recomputed through the Bloom-prefilter scale
    path (bench set too big to broadcast): constant-size filter prunes
    the corpus shingle stream before the exact join, output identical
    by construction — checked against the SAME oracle."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < 5)
    corpus = docs.filter(F.col("doc_id") >= 5)
    return bloom_contamination(corpus, bench, "text", "doc_id", n=5)


_ZORDER_SQL = zorder_sql(["x", "y"], bits=8)


@register(
    "q_zorder",
    oracle=f"""
WITH d AS (
    SELECT o_orderkey,
           o_custkey % 256 AS x,
           datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 256 AS y
    FROM orders
),
keyed AS (SELECT o_orderkey, x, y, ({_ZORDER_SQL}) AS zkey FROM d)
SELECT CAST(zkey // 64 AS BIGINT) AS bucket,
       COUNT(*) AS n_rows,
       MIN(x) AS min_x, MAX(x) AS max_x,
       MIN(y) AS min_y, MAX(y) AS max_y
FROM keyed GROUP BY 1
""",
)
def q_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout key over two cut dimensions of orders,
    summarized as per-64-key-bucket min/max rectangles — exactly the
    parquet footer stats a cut on EITHER dimension would prune with.
    The key is pure literal-shift bit math (one codegen'd expression);
    the oracle runs the byte-identical SQL from `zorder_sql`."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.select(
        "o_orderkey",
        F.pmod("o_custkey", F.lit(256)).alias("x"),
        F.pmod(
            F.datediff(F.col("o_orderdate").cast("date"), F.to_date(F.lit("1970-01-01"))),
            F.lit(256),
        ).cast("long").alias("y"),
    )
    keyed = d.withColumn("zkey", zorder_key([F.col("x"), F.col("y")], bits=8))
    return (
        keyed.groupBy(
            F.shiftrightunsigned("zkey", 6).alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
        )
    )


@register(
    "q_quantize",
    oracle="""
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
s AS (
    SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS sc FROM e
),
q AS (
    SELECT vec_id, v, sc,
           list_transform(v, x -> CAST(FLOOR(x / sc * 127 + 0.5) AS BIGINT)) AS qv
    FROM s WHERE sc > 0
)
SELECT vec_id,
       CAST(len(v) AS INT) AS dims,
       ROUND(sc, 6) AS scale,
       CAST(list_sum(list_transform(qv, y -> abs(y))) AS BIGINT) AS q_l1,
       CAST(list_sum(qv) AS BIGINT) AS q_sum,
       ROUND(list_max(list_transform(range(1, len(v) + 1),
                                     i -> abs(v[i] - qv[i] * sc / 127))), 6) AS max_err
FROM q
""",
)
def q_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric absmax int8 quantization of the embedding column with
    per-vector bookkeeping (scale, integer code sums, max
    reconstruction error) — map-only higher-order functions, no
    shuffle, no Python."""
    emb = load_table(spark, sf_dir, "embeddings")
    return quantize_embeddings(emb, "embedding", "vec_id")


@register(
    "q_stratified_sample",
    oracle="""
SELECT doc_id, source FROM documents
WHERE (doc_id * 2654435761 + 0) % 4294967296 <
      CASE source WHEN 'src0' THEN 1073741824
                  WHEN 'src1' THEN 2147483648
                  ELSE 4294967296 END
""",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain deterministic downsampling (src0 kept at 25%, src1
    at 50%, everything else whole) via a multiplicative hash gate —
    map-only, no sampling state, same sample every run / engine /
    cluster layout."""
    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(
        docs.select("doc_id", "source"),
        "source",
        "doc_id",
        {"src0": 0.25, "src1": 0.5},
    )


@register(
    "q_incremental_dedup",
    oracle="""
WITH nb AS (SELECT doc_id, text FROM documents WHERE doc_id >= 100),
firsts AS (
    SELECT MIN(doc_id) AS doc, COUNT(*) AS batch_copies, text
    FROM nb GROUP BY text
)
SELECT doc, batch_copies FROM firsts
WHERE text NOT IN (SELECT text FROM documents WHERE doc_id < 100)
""",
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run exact dedup: docs arriving as a new batch (id >= 100
    stands in for today's crawl) deduped within the batch AND against
    the already-ingested corpus (id < 100) by content hash — the
    incremental-ingestion shape, one anti-join on an 8-byte key."""
    docs = load_table(spark, sf_dir, "documents")
    return incremental_dedup(
        docs.filter(F.col("doc_id") >= 100),
        docs.filter(F.col("doc_id") < 100),
        "text",
        "doc_id",
    )


@register(
    "q_quantized_topk",
    oracle="""
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
qs AS (
    SELECT v, list_max(list_transform(v, x -> abs(x))) AS sc
    FROM e WHERE vec_id = 0
),
qq AS (
    SELECT list_transform(v, x -> CAST(FLOOR(x / sc * 127 + 0.5) AS BIGINT)) AS q
    FROM qs
),
ps AS (
    SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS sc FROM e
),
pq AS (
    SELECT vec_id,
           list_transform(v, x -> CAST(FLOOR(x / sc * 127 + 0.5) AS BIGINT)) AS q
    FROM ps WHERE sc > 0
),
scored AS (
    SELECT p.vec_id AS id,
           ROUND(
             CAST(list_sum(list_transform(range(1, 65), i -> p.q[i] * qq.q[i])) AS DOUBLE)
             / (sqrt(CAST(list_sum(list_transform(p.q, x -> x * x)) AS DOUBLE))
                * sqrt(CAST(list_sum(list_transform(qq.q, x -> x * x)) AS DOUBLE))),
             6) AS qsim
    FROM pq p CROSS JOIN qq
)
SELECT id, qsim, CAST(row_number() OVER (ORDER BY qsim DESC, id) AS BIGINT) AS rank
FROM scored ORDER BY qsim DESC, id LIMIT 10
""",
)
def q_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 cosine for the vec_id-0 probe computed entirely over
    int8-quantized codes (absmax scales cancel in the ratio, so the
    score is int64-exact up to one final division) — the reduced-
    bandwidth scan path whose recall is judged against
    q_similarity_topk."""
    emb = load_table(spark, sf_dir, "embeddings")
    return quantized_topk(emb, "embedding", "vec_id", _query_vec(spark, sf_dir), k=10)


@register(
    "q_semantic_dedup",
    oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < 8),
dists AS (
    SELECT e.vec_id, e.v, c.cell,
           list_sum(list_transform(range(1, 65),
               i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))) AS d2
    FROM e CROSS JOIN c
),
assign AS (
    SELECT vec_id, v, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        FROM dists
    ) WHERE rn = 1
),
pairs AS (
    SELECT b.vec_id AS id_b, b.cell,
           ROUND(list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                 6) AS cosine
    FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
)
SELECT DISTINCT id_b AS dropped, cell FROM pairs WHERE cosine >= 0.3
""",
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embedding table: assign to 8 seeded cells,
    drop every vector with a lower-id cosine>=0.3 neighbor in its
    cell.  Cluster-then-compare keeps the pair space per-cell instead
    of corpus-quadratic."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = seed_centroids(emb, "embedding", "vec_id", ncells=8)
    return semantic_dedup(emb, "embedding", "vec_id", cents, threshold=0.3)


@register(
    "q_unigram_logprob",
    oracle=r"""
WITH toks AS (
    SELECT doc_id AS doc,
           unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
    FROM documents
),
vocab AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY 1),
tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS total FROM vocab)
SELECT t.doc, COUNT(*) AS n_tokens,
       ROUND(AVG(-ln(CAST(v.c AS DOUBLE) / (SELECT total FROM tot))), 6) AS avg_nll
FROM toks t JOIN vocab v USING (tok)
GROUP BY t.doc
""",
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-self unigram LM score per document (avg negative log
    token probability) — the cheap perplexity-filter stand-in for
    quality ranking."""
    docs = load_table(spark, sf_dir, "documents")
    return unigram_logprob(docs, "text", "doc_id")


@register(
    "q_percentile_filter",
    oracle=r"""
WITH scored AS (
    SELECT doc_id, source,
           ROUND(CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE)
                 / length(text), 6) AS punct_ratio
    FROM documents
),
ranked AS (
    SELECT doc_id, source, punct_ratio,
           cume_dist() OVER (
               PARTITION BY source ORDER BY punct_ratio DESC, doc_id) AS cd
    FROM scored
)
SELECT doc_id, source, punct_ratio FROM ranked WHERE cd <= 0.5
""",
)
def q_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quality gate: keep each source's top half by punct
    ratio (stand-in quality score) — cume_dist over a PARTITIONED
    window, so every domain ranks on its own executors."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "source", quality_columns(F.col("text"))["punct_ratio"].alias("punct_ratio")
    )
    return percentile_filter(scored, F.col("punct_ratio"), "source", "doc_id", 0.5)


@register(
    "q_heavy_hitters",
    oracle=r"""
WITH toks AS (
    SELECT doc_id AS doc,
           unnest(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))) AS tok
    FROM documents
),
counts AS (SELECT tok, COUNT(*) AS n_docs FROM toks GROUP BY 1),
tot AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM documents)
SELECT tok, n_docs,
       ROUND(CAST(n_docs AS DOUBLE) / (SELECT n FROM tot), 6) AS doc_frac
FROM counts
WHERE ROUND(CAST(n_docs AS DOUBLE) / (SELECT n FROM tot), 6) >= 0.3
""",
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-driven stopword mining: tokens present in >=30% of
    documents (document frequency, not raw counts) — one
    map-side-combinable aggregation over distinct per-doc tokens."""
    docs = load_table(spark, sf_dir, "documents")
    return heavy_hitters(docs, "text", "doc_id", min_doc_frac=0.3)


# (the shared connected-components CTE `_COMPONENTS_CTE` is defined
# next to `_SHINGLE_CTE` above — both cluster oracles build on it)


@register(
    "q_vocab_build",
    oracle=r"""
WITH toks AS (
    SELECT doc_id AS doc,
           unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
    FROM documents
),
pd AS (SELECT term, doc, COUNT(*) AS c FROM toks GROUP BY 1, 2)
SELECT term, CAST(SUM(c) AS BIGINT) AS corpus_freq, COUNT(*) AS doc_freq
FROM pd GROUP BY term
ORDER BY corpus_freq DESC, term
LIMIT 100
""",
)
def q_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training vocabulary: top-100 tokens by corpus
    frequency (lexicographic tiebreak) with document frequencies."""
    docs = load_table(spark, sf_dir, "documents")
    return build_vocab(docs, "text", "doc_id", top_n=100)


@register(
    "q_chunk_docs",
    oracle=r"""
WITH docs AS (
    SELECT doc_id AS doc, regexp_split_to_array(lower(trim(text)), '\s+') AS w
    FROM documents
),
starts AS (
    -- starts run while s + overlap(10) < n: no fully-contained tail window
    SELECT doc, w, len(w) AS n, unnest(range(0, greatest(len(w) - 10, 1), 40)) AS s
    FROM docs
)
SELECT doc, s // 40 AS chunk_id,
       array_to_string(list_slice(w, s + 1, s + 50), ' ') AS chunk,
       least(50, n - s) AS n_tokens
FROM starts
""",
)
def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: 50-token windows every 40 tokens
    (10-token overlap) — map-only, zero shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, "text", "doc_id", size=50, overlap=10)


@register(
    "q_keep_best",
    oracle=_COMPONENTS_CTE
    + """,
kscored AS (
    SELECT comp.doc, comp.keeper, d.n_chars
    FROM comp JOIN documents d ON d.doc_id = comp.doc
),
kbest AS (
    SELECT keeper AS cluster,
           (list(doc ORDER BY n_chars DESC, doc))[1] AS best
    FROM kscored GROUP BY keeper
)
SELECT s.doc, b.best AS keeper
FROM kscored s JOIN kbest b ON b.cluster = s.keeper
""",
)
def q_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup keep rule: each near-dup cluster keeps its
    longest member (n_chars score, min-id tiebreak) instead of the
    arbitrary min-id — the keep-the-clean-copy rule real pipelines
    use."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.2)
    return keep_best_dedup(pairs, docs, "doc_id", "n_chars")


@register(
    "q_ccnet_bucket",
    oracle=r"""
WITH toks AS (
    SELECT doc_id AS doc,
           unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
    FROM documents
),
vocab AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY 1),
tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS total FROM vocab),
scored AS (
    SELECT t.doc, COUNT(*) AS n_tokens,
           ROUND(AVG(-ln(CAST(v.c AS DOUBLE) / (SELECT total FROM tot))), 6) AS avg_nll
    FROM toks t JOIN vocab v USING (tok)
    GROUP BY t.doc
),
with_lang AS (
    SELECT s.doc, d.lang, s.n_tokens, s.avg_nll
    FROM scored s JOIN documents d ON d.doc_id = s.doc
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY lang ORDER BY avg_nll, doc) AS rn,
           COUNT(*) OVER (PARTITION BY lang) AS n
    FROM with_lang
)
SELECT doc, lang, n_tokens, avg_nll,
       CASE WHEN rn * 3 <= n THEN 'head'
            WHEN rn * 3 <= 2 * n THEN 'middle'
            ELSE 'tail' END AS bucket
FROM ranked
""",
)
def q_ccnet_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus partitioning: per-language head/middle/tail
    thirds by unigram-LM score (low avg_nll = head).  Exact integer
    band edges; the ranking window is partitioned per language."""
    docs = load_table(spark, sf_dir, "documents")
    scored = unigram_logprob(docs, "text", "doc_id")
    with_lang = scored.join(
        docs.select(F.col("doc_id").alias("doc"), "lang"), "doc"
    ).select("doc", "lang", "n_tokens", "avg_nll")
    return quantile_buckets(with_lang, F.col("avg_nll"), "lang", "doc")


def _pq_m(emb) -> int:
    """Largest subspace count in (8, 4, 2, 1) dividing the embedding
    dim — keeps the PQ queries running if the generated testdata ever
    changes dimensionality (pq_train_quantized requires d % m == 0)."""
    d = len(emb.select("embedding").first()["embedding"])
    return next(m for m in (8, 4, 2, 1) if d % m == 0)


def _pq_fd(a: str, b: str) -> str:
    """Floor division CASE (DuckDB ``//`` truncates; the operators
    floor)."""
    return (
        f"(CASE WHEN ({a}) % ({b}) <> 0 AND ({a}) < 0 "
        f"THEN ({a}) // ({b}) - 1 ELSE ({a}) // ({b}) END)"
    )


def _pq_chain(dim: int = 64, members_cte: str | None = None) -> str:
    """CTE chain replaying the integer PQ pipeline (mirrors
    ``operators/similarity.py:pq_train_quantized`` /
    ``pq_encode_quantized`` / ``pq_topk_quantized``): quantized
    coordinates, per-subspace first-k-distinct-by-id seeds, ``iters``
    unrolled integer Lloyd rounds, integer ADC lookup tables, and the
    fixed IEEE op sequence ``num / (sqrt(rn2)·sqrt(‖qw‖²))`` whose
    inputs are all integers — bit-identical doubles on every engine.
    Ends with a ``psim`` CTE of (id, psim); when ``members_cte`` is
    given, encoding/scoring restricts to those ids (the IVF pool)."""
    m, k, iters, sample = 8, 16, 8, 2048
    sub = dim // m
    member_join = (
        f"JOIN {members_cte} mm ON mm.id = p.id" if members_cte else ""
    )
    parts = [f"""pool AS MATERIALIZED (
    SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
wq AS MATERIALIZED (
    SELECT id, v, list_transform(v, x -> floor(x * 1000 + 0.5)) AS w FROM pool),
idx AS MATERIALIZED (SELECT CAST(unnest(range(1, {dim + 1})) AS BIGINT) AS i),
pts AS MATERIALIZED (
    SELECT id, i.i AS pos, CAST(w[i.i] AS BIGINT) AS x,
           CAST((i.i - 1) // {sub} AS BIGINT) AS sub
    FROM wq CROSS JOIN idx i),
samp AS MATERIALIZED (SELECT id FROM wq ORDER BY id LIMIT {sample}),
spts AS MATERIALIZED (
    SELECT p.id, p.pos, p.x, p.sub FROM pts p JOIN samp s ON s.id = p.id),
subv AS MATERIALIZED (
    SELECT id, sub, list(x ORDER BY pos) AS vec FROM spts GROUP BY id, sub),
seedg AS MATERIALIZED (
    SELECT sub, vec, MIN(id) AS mid FROM subv GROUP BY sub, vec),
seedk AS MATERIALIZED (
    SELECT sub, vec, cell FROM (
        SELECT sub, vec,
               row_number() OVER (PARTITION BY sub ORDER BY mid) - 1 AS cell
        FROM seedg) WHERE cell < {k}),
soff AS MATERIALIZED (SELECT CAST(unnest(range(1, {sub + 1})) AS BIGINT) AS o),
cb0 AS MATERIALIZED (
    SELECT s.sub, s.cell, s.sub * {sub} + o.o AS pos,
           CAST(vec[o.o] AS BIGINT) AS c
    FROM seedk s CROSS JOIN soff o)"""]
    for t in range(1, iters + 1):
        parts.append(f""",
pa{t} AS MATERIALIZED (
    SELECT p.id, p.sub, c.cell, CAST(SUM((p.x - c.c) * (p.x - c.c)) AS BIGINT) AS d2
    FROM spts p JOIN cb{t - 1} c ON c.pos = p.pos GROUP BY 1, 2, 3),
pg{t} AS MATERIALIZED (
    SELECT id, sub, cell FROM (
        SELECT id, sub, cell,
               row_number() OVER (PARTITION BY id, sub ORDER BY d2, cell) AS rn
        FROM pa{t}) WHERE rn = 1),
ps{t} AS MATERIALIZED (
    SELECT g.sub, g.cell, p.pos, CAST(SUM(p.x) AS BIGINT) AS s2, COUNT(*) AS n
    FROM pg{t} g JOIN spts p ON p.id = g.id AND p.sub = g.sub GROUP BY 1, 2, 3),
cb{t} AS MATERIALIZED (
    SELECT c.sub, c.cell, c.pos,
           CAST(COALESCE({_pq_fd('2 * s.s2 + s.n', '2 * s.n')}, c.c) AS BIGINT) AS c
    FROM cb{t - 1} c
    LEFT JOIN ps{t} s ON s.sub = c.sub AND s.cell = c.cell AND s.pos = c.pos)""")
    parts.append(f""",
ea AS MATERIALIZED (
    SELECT p.id, p.sub, c.cell, CAST(SUM((p.x - c.c) * (p.x - c.c)) AS BIGINT) AS d2
    FROM pts p {member_join} JOIN cb{iters} c ON c.pos = p.pos GROUP BY 1, 2, 3),
codes AS MATERIALIZED (
    SELECT id, sub, cell FROM (
        SELECT id, sub, cell,
               row_number() OVER (PARTITION BY id, sub ORDER BY d2, cell) AS rn
        FROM ea) WHERE rn = 1),
qn2 AS MATERIALIZED (SELECT CAST(SUM(x * x) AS BIGINT) AS v FROM pts WHERE id = 0),
lut AS MATERIALIZED (
    SELECT c.sub, c.cell,
           CAST(SUM(q.x * c.c) AS BIGINT) AS dq,
           CAST(SUM(c.c * c.c) AS BIGINT) AS n2
    FROM cb{iters} c JOIN pts q ON q.pos = c.pos AND q.id = 0 GROUP BY 1, 2),
adcs AS MATERIALIZED (
    SELECT k.id, CAST(SUM(l.dq) AS BIGINT) AS num, CAST(SUM(l.n2) AS BIGINT) AS rn2
    FROM codes k JOIN lut l ON l.sub = k.sub AND l.cell = k.cell GROUP BY 1),
psim AS MATERIALIZED (
    SELECT id,
           -- zero-norm reconstruction → -infinity, matching
           -- pq_topk_quantized's np.where(rn2 > 0, out, -inf): both
           -- conventions sort last under DESC, but only a shared one
           -- hash-matches if such a code ever reaches the top-k
           CASE WHEN rn2 > 0
                THEN ROUND(CAST(num AS DOUBLE)
                           / (sqrt(CAST(rn2 AS DOUBLE))
                              * sqrt(CAST((SELECT v FROM qn2) AS DOUBLE))), 6)
                ELSE CAST('-infinity' AS DOUBLE) END AS psim
    FROM adcs)""")
    return "".join(parts)


def _pq_topk_oracle() -> str:
    topk = 10
    return f"""
WITH {_pq_chain()}
SELECT id, psim,
       CAST(row_number() OVER (ORDER BY psim DESC, id) AS BIGINT) AS rank
FROM psim ORDER BY psim DESC, id LIMIT {topk}
"""


@register("q_pq_topk", oracle=_pq_topk_oracle())
def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-10: m subspaces × 16 centroids
    (m=8 on the 64-dim testdata ⇒ 8-byte codes vs 256 B raw) and
    scoring is m table lookups per row.  Codebooks train in INTEGER
    Lloyd rounds and the ADC lookup tables are exact integers, so
    codes, scores, and ranking replay hash-exact from the unrolled
    DuckDB oracle (was rows-only with float k-means); encode
    determinism and recall stay pinned in tests/test_pipeline_ops.py."""
    from opl_spark.operators.similarity import pq_topk_quantized, pq_train_quantized

    emb = load_table(spark, sf_dir, "embeddings")
    book = pq_train_quantized(emb, "embedding", "vec_id", m=_pq_m(emb), k=16)
    return pq_topk_quantized(
        emb, "embedding", "vec_id", _query_vec(spark, sf_dir), book, k=10
    )


@register(
    "q_budget_sample",
    oracle=r"""
WITH ranked AS (
    SELECT doc_id, source,
           row_number() OVER (
               PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ) AS rn
    FROM documents
)
SELECT doc_id, source FROM ranked WHERE rn <= 50
""",
)
def q_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed per-domain budget: exactly min(50, |domain|) docs per
    source, picked by deterministic md5 shuffle order."""
    from opl_spark.operators.sampling import budget_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return budget_sample(docs, "source", "doc_id", budget=50)


@register(
    "q_bigram_logprob",
    oracle=r"""
WITH docs AS (
    SELECT doc_id AS doc, regexp_split_to_array(lower(trim(text)), '\s+') AS w
    FROM documents
),
bg AS (
    SELECT doc, unnest(list_transform(
        range(2, len(w) + 1), i -> w[i-1] || ' ' || w[i])) AS b
    FROM docs WHERE len(w) >= 2
),
cb AS (SELECT b, COUNT(*) AS c FROM bg GROUP BY 1),
cp AS (SELECT split_part(b, ' ', 1) AS p, SUM(c) AS cp FROM cb GROUP BY 1)
SELECT doc, COUNT(*) AS n_bigrams,
       ROUND(AVG(-ln(CAST(cb.c AS DOUBLE) / CAST(cp.cp AS DOUBLE))), 6) AS avg_nll2
FROM bg
JOIN cb USING (b)
JOIN cp ON cp.p = split_part(bg.b, ' ', 1)
GROUP BY doc
""",
)
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality score per document (avg negative log
    conditional transition probability) — the shuffled-text detector
    the unigram score can't be."""
    from opl_spark.operators.text import bigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    return bigram_logprob(docs, "text", "doc_id")


@register(
    "q_token_entropy",
    oracle=r"""
WITH toks AS (
    SELECT doc_id AS doc,
           unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
    FROM documents
),
counts AS (SELECT doc, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2)
SELECT doc, CAST(SUM(c) AS BIGINT) AS n_tokens,
       COUNT(*) AS n_distinct,
       ROUND(ln(CAST(SUM(c) AS DOUBLE))
             - SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
               / CAST(SUM(c) AS DOUBLE), 6) AS entropy
FROM counts
GROUP BY doc
""",
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-entropy repetitiveness signal per document (H = ln N -
    sum(c ln c)/N over integer counts)."""
    from opl_spark.operators.text import token_entropy

    docs = load_table(spark, sf_dir, "documents")
    return token_entropy(docs, "text", "doc_id")


def _ivfpq_oracle() -> str:
    """IVF-PQ replay: the quantized coarse inverted file (seed
    centroids = the k lowest-id vectors on the integer grid; integer
    cell assignment and probing — the iters=0 case of the k-means
    oracle) feeding the integer-PQ ADC chain restricted to the probed
    pool."""
    ncells, nprobe, dim, topk = 8, 4, 64, 10
    coarse = f""",
cseed AS MATERIALIZED (
    SELECT row_number() OVER (ORDER BY id) - 1 AS cell, id
    FROM wq ORDER BY id LIMIT {ncells}),
ccent AS MATERIALIZED (
    SELECT s.cell, p.pos, p.x AS c
    FROM cseed s JOIN pts p ON p.id = s.id),
cq AS MATERIALIZED (
    SELECT c.cell, CAST(SUM((q.x - c.c) * (q.x - c.c)) AS BIGINT) AS d2
    FROM ccent c JOIN pts q ON q.pos = c.pos AND q.id = 0 GROUP BY 1),
cprobe AS MATERIALIZED (SELECT cell FROM cq ORDER BY d2, cell LIMIT {nprobe}),
cd AS MATERIALIZED (
    SELECT p.id, c.cell, CAST(SUM((p.x - c.c) * (p.x - c.c)) AS BIGINT) AS d2
    FROM pts p JOIN ccent c ON c.pos = p.pos GROUP BY 1, 2),
cmembers AS MATERIALIZED (
    SELECT id FROM (
        SELECT id, cell,
               row_number() OVER (PARTITION BY id ORDER BY d2, cell) AS rn
        FROM cd) WHERE rn = 1 AND cell IN (SELECT cell FROM cprobe))"""
    chain = _pq_chain(dim=dim, members_cte="cmembers")
    # the coarse CTEs reference wq/pts, so splice them right after pts
    head, tail = chain.split("samp AS MATERIALIZED", 1)
    return f"""
WITH {head.rstrip().rstrip(',')}{coarse},
samp AS MATERIALIZED{tail}
SELECT id, psim,
       CAST(row_number() OVER (ORDER BY psim DESC, id) AS BIGINT) AS rank
FROM psim ORDER BY psim DESC, id LIMIT {topk}
"""


@register("q_ivfpq_topk", oracle=_ivfpq_oracle())
def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-10: coarse 8-cell inverted file (probe 4) over
    8×16 PQ codes — the composed billion-scale ANN path, with BOTH
    stages in integer arithmetic (quantized seed centroids + integer
    Lloyd codebooks + integer ADC), so the whole composition replays
    hash-exact from the unrolled oracle (was rows-only with the float
    stages); recall stays pinned vs brute force in tests."""
    from opl_spark.operators.similarity import ivfpq_topk_quantized

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_topk_quantized(
        emb, "embedding", "vec_id", _query_vec(spark, sf_dir),
        k=10, ncells=8, nprobe=4, m=_pq_m(emb), codebook_k=16,
    )


_CMS_ORACLE = r"""
WITH toks AS MATERIALIZED (
    SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
    FROM documents
),
rows4 AS MATERIALIZED (SELECT CAST(unnest(range(0, 4)) AS BIGINT) AS row),
sk AS MATERIALIZED (
    SELECT r.row,
           CAST(CAST(('0x' || substr(md5(t.tok || ':' || r.row), 1, 8))
                     AS UBIGINT) % 2048 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM toks t CROSS JOIN rows4 r GROUP BY 1, 2),
pd AS MATERIALIZED (
    SELECT term, doc, COUNT(*) AS c FROM (
        SELECT doc_id AS doc,
               unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        FROM documents) GROUP BY 1, 2),
top AS MATERIALIZED (
    SELECT term, CAST(SUM(c) AS BIGINT) AS corpus_freq
    FROM pd GROUP BY term ORDER BY corpus_freq DESC, term LIMIT 20),
probes AS MATERIALIZED (
    SELECT t.term, r.row,
           CAST(CAST(('0x' || substr(md5(t.term || ':' || r.row), 1, 8))
                     AS UBIGINT) % 2048 AS BIGINT) AS bucket
    FROM top t CROSS JOIN rows4 r),
est AS MATERIALIZED (
    SELECT p.term, CAST(MIN(COALESCE(sk.c, 0)) AS BIGINT) AS est
    FROM probes p LEFT JOIN sk ON sk.row = p.row AND sk.bucket = p.bucket
    GROUP BY 1)
SELECT t.term, t.corpus_freq, e.est
FROM top t JOIN est e ON e.term = t.term
"""


@register("q_cms_counts", oracle=_CMS_ORACLE)
def q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch demo: estimated vs exact corpus frequency for
    the top-20 vocabulary terms.  The sketch is depth*width counters
    TOTAL (mergeable across shards/streams).  Cells hash with the
    md5-derived portable family, so sketch contents, probes, and
    estimates replay hash-exact from the SQL oracle (was rows-only on
    xxhash64 cells); est >= true stays asserted in
    tests/test_pipeline_ops.py."""
    from opl_spark.operators.sketch import count_min_build, count_min_estimate

    docs = load_table(spark, sf_dir, "documents")
    # ONE corpus pass (r14): the vocabulary frame (term, corpus_freq,
    # doc_freq — build_vocab's pre-limit shape) feeds BOTH the sketch
    # (weighted cell build: Σ freq per cell ≡ the raw-stream count by
    # commutativity, bit-equal sketch) and the top-20 probe set; the
    # old shape scanned and re-tokenized the corpus once per branch.
    # Vocab-sized checkpoint, two consumers.
    toks = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term")
    )
    vocabf = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("corpus_freq"))
        .localCheckpoint(eager=False)
    )
    sketch = count_min_build(
        vocabf, "term", width=2048, depth=4, portable=True,
        weight_col="corpus_freq",
    )
    top = (
        vocabf.orderBy(F.col("corpus_freq").desc(), F.col("term"))
        .limit(20)
        .select("term", "corpus_freq")
    )
    est = count_min_estimate(
        sketch, top.select("term"), "term", width=2048, depth=4, portable=True
    )
    return top.join(est, "term").select("term", "corpus_freq", "est")


def _pq_rerank_oracle() -> str:
    """ADC shortlist (integer-exact ordering) reranked by the exact
    round-6 cosine — the same scoring tail the brute-force oracle
    hash-checks."""
    rerank, topk = 16, 10
    return f"""
WITH {_pq_chain()},
short AS MATERIALIZED (
    SELECT id FROM psim ORDER BY psim DESC, id LIMIT {rerank * topk}),
qv AS MATERIALIZED (SELECT v AS qv FROM pool WHERE id = 0),
rscored AS MATERIALIZED (
    SELECT e.id,
           ROUND(list_dot_product(e.v, q.qv)
                 / (sqrt(list_dot_product(e.v, e.v))
                    * sqrt(list_dot_product(q.qv, q.qv))), 6) AS psim
    FROM wq e JOIN short s ON s.id = e.id CROSS JOIN qv q)
SELECT id, psim,
       CAST(row_number() OVER (ORDER BY psim DESC, id) AS BIGINT) AS rank
FROM rscored ORDER BY psim DESC, id LIMIT {topk}
"""


@register("q_pq_rerank", oracle=_pq_rerank_oracle())
def q_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ top-10 with exact reranking of an ADC shortlist (×16) — the
    production recall remedy over raw ADC ordering.  The shortlist
    ordering is integer-exact (quantized codebooks + integer lookup
    tables) and the rerank is the proven round-6 cosine, so the whole
    two-stage retrieval replays hash-exact (was rows-only with float
    codebooks); full-shortlist==exact equality stays pinned in
    tests."""
    from opl_spark.operators.similarity import pq_topk_quantized, pq_train_quantized

    emb = load_table(spark, sf_dir, "embeddings")
    book = pq_train_quantized(emb, "embedding", "vec_id", m=_pq_m(emb), k=16)
    return pq_topk_quantized(
        emb, "embedding", "vec_id", _query_vec(spark, sf_dir), book, k=10, rerank=16
    )


@register(
    "q_corpus_stats",
    oracle=r"""
WITH per_doc AS (
    SELECT doc_id, lang, source,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_words,
           md5(text) AS h
    FROM documents
)
SELECT lang,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT source) AS n_sources,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_words) AS BIGINT) AS total_words,
       COUNT(*) - COUNT(DISTINCT h) AS n_exact_dups,
       ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6) AS avg_chars
FROM per_doc
GROUP BY lang
""",
)
def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass corpus report card per language: volume, source
    spread, exact-dup count, average length — the summary a pipeline
    run logs before/after each stage.  Single groupBy; the distinct
    counts are exact (per-lang cardinalities are report-sized; swap in
    approx_count_distinct at 100 TB if they are not)."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "doc_id",
        "lang",
        "source",
        F.length("text").cast("bigint").alias("n_chars"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint").alias("n_words"),
        F.md5(F.col("text")).alias("h"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("source").alias("n_sources"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_words").alias("total_words"),
        (F.count(F.lit(1)) - F.count_distinct("h")).alias("n_exact_dups"),
        F.round(F.sum("n_chars").cast("double") / F.count(F.lit(1)), 6).alias(
            "avg_chars"
        ),
    )


def _minhash_keep_best_oracle() -> str:
    """The full-composition replay: portable MinHash-LSH candidates →
    exact-Jaccard verify at ``threshold`` → min-id connected
    components (recursive reach) → keep-the-longest rule (n_chars
    desc, min-id ties) — the same CC/keep-best tail the hash-checked
    q_keep_best oracle uses, fed by LSH pairs instead of the exact
    inverted index."""
    threshold = 0.2
    return f"""
WITH RECURSIVE {_minhash_chain()},
mhp AS MATERIALIZED (
    SELECT c.id_a, c.id_b
    FROM cand c
    LEFT JOIN ints ON ints.id_a = c.id_a AND ints.id_b = c.id_b
    JOIN sizes za ON za.doc = c.id_a
    JOIN sizes zb ON zb.doc = c.id_b
    WHERE ROUND(CAST(COALESCE(ints.i, 0) AS DOUBLE)
                / (za.n_sh + zb.n_sh - COALESCE(ints.i, 0)), 6) >= {threshold}
),
kedges AS MATERIALIZED (
    SELECT id_a AS a, id_b AS b FROM mhp
    UNION ALL SELECT id_b, id_a FROM mhp
),
kreach(node, r) AS (
    SELECT DISTINCT a, a FROM kedges
    UNION
    SELECT kreach.node, e.b FROM kreach JOIN kedges e ON e.a = kreach.r
),
comp AS MATERIALIZED (SELECT node AS doc, MIN(r) AS keeper FROM kreach GROUP BY node),
kscored AS MATERIALIZED (
    SELECT comp.doc, comp.keeper, d.n_chars
    FROM comp JOIN documents d ON d.doc_id = comp.doc
),
kbest AS MATERIALIZED (
    SELECT keeper AS cluster,
           (list(doc ORDER BY n_chars DESC, doc))[1] AS best
    FROM kscored GROUP BY keeper
)
SELECT s.doc, b.best AS keeper
FROM kscored s JOIN kbest b ON b.cluster = s.keeper
"""


@register("q_minhash_keep_best", oracle=_minhash_keep_best_oracle())
def q_minhash_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full 100 TB dedup composition in one plan: MinHash-LSH
    candidate generation (never all-pairs) → exact Jaccard verify →
    connected components → quality-aware keep rule.  Runs the
    PORTABLE hash family end to end, so the ENTIRE composition —
    LSH buckets, verified pairs, components, keepers — is replayed
    hash-exact by the DuckDB oracle (was rows-only when candidates
    came from xxhash64); q_keep_best remains the exact-inverted-index
    twin of the same tail.

    Runs with ``band_skip=True`` (r9): candidate pairs agreeing on
    ALL 16 bands (estimated Jaccard exactly 1.0 — all 64 signature
    values match) bypass the exact shingle intersect, and the verify
    pass shingles only the docs of partial-agreement pairs.  Output-
    invariant here because this query consumes the thresholded pair
    SET (jaccard values are dropped before keep_best_dedup); the
    false-positive probability for a skipped pair is ≤ 0.2⁶⁴ — see
    minhash_dedup_pairs' docstring for the full contract.  The oracle
    (full exact verify) is unchanged and still hash-matches."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_dedup_pairs(
        docs, "text", "doc_id", threshold=0.2, portable=True, band_skip=True
    )
    return keep_best_dedup(
        pairs.select("id_a", "id_b"), docs, "doc_id", "n_chars"
    )


def _bpe_chain(num_merges: int = 10) -> str:
    """CTE chain replaying BPE merge learning (mirrors
    ``operators/bpe.py:_learn_merges_local``, whose incremental
    pair-count heap is count-for-count equivalent to a full recount
    per step): each word's symbol state is a comma-WRAPPED string
    (``the`` → ``,t,,h,,e,``), so one greedy left-to-right merge pass
    is exactly one global ``regexp_replace`` — leftmost-non-overlap
    semantics match ``_merge_word``, and the double-comma separator
    keeps adjacent pair occurrences and multi-char symbol boundaries
    unambiguous.  Winner selection is SUM(freq) desc, (l, r) asc, with
    the trainer's count≥2 stopping rule.  Assumes symbols free of
    regex metacharacters and commas — true of the a–z corpus; a
    general-text oracle would regexp-escape the pair.  Ends with
    ``st{num_merges}`` (word, freq, state) and ``win1..winN``."""
    parts = [r"""wv AS MATERIALIZED (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
        SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
        FROM documents) WHERE w <> '' GROUP BY w),
st0 AS MATERIALIZED (
    SELECT w, freq,
           ',' || array_to_string(string_split_regex(w, ''), ',,') || ',' AS state
    FROM wv)"""]
    for t in range(1, num_merges + 1):
        parts.append(f""",
px{t} AS MATERIALIZED (
    SELECT l, r, CAST(SUM(freq) AS BIGINT) AS c FROM (
        SELECT freq, syms[i] AS l, syms[i + 1] AS r FROM (
            SELECT freq, syms, unnest(range(1, greatest(len(syms), 1))) AS i
            FROM (SELECT freq, string_split(trim(state, ','), ',,') AS syms
                  FROM st{t - 1})))
    GROUP BY 1, 2),
win{t} AS MATERIALIZED (
    SELECT l, r, c FROM px{t} WHERE c >= 2 ORDER BY c DESC, l, r LIMIT 1),
st{t} AS MATERIALIZED (
    SELECT w, freq,
           CASE WHEN (SELECT l FROM win{t}) IS NULL THEN state
                ELSE regexp_replace(state,
                         ',' || (SELECT l FROM win{t}) || ',,'
                             || (SELECT r FROM win{t}) || ',',
                         ',' || (SELECT l FROM win{t})
                             || (SELECT r FROM win{t}) || ',',
                         'g') END AS state
    FROM st{t - 1})""")
    return "".join(parts)


def _bpe_merges_oracle() -> str:
    num_merges = 10
    steps = "\nUNION ALL ".join(
        f'SELECT CAST({t - 1} AS INTEGER) AS rank, l AS "left", r AS "right", '
        f"c AS count FROM win{t}"
        for t in range(1, num_merges + 1)
    )
    return f"""
WITH {_bpe_chain(num_merges)}
{steps}
"""


@register("q_bpe_merges", oracle=_bpe_merges_oracle())
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training: the first 10 learned merges (rank, left,
    right, weighted count).  ONE distributed distinct-word count; all
    merges learned driver-side over the vocab-sized table with an
    incremental pair heap (the corpus-scale recipe — no per-merge Spark
    job).  The heap is count-equivalent to a per-step recount, so the
    unrolled regexp-replace oracle replays every merge hash-exact (was
    rows-only); hand-computed merges and the one-job shape stay pinned
    in tests/test_pipeline_ops.py."""
    from opl_spark.operators.bpe import learn_bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    merges = learn_bpe_merges(docs, "text", num_merges=10)
    return spark.createDataFrame(
        merges, "rank int, left string, right string, count long"
    )


@register(
    "q_dup_weights",
    oracle="""
WITH g AS (SELECT md5(text) AS h, COUNT(*) AS copies FROM documents GROUP BY 1)
SELECT d.doc_id, g.copies,
       ROUND(1.0 / g.copies, 6) AS weight
FROM documents d JOIN g ON md5(d.text) = g.h
""",
)
def q_dup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup: keep every copy but down-weight it to 1/copies (the
    alternative to hard removal some pipelines prefer — total sampling
    mass per distinct text stays 1).  One combinable count per content
    hash + one join back on the 16-byte key."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy(F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).alias("copies")
    )
    return (
        docs.select("doc_id", F.md5("text").alias("h"))
        .join(g, "h")
        .select(
            "doc_id", "copies", F.round(F.lit(1.0) / F.col("copies"), 6).alias("weight")
        )
    )


def _bpe_segment_oracle() -> str:
    """Apply-side replay: per-word token counts read straight off the
    trained chain's final states (``len(symbols)`` of ``stN``), then
    the per-doc ``Σ cnt·w_tokens`` join — encode_vocab's rank-order
    merge replay equals the training states by construction."""
    num_merges = 10
    return f"""
WITH {_bpe_chain(num_merges)},
wtok AS MATERIALIZED (
    SELECT w, len(string_split(trim(state, ','), ',,')) AS wt
    FROM st{num_merges}),
dwc AS MATERIALIZED (
    SELECT doc, w, COUNT(*) AS cnt FROM (
        SELECT doc_id AS doc,
               unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
        FROM documents) WHERE w <> '' GROUP BY 1, 2),
dt AS MATERIALIZED (
    SELECT dwc.doc, CAST(SUM(dwc.cnt * wtok.wt) AS BIGINT) AS n_tokens
    FROM dwc JOIN wtok ON wtok.w = dwc.w GROUP BY 1)
SELECT d.doc_id AS doc,
       CAST(COALESCE(dt.n_tokens, 0) AS INTEGER) AS n_tokens,
       CAST(length(d.text) AS INTEGER) AS n_chars
FROM documents d LEFT JOIN dt ON dt.doc = d.doc_id
"""


@register("q_bpe_segment", oracle=_bpe_segment_oracle())
def q_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply side of BPE: token counts per document under the first 10
    learned merges — the compression measurement a tokenizer-training
    run reports.  Per-TYPE encoding: each distinct word is encoded once
    and token lengths hash-join back to documents, so Python-side work
    is vocab-sized, not corpus-sized.  The oracle reads per-word token
    counts off the replayed training chain's final states (was
    rows-only); equality with the per-occurrence reference stays
    pinned in tests/test_pipeline_ops.py."""
    from opl_spark.operators.bpe import bpe_segment, learn_bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    merges = learn_bpe_merges(docs, "text", num_merges=10)
    return bpe_segment(docs, "text", "doc_id", merges)


@register(
    "q_winnow_pairs",
    oracle=r"""
WITH docs AS (
    SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
    FROM documents
),
sh AS (
    SELECT doc_id, list_transform(
        range(1, greatest(len(w) - 2, 1) + 1),
        i -> md5(array_to_string(list_slice(w, i, i + 2), ' '))
    ) AS hs
    FROM docs
),
mins AS (
    SELECT doc_id, list_distinct(list_transform(
        range(1, greatest(len(hs) - 3, 1) + 1),
        i -> list_min(list_slice(hs, i, i + 3))
    )) AS fps
    FROM sh
),
fp AS (SELECT doc_id AS doc, unnest(fps) AS fp FROM mins)
SELECT a.doc AS id_a, b.doc AS id_b, COUNT(*) AS shared
FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc < b.doc
GROUP BY 1, 2
HAVING COUNT(*) >= 10
""",
)
def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style overlap detection: document pairs sharing >= 10
    winnowing fingerprints.  Same inverted-index shape as exact n-gram
    dedup but over the SPARSE winnowed fingerprint set (~1/window of
    the shingles), which is what makes the exact pair pass affordable
    — the trade the winnowing paper is about."""
    from opl_spark.operators.dedup import bucket_pairs

    docs = load_table(spark, sf_dir, "documents")
    fp = winnow_fingerprints(docs, "text", "doc_id", n=3, window=4)
    buckets = fp.groupBy("fp").agg(
        F.sort_array(F.collect_list("doc")).alias("ds")
    )
    return (
        bucket_pairs(buckets)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= 10)
    )


# ===========================================================================
# round-3 extensions: event analytics, retrieval, soft-dedup sampling
# ===========================================================================


@register(
    "q_funnel",
    oracle="""
WITH s0 AS (
    SELECT user_id AS u, MIN(ts) AS t0 FROM events
    WHERE event_type = 'view' GROUP BY 1
),
s1 AS (
    SELECT e.user_id AS u, MIN(e.ts) AS t1 FROM events e
    JOIN s0 ON e.user_id = s0.u
    WHERE e.event_type = 'click' AND e.ts > s0.t0 GROUP BY 1
),
s2 AS (
    SELECT e.user_id AS u, MIN(e.ts) AS t2 FROM events e
    JOIN s1 ON e.user_id = s1.u
    WHERE e.event_type = 'purchase' AND e.ts > s1.t1 GROUP BY 1
)
SELECT 0 AS step, 'view' AS step_name, (SELECT COUNT(*) FROM s0) AS n_users
UNION ALL
SELECT 1, 'click', (SELECT COUNT(*) FROM s1)
UNION ALL
SELECT 2, 'purchase', (SELECT COUNT(*) FROM s2)
""",
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel: users reaching each step
    strictly after their previous step's first occurrence.  User-keyed
    joins throughout (one hash partitioning serves every stage); the
    per-step counts come from ONE pass over the joined per-user
    step-time table."""
    from opl_spark.operators.analytics import funnel

    ev = load_table(spark, sf_dir, "events")
    return funnel(ev, "user_id", "ts", "event_type", ["view", "click", "purchase"])


@register(
    "q_retention",
    oracle="""
WITH ev AS (
    SELECT user_id AS u,
           CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS w
    FROM events
),
f AS (SELECT u, MIN(w) AS cohort_week FROM ev GROUP BY 1)
SELECT f.cohort_week,
       CAST((ev.w - f.cohort_week) // 7 AS INT) AS week_offset,
       COUNT(DISTINCT ev.u) AS n_users
FROM ev JOIN f ON ev.u = f.u
GROUP BY 1, 2
""",
)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: first-seen-week cohorts × week
    offset → distinct active users.  User-sized first-seen aggregate +
    one user-keyed join; the distinct is bounded by users × active
    weeks, never events."""
    from opl_spark.operators.analytics import retention_cohorts

    return retention_cohorts(load_table(spark, sf_dir, "events"), "user_id", "ts")


@register(
    "q_zscore_outliers",
    oracle="""
WITH ev AS (
    SELECT event_type AS grp, CAST(round(value * 100) AS BIGINT) AS v
    FROM events
),
st AS (
    SELECT grp,
           CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(SUM(v) AS HUGEINT) AS s,
           SUM(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS s2
    FROM ev GROUP BY 1
)
SELECT ev.grp,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN (st.n * ev.v - st.s) * (st.n * ev.v - st.s)
                     > 9 * (st.n * st.s2 - st.s * st.s)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       ROUND(CAST(MAX(st.s) AS DOUBLE) / (CAST(MAX(st.n) AS DOUBLE) * 100), 6)
           AS mean
FROM ev JOIN st ON ev.grp = st.grp
GROUP BY ev.grp
""",
)
def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type 3σ outlier screen in EXACT arithmetic: the test
    (v-μ)² > 9σ² is cleared of divisions to (n·V-S)² > 9(n·S2-S²) over
    decimal sums of 2-decimal-scaled integers — no float mean/variance
    on the comparison path, so borderline rows can't flip across
    engines or reduce orders."""
    from opl_spark.operators.analytics import zscore_outliers

    ev = load_table(spark, sf_dir, "events")
    return zscore_outliers(ev, "event_type", "value", z=3, value_decimals=2)


@register(
    "q_bm25_search",
    oracle=r"""
WITH toks AS (
    SELECT doc_id AS doc, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
    FROM documents
),
tok AS (SELECT doc, term FROM toks WHERE term <> ''),
dl AS (SELECT doc, COUNT(*) AS dl FROM tok GROUP BY 1),
corpus AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM dl),
tf AS (
    SELECT doc, term, COUNT(*) AS tf FROM tok
    WHERE term IN ('hash', 'join', 'window') GROUP BY 1, 2
),
dfreq AS (SELECT term, COUNT(*) AS df_t FROM tf GROUP BY 1)
SELECT tf.doc,
       ROUND(SUM(
           ln((corpus.n_docs - dfreq.df_t + 0.5) / (dfreq.df_t + 0.5) + 1.0)
           * tf.tf * (1.2 + 1.0)
           / (tf.tf + 1.2 * (1.0 - 0.75
              + 0.75 * dl.dl / (CAST(corpus.total_dl AS DOUBLE) / corpus.n_docs)))
       ), 6) AS score
FROM tf
JOIN dfreq ON tf.term = dfreq.term
JOIN dl ON tf.doc = dl.doc
CROSS JOIN corpus
GROUP BY tf.doc
ORDER BY score DESC, tf.doc
LIMIT 10
""",
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for the query bag {hash, join, window} (k1=1.2,
    b=0.75) — the lexical-retrieval baseline beside the ANN tier.
    Only query-term postings shuffle; docfreq and the (N, avgdl)
    scalars broadcast; selection is TakeOrdered on the deterministic
    (score desc, doc) order."""
    from opl_spark.operators.text import bm25_search

    docs = load_table(spark, sf_dir, "documents")
    return bm25_search(docs, "text", "doc_id", ["hash", "join", "window"], k=10)


@register(
    "q_soft_dedup_sample",
    oracle="""
WITH g AS (
    SELECT md5(text) AS h, COUNT(*) AS copies FROM documents GROUP BY 1
)
SELECT d.doc_id, g.copies
FROM documents d JOIN g ON md5(d.text) = g.h
WHERE (d.doc_id * 2654435761 + 7) % 4294967296 < 4294967296 // g.copies
""",
)
def q_soft_dedup_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup by sampling: keep each row with probability 1/copies
    via the portable multiplicative hash gate and the INTEGER floor
    threshold 2^32 // copies — expected kept mass per distinct text is
    1, and the draw is deterministic on any engine.  The materialized
    cousin of q_dup_weights."""
    from opl_spark.operators.sampling import soft_dedup_sample

    docs = load_table(spark, sf_dir, "documents")
    return soft_dedup_sample(docs, "text", "doc_id", salt=7)


@register(
    "q_embedding_norms",
    oracle="""
WITH norms AS (
    SELECT label,
           ROUND(sqrt(list_aggregate(
               list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
               'sum')), 6) AS nrm
    FROM embeddings
)
SELECT label,
       COUNT(*) AS n,
       ROUND(AVG(nrm), 6) AS avg_norm,
       ROUND(MIN(nrm), 6) AS min_norm,
       ROUND(MAX(nrm), 6) AS max_norm
FROM norms GROUP BY label
""",
)
def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm report (the pre-normalization sanity check
    every embedding pipeline runs): one JVM-side left-fold per vector
    (F.aggregate — no Python), norms rounded(6) BEFORE the group stats
    so cross-engine float drift can't leak into min/max."""
    emb = load_table(spark, sf_dir, "embeddings")
    norm = F.round(
        F.sqrt(
            F.aggregate(
                "embedding",
                F.lit(0.0).cast("double"),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        ),
        6,
    )
    return (
        emb.select("label", norm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("nrm"), 6).alias("avg_norm"),
            F.round(F.min("nrm"), 6).alias("min_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
        )
    )


@register(
    "q_props_extract",
    oracle="""
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       ROUND(CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
             / COUNT(*), 6) AS avg_k
FROM events
GROUP BY event_type
""",
)
def q_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read over the JSON props column: extract $.k with the
    JVM JSON path expression (no Python), aggregate per event type —
    integer sums exact, the average one division of exact ints."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.round(
                F.sum("k").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_k"),
        )
    )


@register(
    "q_source_overlap",
    oracle=r"""
WITH docs AS (
    SELECT source, regexp_split_to_array(lower(trim(text)), '\s+') AS w
    FROM documents
),
sh AS (
    SELECT DISTINCT source AS src, s FROM (
        SELECT source, unnest(list_distinct(
            list_transform(
                range(1, greatest(len(w) - 2, 1) + 1),
                i -> array_to_string(list_slice(w, i, i + 2), ' ')
            ))) AS s
        FROM docs
    )
),
sizes AS (SELECT src, COUNT(*) AS n_sh FROM sh GROUP BY src),
inter AS (
    SELECT a.src AS src_a, b.src AS src_b, COUNT(*) AS inter
    FROM sh a JOIN sh b ON a.s = b.s AND a.src < b.src
    GROUP BY 1, 2
)
SELECT src_a, src_b, inter,
       sa.n_sh + sb.n_sh - inter AS union_sh,
       ROUND(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.src = src_a
JOIN sizes sb ON sb.src = src_b
""",
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: exact 3-gram shingle-set
    Jaccard for every source pair — the corpus-composition diagnostic
    that catches mirror domains before they double-weight the training
    mix.  Join fan-out is bounded by sources-per-shingle², never
    docs²; output is the source×source triangle."""
    from opl_spark.operators.dedup import source_overlap

    docs = load_table(spark, sf_dir, "documents")
    return source_overlap(docs, "text", "source", n=3)


@register(
    "q_cube_topk",
    oracle="WITH fact AS ("
    + LOANS_FACT_SQL
    + """),
g AS (
    SELECT consortia_id, consortia_label, library_id,
           ROUND(CAST(SUM(value) AS DOUBLE), 2) AS value
    FROM fact GROUP BY 1, 2, 3
)
SELECT consortia_id, consortia_label, library_id, value
FROM g
QUALIFY row_number() OVER (
    PARTITION BY consortia_id
    ORDER BY value DESC, consortia_label, library_id
) <= 3
""",
)
def q_cube_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cube extension beyond the reference surface: top-3 libraries
    per consortium by loan value in one aggregate call (`top_n=3,
    top_within=consortia_id`).  The rank is a PARTITIONED row_number
    keyed by the group (each consortium ranks on its own executors);
    the global variant plans as TakeOrdered.  Exposed through
    OlapApi/HTTP as `top_n`/`top_within` params."""
    from opl_spark.facts import build_loans_fact

    engine = CubeEngine(default_catalog())
    engine.register_fact("loans2", build_loans_fact(spark, sf_dir))
    return engine.aggregate(
        "loans2",
        drilldown="organization_level:library_id",
        measure="value",
        top_n=3,
        top_within="consortia_id",
    )


@register(
    "q_date_spine",
    oracle="""
WITH ev AS (
    SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
           CAST(value AS DECIMAL(18,6)) AS v
    FROM events
),
b AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM ev),
spine AS (
    SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
    FROM b
),
daily AS (
    SELECT d, COUNT(*) AS n,
           ROUND(CAST(SUM(v) AS DOUBLE), 6) AS total
    FROM ev GROUP BY 1
)
SELECT spine.d, COALESCE(daily.n, 0) AS n,
       COALESCE(daily.total, 0.0) AS total
FROM spine LEFT JOIN daily ON spine.d = daily.d
""",
)
def q_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-free daily series: a generated date spine (sequence+explode
    over the single-row min/max bounds) left-joined to the daily
    totals, zeros filled — the resample/zero-fill pattern every
    time-series report needs.  The spine is days-sized; the daily agg
    is exact decimal; the join is a broadcast of the spine."""
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("d"),
        F.col("value").cast("decimal(18,6)").alias("v"),
    )
    daily = ev.groupBy("d").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("v").cast("double"), 6).alias("total"),
    )
    spine = (
        ev.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("d"))
    )
    return spine.join(daily, "d", "left").select(
        "d",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.coalesce("total", F.lit(0.0)).alias("total"),
    )


@register(
    "q_substring_dup",
    oracle=r"""
WITH docs AS (
    SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
    FROM documents
),
sp AS (
    SELECT doc_id AS doc, unnest(list_transform(
        range(1, greatest(len(w) - 9, 1) + 1),
        i -> array_to_string(list_slice(w, i, i + 9), ' ')
    )) AS s
    FROM docs
),
freq AS (SELECT s, COUNT(*) AS f FROM sp GROUP BY 1)
SELECT doc,
       COUNT(*) AS n_spans,
       CAST(SUM(CASE WHEN f >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       ROUND(CAST(SUM(CASE WHEN f >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS dup_frac
FROM sp JOIN freq ON sp.s = freq.s
GROUP BY doc
""",
)
def q_substring_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-duplication profile (Lee et al. 2021,
    arXiv:2107.06499): per doc, the fraction of positional 10-gram
    spans occurring >=2 times corpus-wide — the signal behind
    exact-substring dedup/trimming.  Linear in corpus spans (8-byte
    hash shuffle + combinable count), no pair join."""
    from opl_spark.operators.dedup import span_duplication_profile

    docs = load_table(spark, sf_dir, "documents")
    return span_duplication_profile(docs, "text", "doc_id", n=10)


@register(
    "q_event_transitions",
    oracle="""
WITH e AS (
    SELECT user_id, event_type,
           epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
    FROM events
),
seq AS (
    SELECT user_id, event_type AS next_type,
           lag(event_type) OVER (
               PARTITION BY user_id ORDER BY us, event_id
           ) AS prev_type
    FROM e
)
SELECT prev_type, next_type, COUNT(*) AS n
FROM seq WHERE prev_type IS NOT NULL
GROUP BY 1, 2
""",
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix (the Markov view of
    user journeys funnels summarize): lag over a PER-USER window (each
    user's history sorts on its own partition — no global sort), then
    one combinable count per (prev, next) cell.  Output is
    event-types²-sized."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    seq = ev.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    )
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q_correlation",
    oracle="""
WITH ev AS (
    SELECT event_type AS grp,
           CAST(round(value * 100) AS BIGINT) AS x,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS y
    FROM events
),
st AS (
    SELECT grp,
           CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(SUM(x) AS HUGEINT) AS sx,
           CAST(SUM(y) AS HUGEINT) AS sy,
           SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
           SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
           SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
    FROM ev GROUP BY 1
)
SELECT grp, CAST(n AS BIGINT) AS n,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS corr
FROM st
""",
)
def q_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Pearson correlation between event value and the JSON
    k property — in EXACT arithmetic: all five sums are decimal over
    2-decimal-scaled integers (order-independent), and the only float
    ops are the final division/sqrt over exact operands — bit-stable
    on any engine, any partitioning (the q_zscore_outliers
    discipline)."""
    big = "decimal(38,0)"
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("grp"),
        F.round(F.col("value") * 100).cast("long").cast(big).alias("x"),
        F.get_json_object("props", "$.k").cast("long").cast(big).alias("y"),
    )
    st = ev.groupBy("grp").agg(
        F.count(F.lit(1)).cast(big).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    # decimal(38,0) products overflow to NULL (non-ANSI) once n·x²
    # nears 10³⁸ — emitting corr=NULL would be a silent wrong answer,
    # so a NULL with non-NULL inputs raises (rescale the fixed-point
    # factor to fit the domain); the zscore_outliers discipline
    corr = F.round(num / den, 6)
    # NULL corr while every input sum is non-NULL can only mean a
    # decimal product overflowed (zero variance yields NaN, not NULL,
    # because double division by zero is IEEE here)
    sums_ok = (
        F.col("sx").isNotNull() & F.col("sy").isNotNull()
        & F.col("sxy").isNotNull() & F.col("sxx").isNotNull()
        & F.col("syy").isNotNull()
    )
    corr = F.when(
        corr.isNull() & sums_ok,
        F.raise_error(
            "pearson_corr: decimal(38,0) overflow — lower the value scale"
        ).cast("double"),
    ).otherwise(corr)
    return st.select(
        "grp",
        F.col("n").cast("long").alias("n"),
        corr.alias("corr"),
    )


@register(
    "q_asof_forward",
    oracle=_EVENTS_US_CTE
    + """
SELECT s.signup_id, s.user_id, s.signup_us, p.purchase_id, p.purchase_us
FROM s ASOF JOIN p
  ON s.user_id = p.user_id AND p.purchase_us >= s.signup_us
""",
)
def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: each signup matched to the user's FIRST
    purchase at-or-after it (time-to-convert attribution) — the same
    one-shuffle running-last window as the backward direction, ordered
    in reverse; oracle is DuckDB's native forward ASOF."""
    from opl_spark.operators.temporal import asof_join

    s = _typed_events(spark, sf_dir, "signup", "signup")
    p = _typed_events(spark, sf_dir, "purchase", "purchase")
    return asof_join(s, p, ["user_id"], "signup_us", "purchase_us", direction="forward")


@register(
    "q_cube_having",
    oracle="WITH fact AS ("
    + LOANS_FACT_SQL
    + """)
SELECT consortia_id, consortia_label,
       ROUND(CAST(SUM(value) AS DOUBLE), 2) AS value
FROM fact
GROUP BY 1, 2
HAVING ROUND(CAST(SUM(value) AS DOUBLE), 2) >= 750000000
""",
)
def q_cube_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cube `having` extension: post-aggregation measure filter
    (strict `col op number` grammar — parsed, never eval'd, so the
    HTTP surface can expose it safely).  Catalyst keeps the filter
    above the aggregate; the group-column predicates stay in the cut
    where they prune partitions."""
    from opl_spark.facts import build_loans_fact

    engine = CubeEngine(default_catalog())
    engine.register_fact("loans2", build_loans_fact(spark, sf_dir))
    return engine.aggregate(
        "loans2",
        drilldown="organization_level:consortia_label",
        measure="value",
        having="value>=750000000",
    )


@register(
    "q_temperature_mix",
    oracle="""
WITH counts AS (
    SELECT lang AS g, COUNT(*) AS n FROM documents GROUP BY 1
),
top AS (SELECT MAX(n) AS n_max FROM counts),
w AS (
    SELECT g, n,
           ROUND(pow(CAST(n_max AS DOUBLE) / n, 0.5), 6) AS weight
    FROM counts CROSS JOIN top
),
c AS (
    SELECT d.doc_id, d.lang,
           CAST(FLOOR(w.weight) AS BIGINT)
           + CASE WHEN d.doc_id % 100 <
                       CAST(ROUND((w.weight - FLOOR(w.weight)) * 100) AS BIGINT)
                  THEN 1 ELSE 0 END AS copies
    FROM documents d JOIN w ON d.lang = w.g
)
SELECT doc_id, lang, CAST(epoch AS BIGINT) AS epoch
FROM c, unnest(generate_series(1, copies)) AS t(epoch)
WHERE copies >= 1
""",
)
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature rebalancing at alpha=0.5 over the (skewed)
    language axis: minority languages upsample toward parity via
    (n_max/n)^0.5 copy factors, materialized with the deterministic
    epoch explode — the multilingual-LM mixing recipe with fully
    reproducible output."""
    from opl_spark.operators.sampling import temperature_mix

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return temperature_mix(docs, "lang", "doc_id", alpha=0.5)


@register(
    "q_histogram",
    oracle="""
SELECT event_type,
       CAST(FLOOR(value / 5.0) AS BIGINT) * 5 AS bin_lo,
       COUNT(*) AS n
FROM events
GROUP BY 1, 2
""",
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event type (bin width 5) — one
    combinable aggregate over a pure bin expression; output is
    types × bins, never events."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type",
        (F.floor(F.col("value") / 5.0).cast("long") * 5).alias("bin_lo"),
    ).agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# Round-3 second block: warehouse temporal analytics (rolling actives,
# new-vs-returning, SCD2 history, snapshot CDC diff).
# ---------------------------------------------------------------------------


@register(
    "q_rolling_active",
    oracle="""
WITH ud AS (
    SELECT DISTINCT user_id AS u,
           CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
    FROM events
),
days AS (SELECT DISTINCT d FROM ud)
SELECT days.d AS day, COUNT(DISTINCT ud.u) AS n_users
FROM days JOIN ud ON ud.d BETWEEN days.d - 6 AND days.d
GROUP BY 1
""",
)
def q_rolling_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling distinct active users per observed day (the WAU
    curve).  Sliding COUNT(DISTINCT) has no window-function form, so
    the scale shape is dedupe-to-(user,day) -> bounded explode of the 7
    covered days -> dedupe -> count: cost is 7x the user-day table,
    never a per-day pass over the event stream."""
    from opl_spark.operators.analytics import rolling_active

    return rolling_active(load_table(spark, sf_dir, "events"), "user_id", "ts", 7)


@register(
    "q_new_returning",
    oracle="""
WITH ud AS (
    SELECT DISTINCT user_id AS u,
           CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
    FROM events
),
f AS (SELECT u, MIN(day) AS first_day FROM ud GROUP BY 1)
SELECT ud.day,
       CAST(SUM(CASE WHEN ud.day = f.first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       CAST(SUM(CASE WHEN ud.day > f.first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_returning
FROM ud JOIN f ON ud.u = f.u
GROUP BY 1
""",
)
def q_new_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day new-vs-returning user split: first-seen is a user-sized
    groupBy-min joined back on the user key; both aggregations are
    map-side combinable and nothing event-sized survives the first
    dedupe."""
    from opl_spark.operators.analytics import new_vs_returning

    return new_vs_returning(load_table(spark, sf_dir, "events"), "user_id", "ts")


@register(
    "q_scd2",
    oracle="""
SELECT o_custkey, o_orderkey, o_orderstatus,
       o_orderdate AS valid_from,
       COALESCE(LEAD(o_orderdate) OVER w, TIMESTAMP '2200-01-01')
           AS valid_to,
       (LEAD(o_orderdate) OVER w IS NULL) AS is_current
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 intervals over the order log:
    each customer's orders chain into [valid_from, valid_to) validity
    ranges via one lead window PARTITIONED BY customer (parallelism =
    keys, no global sort), ordered (date, orderkey) so same-day orders
    chain deterministically.  Open rows close at a 2200-01-01 sentinel
    (no NULL crosses the compare; is_current still flags the open
    row).  NOT the Kimball 9999-12-31: the driver's compare path runs
    oracle results through pandas, whose ns-resolution timestamps max
    out at 2262-04-11 — 9999-12-31 raised OutOfBoundsDatetime and was
    the sole r4 driver red."""
    from opl_spark.operators.analytics import scd2_intervals

    orders = load_table(spark, sf_dir, "orders")
    return scd2_intervals(
        orders, "o_custkey", "o_orderdate", ["o_orderstatus"], "o_orderkey",
        open_end="2200-01-01",
    )


@register(
    "q_snapshot_diff",
    oracle="""
WITH o1 AS (
    SELECT o_custkey AS k, o_orderstatus, o_totalprice,
           ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
    FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
),
s1 AS (SELECT k, o_orderstatus AS st, o_totalprice AS tp FROM o1 WHERE rn = 1),
o2 AS (
    SELECT o_custkey AS k, o_orderstatus, o_totalprice,
           ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
    FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
),
s2 AS (SELECT k, o_orderstatus AS st, o_totalprice AS tp FROM o2 WHERE rn = 1)
SELECT COALESCE(s1.k, s2.k) AS o_custkey,
       CASE WHEN s1.k IS NULL THEN 'added'
            WHEN s2.k IS NULL THEN 'removed'
            WHEN s1.st IS NOT DISTINCT FROM s2.st
                 AND s1.tp IS NOT DISTINCT FROM s2.tp THEN 'unchanged'
            ELSE 'changed' END AS kind,
       COALESCE(s1.st, '') AS old_o_orderstatus,
       COALESCE(s1.tp, 0.0) AS old_o_totalprice,
       COALESCE(s2.st, '') AS new_o_orderstatus,
       COALESCE(s2.tp, 0.0) AS new_o_totalprice
FROM s1 FULL OUTER JOIN s2 ON s1.k = s2.k
""",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC validation diff: each customer's latest order state as-of
    1997-01-01 vs as-of 1998-01-01, classified added / changed /
    unchanged.  Snapshots are key-partitioned row_number windows over
    the date-filtered log (filter pushed to the scan); the diff is ONE
    co-partitioned full outer join with a codegen'd null-safe
    comparison — the incremental-load-vs-full-recompute check run
    customer-sized, never order-sized.  The absent side of added /
    removed rows emits ''/0.0 instead of NULL (the kind column already
    says which side is absent; no NULL crosses the compare)."""
    from pyspark.sql import Window

    from opl_spark.operators.analytics import snapshot_diff

    orders = load_table(spark, sf_dir, "orders")

    def snap(cutoff: str) -> DataFrame:
        w = Window.partitionBy("o_custkey").orderBy(
            F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
        )
        return (
            orders.filter(F.col("o_orderdate") < F.lit(cutoff).cast("timestamp"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("o_custkey", "o_orderstatus", "o_totalprice")
        )

    diff = snapshot_diff(
        snap("1997-01-01"),
        snap("1998-01-01"),
        "o_custkey",
        ["o_orderstatus", "o_totalprice"],
    )
    return diff.select(
        "o_custkey",
        "kind",
        F.coalesce("old_o_orderstatus", F.lit("")).alias("old_o_orderstatus"),
        F.coalesce("old_o_totalprice", F.lit(0.0)).alias("old_o_totalprice"),
        F.coalesce("new_o_orderstatus", F.lit("")).alias("new_o_orderstatus"),
        F.coalesce("new_o_totalprice", F.lit(0.0)).alias("new_o_totalprice"),
    )


@register(
    "q_phrase_search",
    oracle=r"""
WITH docs AS (
    SELECT doc_id AS doc,
           regexp_split_to_array(lower(trim(text)), '\s+') AS w
    FROM documents
)
SELECT doc,
       len(list_filter(range(1, len(w)),
                       i -> w[i] = 'value' AND w[i+1] = 'fast')) AS n_hits
FROM docs
WHERE len(list_filter(range(1, len(w)),
                      i -> w[i] = 'value' AND w[i+1] = 'fast')) > 0
""",
)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search ("value fast") via positional-postings
    intersection: postings filter to the phrase's terms BEFORE any
    shuffle (partition pruning on a term-bucketed postings store), one
    doc-keyed aggregation builds per-term position arrays, and the
    adjacency check is an array HOF — no per-term self-joins, no
    O(words²) scans."""
    from opl_spark.operators.text import phrase_search

    docs = load_table(spark, sf_dir, "documents")
    return phrase_search(docs, "text", "doc_id", "value fast")


@register(
    "q_pmi",
    oracle=r"""
WITH docs AS (
    SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS w
    FROM documents
),
bg AS (
    SELECT unnest(list_transform(
        range(2, len(w) + 1),
        i -> struct_pack(a := w[i-1], b := w[i]))) AS p
    FROM docs WHERE len(w) >= 2
),
cab AS (SELECT p.a AS a, p.b AS b, COUNT(*) AS c_ab FROM bg GROUP BY 1, 2),
cl AS (SELECT a, SUM(c_ab) AS c_a FROM cab GROUP BY 1),
cr AS (SELECT b, SUM(c_ab) AS c_b FROM cab GROUP BY 1),
n AS (SELECT SUM(c_ab) AS nb FROM cab)
SELECT cab.a, cab.b, cab.c_ab,
       ROUND(ln(CAST(c_ab AS DOUBLE) * CAST(nb AS DOUBLE)
                / (CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE))), 6) AS pmi
FROM cab
JOIN cl ON cab.a = cl.a
JOIN cr ON cab.b = cr.b
CROSS JOIN n
WHERE c_ab >= 5
ORDER BY pmi DESC, cab.a, cab.b
LIMIT 30
""",
)
def q_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 adjacent-word collocations by pointwise mutual
    information (exact integer counts; the one log rounds to 6).
    Three combinable aggregations over one exploded bigram stream,
    vocabulary-sized marginals hash-joined back, TakeOrdered top-k
    with a deterministic (pmi, pair) tie-break."""
    from opl_spark.operators.text import pmi_bigrams

    docs = load_table(spark, sf_dir, "documents")
    return pmi_bigrams(docs, "text", "doc_id", min_count=5, k=30)


@register(
    "q_gopher_rules",
    oracle=r"""
WITH docs AS (
    SELECT doc_id AS doc,
           regexp_split_to_array(lower(trim(text)), '\s+') AS w
    FROM documents
),
m AS (
    SELECT doc, len(w) AS n_words,
           ROUND(CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
                 / len(w), 6) AS mean_word_len,
           ROUND(CAST(len(list_filter(
                     w, x -> list_contains(['the','a','and','of','to'], x)))
                 AS DOUBLE) / len(w), 6) AS stop_frac
    FROM docs
),
t AS (
    SELECT doc, tok, COUNT(*) AS c
    FROM (SELECT doc, unnest(w) AS tok FROM docs)
    GROUP BY 1, 2
),
tf AS (
    SELECT t.doc,
           ROUND(CAST(MAX(c) AS DOUBLE) / MAX(m.n_words), 6) AS top_frac
    FROM t JOIN m ON t.doc = m.doc GROUP BY 1
)
SELECT m.doc, m.n_words, m.mean_word_len, m.stop_frac, tf.top_frac,
       (m.n_words BETWEEN 10 AND 1000
        AND m.mean_word_len BETWEEN 2.0 AND 10.0
        AND m.stop_frac <= 0.5
        AND tf.top_frac <= 0.3) AS passes
FROM m JOIN tf ON m.doc = tf.doc
""",
)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document-shape quality rules: word-count bounds,
    mean-word-length bounds, stopword-fraction cap, most-frequent-word
    concentration cap, plus the combined pass verdict.  Everything but
    the concentration is map-only HOFs; that one is a single doc-keyed
    combinable aggregate."""
    from opl_spark.operators.text import gopher_rules

    docs = load_table(spark, sf_dir, "documents")
    return gopher_rules(docs, "text", "doc_id")


@register(
    "q_quality_calibrate",
    oracle="""
SELECT doc_id, source,
       ROUND(PERCENT_RANK() OVER (
           PARTITION BY source ORDER BY length(text), doc_id), 6) AS pct
FROM documents
""",
)
def q_quality_calibrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-score calibration: percent_rank of document
    length WITHIN each source, so scores are comparable across sources
    with different length regimes before a global percentile filter
    mixes them.  One window partitioned by source (parallelism =
    sources × AQE splits; no global sort), deterministic (score,
    doc_id) ordering."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.length("text"), "doc_id")
    return docs.select(
        "doc_id",
        "source",
        F.round(F.percent_rank().over(w), 6).alias("pct"),
    )


@register(
    "q_salted_join",
    oracle="""
SELECT s_nationkey,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
           AS revenue,
       COUNT(*) AS n
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY 1
""",
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key join via salting: the supplier dimension replicates
    over 8 salt buckets and each lineitem hashes to one, so a supplier
    holding half the stream spreads across 8 reducers.  Salting is
    transparent for inner equi-joins (each probe row meets each match
    exactly once), so the oracle is the plain join — decimal-exact
    revenue sums."""
    from opl_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", F.col("l_extendedprice").cast("decimal(18,2)").alias("price")
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    joined = salted_join(
        li, supp, [("l_suppkey", "s_suppkey")], salt_buckets=8,
        salt_from=F.col("l_orderkey"),
    )
    return joined.groupBy("s_nationkey").agg(
        F.round(F.sum("price").cast("double"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


def _pca_power_oracle() -> str:
    """Unrolled-CTE DuckDB replay of the integer-exact matrix-squaring
    PCA (mirrors ``operators/similarity.py:pca_power_project``): the
    integer scatter matrix, ``iters`` squarings per component
    (effective power 2^iters — converges on the near-spherical
    testdata spectrum where plain power iteration would not), exact
    integer Hotelling deflation (HUGEINT intermediates, BIGINT on the
    wire), sign canonicalization, and the floor-division projection.
    DuckDB ``//`` truncates while the operator floors, so every signed
    division goes through an explicit floor-division CASE."""
    k, iters, dim = 2, 12, 64

    def fd(a: str, b: str) -> str:
        # floor division for a possibly-negative numerator, positive b
        return (
            f"(CASE WHEN ({a}) % ({b}) <> 0 AND ({a}) < 0 "
            f"THEN ({a}) // ({b}) - 1 ELSE ({a}) // ({b}) END)"
        )

    parts = [f"""
WITH pool AS MATERIALIZED (
    SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
wq AS MATERIALIZED (
    SELECT id, list_transform(v, x -> floor(x * 1000 + 0.5)) AS w FROM pool),
nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM wq),
idx AS MATERIALIZED (SELECT CAST(unnest(range(1, {dim + 1})) AS BIGINT) AS i),
sx AS MATERIALIZED (
    SELECT i.i, CAST(SUM(w[i.i]) AS BIGINT) AS s
    FROM wq CROSS JOIN idx i GROUP BY i.i),
gm AS MATERIALIZED (
    SELECT a.i AS i, b.i AS j, CAST(SUM(w[a.i] * w[b.i]) AS BIGINT) AS g
    FROM wq CROSS JOIN idx a CROSS JOIN idx b GROUP BY a.i, b.i),
mat1r AS MATERIALIZED (
    SELECT g.i, g.j,
           CAST((SELECT n FROM nn) * g.g - si.s * sj.s AS BIGINT) AS val
    FROM gm g JOIN sx si ON si.i = g.i JOIN sx sj ON sj.i = g.j)"""]
    for c in range(1, k + 1):
        # rescale the (deflated) scatter to ≤1e6 entries
        parts.append(f""",
scale{c} AS MATERIALIZED (
    SELECT GREATEST(1, (MAX(ABS(val)) + 999999) // 1000000) AS d FROM mat{c}r),
m{c}_0 AS MATERIALIZED (
    SELECT i, j, CAST({fd('val', f'(SELECT d FROM scale{c})')} AS BIGINT) AS val
    FROM mat{c}r)""")
        for t in range(1, iters + 1):
            parts.append(f""",
p{c}_{t} AS MATERIALIZED (
    SELECT a.i, b.j, CAST(SUM(a.val * b.val) AS BIGINT) AS val
    FROM m{c}_{t - 1} a JOIN m{c}_{t - 1} b ON a.j = b.i GROUP BY a.i, b.j),
r{c}_{t} AS MATERIALIZED (
    SELECT GREATEST(1, (MAX(ABS(val)) + 999999) // 1000000) AS d FROM p{c}_{t}),
m{c}_{t} AS MATERIALIZED (
    SELECT i, j, CAST({fd('val', f'(SELECT d FROM r{c}_{t})')} AS BIGINT) AS val
    FROM p{c}_{t})""")
        parts.append(f""",
jc{c} AS MATERIALIZED (
    SELECT i AS jj FROM m{c}_{iters} WHERE i = j ORDER BY val DESC, i LIMIT 1),
yv{c} AS MATERIALIZED (
    SELECT i, val AS y FROM m{c}_{iters} WHERE j = (SELECT jj FROM jc{c})),
sy{c} AS MATERIALIZED (
    SELECT GREATEST(1, (MAX(ABS(y)) + 999999) // 1000000) AS dy FROM yv{c}),
zv{c} AS MATERIALIZED (
    SELECT i, {fd('y', f'(SELECT dy FROM sy{c})')} AS z FROM yv{c}),
qn{c} AS MATERIALIZED (SELECT CAST(SUM(z * z) AS BIGINT) AS n2 FROM zv{c}),
vf{c} AS MATERIALIZED (
    SELECT i, CASE WHEN (SELECT n2 FROM qn{c}) = 0 THEN CAST(0 AS BIGINT)
                   ELSE CAST(floor(z * 1000000.0
                                   / sqrt((SELECT n2 FROM qn{c})) + 0.5)
                             AS BIGINT) END AS val
    FROM zv{c}),
sg{c} AS MATERIALIZED (
    SELECT CASE WHEN (SELECT val FROM vf{c}
                      ORDER BY ABS(val) DESC, i LIMIT 1) < 0
                THEN -1 ELSE 1 END AS s),
u{c} AS MATERIALIZED (
    SELECT i, val * (SELECT s FROM sg{c}) AS val FROM vf{c})""")
        if c < k:
            parts.append(f""",
vv{c} AS MATERIALIZED (SELECT CAST(SUM(val * val) AS BIGINT) AS vv FROM u{c}),
vv2_{c} AS MATERIALIZED (
    SELECT CAST((SELECT vv FROM vv{c}) AS HUGEINT) * (SELECT vv FROM vv{c}) AS vv2),
ray{c} AS MATERIALIZED (
    SELECT SUM(CAST(m.val AS HUGEINT) * vi.val * vj.val) AS ray
    FROM m{c}_0 m JOIN u{c} vi ON vi.i = m.i JOIN u{c} vj ON vj.i = m.j),
mat{c + 1}r AS MATERIALIZED (
    SELECT m.i, m.j,
           CAST({fd(
               f"CAST(m.val AS HUGEINT) * (SELECT vv2 FROM vv2_{c})"
               f" - (SELECT ray FROM ray{c}) * vi.val * vj.val",
               f"(SELECT vv2 FROM vv2_{c})")} AS BIGINT) AS val
    FROM m{c}_0 m JOIN u{c} vi ON vi.i = m.i JOIN u{c} vj ON vj.i = m.j)""")
    proj_cols = []
    for c in range(1, k + 1):
        parts.append(f""",
vl{c} AS MATERIALIZED (SELECT list(CAST(val AS DOUBLE) ORDER BY i) AS l FROM u{c}),
cx{c} AS MATERIALIZED (
    SELECT CAST(SUM(s.s * u.val) AS BIGINT) AS c
    FROM sx s JOIN u{c} u ON u.i = s.i)""")
        num = (
            f"(SELECT n FROM nn) * CAST(list_dot_product(w.w, "
            f"(SELECT l FROM vl{c})) AS BIGINT) - (SELECT c FROM cx{c})"
        )
        proj_cols.append(f"{fd(num, '(SELECT n FROM nn)')} AS pc{c}_q")
    parts.append("\nSELECT w.id, " + ", ".join(proj_cols) + "\nFROM wq w\n")
    return "".join(parts)


@register("q_pca_project", oracle=_pca_power_oracle())
def q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 PCA projection of the embedding corpus by integer-exact
    matrix squaring: one Arrow-batched integer Gram-partial pass
    (driver state = batches × d² ints — metadata-sized), 12 integer
    matrix squarings per component (effective power 4096 — converges
    on the near-spherical spectrum) with exact integer Hotelling
    deflation, then a map-only projection pass.  Integer-exact
    end-to-end, so the unrolled-CTE oracle replays it hash-exact (was
    rows-only while the eigh-based pca_project was registered —
    eigendecomposition itself is not cross-engine-reproducible);
    tests pin agreement with the float eigensolver up to sign."""
    from opl_spark.operators.similarity import pca_power_project

    emb = load_table(spark, sf_dir, "embeddings")
    return pca_power_project(emb, "embedding", "vec_id", k=2)


@register(
    "q_kfold",
    oracle="""
SELECT CAST(((doc_id * 2654435761 + 7) % 4294967296) % 5 AS BIGINT) AS fold,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars
FROM documents
GROUP BY 1
""",
)
def q_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold cross-validation assignment from the
    Knuth multiplicative id hash (same id -> same fold on every run
    and engine; zero sampling state), with per-fold doc/char
    bookkeeping — one map-only expression + one combinable
    aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    fold = F.pmod(
        F.pmod(F.col("doc_id") * F.lit(2654435761) + F.lit(7), F.lit(1 << 32)),
        F.lit(5),
    ).alias("fold")
    return docs.groupBy(fold).agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("n_chars")
    )


@register(
    "q_weighted_sample",
    oracle="""
SELECT doc_id, n_chars,
       ROUND(ln((((doc_id * 2654435761 + 11) % 4294967296) + 0.5)
                / 4294967296.0) / n_chars, 6) + 0.0 AS skey
FROM documents
ORDER BY skey DESC, doc_id
LIMIT 50
""",
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis
    A-ES: top-k by ln(u)/w with u a deterministic id-hash uniform) —
    the one-pass reproducible alternative to sequential weighted
    draws.  Map-only key expression + TakeOrdered top-k; no global
    sort, no sampling state, rerunnable to the same sample
    anywhere.

    The ``+ 0.0`` on both emissions canonicalizes IEEE signed zero
    (−0.0 + 0.0 = +0.0; every other value is untouched): ln(u)/w is a
    tiny NEGATIVE for u near 1, and a doc whose key rounds to zero at
    6 decimals emerges as −0.0 in DuckDB but +0.0 in Spark — equal
    values, different reprs, a value-hash mismatch.  No such doc
    exists at the sf0.01 gate; the full-registry sf1 sweep (r13,
    CORRECTNESS_SF1.json) surfaced one."""
    docs = load_table(spark, sf_dir, "documents")
    u = (
        F.pmod(F.col("doc_id") * F.lit(2654435761) + F.lit(11), F.lit(1 << 32))
        + F.lit(0.5)
    ) / F.lit(float(1 << 32))
    skey = F.round(F.log(u) / F.col("n_chars"), 6) + F.lit(0.0)
    return (
        docs.select("doc_id", "n_chars", skey.alias("skey"))
        .orderBy(F.col("skey").desc(), "doc_id")
        .limit(50)
    )


@register(
    "q_regional_revenue",
    oracle="""
SELECT n_name,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(100 - CAST(round(l_discount * 100) AS BIGINT)
                             AS DECIMAL(18,0))) AS DOUBLE) / 100, 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY 1
""",
)
def q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped star join: per-nation revenue for one region
    with the local-supplier constraint, declared as plain DataFrame
    joins so Catalyst broadcasts every dimension side (region, nation,
    supplier, customer) and only the orders⋈lineitem join shuffles —
    plan-asserted in tests/test_scale_plan.py.  Discounts scale to
    exact integer hundredths so the decimal revenue sum is
    order-independent."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    disc = (
        F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    ).cast("decimal(18,0)")
    joined = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
    )
    rev = F.sum(F.col("l_extendedprice").cast("decimal(18,2)") * disc)
    return joined.groupBy("n_name").agg(
        F.round(rev.cast("double") / 100, 2).alias("revenue")
    )


@register(
    "q_top_unshipped",
    oracle="""
SELECT l_orderkey,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(100 - CAST(round(l_discount * 100) AS BIGINT)
                             AS DECIMAL(18,0))) AS DOUBLE) / 100, 2) AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
)
def q_top_unshipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped shipping-priority query: top-10 unshipped
    BUILDING-segment orders by outstanding revenue.  Both date filters
    and the segment filter push to the parquet scans; the customer
    side broadcasts; the top-10 is TakeOrdered with (revenue,
    orderkey) tie-break — never a global sort."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    cutoff = F.lit("1998-01-01").cast("timestamp")
    disc = (
        F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    ).cast("decimal(18,0)")
    joined = (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders.filter(F.col("o_orderdate") < cutoff),
              F.col("c_custkey") == F.col("o_custkey"))
        .join(li.filter(F.col("l_shipdate") > cutoff),
              F.col("l_orderkey") == F.col("o_orderkey"))
    )
    rev = F.sum(F.col("l_extendedprice").cast("decimal(18,2)") * disc)
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(rev.cast("double") / 100, 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


#: shared fuzzy-linkage pair CTE: SymSpell deletion-key CANDIDATES
#: (complete for distance ≤ 1: a substitution at i collides on the
#: delete-at-i key, an insert/delete on identity-vs-delete) verified
#: by an actual ``levenshtein`` call per candidate — the verify stays
#: independent of the operator's positional shortcut while the
#: candidate space is bucket-bounded, so the replay scales the way the
#: operator does (the old all-pairs ``v × v`` scan was quadratic in
#: distinct names and timed out at sf1 — the FORMULATION, not the
#: operator; see CORRECTNESS_SF1.json r13).
_FUZZY_P_CTE = """
v AS MATERIALIZED (SELECT DISTINCT c_name AS w FROM customer),
dk AS MATERIALIZED (
    SELECT w, w AS k FROM v
    UNION ALL
    SELECT w, substr(w, 1, CAST(t.i - 1 AS INTEGER))
              || substr(w, CAST(t.i + 1 AS INTEGER)) AS k
    FROM v, UNNEST(range(1, len(w) + 1)) AS t(i)
),
cand AS MATERIALIZED (
    SELECT DISTINCT a.w AS a, b.w AS b
    FROM dk a JOIN dk b ON a.k = b.k AND a.w < b.w
),
p AS MATERIALIZED (
    SELECT a, b FROM cand WHERE levenshtein(a, b) <= 1
)"""


@register(
    "q_fuzzy_pairs",
    oracle=f"""
WITH {_FUZZY_P_CTE}
SELECT a, b FROM p
""",
)
def q_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage: all customer-name pairs within edit
    distance 1, found via symmetric-delete blocking (each name emits
    its single-char deletions as join keys; distance-1 pairs provably
    collide) — candidate space is bucket-bounded instead of the
    oracle's quadratic scan, which is the whole point at 100 TB."""
    from opl_spark.operators.dedup import fuzzy_pairs

    cust = load_table(spark, sf_dir, "customer")
    return fuzzy_pairs(cust, "c_name")


@register(
    "q_exact_n_sample",
    oracle="""
SELECT doc_id, source
FROM (
    SELECT doc_id, source,
           ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY (doc_id * 2654435761 + 13) % 4294967296, doc_id
           ) AS rn
    FROM documents
)
WHERE rn <= 20
""",
)
def q_exact_n_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-N-per-group sample (20 docs per source), deterministic:
    rank by the Knuth id hash inside each source partition and keep
    the first 20.  The window partitions BY GROUP — parallelism =
    sources, state = one counter per task — and reruns reproduce the
    identical sample."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    h = F.pmod(F.col("doc_id") * F.lit(2654435761) + F.lit(13), F.lit(1 << 32))
    w = Window.partitionBy("source").orderBy(h, "doc_id")
    return (
        docs.select("doc_id", "source", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "source")
    )


@register(
    "q_profile",
    oracle="""
SELECT 'l_quantity' AS col, COUNT(*) AS n, COUNT(*) - COUNT(l_quantity) AS n_null,
       COUNT(DISTINCT l_quantity) AS n_distinct,
       ROUND(MIN(CAST(l_quantity AS DOUBLE)), 6) AS min_v,
       ROUND(MAX(CAST(l_quantity AS DOUBLE)), 6) AS max_v
FROM lineitem
UNION ALL
SELECT 'l_extendedprice', COUNT(*), COUNT(*) - COUNT(l_extendedprice),
       COUNT(DISTINCT l_extendedprice),
       ROUND(MIN(CAST(l_extendedprice AS DOUBLE)), 6),
       ROUND(MAX(CAST(l_extendedprice AS DOUBLE)), 6)
FROM lineitem
UNION ALL
SELECT 'l_discount', COUNT(*), COUNT(*) - COUNT(l_discount),
       COUNT(DISTINCT l_discount),
       ROUND(MIN(CAST(l_discount AS DOUBLE)), 6),
       ROUND(MAX(CAST(l_discount AS DOUBLE)), 6)
FROM lineitem
UNION ALL
SELECT 'l_tax', COUNT(*), COUNT(*) - COUNT(l_tax),
       COUNT(DISTINCT l_tax),
       ROUND(MIN(CAST(l_tax AS DOUBLE)), 6),
       ROUND(MAX(CAST(l_tax AS DOUBLE)), 6)
FROM lineitem
""",
)
def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling report card: per-column count / nulls / exact
    distinct / min / max for the lineitem measures, in ONE pass.  The
    columns unpivot to (col, value) rows first, so the exact distinct
    is one aggregate per group — no multi-distinct Expand
    multiplication — and the scan reads only the profiled columns
    (column pruning).  At 100 TB swap exact distinct for HLL++
    (approx_count_distinct) and keep the same melt shape."""
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    melted = li.select(
        *[F.col(c).cast("double").alias(c) for c in cols]
    ).unpivot([], cols, "col", "v")
    return melted.groupBy("col").agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.count("v")).alias("n_null"),
        F.count_distinct("v").alias("n_distinct"),
        F.round(F.min("v"), 6).alias("min_v"),
        F.round(F.max("v"), 6).alias("max_v"),
    )


@register(
    "q_mask_spans",
    oracle=r"""
WITH docs AS (
    SELECT doc_id AS doc,
           regexp_split_to_array(lower(trim(text)), '\s+') AS w
    FROM documents
),
sp AS (
    SELECT doc, t.s AS s, array_to_string(w[t.s:t.s+9], ' ') AS g
    FROM docs, UNNEST(range(1, greatest(len(w) - 9, 1) + 1)) AS t(s)
),
f AS (SELECT g, COUNT(*) AS c FROM sp GROUP BY 1),
st AS (
    SELECT doc, list(s) AS starts
    FROM sp JOIN f USING (g) WHERE c >= 2 GROUP BY 1
)
SELECT d.doc,
       COALESCE(array_to_string(
           list_transform(
               list_filter(range(1, len(w) + 1),
                   i -> len(list_filter(COALESCE(st.starts, []),
                                        s -> s <= i AND i < s + 10)) = 0),
               i -> w[i]),
           ' '), '') AS clean_text,
       len(w) AS n_words,
       len(w) - len(list_filter(range(1, len(w) + 1),
                    i -> len(list_filter(COALESCE(st.starts, []),
                                         s -> s <= i AND i < s + 10)) = 0))
           AS n_removed
FROM docs d LEFT JOIN st ON d.doc = st.doc
""",
)
def q_mask_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup, removal side (arXiv:2107.06499): words
    inside any corpus-repeated positional 10-gram span drop, the doc
    rebuilds from the survivors.  Spans shuffle as 8-byte hashes,
    duplicated starts come back as ONE collected array per doc, and
    the word mask is a map-side HOF — nothing word-sized shuffles
    twice."""
    from opl_spark.operators.dedup import mask_repeated_spans

    docs = load_table(spark, sf_dir, "documents")
    return mask_repeated_spans(docs, "text", "doc_id", n=10)


def _star_cc_oracle() -> str:
    """Entity-resolution replay at linkage-graph scale: the fuzzy pair
    set (``_FUZZY_P_CTE``) fed through ``rounds`` unrolled alternating
    large-star/small-star contractions (Kiveris et al. 2014 — the same
    O(log n)-round CC the Spark side runs in dedup_clusters), then
    a LOUD ``error()`` guard if the edge set is not a min-centered star
    set at the end (a silently-unconverged replay would hash-mismatch
    confusingly).  The old formulation's RECURSIVE ``reach`` built the
    full transitive closure — Σ component² rows, quadratic on the giant
    digit-substitution component, the sf1/sf0.3 timeout recorded in
    CORRECTNESS_SF1.json; per-round state here is one row per directed
    edge."""
    rounds = 10
    ctes = [f"e0 AS MATERIALIZED (SELECT a AS lo, b AS hi FROM p)"]
    for r in range(rounds):
        ctes.append(f"""
nb{r} AS MATERIALIZED (SELECT lo AS u, hi AS v FROM e{r}
                       UNION ALL SELECT hi, lo FROM e{r}),
m{r} AS MATERIALIZED (
    SELECT u, v, LEAST(MIN(v) OVER (PARTITION BY u), u) AS m FROM nb{r}),
lg{r} AS MATERIALIZED (SELECT v AS a, m AS b FROM m{r} WHERE v > u),
nl{r} AS MATERIALIZED (SELECT a AS u, b AS v FROM lg{r}
                       UNION ALL SELECT b, a FROM lg{r}),
ms{r} AS MATERIALIZED (
    SELECT u, v, LEAST(MIN(v) OVER (PARTITION BY u), u) AS m FROM nl{r}),
sm{r} AS MATERIALIZED (
    SELECT v AS a, m AS b FROM ms{r} WHERE v <= u
    UNION ALL
    SELECT u AS a, MIN(m) AS b FROM ms{r} GROUP BY u),
e{r + 1} AS MATERIALIZED (
    SELECT DISTINCT LEAST(a, b) AS lo, GREATEST(a, b) AS hi
    FROM sm{r} WHERE a <> b)""")
    return f"""
WITH {_FUZZY_P_CTE},
{",".join(ctes)},
fin AS MATERIALIZED (
    SELECT u, MIN(v) AS mv, COUNT(*) AS deg
    FROM (SELECT lo AS u, hi AS v FROM e{rounds}
          UNION ALL SELECT hi, lo FROM e{rounds})
    GROUP BY u),
guard AS (
    -- min-centered star set <=> every node is its own min or a leaf
    SELECT CASE WHEN COUNT(*) > 0
                THEN CAST(error('star CC not converged in {rounds} '
                                || 'rounds — raise the unroll bound')
                          AS INTEGER)
                ELSE 1 END AS ok
    FROM fin WHERE LEAST(mv, u) <> u AND deg > 1),
members AS (SELECT DISTINCT x FROM (
    SELECT a AS x FROM p UNION ALL SELECT b FROM p))
SELECT m.x AS name,
       COALESCE(LEAST(f.mv, f.u), m.x) AS canonical
FROM members m
LEFT JOIN fin f ON f.u = m.x
CROSS JOIN guard
"""


@register("q_entity_resolution", oracle=_star_cc_oracle())
def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end: symmetric-delete (SymSpell)
    linkage edges over customer names -> connected components ->
    lexicographic-min canonical name.  The digit-substitution linkage
    graph is one giant HIGH-DIAMETER component, which dedup_clusters'
    alternating large-star/small-star rounds (Kiveris et al. 2014)
    resolve in O(log n) rounds regardless of diameter.  The CC input
    is fuzzy_link_edges' star subset (O(bucket) edges, components
    provably identical to the full fuzzy_pairs graph), not the
    O(bucket²) pair list the oracle enumerates."""
    from opl_spark.operators.dedup import fuzzy_link_edges

    cust = load_table(spark, sf_dir, "customer")
    # connectivity-equivalent SymSpell star edges, NOT the full pair
    # list — components (and thus canonicals) are identical, but the
    # CC stage shuffles O(bucket) instead of O(bucket²) edges
    pairs = fuzzy_link_edges(cust, "c_name").select(
        F.col("a").alias("id_a"), F.col("b").alias("id_b")
    )
    comp = dedup_clusters(pairs)
    return comp.select(
        F.col("doc").alias("name"), F.col("keeper").alias("canonical")
    )


_AUDIO_FRAMES_CTE = """
WITH m AS MATERIALIZED (
    SELECT doc_id AS media_id, text, len(text) AS n FROM documents
),
fr AS MATERIALIZED (
    SELECT media_id, text, n,
           unnest(range(0, 1 + (greatest(n, 256) - 256) // 128)) AS frame
    FROM m
),
pos AS MATERIALIZED (
    SELECT media_id, frame, text, n,
           frame * 128 + unnest(range(1, 257)) AS p
    FROM fr
),
sq AS MATERIALIZED (
    SELECT media_id, frame,
           CAST(SUM(CASE WHEN p <= n
                THEN (ascii(substr(text, CAST(p AS INTEGER), 1)) - 128)
                     * (ascii(substr(text, CAST(p AS INTEGER), 1)) - 128)
                ELSE 0 END) AS BIGINT) AS k
    FROM pos GROUP BY 1, 2
),
-- energy = mean square = k/256; at 6 decimals that is the exact
-- quarter-integer (k·15625)/4 micro-units, so numpy's banker's
-- rounding (.round(6) → scale, rint-ties-to-even, unscale) emulates
-- in integers: rem 0/1 → down, 3 → up, 2 (an exact .5) → to even
re AS MATERIALIZED (
    SELECT media_id, frame,
           (k * 15625) // 4
           + CASE WHEN (k * 15625) % 4 > 2 THEN 1
                  WHEN (k * 15625) % 4 < 2 THEN 0
                  ELSE ((k * 15625) // 4) % 2 END AS e6
    FROM sq
)"""

_AUDIO_ENERGY_ORACLE = _AUDIO_FRAMES_CTE + """
SELECT media_id, CAST(frame AS INTEGER) AS frame,
       CAST(e6 AS DOUBLE) / 1000000.0 AS energy,
       (e6 < 1000000) AS is_silence
FROM re
"""


@register("q_audio_energy", oracle=_AUDIO_ENERGY_ORACLE)
def q_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Framed short-time audio energy over the opaque media payload
    (byte-level stand-in codec; real PCM decode is the documented
    integration point).  Framing fan-out happens inside the Arrow
    batch with numpy stride indexing — frame-granular rows out, zero
    per-frame Python.  Oracled (was rows-only): the stand-in samples
    are the UTF-8 bytes of ASCII text, so per-frame sums replay from
    ``ascii()`` and the exact dyadic energies — including numpy's
    banker's rounding — emulate in integer arithmetic;
    tests/test_operators.py still pins the energies against a local
    numpy reference."""
    from opl_spark.operators.multimodal import audio_frame_energy, with_media_column

    docs = load_table(spark, sf_dir, "documents")
    media = with_media_column(docs, "text", "doc_id")
    return audio_frame_energy(media)


@register(
    "q_peak_concurrency",
    oracle="""
WITH s AS (
    SELECT user_id AS u,
           CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
           MIN(ts) AS t0, MAX(ts) AS t1
    FROM events
    GROUP BY 1, 2
),
pts AS (
    SELECT day, t0 AS t, 1 AS delta FROM s
    UNION ALL
    SELECT day, t1, -1 FROM s
),
run AS (
    SELECT day,
           SUM(delta) OVER (
               PARTITION BY day ORDER BY t, delta DESC
               ROWS UNBOUNDED PRECEDING) AS c
    FROM pts
)
SELECT day, CAST(MAX(c) AS BIGINT) AS peak FROM run GROUP BY 1
""",
)
def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent user sessions per day (the Gantt-stacking
    maximum): each user's daily activity span becomes +1/-1 boundary
    events, a DAY-PARTITIONED running sum stacks them, and the peak is
    one more combinable aggregate.  EVERY span emits both boundaries —
    a zero-length (single-event) span opens and closes at the same
    instant, counted present exactly at that instant because +1 sorts
    before -1 at ties; leaving its -1 out would keep the user "open"
    for the rest of the day and inflate later peaks."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    spans = ev.groupBy(
        F.col("user_id").alias("u"), F.col("ts").cast("date").alias("day")
    ).agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
    pts = spans.select("day", F.col("t0").alias("t"), F.lit(1).alias("delta")).unionAll(
        spans.select("day", F.col("t1").alias("t"), F.lit(-1).alias("delta"))
    )
    w = (
        Window.partitionBy("day")
        .orderBy(F.col("t"), F.col("delta").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = pts.select("day", F.sum("delta").over(w).alias("c"))
    return run.groupBy("day").agg(F.max("c").alias("peak"))


@register(
    "q_cube_share",
    oracle="WITH fact AS ("
    + LOANS_FACT_SQL
    + """),
g AS (
    SELECT consortia_id, consortia_label,
           ROUND(CAST(SUM(value) AS DOUBLE), 2) AS value
    FROM fact GROUP BY 1, 2
)
SELECT consortia_id, consortia_label, value,
       ROUND(value / SUM(value) OVER (), 6) AS value_share
FROM g
""",
)
def q_cube_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cube extension: percent-of-total measure (`share=true`) — the
    re-aggregation the reference's Data Studio client performs
    client-side (A8, Codice.gs:134-137), computed server-side from the
    canonical rounded measures.  The total is a window over the
    REPORT-SIZED aggregate, never the fact stream; `share_within`
    gives percent-of-parent.  Exposed through OlapApi/HTTP."""
    from opl_spark.facts import build_loans_fact

    engine = CubeEngine(default_catalog())
    engine.register_fact("loans2", build_loans_fact(spark, sf_dir))
    return engine.aggregate(
        "loans2",
        drilldown="organization_level",
        measure="value",
        share=True,
    )


@register(
    "q_yoy_growth",
    oracle="""
WITH g AS (
    SELECT o_orderpriority AS prio,
           CAST(EXTRACT(year FROM CAST(o_orderdate AS TIMESTAMP)) AS BIGINT)
               AS year,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS revenue
    FROM orders GROUP BY 1, 2
)
SELECT prio, year, revenue,
       ROUND(revenue - lagr, 2) AS delta,
       ROUND((revenue - lagr) / lagr, 6) AS pct_change
FROM (
    SELECT prio, year, revenue, LAG(revenue) OVER w AS lagr
    FROM g
    WINDOW w AS (PARTITION BY prio ORDER BY year)
)
WHERE lagr IS NOT NULL
""",
)
def q_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year growth per order priority: exact decimal yearly
    revenue, then delta / percent change via a lag window PARTITIONED
    BY the group (report-sized input, parallelism = groups).  Each
    group's base year has no prior to grow from and is omitted (no
    NULL crosses the compare)."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    g = orders.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.year("o_orderdate").cast("long").alias("year"),
    ).agg(
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2
        ).alias("revenue")
    )
    w = Window.partitionBy("prio").orderBy("year")
    staged = g.withColumn("lagr", F.lag("revenue").over(w)).filter(
        F.col("lagr").isNotNull()
    )
    return staged.select(
        "prio",
        "year",
        "revenue",
        F.round(F.col("revenue") - F.col("lagr"), 2).alias("delta"),
        F.round((F.col("revenue") - F.col("lagr")) / F.col("lagr"), 6).alias(
            "pct_change"
        ),
    )


@register(
    "q_hll_rollup",
    oracle="""
SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
       COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
       COUNT(DISTINCT user_id) AS est_users
FROM events GROUP BY 1
""",
)
def q_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL via
    Spark built-ins): per-day user sketches buildable once and UNIONED
    upward to weekly distincts WITHOUT re-touching the event stream —
    the warehouse rollup pattern exact COUNT(DISTINCT) can't do
    (distinct isn't reassociative; sketches are).  Emits per-week
    estimated vs recount-free distinct actives.

    Oracle (r10 verdict task 6): a DataSketches HLL sketch stays in
    its LIST/SET coupon modes — exact retained hashes, exact
    estimates, exactness preserved by union — until the coupon budget
    (hundreds at the default lgK=12), so at the sf0.01 gate scale
    (≤150 distinct users) the weekly estimates equal exact
    COUNT(DISTINCT) and the DuckDB twin hash-matches.  The
    probabilistic dense-mode regime is bounded by the error-bound
    pytest (tests/test_operators.py) instead."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("week", "ts").cast("date").alias("week"),
        F.col("ts").cast("date").alias("day"),
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    weekly = daily.groupBy("week").agg(
        F.hll_union_agg("sk").alias("sk"), F.count(F.lit(1)).alias("n_days")
    )
    return weekly.select(
        "week",
        "n_days",
        F.hll_sketch_estimate("sk").cast("long").alias("est_users"),
    )


@register(
    "q_hopping_window",
    oracle="""
WITH ev AS (
    SELECT event_type, value,
           time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS b
    FROM events
),
e2 AS (
    SELECT event_type, value, b AS ws FROM ev
    UNION ALL
    SELECT event_type, value, b - INTERVAL '5 minutes' FROM ev
)
SELECT CAST(ws AS VARCHAR) AS window_start, event_type,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
           AS total_value
FROM e2 GROUP BY 1, 2
""",
)
def q_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window counts (10-minute windows sliding every 5):
    each event lands in exactly window/slide = 2 overlapping windows,
    generated MAP-SIDE by Spark's window(ts, win, slide) — bounded
    constant fan-out, no range self-join.  Same code path runs under
    readStream with a watermark."""
    from opl_spark.streaming.events import hopping_counts

    return hopping_counts(
        load_table(spark, sf_dir, "events"), "10 minutes", "5 minutes"
    )


@register(
    "q_data_checks",
    oracle="""
SELECT 'nonpositive_qty' AS rule,
       (SELECT COUNT(*) FROM lineitem) AS n_rows,
       (SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 0) AS n_violations
UNION ALL
SELECT 'negative_price', (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(*) FROM lineitem WHERE l_extendedprice < 0)
UNION ALL
SELECT 'high_discount', (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(*) FROM lineitem WHERE l_discount > 0.08)
UNION ALL
SELECT 'null_shipdate', (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(*) FROM lineitem WHERE l_shipdate IS NULL)
UNION ALL
SELECT 'fk_order', (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(*) FROM lineitem l
        WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS (
            SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
""",
)
def q_data_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract validation report (the dbt-test tier): four
    column rules reduced in ONE aggregate pass (conditional sums — no
    per-rule jobs) plus a referential-integrity orphan check as a
    LEFT ANTI join against the deduped parent keys.  Output is
    rule-sized, never row-level."""
    from opl_spark.operators.analytics import validate_contract

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return validate_contract(
        li,
        checks=[
            ("nonpositive_qty", F.col("l_quantity") <= 0),
            ("negative_price", F.col("l_extendedprice") < 0),
            ("high_discount", F.col("l_discount") > 0.08),
            ("null_shipdate", F.col("l_shipdate").isNull()),
        ],
        fk=[("fk_order", "l_orderkey", orders, "o_orderkey")],
    )


@register(
    "q_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
           AS sum_base_price,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(100 - CAST(round(l_discount * 100) AS BIGINT)
                             AS DECIMAL(18,0))) AS DOUBLE) / 100, 2)
           AS sum_disc_price,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(100 - CAST(round(l_discount * 100) AS BIGINT)
                             AS DECIMAL(18,0))
                      * CAST(100 + CAST(round(l_tax * 100) AS BIGINT)
                             AS DECIMAL(18,0))) AS DOUBLE) / 10000, 2)
           AS sum_charge,
       ROUND(CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE)
             / COUNT(*), 6) AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY 1, 2
""",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: the canonical scan-heavy
    single-pass aggregate (six measures, two grouping columns, a
    pushed-down date filter).  All money math in exact integer/decimal
    arithmetic — discounts and tax scale to hundredths so the
    disc_price/charge products stay order-independent; averages divide
    two exact numbers once at emission."""
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.round(F.col("l_quantity")).cast("long")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")).cast(
        "decimal(18,0)"
    )
    tax = (F.lit(100) + F.round(F.col("l_tax") * 100).cast("long")).cast(
        "decimal(18,0)"
    )
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).alias("sum_qty"),
            F.round(F.sum(price).cast("double"), 2).alias("sum_base_price"),
            F.round(F.sum(price * disc).cast("double") / 100, 2).alias(
                "sum_disc_price"
            ),
            F.round(F.sum(price * disc * tax).cast("double") / 10000, 2).alias(
                "sum_charge"
            ),
            F.round(
                F.sum(qty).cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q_triangles",
    oracle=f"""
WITH {_FUZZY_P_CTE},
nodes AS (SELECT COUNT(DISTINCT x) AS n FROM (
    SELECT a AS x FROM p UNION SELECT b FROM p)),
sym AS MATERIALIZED (SELECT a AS u, b AS v FROM p
                     UNION ALL SELECT b, a FROM p),
deg AS MATERIALIZED (SELECT u, COUNT(*) AS c FROM sym GROUP BY u),
-- degree-oriented edges (lower (deg, id) endpoint first): caps every
-- out-degree at O(sqrt(m)) so the wedge join can't blow up on a hub —
-- the same orientation the Spark side uses; the old ordered triple
-- join paid the unoriented sum-of-degree-squares
oriented AS MATERIALIZED (
    SELECT s.u, s.v
    FROM sym s JOIN deg du ON du.u = s.u JOIN deg dv ON dv.u = s.v
    WHERE du.c < dv.c OR (du.c = dv.c AND s.u < s.v)
),
wedges AS (
    SELECT o1.v AS a, o2.v AS b
    FROM oriented o1 JOIN oriented o2 ON o1.u = o2.u AND o1.v < o2.v
),
tri AS (
    SELECT COUNT(*) AS t
    FROM wedges w
    JOIN p e ON e.a = LEAST(w.a, w.b) AND e.b = GREATEST(w.a, w.b)
)
SELECT nodes.n AS n_nodes, (SELECT COUNT(*) FROM p) AS n_edges,
       tri.t AS n_triangles
FROM nodes, tri
""",
)
def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the fuzzy-name linkage graph via
    degree-oriented wedge joins (out-degree bounded by O(√m) — the
    hub-safe MapReduce formulation), against the oracle's direct
    ordered triple join."""
    from opl_spark.operators.dedup import fuzzy_pairs, triangle_count

    cust = load_table(spark, sf_dir, "customer")
    pairs = fuzzy_pairs(cust, "c_name").select(
        F.col("a").alias("id_a"), F.col("b").alias("id_b")
    )
    return triangle_count(pairs)


@register(
    "q_winsorized",
    oracle="""
WITH ev AS (
    SELECT event_type AS grp, CAST(round(value * 100) AS BIGINT) AS v
    FROM events
),
b AS (
    SELECT grp,
           quantile_cont(v, 0.05) AS lo,
           quantile_cont(v, 0.95) AS hi
    FROM ev GROUP BY 1
)
SELECT ev.grp, COUNT(*) AS n,
       ROUND(AVG(CASE WHEN ev.v < b.lo THEN b.lo
                      WHEN ev.v > b.hi THEN b.hi
                      ELSE ev.v END) / 100, 6) AS winsorized_mean,
       CAST(SUM(CASE WHEN ev.v < b.lo OR ev.v > b.hi THEN 1 ELSE 0 END)
           AS BIGINT) AS n_clipped
FROM ev JOIN b ON ev.grp = b.grp
GROUP BY 1
""",
)
def q_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (5%/95%-clipped) robust mean per event type: exact
    interpolated percentile boundaries over integer-scaled values
    (Spark `percentile` == DuckDB `quantile_cont` interpolation), one
    group-keyed join back, one combinable aggregate.  At 100 TB swap
    the exact percentile for the t-digest `percentile_approx` — same
    shape, documented rank error."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("grp"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    b = ev.groupBy("grp").agg(
        F.expr("percentile(v, 0.05)").alias("lo"),
        F.expr("percentile(v, 0.95)").alias("hi"),
    )
    clipped = (
        F.when(F.col("v") < F.col("lo"), F.col("lo"))
        .when(F.col("v") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("v"))
    )
    return (
        ev.join(b, "grp")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(clipped) / 100, 6).alias("winsorized_mean"),
            F.sum(
                ((F.col("v") < F.col("lo")) | (F.col("v") > F.col("hi"))).cast("long")
            ).alias("n_clipped"),
        )
    )


@register(
    "q_mode",
    oracle="""
SELECT grp, v AS mode_value, c AS n_occurrences
FROM (
    SELECT event_type AS grp, CAST(round(value * 10) AS BIGINT) AS v,
           COUNT(*) AS c,
           ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY COUNT(*) DESC, CAST(round(value * 10) AS BIGINT)
           ) AS rn
    FROM events GROUP BY 1, 2
)
WHERE rn = 1
""",
)
def q_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode (most frequent decile-bucketed
    value): count per (group, value) — map-side combinable — then a
    GROUP-PARTITIONED rank with an explicit (count desc, value) tie
    order, because both engines' built-in ``mode`` picks ties
    arbitrarily and arbitrary is not reproducible."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("grp"),
        F.round(F.col("value") * 10).cast("long").alias("v"),
    )
    counts = ev.groupBy("grp", "v").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("grp").orderBy(F.col("c").desc(), "v")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("grp", F.col("v").alias("mode_value"), F.col("c").alias("n_occurrences"))
    )


@register(
    "q_id_gaps",
    oracle="""
WITH b AS (
    SELECT o_orderkey // 1000 AS bucket,
           MIN(o_orderkey) AS lo, MAX(o_orderkey) AS hi,
           COUNT(DISTINCT o_orderkey) AS n
    FROM orders GROUP BY 1
)
SELECT bucket, lo, hi, n,
       (hi - lo + 1 - n) AS n_missing_inside,
       (lo - 1 - LAG(hi) OVER (ORDER BY bucket)) AS gap_before
FROM b
""",
)
def q_id_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-completeness audit over the order-key space: per
    1000-wide bucket, missing ids INSIDE the bucket come from exact
    (max-min+1-distinct) arithmetic — a combinable aggregate, no
    row-adjacent window over the fact stream — and gaps BETWEEN
    buckets from one lag over the bucket summary (bucket-sized, one
    task is fine).  The completeness check every ingestion pipeline
    runs after a backfill."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    b = orders.groupBy(
        (F.col("o_orderkey") / 1000).cast("long").alias("bucket")
    ).agg(
        F.min("o_orderkey").alias("lo"),
        F.max("o_orderkey").alias("hi"),
        F.count_distinct("o_orderkey").alias("n"),
    )
    w = Window.orderBy("bucket")
    return b.select(
        "bucket", "lo", "hi", "n",
        (F.col("hi") - F.col("lo") + 1 - F.col("n")).alias("n_missing_inside"),
        (F.col("lo") - 1 - F.lag("hi").over(w)).alias("gap_before"),
    )


@register(
    "q_attribution",
    oracle=_EVENTS_US_CTE
    + """,
v AS (
    SELECT event_id AS view_id, user_id, us AS view_us
    FROM e WHERE event_type = 'view'
)
SELECT p.purchase_id, p.user_id, v.view_id,
       (p.purchase_us - v.view_us) AS gap_us
FROM p ASOF JOIN v
  ON p.user_id = v.user_id AND v.view_us <= p.purchase_us
WHERE p.purchase_us - v.view_us <= CAST(3 AS BIGINT) * 86400 * 1000000
""",
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credits the user's LATEST
    preceding view within a 3-day lookback — one backward as-of join
    (single key shuffle + running-last window) and a map-side window
    filter on the gap."""
    from opl_spark.operators.temporal import asof_join

    p = _typed_events(spark, sf_dir, "purchase", "purchase")
    v = _typed_events(spark, sf_dir, "view", "view")
    out = asof_join(p, v, ["user_id"], "purchase_us", "view_us")
    return out.select(
        "purchase_id", "user_id", "view_id",
        (F.col("purchase_us") - F.col("view_us")).alias("gap_us"),
    ).filter(F.col("gap_us") <= 3 * 86400 * 1000000)


@register(
    "q_ks_drift",
    oracle="""
WITH ev AS (
    SELECT event_type AS grp,
           CAST(round(value * 100) AS BIGINT) AS v,
           CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-15'
                THEN 'a' ELSE 'b' END AS side
    FROM events
),
c AS (
    SELECT grp, v,
           SUM(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS na,
           SUM(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS nb
    FROM ev GROUP BY 1, 2
),
t AS (
    SELECT grp, SUM(na) AS ta, SUM(nb) AS tb FROM c GROUP BY 1
),
r AS (
    SELECT c.grp,
           SUM(na) OVER w AS ca, SUM(nb) OVER w AS cb, t.ta, t.tb
    FROM c JOIN t ON c.grp = t.grp
    WINDOW w AS (PARTITION BY c.grp ORDER BY v ROWS UNBOUNDED PRECEDING)
)
SELECT grp, CAST(MAX(ta) AS BIGINT) AS n_before, CAST(MAX(tb) AS BIGINT) AS n_after,
       ROUND(CAST(MAX(ABS(ca * tb - cb * ta)) AS DOUBLE)
             / (CAST(MAX(ta) AS DOUBLE) * MAX(tb)), 6) AS ks
FROM r GROUP BY 1
""",
)
def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: exact Kolmogorov-Smirnov distance
    per event type between the value distributions before/after a
    cutoff date.  The CDF difference is kept in EXACT integer
    cross-multiplied form (|ca·tb − cb·ta|) until one final division —
    no float CDFs to drift across engines; the only window partitions
    BY GROUP over the (group, distinct-value) table, value-sized not
    event-sized."""
    from pyspark.sql import Window

    cutoff = F.lit("2024-01-15").cast("timestamp")
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("grp"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
        F.when(F.col("ts") < cutoff, "a").otherwise("b").alias("side"),
    )
    c = ev.groupBy("grp", "v").agg(
        F.sum((F.col("side") == "a").cast("long")).alias("na"),
        F.sum((F.col("side") == "b").cast("long")).alias("nb"),
    )
    t = c.groupBy("grp").agg(F.sum("na").alias("ta"), F.sum("nb").alias("tb"))
    w = (
        Window.partitionBy("grp")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = c.join(t, "grp").select(
        "grp", "ta", "tb",
        F.sum("na").over(w).alias("ca"),
        F.sum("nb").over(w).alias("cb"),
    )
    return r.groupBy("grp").agg(
        F.max("ta").alias("n_before"),
        F.max("tb").alias("n_after"),
        F.round(
            F.max(F.abs(F.col("ca") * F.col("tb") - F.col("cb") * F.col("ta")))
            .cast("double")
            / (F.max("ta").cast("double") * F.max("tb")),
            6,
        ).alias("ks"),
    )


@register(
    "q_benford",
    oracle="""
WITH d AS (
    SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                            AS VARCHAR), 1, 1) AS BIGINT) AS digit
    FROM orders WHERE o_totalprice > 0
)
SELECT digit, COUNT(*) AS n,
       ROUND(CAST(COUNT(*) AS DOUBLE)
             / (SELECT COUNT(*) FROM d), 6) AS observed,
       ROUND(log10(1 + 1.0 / digit), 6) AS benford_expected
FROM d GROUP BY 1
""",
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford leading-digit audit of the money column (the classic
    fabricated-data screen): the digit comes from the INTEGER cents
    string — never float log10, whose sub-ulp differences at powers of
    ten could flip a digit bucket between engines.  Map-only digit
    expression + one combinable aggregate + a single-row total
    broadcast."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
    ).cast("long")
    d = orders.select(digit.alias("digit"))
    total = d.agg(F.count(F.lit(1)).alias("t"))
    return (
        d.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            F.round(F.col("n").cast("double") / F.col("t"), 6).alias("observed"),
            F.round(F.log10(1 + 1.0 / F.col("digit")), 6).alias("benford_expected"),
        )
    )


@register(
    "q_variant_extract",
    oracle="""
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       COUNT(*) - COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT))
           AS n_missing
FROM events
GROUP BY 1
""",
)
def q_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction through Spark 4's VARIANT type:
    ``parse_json`` once into the binary variant encoding, then typed
    ``try_variant_get`` paths — the modern schema-on-read shape that
    beats per-path JSON string re-parsing when several fields extract
    from one payload.  Missing paths surface as NULL (counted), never
    as errors."""
    ev = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            (F.count(F.lit(1)) - F.count("k")).alias("n_missing"),
        )
    )


#: unrolled-Viterbi position bound shared by the three unigram oracle
#: generators.  The base corpus caps words at 8 chars; scale
#: derivations (tools/make_sf1.py) append per-copy ``~c`` suffixes
#: (+2), so 12 gives the replay headroom without the sf1 refusal the
#: r13 sweep recorded (the wlen guard still fails LOUDLY past it).
_UNIGRAM_MAX_WORD = 12


def _unigram_chain(iters: int) -> str:
    """CTE chain replaying unigram-LM hard-EM training (mirrors
    ``operators/unigram.py:unigram_train``): substring seed counts,
    then per-iteration Viterbi E-steps as an unrolled forward DP
    (positions 1..max_word; candidate pieces of length 1..max_piece;
    argmax with the decoder's (score desc, plen desc) tie-break) plus
    an unrolled backtrace emitting one piece per word per step, and
    the survivors-with-kept-singles M-step.  DP scores are integer
    MICRO-UNITS: ``floor(ln(c/tot)·1e6 + 0.5)`` per piece (mirroring
    ``operators/unigram.py:LOG_SCALE``) — ln is not IEEE
    correctly-rounded, so raw libm logprobs can differ by ulps between
    engines and flip near-tie argmax picks; integer-valued doubles
    sum exactly under any order, so the DP compares are portable.
    Corpus words are ≤ {max_word} chars — the wlen guard raises a
    DuckDB error() (LOUD: a silent empty-CTE guard produced a
    confusing zero-row mismatch).  Ends with ``sc{iters}v`` (the
    post-EM scores) and the ``uf*`` final-count Viterbi chain."""
    max_word, max_piece = _UNIGRAM_MAX_WORD, 4

    def viterbi(tag: str, scores: str) -> str:
        # forward DP + backtrace + freq-weighted piece counts
        s = [f""",
{tag}b0 AS MATERIALIZED (
    SELECT w, CAST(0.0 AS DOUBLE) AS sc FROM wv)"""]
        for i in range(1, max_word + 1):
            cands = []
            for L in range(1, min(max_piece, i) + 1):
                cands.append(f"""
    SELECT p.w, p.sc + s.s AS cand, CAST({L} AS BIGINT) AS plen
    FROM {tag}b{i - L} p
    JOIN wv wd ON wd.w = p.w AND len(wd.w) >= {i}
    JOIN {scores} s ON s.piece = substr(p.w, {i - L + 1}, {L})""")
            union = "\n    UNION ALL".join(cands)
            s.append(f""",
{tag}c{i} AS MATERIALIZED ({union}),
{tag}b{i} AS MATERIALIZED (
    SELECT w, sc, plen FROM (
        SELECT w, cand AS sc, plen,
               row_number() OVER (PARTITION BY w ORDER BY cand DESC, plen DESC) AS rn
        FROM {tag}c{i}) WHERE rn = 1)""")
        union_b = "\n    UNION ALL ".join(
            f"SELECT w, CAST({i} AS BIGINT) AS i, plen FROM {tag}b{i}"
            for i in range(1, max_word + 1)
        )
        s.append(f""",
{tag}B AS MATERIALIZED ({union_b}),
{tag}r0 AS MATERIALIZED (
    SELECT w, freq, CAST(len(w) AS BIGINT) AS pos, CAST(NULL AS VARCHAR) AS piece
    FROM wv)""")
        for j in range(1, max_word + 1):
            s.append(f""",
{tag}r{j} AS MATERIALIZED (
    SELECT r.w, r.freq, r.pos - b.plen AS pos,
           substr(r.w, CAST(r.pos - b.plen + 1 AS INTEGER),
                  CAST(b.plen AS INTEGER)) AS piece
    FROM {tag}r{j - 1} r JOIN {tag}B b ON b.w = r.w AND b.i = r.pos
    WHERE r.pos > 0)""")
        union_r = "\n    UNION ALL ".join(
            f"SELECT freq, piece FROM {tag}r{j}" for j in range(1, max_word + 1)
        )
        s.append(f""",
{tag}cnt AS MATERIALIZED (
    SELECT piece, CAST(SUM(freq) AS BIGINT) AS c
    FROM ({union_r}) WHERE piece IS NOT NULL GROUP BY 1)""")
        return "".join(s)

    parts = [f"""wv AS MATERIALIZED (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
        SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
        FROM documents) WHERE w <> '' GROUP BY w),
wlen AS MATERIALIZED (
    -- FAIL LOUDLY on a too-long corpus word: the unrolled DP covers
    -- positions 1..{max_word} only, and a silent NULL guard would
    -- empty every downstream CTE into a confusing zero-row mismatch
    SELECT CASE WHEN MAX(len(w)) <= {max_word} THEN 1
                ELSE CAST(error('unigram oracle: corpus word longer than '
                                || '{max_word} chars — unrolled DP bound '
                                || 'exceeded') AS INTEGER) END AS ok FROM wv),
sseed AS MATERIALIZED (
    SELECT piece, CAST(SUM(freq) AS BIGINT) AS c FROM (
        SELECT v.freq, substr(v.w, CAST(s.i AS INTEGER), CAST(l.l AS INTEGER)) AS piece
        FROM wv v
        CROSS JOIN (SELECT unnest(range(1, {max_word + 1})) AS i) s
        CROSS JOIN (SELECT unnest(range(1, {max_piece + 1})) AS l) l
        WHERE s.i + l.l - 1 <= len(v.w)
          AND (SELECT ok FROM wlen) = 1)
    GROUP BY 1),
p0 AS MATERIALIZED (
    SELECT piece, c FROM sseed WHERE c >= 2 OR len(piece) = 1),
t0 AS MATERIALIZED (SELECT CAST(SUM(c) AS BIGINT) AS tot FROM p0),
sc0v AS MATERIALIZED (
    -- DP scores in integer micro-units (exact-double sums): raw libm
    -- ln differs by ulps across engines and flips near-tie argmax
    -- picks; mirrors operators/unigram.py LOG_SCALE
    SELECT piece,
           CAST(floor(ln(CAST(c AS DOUBLE) / (SELECT tot FROM t0))
                      * 1000000 + 0.5) AS DOUBLE) AS s FROM p0)"""]
    for k in range(1, iters + 1):
        parts.append(viterbi(f"u{k}", f"sc{k - 1}v"))
        parts.append(f""",
surv{k} AS MATERIALIZED (
    SELECT piece, c FROM u{k}cnt WHERE c > 0
    UNION ALL
    SELECT s.piece, CAST(1 AS BIGINT) FROM sc{k - 1}v s
    WHERE len(s.piece) = 1
      AND s.piece NOT IN (SELECT piece FROM u{k}cnt WHERE c > 0)),
t{k} AS MATERIALIZED (SELECT CAST(SUM(c) AS BIGINT) AS tot FROM surv{k}),
sc{k}v AS MATERIALIZED (
    SELECT piece,
           CAST(floor(ln(CAST(c AS DOUBLE) / (SELECT tot FROM t{k}))
                      * 1000000 + 0.5) AS DOUBLE) AS s
    FROM surv{k})""")
    parts.append(viterbi("uf", f"sc{iters}v"))
    return "".join(parts)


def _unigram_vocab_tail(iters: int, vocab_size: int = 64) -> str:
    """Pruning tail shared by the train/tokenize oracles: all single
    chars + top multi-char pieces by (final count desc, piece asc),
    kept counts floored at 1, logprobs re-estimated over the kept
    total.  Ends with ``vocabf`` (piece, lp)."""
    return f""",
singles AS MATERIALIZED (
    SELECT piece FROM sc{iters}v WHERE len(piece) = 1),
nmulti AS MATERIALIZED (
    SELECT {vocab_size} - COUNT(*) AS n FROM singles),
multik AS MATERIALIZED (
    SELECT piece FROM (
        SELECT s.piece,
               row_number() OVER (
                   ORDER BY COALESCE(c.c, 0) DESC, s.piece) AS rn
        FROM sc{iters}v s LEFT JOIN ufcnt c ON c.piece = s.piece
        WHERE len(s.piece) > 1)
    WHERE rn <= GREATEST(0, (SELECT n FROM nmulti))),
keepp AS MATERIALIZED (
    SELECT piece FROM singles UNION ALL SELECT piece FROM multik),
keptc AS MATERIALIZED (
    SELECT k.piece, GREATEST(COALESCE(c.c, 0), 1) AS c
    FROM keepp k LEFT JOIN ufcnt c ON c.piece = k.piece),
kt AS MATERIALIZED (SELECT CAST(SUM(c) AS BIGINT) AS tot FROM keptc),
vocabf AS MATERIALIZED (
    SELECT piece, ln(CAST(c AS DOUBLE) / (SELECT tot FROM kt)) AS lp
    FROM keptc)"""


def _unigram_train_oracle() -> str:
    iters, vocab_size = 3, 64
    return f"""
WITH {_unigram_chain(iters)}{_unigram_vocab_tail(iters, vocab_size)}
SELECT piece, ROUND(lp, 6) AS logprob FROM vocabf
"""


@register("q_unigram_train", oracle=_unigram_train_oracle())
def q_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) tokenizer training: one
    corpus pass for distinct-word counts, hard-EM Viterbi iterations
    as ONE Spark job each over the word-TYPE table, driver state
    vocab-sized throughout.  Oracled via an unrolled Viterbi-DP
    replay (was rows-only): DP scores are logprobs quantized to
    integer micro-units on BOTH engines (LOG_SCALE — near-tie argmax
    picks are not portable under raw libm ln), so the trained
    vocabulary hash-matches.  Tests pin loss monotonicity,
    determinism, and piece recovery on a hand corpus."""
    import math

    from opl_spark.operators.unigram import unigram_train

    docs = load_table(spark, sf_dir, "documents")
    vocab, _ = unigram_train(docs, "text", vocab_size=64, iters=3)

    def half_away(x: float, nd: int = 6) -> float:
        # SQL ROUND is half-away-from-zero; Python round() is banker's
        s = 10.0**nd
        return math.copysign(math.floor(abs(x) * s + 0.5), x) / s

    return spark.createDataFrame(
        [(p, half_away(lp)) for p, lp in vocab], "piece string, logprob double"
    )


def _unigram_tokenize_oracle() -> str:
    """Apply-side replay: train (2 EM rounds) + prune as in the train
    oracle, then one more unrolled Viterbi under the pruned vocab;
    per-word piece counts come from the backtrace rows and join back
    to the per-document token stream."""
    iters, max_word = 2, _UNIGRAM_MAX_WORD
    npieces = "\n    UNION ALL ".join(
        f"SELECT w, freq, piece FROM ugr{j}" for j in range(1, max_word + 1)
    )
    chain = _unigram_chain(iters) + _unigram_vocab_tail(iters)
    # rebuild the viterbi helper inline for the pruned vocab: reuse by
    # aliasing vocabf to the scores shape the chain generator emits
    return f"""
WITH {chain},
vocabfv AS MATERIALIZED (
    -- apply-side DP consumes micro-unit scores (unigram_segment
    -- quantizes the trained vocab identically — see LOG_SCALE)
    SELECT piece, CAST(floor(lp * 1000000 + 0.5) AS DOUBLE) AS s FROM vocabf)
{_unigram_apply_cte(max_word)}
,
wnp AS MATERIALIZED (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS n_p
    FROM ({npieces}) WHERE piece IS NOT NULL GROUP BY w),
dtoks AS MATERIALIZED (
    SELECT doc, w, COUNT(*) AS cnt FROM (
        SELECT doc_id AS doc,
               unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
        FROM documents) WHERE w <> '' GROUP BY 1, 2)
SELECT d.doc,
       CAST(SUM(d.cnt) AS BIGINT) AS n_words,
       CAST(SUM(d.cnt * n.n_p) AS BIGINT) AS n_pieces
FROM dtoks d JOIN wnp n ON n.w = d.w
GROUP BY d.doc
"""


def _unigram_apply_cte(max_word: int = _UNIGRAM_MAX_WORD) -> str:
    """The forward-DP + backtrace CTEs of one Viterbi pass under
    ``vocabfv`` (tag ``ug``) — same structure the training chain
    unrolls, emitted as a bare fragment appended after the vocab
    tail."""
    max_piece = 4
    s = [""",
ugb0 AS MATERIALIZED (
    SELECT w, CAST(0.0 AS DOUBLE) AS sc FROM wv)"""]
    for i in range(1, max_word + 1):
        cands = []
        for L in range(1, min(max_piece, i) + 1):
            cands.append(f"""
    SELECT p.w, p.sc + s.s AS cand, CAST({L} AS BIGINT) AS plen
    FROM ugb{i - L} p
    JOIN wv wd ON wd.w = p.w AND len(wd.w) >= {i}
    JOIN vocabfv s ON s.piece = substr(p.w, {i - L + 1}, {L})""")
        union = "\n    UNION ALL".join(cands)
        s.append(f""",
ugc{i} AS MATERIALIZED ({union}),
ugb{i} AS MATERIALIZED (
    SELECT w, sc, plen FROM (
        SELECT w, cand AS sc, plen,
               row_number() OVER (PARTITION BY w ORDER BY cand DESC, plen DESC) AS rn
        FROM ugc{i}) WHERE rn = 1)""")
    union_b = "\n    UNION ALL ".join(
        f"SELECT w, CAST({i} AS BIGINT) AS i, plen FROM ugb{i}"
        for i in range(1, max_word + 1)
    )
    s.append(f""",
ugB AS MATERIALIZED ({union_b}),
ugr0 AS MATERIALIZED (
    SELECT w, freq, CAST(len(w) AS BIGINT) AS pos, CAST(NULL AS VARCHAR) AS piece
    FROM wv)""")
    for j in range(1, max_word + 1):
        s.append(f""",
ugr{j} AS MATERIALIZED (
    SELECT r.w, r.freq, r.pos - b.plen AS pos,
           substr(r.w, CAST(r.pos - b.plen + 1 AS INTEGER),
                  CAST(b.plen AS INTEGER)) AS piece
    FROM ugr{j - 1} r JOIN ugB b ON b.w = r.w AND b.i = r.pos
    WHERE r.pos > 0)""")
    return "".join(s)


@register("q_unigram_tokenize", oracle=_unigram_tokenize_oracle())
def q_unigram_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply side of the unigram tokenizer: Viterbi decode per
    DISTINCT word (Arrow-batched, closure-broadcast vocab), piece
    counts hash-joined back to the token stream — per-TYPE Python
    cost, the bpe_segment discipline.  Oracled by replaying training,
    pruning, AND the apply-side Viterbi as unrolled DP CTEs (was
    rows-only); a test pins doc piece counts against a local
    decode."""
    from opl_spark.operators.unigram import unigram_segment, unigram_train

    docs = load_table(spark, sf_dir, "documents")
    vocab, _ = unigram_train(docs, "text", vocab_size=64, iters=2)
    return unigram_segment(docs, "text", "doc_id", vocab)


@register(
    "q_negative_pairs",
    oracle="""
WITH n AS (SELECT COUNT(*) AS n FROM embeddings),
pairs AS (
    SELECT e.vec_id, t.j,
           CAST((e.vec_id + 1 +
                 ((e.vec_id * 2654435761 + t.j) % 4294967296) % (n.n - 1))
                % n.n AS BIGINT) AS neg_id
    FROM embeddings e
    CROSS JOIN n
    CROSS JOIN (SELECT unnest(range(0, 4)) AS j) t
)
SELECT p.vec_id, p.j, p.neg_id,
       (a.label = b.label) AS same_label
FROM pairs p
JOIN embeddings a ON a.vec_id = p.vec_id
JOIN embeddings b ON b.vec_id = p.neg_id
""",
)
def q_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    vector draws 4 pseudo-random partners from the Knuth id hash, with
    the +1 offset-mod-(n-1) construction guaranteeing partner ≠ self —
    reruns and retries mint identical pairs, no sampling state.  The
    pairing is a map-only expression + one bounded explode; partner
    labels come back through one self-join on the dense id (broadcast
    when the table fits)."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.agg(F.count(F.lit(1)).alias("n"))
    h = F.pmod(F.col("vec_id") * F.lit(2654435761) + F.col("j"), F.lit(1 << 32))
    neg = F.pmod(
        F.col("vec_id") + 1 + F.pmod(h, F.col("n") - 1), F.col("n")
    ).alias("neg_id")
    pairs = (
        emb.select("vec_id", F.col("label").alias("la"))
        .crossJoin(F.broadcast(n))
        .select(
            "vec_id", "la", "n",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("j"),
        )
        .select("vec_id", "la", "j", neg)
    )
    other = emb.select(F.col("vec_id").alias("neg_id"), F.col("label").alias("lb"))
    return pairs.join(other, "neg_id").select(
        "vec_id", "j", "neg_id", (F.col("la") == F.col("lb")).alias("same_label")
    )


@register(
    "q_hard_negatives",
    oracle="""
WITH q AS (
    SELECT vec_id AS qid, label AS ql, CAST(embedding AS DOUBLE[]) AS qv
    FROM embeddings WHERE vec_id < 5
),
pool AS (
    SELECT vec_id AS id, label AS pl, CAST(embedding AS DOUBLE[]) AS v
    FROM embeddings
),
scored AS (
    SELECT q.qid, q.ql, p.id, p.pl,
           ROUND(
             list_dot_product(p.v, q.qv) /
             (sqrt(list_dot_product(p.v, p.v))
              * sqrt(list_dot_product(q.qv, q.qv))), 6) AS sim
    FROM pool p CROSS JOIN q
),
shortlist AS (
    SELECT qid, ql, id, pl, sim,
           CAST(row_number() OVER (
               PARTITION BY qid ORDER BY sim DESC, id) AS BIGINT) AS rank
    FROM scored
)
SELECT qid, id, sim,
       CAST(row_number() OVER (
           PARTITION BY qid ORDER BY sim DESC, id) AS BIGINT) AS neg_rank
FROM shortlist
WHERE rank <= 20 AND pl <> ql
QUALIFY neg_rank <= 5
""",
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: ANN shortlist
    (batch-gemm top-20 per query) filtered to DIFFERENT-label
    neighbors, re-ranked to the 5 hardest — the shortlist-then-filter
    recipe that avoids scoring the corpus twice.  The re-rank window
    partitions per query."""
    from pyspark.sql import Window

    from opl_spark.operators.similarity import knn_join

    emb = load_table(spark, sf_dir, "embeddings")
    qrows = emb.filter(F.col("vec_id") < 5).select(
        "vec_id", "embedding", "label"
    ).collect()
    queries = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in qrows]
    qlabels = {int(r["vec_id"]): r["label"] for r in qrows}
    short = knn_join(emb, "embedding", "vec_id", queries, k=20)
    qlab = F.create_map(
        *[F.lit(x) for kv in qlabels.items() for x in kv]
    )[F.col("qid")]
    pool_lab = emb.select(F.col("vec_id").alias("id"), F.col("label").alias("pl"))
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), "id")
    return (
        short.join(pool_lab, "id")
        .filter(F.col("pl") != qlab)
        .withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= 5)
        .select("qid", "id", "sim", "neg_rank")
    )


@register(
    "q_drill_across",
    oracle="WITH lf AS ("
    + LOANS_FACT_SQL
    + "), af AS ("
    + ACCESSIONS_FACT_SQL
    + """),
l AS (
    SELECT consortia_id, consortia_label,
           ROUND(CAST(SUM(value) AS DOUBLE), 2) AS value_loans2
    FROM lf GROUP BY 1, 2
),
a AS (
    SELECT consortia_id, consortia_label,
           ROUND(CAST(SUM(accessions) AS DOUBLE), 2) AS accessions_accessions
    FROM af GROUP BY 1, 2
)
SELECT consortia_id, consortia_label, value_loans2, accessions_accessions
FROM l FULL JOIN a USING (consortia_id, consortia_label)
""",
)
def q_drill_across(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drill-across (Kimball multi-fact comparison): loans value vs
    accessions volume per consortium in ONE call — each fact
    aggregates independently under the same conformed drilldown, the
    report-sized results FULL OUTER join on the shared group columns,
    measures suffixed by fact.  The reference needs N API calls and
    client-side stitching for this."""
    from opl_spark.facts import build_accessions_fact, build_loans_fact

    engine = CubeEngine(default_catalog())
    engine.register_fact("loans2", build_loans_fact(spark, sf_dir))
    engine.register_fact("accessions", build_accessions_fact(spark, sf_dir))
    return engine.drill_across(
        ["loans2", "accessions"], drilldown="organization_level"
    )


@register(
    "q_mad_outliers",
    oracle="""
WITH ev AS (
    SELECT event_type AS grp, CAST(round(value * 100) AS BIGINT) AS v
    FROM events
),
med AS (SELECT grp, quantile_cont(v, 0.5) AS m FROM ev GROUP BY 1),
dev AS (
    SELECT ev.grp, ev.v, ABS(ev.v - med.m) AS d
    FROM ev JOIN med ON ev.grp = med.grp
),
mad AS (SELECT grp, quantile_cont(d, 0.5) AS mad FROM dev GROUP BY 1)
SELECT dev.grp, COUNT(*) AS n,
       CAST(SUM(CASE WHEN dev.d > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev JOIN mad ON dev.grp = mad.grp
GROUP BY 1
""",
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier screen (the robust
    complement to the 3σ z-score — a few extreme values can't inflate
    the threshold the way they inflate a stddev): two exact
    interpolated medians with one group-keyed join between them, then
    one combinable count.  Same percentile-interpolation parity as
    q_length_quantiles; t-digest swap documented for 100 TB."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("grp"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    med = ev.groupBy("grp").agg(F.expr("percentile(v, 0.5)").alias("m"))
    dev = ev.join(med, "grp").select(
        "grp", F.abs(F.col("v") - F.col("m")).alias("d")
    )
    mad = dev.groupBy("grp").agg(F.expr("percentile(d, 0.5)").alias("mad"))
    return (
        dev.join(mad, "grp")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("d") > 3 * F.col("mad")).cast("long")).alias("n_outliers"),
        )
    )


@register(
    "q_lang_confusion",
    oracle="WITH scored AS (SELECT lang, "
    + ", ".join(f"{_lang_score_sql(lg)} AS s_{lg}" for lg in _LANGS_DESC)
    + f" FROM documents)\nSELECT lang AS labeled, {_LANG_CASE} AS detected,"
    " COUNT(*) AS n FROM scored GROUP BY 1, 2",
)
def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: labeled corpus language × detected
    language with counts — the detector-quality report card (which
    languages leak into which).  Map-only detection + one combinable
    aggregate; output is languages²-sized."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.col("lang").alias("labeled"),
            lang_id_col(F.col("text")).alias("detected"),
        )
        .groupBy("labeled", "detected")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q_temporal_split",
    oracle="""
WITH ev AS (
    SELECT user_id,
           CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-15'
                THEN 'train' ELSE 'val' END AS split
    FROM events
),
c AS (
    SELECT split, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
    FROM ev GROUP BY 1
),
overlap AS (
    SELECT COUNT(*) AS n FROM (
        SELECT user_id FROM ev WHERE split = 'train'
        INTERSECT
        SELECT user_id FROM ev WHERE split = 'val')
)
SELECT c.split, c.n_events, c.n_users, overlap.n AS n_overlap_users
FROM c CROSS JOIN overlap
""",
)
def q_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/validation split report with the LEAKAGE metric:
    events partitioned at a cutoff date, per-split volumes plus the
    count of users active on BOTH sides (entity overlap is what makes
    a temporal split leak for user-level models).  Two combinable
    aggregates + one user-keyed intersection; the single-row overlap
    broadcast onto the 2-row report."""
    cutoff = F.lit("2024-01-15").cast("timestamp")
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.when(F.col("ts") < cutoff, "train").otherwise("val").alias("split"),
    )
    c = ev.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
    )
    tr = ev.filter(F.col("split") == "train").select("user_id").distinct()
    va = ev.filter(F.col("split") == "val").select("user_id").distinct()
    overlap = tr.join(va, "user_id", "semi").agg(
        F.count(F.lit(1)).alias("n_overlap_users")
    )
    return c.crossJoin(F.broadcast(overlap))


@register(
    "q_class_separation",
    oracle="""
WITH e AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cent AS (
    SELECT label,
           list_transform(range(1, 65),
               i -> list_avg(list_transform(vs, x -> x[i]))) AS c
    FROM (SELECT label, list(v) AS vs FROM e GROUP BY 1)
),
g AS (
    SELECT list_transform(range(1, 65),
               i -> list_avg(list_transform(vs, x -> x[i]))) AS c
    FROM (SELECT list(v) AS vs FROM e)
),
d AS (
    SELECT e.label,
           sqrt(list_sum(list_transform(range(1, 65),
               i -> (e.v[i] - cent.c[i]) * (e.v[i] - cent.c[i])))) AS d_own,
           sqrt(list_sum(list_transform(range(1, 65),
               i -> (e.v[i] - g.c[i]) * (e.v[i] - g.c[i])))) AS d_global
    FROM e JOIN cent ON e.label = cent.label CROSS JOIN g
)
SELECT label, COUNT(*) AS n,
       ROUND(AVG(d_own), 6) AS mean_dist_own,
       ROUND(AVG(d_global), 6) AS mean_dist_global,
       ROUND(AVG(d_own) / AVG(d_global), 6) AS separation
FROM d GROUP BY 1
""",
)
def q_class_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space class-separation report: per label, mean
    distance to the OWN-class centroid vs the global centroid (ratio
    < 1 = classes are tighter than the cloud — the scatter diagnostic
    run before trusting labels for SemDeDup/classifier training).
    Centroids are label-sized aggregates; distances are one map pass
    with both centroid tables joined (labels broadcast, global
    single-row)."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = F.col("embedding")
    by_dim = emb.select(
        "vec_id", "label", F.posexplode(x).alias("pos", "xv")
    )
    cent = by_dim.groupBy("label", "pos").agg(F.avg("xv").alias("c"))
    cent_arr = cent.groupBy("label").agg(
        F.array_sort(
            F.collect_list(F.struct("pos", "c"))
        ).alias("pc")
    ).select("label", F.transform("pc", lambda s: s["c"]).alias("c_own"))
    gcent = by_dim.groupBy("pos").agg(F.avg("xv").alias("c"))
    g_arr = gcent.agg(
        F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc")
    ).select(F.transform("pc", lambda s: s["c"]).alias("c_glob"))
    dist = (
        emb.join(F.broadcast(cent_arr), "label")
        .crossJoin(F.broadcast(g_arr))
        .select(
            "label",
            F.sqrt(
                F.aggregate(
                    F.zip_with(x, F.col("c_own"), lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, y: acc + y,
                )
            ).alias("d_own"),
            F.sqrt(
                F.aggregate(
                    F.zip_with(x, F.col("c_glob"), lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, y: acc + y,
                )
            ).alias("d_global"),
        )
    )
    return dist.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("d_own"), 6).alias("mean_dist_own"),
        F.round(F.avg("d_global"), 6).alias("mean_dist_global"),
        F.round(F.avg("d_own") / F.avg("d_global"), 6).alias("separation"),
    )


@register(
    "q_session_stats",
    oracle="""
WITH ev AS (
    SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
),
flagged AS (
    SELECT user_id, us,
           CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                     > 30 * 60 * 1000000 OR
                lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
                THEN 1 ELSE 0 END AS new_s
    FROM ev
),
sess AS (
    SELECT user_id,
           SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                            ROWS UNBOUNDED PRECEDING) AS sid,
           us
    FROM flagged
),
per AS (
    SELECT user_id, sid, COUNT(*) AS n_events,
           (MAX(us) - MIN(us)) / 1000000.0 AS dur_s
    FROM sess GROUP BY 1, 2
)
SELECT COUNT(*) AS n_sessions,
       COUNT(DISTINCT user_id) AS n_users,
       ROUND(CAST(SUM(n_events) AS DOUBLE) / COUNT(*), 6)
           AS avg_events_per_session,
       ROUND(AVG(dur_s), 6) AS avg_duration_s,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces
FROM per
""",
)
def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session report card over the 30-minute-gap sessionization:
    session count, users, events-per-session, mean duration, and the
    bounce count (single-event sessions) — all from user-partitioned
    windows plus two combinable aggregates; output is one row."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us")
    flagged = ev.withColumn(
        "new_s",
        F.when(
            (F.col("us") - F.lag("us").over(w) > 30 * 60 * 1000000)
            | F.lag("us").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "sid",
        F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per = sess.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).alias("n_events"),
        ((F.max("us") - F.min("us")) / 1000000.0).alias("dur_s"),
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.count_distinct("user_id").alias("n_users"),
        F.round(
            F.sum("n_events").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_events_per_session"),
        F.round(F.avg("dur_s"), 6).alias("avg_duration_s"),
        F.sum((F.col("n_events") == 1).cast("long")).alias("n_bounces"),
    )


@register(
    "q_conversion_time",
    oracle=_EVENTS_US_CTE
    + """
SELECT COUNT(*) AS n_conversions,
       ROUND(quantile_cont(gap_us, 0.5) / 1000000.0, 6) AS median_gap_s,
       ROUND(quantile_cont(gap_us, 0.9) / 1000000.0, 6) AS p90_gap_s
FROM (
    SELECT (p.purchase_us - s.signup_us) AS gap_us
    FROM s ASOF JOIN p
      ON s.user_id = p.user_id AND p.purchase_us >= s.signup_us
)
""",
)
def q_conversion_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: signup→first-purchase gaps from
    the forward as-of join, summarized as exact interpolated median /
    p90 seconds — the funnel-latency metric every growth dashboard
    carries next to the step counts."""
    from opl_spark.operators.temporal import asof_join

    s = _typed_events(spark, sf_dir, "signup", "signup")
    p = _typed_events(spark, sf_dir, "purchase", "purchase")
    pairs = asof_join(s, p, ["user_id"], "signup_us", "purchase_us",
                      direction="forward")
    gaps = pairs.select(
        (F.col("purchase_us") - F.col("signup_us")).alias("gap_us")
    )
    pct = F.expr("percentile(gap_us, array(0.5, 0.9))")
    return gaps.agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.round(pct[0] / 1000000.0, 6).alias("median_gap_s"),
        F.round(pct[1] / 1000000.0, 6).alias("p90_gap_s"),
    )


@register(
    "q_bootstrap_mean",
    oracle="""
WITH ev AS (
    SELECT event_type AS grp, event_id AS i,
           CAST(round(value * 100) AS BIGINT) AS v
    FROM events
),
rep AS (
    SELECT ev.grp, ev.v, t.r,
           ((ev.i * 2654435761 + t.r * 40503) % 4294967296) % 256 AS u
    FROM ev, (SELECT unnest(range(0, 32)) AS r) t
),
w AS (
    SELECT grp, r, v,
           CASE WHEN u < 94 THEN 0 WHEN u < 188 THEN 1
                WHEN u < 235 THEN 2 WHEN u < 251 THEN 3 ELSE 4 END AS w
    FROM rep
),
means AS (
    SELECT grp, r,
           CAST(SUM(w * v) AS DOUBLE) / (SUM(w) * 100.0) AS m
    FROM w GROUP BY 1, 2 HAVING SUM(w) > 0
)
SELECT grp,
       ROUND(AVG(m), 6) AS boot_mean,
       ROUND(quantile_cont(m, 0.025), 6) AS ci_lo,
       ROUND(quantile_cont(m, 0.975), 6) AS ci_hi
FROM means GROUP BY 1
""",
)
def q_bootstrap_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for per-group means (the
    distributed bootstrap — each row draws an independent replica
    weight, so no resample-wide coordination): 32 replicas, weights
    from a DETERMINISTIC 8-bit hash through the Poisson(1) inverse
    CDF, replica means reduced map-side, CI = exact percentiles over
    the 32-row-per-group means table.  Fan-out is a bounded 32×; the
    whole computation reruns bit-identically."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("grp"),
        F.col("event_id").alias("i"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    rep = ev.select(
        "grp", "v",
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("r"),
        "i",
    ).withColumn(
        "u",
        F.pmod(
            F.pmod(F.col("i") * F.lit(2654435761) + F.col("r") * F.lit(40503),
                   F.lit(1 << 32)),
            F.lit(256),
        ),
    )
    w = (
        F.when(F.col("u") < 94, 0)
        .when(F.col("u") < 188, 1)
        .when(F.col("u") < 235, 2)
        .when(F.col("u") < 251, 3)
        .otherwise(4)
    )
    means = (
        rep.withColumn("w", w)
        .groupBy("grp", "r")
        .agg(F.sum(F.col("w") * F.col("v")).alias("sw"), F.sum("w").alias("n"))
        .filter(F.col("n") > 0)
        .select(
            "grp", (F.col("sw").cast("double") / (F.col("n") * 100.0)).alias("m")
        )
    )
    pct = F.expr("percentile(m, array(0.025, 0.975))")
    return means.groupBy("grp").agg(
        F.round(F.avg("m"), 6).alias("boot_mean"),
        F.round(pct[0], 6).alias("ci_lo"),
        F.round(pct[1], 6).alias("ci_hi"),
    )


@register(
    "q_ab_zstat",
    oracle="""
WITH ev AS (
    SELECT CASE WHEN event_type = 'view' THEN 'a' ELSE 'b' END AS arm,
           CAST(round(value * 100) AS BIGINT) AS v
    FROM events WHERE event_type IN ('view', 'click')
),
st AS (
    SELECT arm, CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(v) AS DOUBLE) AS s,
           CAST(SUM(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS DOUBLE) AS s2
    FROM ev GROUP BY 1
)
SELECT a.n AS n_a, b.n AS n_b,
       ROUND((a.s / a.n - b.s / b.n) / 100, 6) AS mean_diff,
       ROUND(((a.s / a.n) - (b.s / b.n))
             / sqrt((a.s2 / a.n - (a.s / a.n) * (a.s / a.n)) / a.n
                    + (b.s2 / b.n - (b.s / b.n) * (b.s / b.n)) / b.n), 6)
           AS z
FROM (SELECT * FROM st WHERE arm = 'a') a
CROSS JOIN (SELECT * FROM st WHERE arm = 'b') b
""",
)
def q_ab_zstat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample z statistic between the view and click value
    distributions (the A/B readout): all moments are exact integer
    sums; the divisions and one sqrt happen once at emission over
    exact operands.  One combinable aggregate per arm, single-row
    output."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click")
    ).select(
        F.when(F.col("event_type") == "view", "a").otherwise("b").alias("arm"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    st = ev.groupBy("arm").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("v").cast("double").alias("s"),
        F.sum(
            (F.col("v").cast("decimal(38,0)") * F.col("v").cast("decimal(38,0)"))
        ).cast("double").alias("s2"),
    )
    a = st.filter(F.col("arm") == "a").select(
        F.col("n").alias("n_a"), F.col("s").alias("s_a"), F.col("s2").alias("s2_a")
    )
    b = st.filter(F.col("arm") == "b").select(
        F.col("n").alias("n_b"), F.col("s").alias("s_b"), F.col("s2").alias("s2_b")
    )
    j = a.crossJoin(F.broadcast(b))
    ma = F.col("s_a") / F.col("n_a")
    mb = F.col("s_b") / F.col("n_b")
    va = (F.col("s2_a") / F.col("n_a") - ma * ma) / F.col("n_a")
    vb = (F.col("s2_b") / F.col("n_b") - mb * mb) / F.col("n_b")
    return j.select(
        F.col("n_a"),
        F.col("n_b"),
        F.round((ma - mb) / 100, 6).alias("mean_diff"),
        F.round((ma - mb) / F.sqrt(va + vb), 6).alias("z"),
    )


@register(
    "q_value_deciles",
    oracle="""
WITH t AS (
    SELECT event_type AS grp,
           CAST(round(value * 100) AS BIGINT) AS v,
           NTILE(10) OVER (
               PARTITION BY event_type
               ORDER BY CAST(round(value * 100) AS BIGINT), event_id
           ) AS decile
    FROM events
)
SELECT grp, decile, COUNT(*) AS n,
       ROUND(MIN(v) / 100.0, 6) AS lo,
       ROUND(MAX(v) / 100.0, 6) AS hi
FROM t GROUP BY 1, 2
""",
)
def q_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth decile summary per event type: NTILE over a
    GROUP-PARTITIONED window (parallelism = groups, never a global
    sort) with a deterministic (value, event_id) tie order, reduced to
    per-decile count/bounds — the per-segment value-band report
    behind pricing/engagement dashboards."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("grp"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
        "event_id",
    )
    w = Window.partitionBy("grp").orderBy("v", "event_id")
    return (
        ev.withColumn("decile", F.ntile(10).over(w))
        .groupBy("grp", "decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("v") / 100.0, 6).alias("lo"),
            F.round(F.max("v") / 100.0, 6).alias("hi"),
        )
    )


@register(
    "q_pit_lookup",
    oracle="""
WITH h AS (
    SELECT o_custkey, o_orderkey, o_orderstatus,
           o_orderdate AS valid_from,
           LEAD(o_orderdate) OVER w AS valid_to
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
)
SELECT o_custkey, o_orderkey, o_orderstatus
FROM h
WHERE valid_from <= TIMESTAMP '1997-06-01'
  AND (valid_to IS NULL OR valid_to > TIMESTAMP '1997-06-01')
""",
)
def q_pit_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup against SCD2 history: each customer's
    state AS OF 1997-06-01 selected by one validity-range predicate
    over the interval table — the temporally-correct dimension read
    every feature store and audit query needs (no window re-rank at
    read time; the intervals did that work once at build time)."""
    from opl_spark.operators.analytics import scd2_intervals

    orders = load_table(spark, sf_dir, "orders")
    h = scd2_intervals(
        orders, "o_custkey", "o_orderdate", ["o_orderstatus"], "o_orderkey"
    )
    asof = F.lit("1997-06-01").cast("timestamp")
    return h.filter(
        (F.col("valid_from") <= asof)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > asof))
    ).select("o_custkey", "o_orderkey", "o_orderstatus")


@register(
    "q_basket_rules",
    oracle="""
WITH b AS (SELECT DISTINCT user_id AS u, event_type AS it FROM events),
n AS (SELECT COUNT(DISTINCT u) AS n_users FROM b),
item AS (SELECT it, COUNT(*) AS c FROM b GROUP BY 1),
pair AS (
    SELECT a.it AS ante, c.it AS cons, COUNT(*) AS c_ab
    FROM b a JOIN b c ON a.u = c.u AND a.it <> c.it
    GROUP BY 1, 2
)
SELECT pair.ante, pair.cons,
       ROUND(CAST(pair.c_ab AS DOUBLE) / n.n_users, 6) AS support,
       ROUND(CAST(pair.c_ab AS DOUBLE) / ia.c, 6) AS confidence,
       ROUND(CAST(pair.c_ab AS DOUBLE) * n.n_users
             / (CAST(ia.c AS DOUBLE) * ic.c), 6) AS lift
FROM pair
JOIN item ia ON ia.it = pair.ante
JOIN item ic ON ic.it = pair.cons
CROSS JOIN n
""",
)
def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over user event baskets: support, confidence
    and lift for every ordered item pair, from exact distinct counts.
    The pair join keys on the USER (fan-out bounded by items-per-user²,
    never users²); marginals are item-sized and the single-row basket
    count broadcasts."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(F.col("user_id").alias("u"), F.col("event_type").alias("it")).distinct()
    n = b.agg(F.count_distinct("u").alias("n_users"))
    item = b.groupBy("it").agg(F.count(F.lit(1)).alias("c"))
    a, c = b.alias("a"), b.alias("c")
    pair = (
        a.join(c, (F.col("a.u") == F.col("c.u")) & (F.col("a.it") != F.col("c.it")))
        .groupBy(F.col("a.it").alias("ante"), F.col("c.it").alias("cons"))
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    ia = item.select(F.col("it").alias("ante"), F.col("c").alias("c_a"))
    ic = item.select(F.col("it").alias("cons"), F.col("c").alias("c_c"))
    return (
        pair.join(ia, "ante")
        .join(ic, "cons")
        .crossJoin(F.broadcast(n))
        .select(
            "ante", "cons",
            F.round(F.col("c_ab").cast("double") / F.col("n_users"), 6).alias("support"),
            F.round(F.col("c_ab").cast("double") / F.col("c_a"), 6).alias("confidence"),
            F.round(
                F.col("c_ab").cast("double") * F.col("n_users")
                / (F.col("c_a").cast("double") * F.col("c_c")), 6
            ).alias("lift"),
        )
    )


@register(
    "q_moving_avg",
    oracle="""
WITH d AS (
    SELECT event_type AS grp, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
           SUM(CAST(value AS DECIMAL(18,6))) AS total
    FROM events GROUP BY 1, 2
)
SELECT grp, day,
       ROUND(CAST(total AS DOUBLE), 6) AS total,
       ROUND(AVG(CAST(total AS DOUBLE)) OVER (
           PARTITION BY grp ORDER BY day
           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING), 6) AS ma7
FROM d
""",
)
def q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centered 7-row moving average of daily totals per event type —
    the trend-smoothing read every ops dashboard draws.  The window
    partitions BY GROUP over the day-summary table (groups × days
    rows, report-sized); daily totals reduce exactly in decimal before
    the float average."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        F.col("event_type").alias("grp"), F.col("ts").cast("date").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("total"))
    w = (
        Window.partitionBy("grp")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    return d.select(
        "grp", "day",
        F.round(F.col("total").cast("double"), 6).alias("total"),
        F.round(F.avg(F.col("total").cast("double")).over(w), 6).alias("ma7"),
    )


@register(
    "q_cusum_shift",
    oracle="""
WITH d AS (
    SELECT event_type AS grp, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
           SUM(CAST(round(value * 100) AS BIGINT)) AS s, COUNT(*) AS n
    FROM events GROUP BY 1, 2
),
t AS (
    SELECT grp, SUM(s) AS ts_, SUM(n) AS tn FROM d GROUP BY 1
),
c AS (
    SELECT d.grp, d.day,
           SUM(d.s * t.tn - t.ts_ * d.n) OVER (
               PARTITION BY d.grp ORDER BY d.day
               ROWS UNBOUNDED PRECEDING) AS dev
    FROM d JOIN t ON d.grp = t.grp
)
SELECT grp, day AS shift_day,
       ROUND(CAST(ABS(dev) AS DOUBLE) / 1e9, 6) AS cusum_peak
FROM (
    SELECT grp, day, dev,
           ROW_NUMBER() OVER (
               PARTITION BY grp ORDER BY ABS(dev) DESC, day) AS rn
    FROM c
)
WHERE rn = 1
""",
)
def q_cusum_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection per event type: the day where the
    cumulative deviation from the overall mean peaks — in EXACT
    integer cross-multiplied form (``Σ(sᵢ·N - S·nᵢ)``, the
    zscore/KS discipline: no float means on the decision path), over
    the report-sized day table with group-partitioned windows and a
    deterministic (|dev| desc, day) tie-break."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        F.col("event_type").alias("grp"), F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    t = d.groupBy("grp").agg(F.sum("s").alias("ts_"), F.sum("n").alias("tn"))
    wrun = (
        Window.partitionBy("grp")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.join(t, "grp").select(
        "grp", "day",
        F.sum(
            F.col("s") * F.col("tn") - F.col("ts_") * F.col("n")
        ).over(wrun).alias("dev"),
    )
    wrank = Window.partitionBy("grp").orderBy(F.abs("dev").desc(), "day")
    return (
        c.withColumn("rn", F.row_number().over(wrank))
        .filter(F.col("rn") == 1)
        .select(
            "grp",
            F.col("day").alias("shift_day"),
            F.round(F.abs("dev").cast("double") / 1e9, 6).alias("cusum_peak"),
        )
    )


@register(
    "q_attribution_linear",
    oracle=_EVENTS_US_CTE
    + """,
v AS (
    SELECT event_id AS view_id, user_id, us AS view_us
    FROM e WHERE event_type = 'view'
),
touch AS (
    SELECT p.purchase_id, p.user_id, v.view_id
    FROM p JOIN v
      ON p.user_id = v.user_id
     AND v.view_us <= p.purchase_us
     AND p.purchase_us - v.view_us <= CAST(3 AS BIGINT) * 86400 * 1000000
),
per AS (
    SELECT purchase_id, COUNT(*) AS n_touches FROM touch GROUP BY 1
)
SELECT t.view_id,
       COUNT(*) AS n_purchases,
       ROUND(SUM(1.0 / per.n_touches), 6) AS credit
FROM touch t JOIN per ON t.purchase_id = per.purchase_id
GROUP BY 1
""",
)
def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every view inside the 3-day
    lookback shares a purchase's credit equally (1/n per touch) — the
    companion to last-touch (`q_attribution`) that marketing mix
    models start from.  One user-keyed interval join bounded by the
    lookback window, purchase-sized touch counts joined back, credit
    summed per view."""
    p = _typed_events(spark, sf_dir, "purchase", "purchase")
    v = _typed_events(spark, sf_dir, "view", "view")
    lookback = 3 * 86400 * 1000000
    touch = p.join(
        v,
        (p["user_id"] == v["user_id"])
        & (v["view_us"] <= p["purchase_us"])
        & (p["purchase_us"] - v["view_us"] <= lookback),
    ).select("purchase_id", "view_id")
    per = touch.groupBy("purchase_id").agg(F.count(F.lit(1)).alias("n_touches"))
    return (
        touch.join(per, "purchase_id")
        .groupBy("view_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum(1.0 / F.col("n_touches")), 6).alias("credit"),
        )
    )


@register(
    "q_drill_across_cut",
    oracle="WITH lf AS ("
    + LOANS_FACT_SQL
    + "), af AS ("
    + ACCESSIONS_FACT_SQL
    + """),
l AS (
    SELECT month, ROUND(CAST(SUM(value) AS DOUBLE), 2) AS value_loans2
    FROM lf WHERE year = 1996 GROUP BY 1
),
a AS (
    SELECT month,
           ROUND(CAST(SUM(accessions) AS DOUBLE), 2) AS accessions_accessions
    FROM af WHERE year = 1996 GROUP BY 1
)
SELECT month, value_loans2, accessions_accessions
FROM l FULL JOIN a USING (month)
""",
)
def q_drill_across_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drill-across UNDER A CUT: the 1996 monthly loans-vs-accessions
    comparison — the cut compiles into every fact's aggregate AND into
    the conformed-group resolution (the below-cut rule shifts the date
    drilldown to the month level), so the join keys stay exactly the
    group columns.  Pins the cut-aware column-split contract as a
    driver-checked row."""
    from opl_spark.facts import build_accessions_fact, build_loans_fact

    engine = CubeEngine(default_catalog())
    engine.register_fact("loans2", build_loans_fact(spark, sf_dir))
    engine.register_fact("accessions", build_accessions_fact(spark, sf_dir))
    return engine.drill_across(
        ["loans2", "accessions"], drilldown="date", cut="date:1996"
    )


# ---------------------------------------------------------------------------
# Classic warehouse join shapes (TPC-H Q4/Q13/Q16/Q18/Q2 analogues over
# the driver's star schema).  Each exists to pin a DISTINCT physical
# join strategy: semi-join existence, outer-join distribution counts,
# anti-join exclusion under a distinct-agg, aggregated semi-join
# (HAVING-in-subquery), and lexicographic min-per-group join-back.
# ---------------------------------------------------------------------------


@register(
    "q_order_priority",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
  AND o.o_orderdate < TIMESTAMP '1995-07-01'
  AND EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
GROUP BY 1
""",
)
def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped priority check: EXISTS compiles to a LEFT SEMI
    join (each order tested once, no fan-out duplication from multi-
    line orders), with the half-year date window pushed to the orders
    scan.  The semi-join's extra predicate (shipped after ordered)
    rides the join condition, not a post-filter."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-07-01").cast("timestamp"))
    )
    hit = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > o["o_orderdate"]),
        "left_semi",
    )
    return hit.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@register(
    "q_customer_distribution",
    oracle="""
SELECT c_count, COUNT(*) AS custdist
FROM (
    SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
    FROM customer c
    LEFT JOIN orders o
      ON c.c_custkey = o.o_custkey AND o.o_orderstatus <> 'F'
    GROUP BY 1
)
GROUP BY 1
""",
)
def q_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped customer distribution: zero-order customers
    must survive, so the status exclusion lives in the OUTER join's ON
    clause (a WHERE would silently turn the join inner).  Two
    map-side-combinable aggregations; no distinct."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per = (
        cust.join(
            orders,
            (cust["c_custkey"] == orders["o_custkey"])
            & (orders["o_orderstatus"] != "F"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q_parts_supplier",
    oracle="""
SELECT p.p_brand, p.p_type, p.p_size,
       COUNT(DISTINCT a.l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) a
JOIN part p ON p.p_partkey = a.l_partkey
WHERE p.p_brand <> 'Brand#1' AND p.p_size IN (1, 4, 7)
  AND a.l_suppkey NOT IN (
      SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
""",
)
def q_parts_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped supplier diversity: the part predicate prunes
    before the shuffle, the excluded-supplier list applies as a LEFT
    ANTI join (never a collected NOT IN), and the distinct count runs
    over the already-distinct (part, supplier) association."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    assoc = li.select("l_partkey", "l_suppkey").distinct()
    bad = supp.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    keep = assoc.join(
        bad, assoc["l_suppkey"] == bad["s_suppkey"], "left_anti"
    )
    p = part.filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 4, 7)
    )
    return (
        keep.join(p, keep["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q_big_orders",
    oracle="""
WITH tot AS (
    SELECT l_orderkey, SUM(CAST(round(l_quantity) AS BIGINT)) AS total_qty
    FROM lineitem GROUP BY 1 HAVING SUM(CAST(round(l_quantity) AS BIGINT)) > 300
)
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       ROUND(CAST(o.o_totalprice AS DOUBLE), 2) AS total_price,
       CAST(t.total_qty AS BIGINT) AS total_qty
FROM tot t
JOIN orders o ON o.o_orderkey = t.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
""",
)
def q_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped large-volume orders: the HAVING-in-subquery
    reduces lineitem to a tiny qualifying-order set FIRST, so the
    orders/customer joins run against hundreds of keys, not millions —
    the aggregated-semi-join shape that makes Q18 tractable at scale.
    Quantities summed as exact integers."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    tot = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.round("l_quantity").cast("long")).alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    return (
        tot.join(orders, tot["l_orderkey"] == orders["o_orderkey"])
        .join(cust, F.col("o_custkey") == cust["c_custkey"])
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round(F.col("o_totalprice").cast("double"), 2)
            .alias("total_price"),
            "total_qty",
        )
    )


@register(
    "q_min_cost_supplier",
    oracle="""
WITH assoc AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
eu AS (
    SELECT s.s_suppkey, s.s_name,
           CAST(round(s.s_acctbal * 100) AS BIGINT) AS cents
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'EUROPE'
),
cand AS (
    SELECT a.l_partkey AS pk, e.cents, e.s_suppkey
    FROM assoc a JOIN eu e ON e.s_suppkey = a.l_suppkey
),
m1 AS (SELECT pk, MIN(cents) AS mc FROM cand GROUP BY 1),
m2 AS (
    SELECT c.pk, c.cents, MIN(c.s_suppkey) AS ms
    FROM cand c JOIN m1 ON m1.pk = c.pk AND m1.mc = c.cents
    GROUP BY 1, 2
)
SELECT p.p_partkey, p.p_name, m2.ms AS s_suppkey,
       ROUND(CAST(m2.cents AS DOUBLE) / 100, 2) AS s_acctbal
FROM m2 JOIN part p ON p.p_partkey = m2.pk
""",
)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped min-cost supplier: per part, the EUROPE
    supplier with the lowest account balance (cents-exact), suppkey
    tiebreak — computed as ONE lexicographic `min(struct(...))`
    aggregate instead of the oracle's two-step min+join-back.  Nation
    and region broadcast; the distinct association is the only
    shuffle-heavy input."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part")
    assoc = li.select("l_partkey", "l_suppkey").distinct()
    eu = (
        supp.join(
            F.broadcast(nation),
            supp["s_nationkey"] == nation["n_nationkey"],
        )
        .join(
            F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(
            "s_suppkey",
            F.round(F.col("s_acctbal") * 100).cast("long").alias("cents"),
        )
    )
    best = (
        assoc.join(eu, assoc["l_suppkey"] == eu["s_suppkey"])
        .groupBy(F.col("l_partkey").alias("pk"))
        .agg(F.min(F.struct("cents", "s_suppkey")).alias("b"))
    )
    return best.join(
        F.broadcast(part), best["pk"] == part["p_partkey"]
    ).select(
        "p_partkey",
        "p_name",
        F.col("b.s_suppkey").alias("s_suppkey"),
        F.round(F.col("b.cents").cast("double") / 100, 2).alias("s_acctbal"),
    )


@register(
    "q_pagerank",
    oracle="""
WITH raw AS (
    SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
e AS (
    SELECT src, dst FROM raw
    UNION
    SELECT dst AS src, src AS dst FROM raw
),
deg AS (SELECT src AS node, COUNT(*) AS deg FROM e GROUP BY 1),
p0 AS (SELECT node, deg, CAST(1000000000000 AS BIGINT) AS pr FROM deg),
p1 AS (
    SELECT d.node, d.deg,
           150000000000 + (85 * COALESCE(m.s, 0)) // 100 AS pr
    FROM deg d LEFT JOIN (
        SELECT e.dst AS node, SUM(p.pr // p.deg) AS s
        FROM e JOIN p0 p ON e.src = p.node GROUP BY 1) m
      ON m.node = d.node
),
p2 AS (
    SELECT d.node, d.deg,
           150000000000 + (85 * COALESCE(m.s, 0)) // 100 AS pr
    FROM deg d LEFT JOIN (
        SELECT e.dst AS node, SUM(p.pr // p.deg) AS s
        FROM e JOIN p1 p ON e.src = p.node GROUP BY 1) m
      ON m.node = d.node
),
p3 AS (
    SELECT d.node, d.deg,
           150000000000 + (85 * COALESCE(m.s, 0)) // 100 AS pr
    FROM deg d LEFT JOIN (
        SELECT e.dst AS node, SUM(p.pr // p.deg) AS s
        FROM e JOIN p2 p ON e.src = p.node GROUP BY 1) m
      ON m.node = d.node
)
SELECT node, CAST(pr AS BIGINT) AS pr FROM p3
""",
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-round PageRank over the undirected customer↔supplier
    interaction graph (distinct trade pairs from orders⋈lineitem;
    node key = 2·custkey / 2·suppkey+1).  Exact 1e12-scaled integer
    arithmetic makes the iterative result engine-portable — the oracle
    unrolls the identical three rounds as CTEs.  Per round: one
    edge⋈rank join + one node-keyed sum; rank state never leaves the
    cluster."""
    from opl_spark.operators.graph import pagerank

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    raw = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    # both orientations in ONE pass (r13): a union here plans — and at
    # the operator's edge checkpoint, executes — the orders⋈lineitem
    # join+distinct once per branch
    from opl_spark.operators.graph import both_directions

    return pagerank(both_directions(raw), iterations=3)


_PHASH_CTE = """
WITH m AS MATERIALIZED (
    SELECT doc_id AS media_id, text, len(text) AS n FROM documents
),
cells AS MATERIALIZED (
    SELECT media_id, (p - 1) % 64 AS cell,
           ascii(substr(text, CAST(p AS INTEGER), 1)) AS v
    FROM (SELECT media_id, text, unnest(range(1, n + 1)) AS p FROM m)
),
g AS MATERIALIZED (
    SELECT media_id, cell, CAST(SUM(v) AS BIGINT) AS gv
    FROM cells GROUP BY 1, 2
),
tot AS MATERIALIZED (
    SELECT media_id, CAST(SUM(gv) AS BIGINT) AS t FROM g GROUP BY 1
),
spine AS MATERIALIZED (SELECT CAST(unnest(range(0, 63)) AS BIGINT) AS cell),
ph AS MATERIALIZED (
    -- aHash bit b set where cell b's fold exceeds the 64-cell mean;
    -- the float `g > mean` compare clears exactly to 64·g > Σg.
    -- tot joins LEFT (COALESCE 0): an empty payload has no cells and
    -- no tot row, but image_phash still emits phash=0 for it — an
    -- inner join would drop the doc and rows-mismatch.
    SELECT m.media_id,
           CAST(SUM(CASE WHEN 64 * COALESCE(g.gv, 0) > COALESCE(tt.t, 0)
                         THEN CAST(1 AS BIGINT) << CAST(s.cell AS INTEGER)
                         ELSE 0 END) AS BIGINT) AS phash
    FROM m CROSS JOIN spine s
    LEFT JOIN g ON g.media_id = m.media_id AND g.cell = s.cell
    LEFT JOIN tot tt ON tt.media_id = m.media_id
    GROUP BY 1
)"""

# The fake-codec multimodal oracles (_PHASH_CTE, _SCENE_CHANGE_ORACLE,
# and the waveform/ocr CTEs below) equate one DuckDB CHARACTER with one
# UTF-8 BYTE (len(text) = payload length, ascii(ch) = byte value).
# That holds ONLY for an ASCII corpus — the operators run on the
# UTF-8-encoded media bytes, where a non-ASCII char is >1 byte and
# ascii() returns a codepoint, not a byte.  The synthetic documents
# tables are pure ASCII at every SF (asserted by
# tests/test_oracle_conformance.py::test_documents_corpus_is_ascii);
# a non-ASCII corpus needs byte-based oracle rewrites (encode/
# octet_length) before these four queries can be trusted.


@register("q_image_phash", oracle=_PHASH_CTE + "\nSELECT media_id, phash FROM ph\n")
def q_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """63-bit perceptual hash (average-hash) per media payload via the
    stub pixel grid — the image twin of text SimHash; codec="real"
    swaps in an 8×8 Pillow thumbnail over the same plan (pinned by
    tests/test_operators.py numpy reference + Pillow-optional test).
    Oracled (was rows-only): the fake grid is a position-mod-64 byte
    fold of ASCII text, so the fold, the mean threshold (cleared to
    an integer cross-multiplication), and the bit packing all replay
    in SQL."""
    from opl_spark.operators.multimodal import image_phash

    docs = load_table(spark, sf_dir, "documents")
    return image_phash(with_media_column(docs, "text", "doc_id"))


_IMAGE_DEDUP_ORACLE = _PHASH_CTE + """,
chunks AS MATERIALIZED (
    SELECT media_id, phash, c AS chunk,
           (phash >> CAST(c * 16 AS INTEGER)) & 65535 AS ck
    FROM ph CROSS JOIN (SELECT CAST(unnest(range(0, 4)) AS BIGINT) AS c)
),
pairs AS MATERIALIZED (
    SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
           CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
    FROM chunks a JOIN chunks b
      ON a.chunk = b.chunk AND a.ck = b.ck AND a.media_id < b.media_id
)
SELECT media_a, media_b, hamming FROM pairs WHERE hamming <= 8
"""


@register("q_image_dedup", oracle=_IMAGE_DEDUP_ORACLE)
def q_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup IMAGE pairs: perceptual hashes banded into 16-bit
    chunks (pigeonhole join bound), exact hamming ≤ 8 verification —
    the multimodal reuse of the text dedup scale path.  Exact byte
    copies always land at hamming 0.  Oracled (was rows-only) on top
    of the replayable fake-grid phash — banding, candidate join, and
    hamming verify are all integer SQL."""
    from opl_spark.operators.multimodal import image_phash, phash_dup_candidates

    docs = load_table(spark, sf_dir, "documents")
    hashes = image_phash(with_media_column(docs, "text", "doc_id"))
    return phash_dup_candidates(hashes, max_hamming=8)


_SCENE_CHANGE_ORACLE = """
WITH m AS MATERIALIZED (
    SELECT doc_id AS media_id, text, len(text) AS n
    FROM documents WHERE len(text) > 0
),
fr AS MATERIALIZED (
    SELECT media_id, text, n, unnest(range(0, (n + 63) // 64)) AS frame FROM m
),
-- luma·1e6 = (Σ bytes)·15625 EXACTLY (frame_bytes=64 divides 1e6),
-- so the lag-threshold compare is pure integer arithmetic
lk AS MATERIALIZED (
    SELECT media_id, frame,
           CAST(SUM(CASE WHEN p <= n
                         THEN ascii(substr(text, CAST(p AS INTEGER), 1))
                         ELSE 0 END) AS BIGINT) * 15625 AS l6
    FROM (SELECT media_id, text, n, frame,
                 frame * 64 + unnest(range(1, 65)) AS p FROM fr)
    GROUP BY 1, 2
),
cuts AS MATERIALIZED (
    SELECT media_id, frame,
           CASE WHEN ABS(l6 - LAG(l6) OVER w) > 4000000 THEN 1 ELSE 0 END AS is_cut
    FROM lk WINDOW w AS (PARTITION BY media_id ORDER BY frame)
),
shots AS MATERIALIZED (
    SELECT media_id, frame,
           CAST(SUM(is_cut) OVER (PARTITION BY media_id ORDER BY frame
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS shot_no
    FROM cuts
)
SELECT media_id, shot_no,
       CAST(MIN(frame) AS INTEGER) AS start_frame,
       COUNT(*) AS n_frames
FROM shots GROUP BY 1, 2
"""


@register("q_scene_change", oracle=_SCENE_CHANGE_ORACLE)
def q_scene_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection over video-payload stand-ins: per-frame
    luma means framed inside Arrow batches, lag-window cut threshold,
    island cumsum → one row per (media, shot) with start frame and
    length.  Oracled (was rows-only): the 64-byte frame means are
    exact micro-integers (1e6/64 = 15625), so the lag compare and
    shot numbering replay as integer SQL.  Real-codec integration
    point documented in operators/multimodal.py."""
    from opl_spark.operators.multimodal import video_scene_changes

    docs = load_table(spark, sf_dir, "documents")
    return video_scene_changes(
        with_media_column(docs, "text", "doc_id"), frame_bytes=64, threshold=4.0
    )


@register(
    "q_embedding_standardize",
    oracle="""
WITH cells AS (
    SELECT vec_id, CAST(pos - 1 AS INTEGER) AS pos,
           CAST(round(CAST(val AS DOUBLE) * 1000000) AS BIGINT) AS v
    FROM (
        SELECT vec_id, unnest(embedding) AS val,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
    ) u
),
stats AS (
    SELECT pos, SUM(v) AS s, SUM(v * v) AS s2, COUNT(*) AS n
    FROM cells GROUP BY 1
)
SELECT c.vec_id, c.pos,
       ROUND(
           (CAST(c.v AS DOUBLE) - CAST(st.s AS DOUBLE) / st.n)
           / sqrt(CAST(st.s2 AS DOUBLE) / st.n
                  - (CAST(st.s AS DOUBLE) / st.n) * (CAST(st.s AS DOUBLE) / st.n)),
           6) AS z
FROM cells c JOIN stats st ON st.pos = c.pos
""",
)
def q_embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-score standardization of the embedding matrix
    (feature normalization before clustering/ANN): values scale to
    exact integers, per-dimension moments are order-independent integer
    sums (dimension-count-sized state), and floats appear only in the
    final normalized emission.  One posexplode + one 64-group agg +
    one broadcast-sized join back."""
    emb = load_table(spark, sf_dir, "embeddings")
    cells = emb.select(
        "vec_id",
        F.posexplode("embedding").alias("pos", "val"),
    ).select(
        "vec_id",
        "pos",
        F.round(F.col("val").cast("double") * 1000000).cast("long").alias("v"),
    )
    stats = cells.groupBy("pos").agg(
        F.sum("v").alias("s"),
        F.sum(F.col("v") * F.col("v")).alias("s2"),
        F.count(F.lit(1)).alias("n"),
    )
    mu = F.col("s").cast("double") / F.col("n")
    var = F.col("s2").cast("double") / F.col("n") - mu * mu
    return cells.join(F.broadcast(stats), "pos").select(
        "vec_id",
        "pos",
        F.round(
            (F.col("v").cast("double") - mu) / F.sqrt(var), 6
        ).alias("z"),
    )


@register(
    "q_kcore",
    oracle="""
WITH raw AS (
    SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-04-01'
),
e0 AS (SELECT src, dst FROM raw UNION SELECT dst, src FROM raw),
b1 AS (SELECT src AS node FROM e0 GROUP BY 1 HAVING COUNT(*) < 4),
e1 AS (
    SELECT e.src, e.dst FROM e0 e
    WHERE e.src NOT IN (SELECT node FROM b1)
      AND e.dst NOT IN (SELECT node FROM b1)
),
b2 AS (SELECT src AS node FROM e1 GROUP BY 1 HAVING COUNT(*) < 4),
e2 AS (
    SELECT e.src, e.dst FROM e1 e
    WHERE e.src NOT IN (SELECT node FROM b2)
      AND e.dst NOT IN (SELECT node FROM b2)
),
b3 AS (SELECT src AS node FROM e2 GROUP BY 1 HAVING COUNT(*) < 4),
e3 AS (
    SELECT e.src, e.dst FROM e2 e
    WHERE e.src NOT IN (SELECT node FROM b3)
      AND e.dst NOT IN (SELECT node FROM b3)
)
SELECT src AS node, COUNT(*) AS deg FROM e3 GROUP BY 1
""",
)
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three pruning rounds toward the 4-core of the quarterly trade
    graph (customer↔supplier; dense-interaction subgraph mining for
    sampling/curation).  Each round = one degree agg + two anti-joins
    against the below-k node list; the fixed-round prefix is pinned by
    the oracle's unrolled CTEs, and `operators.graph.kcore` runs the
    identical round to convergence (tests/test_graph_multimodal.py)."""
    from opl_spark.operators.graph import kcore_prune

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    raw = (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    # both orientations in ONE pass (r13) — see q_pagerank's note
    from opl_spark.operators.graph import both_directions

    return kcore_prune(both_directions(raw), k=4, rounds=3)


@register(
    "q_pareto_customers",
    oracle="""
WITH per AS (
    SELECT cents, MAX(n) AS n FROM (
        SELECT CAST(round(c.c_acctbal * 100) AS BIGINT) AS cents,
               COUNT(o.o_orderkey) AS n
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, 1
    ) GROUP BY 1
)
SELECT cents AS x, n AS y FROM per p
WHERE NOT EXISTS (
    SELECT 1 FROM per q WHERE q.cents > p.cents AND q.n >= p.n)
""",
)
def q_pareto_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto front of customers (account balance vs order count —
    the multi-criteria data-selection skyline).  The engine's two-phase
    bucketed skyline (per-x maxima → bucket-local running-max fronts →
    bucket-summary threshold join) replaces the oracle's quadratic
    NOT EXISTS; no global window anywhere."""
    from opl_spark.operators.analytics import pareto_front_2d

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per = (
        cust.select(
            "c_custkey",
            F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        )
        .join(orders, F.col("c_custkey") == orders["o_custkey"], "left")
        .groupBy("c_custkey", "cents")
        .agg(F.count("o_orderkey").alias("n"))
    )
    return pareto_front_2d(per, "cents", "n")


@register(
    "q_cluster_terms",
    oracle=r"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < 8),
dists AS (
    SELECT e.vec_id, c.cell,
           list_sum(list_transform(range(1, 65),
               i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))) AS d2
    FROM e CROSS JOIN c
),
assign AS (
    SELECT vec_id, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        FROM dists
    ) WHERE rn = 1
),
toks AS (
    SELECT a.cell,
           unnest(regexp_split_to_array(lower(trim(d.text)), '\s+')) AS term
    FROM documents d JOIN assign a ON a.vec_id = d.doc_id
),
cnts AS (
    SELECT cell, term, COUNT(*) AS cnt FROM toks
    WHERE length(term) >= 4 GROUP BY 1, 2
)
SELECT cell, rank, term, cnt FROM (
    SELECT cell, term, cnt,
           row_number() OVER (PARTITION BY cell ORDER BY cnt DESC, term) AS rank
    FROM cnts
) WHERE rank <= 3
""",
)
def q_cluster_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster report cards: embeddings assigned to 8 seeded cells
    (the SemDeDup/IVF assignment), documents joined by id, and each
    cluster labeled with its top-3 characteristic terms (count desc,
    term tiebreak).  The corpus-exploration step between clustering
    and curation decisions — all work is cell-partitioned; the rank
    window is keyed by cell."""
    from pyspark.sql import Window

    from opl_spark.operators.dedup import words_col
    from opl_spark.operators.similarity import ivf_assign

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    cents = seed_centroids(emb, "embedding", "vec_id", ncells=8)
    assigned = ivf_assign(emb, "embedding", cents).select(
        F.col("vec_id").alias("doc_id"), "cell"
    )
    toks = (
        docs.join(assigned, "doc_id")
        .select("cell", F.explode(words_col(F.col("text"))).alias("term"))
        .filter(F.length("term") >= 4)
    )
    cnts = toks.groupBy("cell", "term").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("cell").orderBy(F.col("cnt").desc(), "term")
    return (
        cnts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("cell", "rank", "term", "cnt")
    )


@register(
    "q_sentence_dedup",
    oracle=r"""
WITH sents AS (
    SELECT doc_id AS doc, s.pos, s.sent
    FROM documents,
         LATERAL (
             SELECT unnest(regexp_split_to_array(trim(text), '\.\s+')) AS sent,
                    generate_subscripts(
                        regexp_split_to_array(trim(text), '\.\s+'), 1) AS pos
         ) s
    WHERE length(trim(s.sent)) > 0
),
freq AS (
    SELECT doc, pos, sent,
           COUNT(*) OVER (PARTITION BY lower(trim(sent))) AS freq
    FROM sents
),
rebuilt AS (
    SELECT doc, string_agg(sent, '. ' ORDER BY pos) AS clean_text,
           COUNT(*) AS n_kept
    FROM freq WHERE freq < 3 GROUP BY doc
),
totals AS (SELECT doc, COUNT(*) AS n_sentences FROM sents GROUP BY 1)
SELECT t.doc, t.n_sentences,
       t.n_sentences - COALESCE(r.n_kept, 0) AS n_dropped,
       COALESCE(r.clean_text, '') AS clean_text
FROM totals t LEFT JOIN rebuilt r ON r.doc = t.doc
""",
)
def q_sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style sentence dedup removal (arXiv:1910.10683 §2.2):
    sentences seen ≥3 times corpus-wide drop from every document;
    documents rebuild in original order.  One window count over the
    sentence hash — never a count-table self-join."""
    from opl_spark.operators.dedup import sentence_dedup

    docs = load_table(spark, sf_dir, "documents")
    return sentence_dedup(docs, "text", "doc_id", min_count=3)


# ---------------------------------------------------------------------------
# Second TPC-H-shaped block (Q7/Q8/Q9/Q10/Q12/Q14/Q15/Q17/Q21/Q22
# analogues over the driver's star schema).  As with the first block,
# each pins a DISTINCT physical strategy: bidirectional pair joins,
# conditional-aggregate ratios, LIKE-pushdown star joins, top-k over a
# join-agg, decorrelated per-group averages, scalar-subquery
# thresholds, and the exists/not-exists double-semi-join.  Money math
# follows the block-1 convention: discounts scale to exact integer
# hundredths so decimal sums are order-independent, ROUND(double, 2)
# only at the final projection.
# ---------------------------------------------------------------------------

_DISC_SCALED_SQL = """CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(100 - CAST(round(l_discount * 100) AS BIGINT)
                             AS DECIMAL(18,0))"""


def _disc_revenue():
    """Exact line revenue in integer hundredths: extendedprice(dec 18,2)
    × (100 − discount·100)(dec 18,0); divide by 100 at final ROUND."""
    scaled = (
        F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    ).cast("decimal(18,0)")
    return F.col("l_extendedprice").cast("decimal(18,2)") * scaled


def _cents_half_up(sum_expr):
    """Round a 1e-4-dollar decimal SUM to 2 decimals in INTEGER space:
    ``floor((units + 50) / 100) / 100`` — half-up, exact, identical in
    every engine.  `ROUND(CAST(x AS DOUBLE)/100, 2)` is NOT: a
    half-cent boundary sum (….595) rounds up under Spark's
    shortest-repr HALF_UP but down under DuckDB's binary-double round;
    customer 249 (sf0.01) and NATION_21/1997 (sf0.001) both hit it
    live.  Works for negative sums too — both engines floor toward
    −∞ on the same integers."""
    units = (sum_expr * 100).cast("long")  # 1e-4 dollars, exact
    return F.floor((units + 50) / 100).cast("double") / 100


@register(
    "q_volume_shipping",
    oracle=f"""
SELECT supp_nation, cust_nation, l_year,
       CAST((CAST(SUM(vol) * 100 AS BIGINT) + 50) // 100 AS DOUBLE) / 100
           AS revenue
FROM (
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           EXTRACT(year FROM l_shipdate) AS l_year,
           {_DISC_SCALED_SQL} AS vol
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
)
GROUP BY 1, 2, 3
""",
)
def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped volume shipping: bilateral trade between two
    nations by ship year.  The disjunctive nation-pair predicate sits
    AFTER both nation joins (each a broadcast), so Catalyst still
    prunes the fact side down to two nations' suppliers/customers
    before the orders⋈lineitem shuffle; revenue uses the exact
    integer-hundredths convention."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        supp.join(li, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(n1, F.col("n1_key") == F.col("s_nationkey"))
        .join(n2, F.col("n2_key") == F.col("c_nationkey"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return (
        joined.withColumn("l_year", F.year("l_shipdate").cast("long"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(_cents_half_up(F.sum(_disc_revenue())).alias("revenue"))
    )


@register(
    "q_market_share",
    oracle=f"""
SELECT o_year,
       ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol
                           ELSE CAST(0 AS DECIMAL(28,0)) END) AS DOUBLE)
             / CAST(SUM(vol) AS DOUBLE), 6) AS mkt_share
FROM (
    SELECT EXTRACT(year FROM o.o_orderdate) AS o_year,
           n1.n_name AS supp_nation,
           {_DISC_SCALED_SQL} AS vol
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
    JOIN region r   ON r.r_regionkey = n2.n_regionkey
    WHERE r.r_name = 'ASIA'
)
GROUP BY 1
""",
)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped market share: NATION_3 suppliers' slice of all
    revenue sold into ASIA customers, per order year.  The numerator
    is a CONDITIONAL aggregate over the same joined stream as the
    denominator — one pass, no self-join; both sums stay exact
    decimals and only the final ratio goes floating-point."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region")
    )
    joined = (
        li.join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(n1, F.col("n1_key") == F.col("s_nationkey"))
        .join(n2, F.col("n2_key") == F.col("c_nationkey"))
        .join(region, F.col("r_regionkey") == F.col("n2_region"))
        .filter(F.col("r_name") == "ASIA")
    )
    vol = _disc_revenue()
    num = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(
            F.lit(0).cast("decimal(28,0)")
        )
    )
    return (
        joined.withColumn("o_year", F.year("o_orderdate").cast("long"))
        .groupBy("o_year")
        .agg(
            F.round(num.cast("double") / F.sum(vol).cast("double"), 6).alias(
                "mkt_share"
            )
        )
    )


@register(
    "q_product_profit",
    oracle="""
SELECT nation, o_year,
       CAST((CAST(SUM(amount) * 100 AS BIGINT) + 50) // 100 AS DOUBLE) / 100
           AS sum_profit
FROM (
    SELECT n.n_name AS nation,
           EXTRACT(year FROM o.o_orderdate) AS o_year,
           CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(100 - CAST(round(l_discount * 100) AS BIGINT)
                    AS DECIMAL(18,0))
             - CAST(p.p_retailprice AS DECIMAL(18,2))
               * CAST(round(l.l_quantity) AS BIGINT)
               * CAST(100 AS DECIMAL(18,0)) AS amount
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%widget%'
)
GROUP BY 1, 2
""",
)
def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped product profit: per supplier-nation, per order
    year, profit on every 'widget' part = discounted revenue minus
    retail cost of the shipped quantity.  The LIKE predicate prunes
    part BEFORE its broadcast join (the Q9 pattern that matters at
    scale: the string match runs over the 1/1000-sized dimension, not
    the fact stream); all money stays in integer hundredths until the
    final projection."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    p = part.filter(F.col("p_name").like("%widget%"))
    cost = (
        F.col("p_retailprice").cast("decimal(18,2)")
        * F.round(F.col("l_quantity")).cast("long")
        * F.lit(100).cast("decimal(18,0)")
    )
    joined = (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(nation, F.col("n_nationkey") == F.col("s_nationkey"))
    )
    return (
        joined.withColumn("o_year", F.year("o_orderdate").cast("long"))
        .withColumn("amount", _disc_revenue() - cost)
        .groupBy(F.col("n_name").alias("nation"), F.col("o_year"))
        .agg(_cents_half_up(F.sum("amount")).alias("sum_profit"))
    )


@register(
    "q_returned_items",
    oracle="""
SELECT c.c_custkey, c.c_name,
       CAST((CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(100 - CAST(round(l_discount * 100) AS BIGINT)
                             AS DECIMAL(18,0))) * 100 AS BIGINT) + 50) // 100
            AS DOUBLE) / 100 AS revenue,
       ROUND(CAST(c.c_acctbal AS DOUBLE), 2) AS acctbal, n.n_name
FROM customer c
JOIN orders o   ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON n.n_nationkey = c.c_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-04-01'
  AND l.l_returnflag = 'R'
GROUP BY 1, 2, 4, 5
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped returned-item report: top-20 customers by
    revenue lost to returns in one quarter.  The quarter window pushes
    to the orders scan and the returnflag to the lineitem scan before
    the shuffle join; the final top-20 plans as TakeOrderedAndProject
    (limit+sort fused, no global sort materialization), with custkey
    as the deterministic tiebreak.  Rounding happens in INTEGER cents
    (`(units_1e4 + 50) // 100`) because a half-cent boundary row
    (….595) rounds differently between Spark's shortest-repr HALF_UP
    and DuckDB's binary-double round — observed live on customer 249
    at sf0.01."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    l = li.filter(F.col("l_returnflag") == "R")
    joined = (
        cust.join(o, F.col("o_custkey") == F.col("c_custkey"))
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(nation, F.col("n_nationkey") == F.col("c_nationkey"))
    )
    units = (F.sum(_disc_revenue()) * 100).cast("long")  # 1e-4 dollars, exact
    cents = F.floor((units + 50) / 100)  # half-up; < 2^53 so the double is exact
    return (
        joined.groupBy(
            "c_custkey",
            "c_name",
            F.round(F.col("c_acctbal").cast("double"), 2).alias("acctbal"),
            "n_name",
        )
        .agg((cents.cast("double") / 100).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q_late_lines",
    oracle="""
SELECT EXTRACT(year FROM l.l_shipdate) AS ship_year,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
GROUP BY 1
""",
)
def q_late_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped late-shipment split: lines shipped more than
    60 days after ordering, counted by ship year and split into
    high/low priority via two conditional counts over ONE joined
    stream (the Q12 pattern — never two filtered scans unioned).  The
    lateness predicate rides the join output where both dates are in
    scope."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    joined = li.join(orders, F.col("o_orderkey") == F.col("l_orderkey")).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        joined.withColumn("ship_year", F.year("l_shipdate").cast("long"))
        .groupBy("ship_year")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q_promo_effect",
    oracle="""
SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO' THEN
                 CAST(l_extendedprice AS DECIMAL(18,2))
                 * CAST(100 - CAST(round(l_discount * 100) AS BIGINT)
                        AS DECIMAL(18,0))
             ELSE CAST(0 AS DECIMAL(28,0)) END) AS DOUBLE)
       / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(100 - CAST(round(l_discount * 100) AS BIGINT)
                         AS DECIMAL(18,0))) AS DOUBLE), 6) AS promo_revenue_pct
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
  AND l.l_shipdate < TIMESTAMP '1996-10-01'
""",
)
def q_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped promo effect: percentage of one month's
    revenue from PROMO-type parts.  Numerator and denominator are one
    conditional-aggregate pass over the month's lineitem⋈part stream
    (part broadcasts); exact decimal sums, one floating ratio at the
    end."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    month = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    joined = month.join(part, F.col("p_partkey") == F.col("l_partkey"))
    vol = _disc_revenue()
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", vol).otherwise(
            F.lit(0).cast("decimal(28,0)")
        )
    )
    return joined.agg(
        F.round(
            F.lit(100.0) * promo.cast("double") / F.sum(vol).cast("double"), 6
        ).alias("promo_revenue_pct")
    )


@register(
    "q_top_supplier",
    oracle="""
WITH rev AS (
    SELECT l_suppkey AS supplier_no,
           SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(100 - CAST(round(l_discount * 100) AS BIGINT)
                      AS DECIMAL(18,0))) AS total
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1996-04-01'
    GROUP BY 1
)
SELECT s.s_suppkey, s.s_name,
       CAST((CAST(r.total * 100 AS BIGINT) + 50) // 100 AS DOUBLE) / 100
           AS total_revenue
FROM rev r
JOIN supplier s ON s.s_suppkey = r.supplier_no
WHERE r.total = (SELECT MAX(total) FROM rev)
""",
)
def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped top supplier: the supplier(s) with maximum
    quarterly revenue.  The revenue view computes ONCE (cached via
    localCheckpoint would be overkill — Catalyst reuses the exchange
    under AQE); the scalar max joins back as a 1-row broadcast
    cross-filter rather than a global sort, so ties surface exactly
    and nothing orders the full supplier set."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_disc_revenue()).alias("total"))
    )
    mx = rev.agg(F.max("total").alias("mx"))
    return (
        rev.join(F.broadcast(mx), rev["total"] == mx["mx"])
        .join(supp, F.col("s_suppkey") == F.col("supplier_no"))
        .select(
            "s_suppkey",
            "s_name",
            _cents_half_up(F.col("total")).alias("total_revenue"),
        )
    )


@register(
    "q_small_qty_revenue",
    oracle="""
WITH pstats AS (
    SELECT l_partkey AS pk,
           SUM(CAST(round(l_quantity) AS BIGINT)) AS sum_qty,
           COUNT(*) AS cnt
    FROM lineitem GROUP BY 1
)
SELECT CAST((2 * CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) * 100
                 AS BIGINT) + 7) // 14 AS DOUBLE) / 100 AS avg_yearly
FROM lineitem l
JOIN pstats p ON p.pk = l.l_partkey
JOIN part pt  ON pt.p_partkey = l.l_partkey
WHERE pt.p_brand = 'Brand#4'
  AND 2 * CAST(round(l.l_quantity) AS BIGINT) * p.cnt < p.sum_qty
""",
)
def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped small-quantity revenue: lines of one brand
    whose quantity is below half the part's average order quantity.
    The correlated AVG subquery decorrelates into one per-part
    aggregate joined back on partkey — and the fractional-average
    comparison `qty < 0.5·avg` is algebraically cleared to the exact
    integer form `2·qty·cnt < sum` so no floating average can flip a
    boundary row between engines."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    qty = F.round(F.col("l_quantity")).cast("long")
    pstats = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(qty).alias("sum_qty"), F.count(F.lit(1)).alias("cnt")
    )
    brand = part.filter(F.col("p_brand") == "Brand#4").select("p_partkey")
    joined = (
        li.join(pstats, F.col("pk") == F.col("l_partkey"))
        .join(brand, F.col("p_partkey") == F.col("l_partkey"))
        .filter(F.lit(2) * qty * F.col("cnt") < F.col("sum_qty"))
    )
    cents = (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")) * 100).cast(
        "long"
    )
    return joined.agg(
        (F.floor((2 * cents + 7) / 14).cast("double") / 100).alias("avg_yearly")
    )


@register(
    "q_waiting_suppliers",
    oracle="""
WITH late AS (
    SELECT l.l_orderkey, l.l_suppkey
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    GROUP BY 1, 2
),
order_stats AS (
    SELECT l_orderkey,
           COUNT(DISTINCT l_suppkey) AS n_supps
    FROM lineitem GROUP BY 1
),
late_stats AS (
    SELECT l_orderkey, COUNT(*) AS n_late, MIN(l_suppkey) AS only_late
    FROM late GROUP BY 1
)
SELECT s.s_name, COUNT(*) AS numwait
FROM late_stats ls
JOIN order_stats os ON os.l_orderkey = ls.l_orderkey
JOIN supplier s ON s.s_suppkey = ls.only_late
WHERE os.n_supps >= 2 AND ls.n_late = 1
GROUP BY 1
""",
)
def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped waiting suppliers: per supplier, how many
    multi-supplier orders were held up by THAT supplier alone (its
    line shipped >90 days late while every co-supplier shipped on
    time).  The exists/not-exists pair decorrelates into two
    map-side-combinable per-order aggregates (distinct-supplier count;
    late-supplier count + identity) — no correlated re-scan of
    lineitem per order, which is what kills naive Q21 plans at
    scale."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    late = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    order_stats = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supps")
    )
    late_stats = late.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_late"), F.min("l_suppkey").alias("only_late")
    )
    culprit = (
        late_stats.join(order_stats, "l_orderkey")
        .filter((F.col("n_supps") >= 2) & (F.col("n_late") == 1))
        .join(supp, F.col("s_suppkey") == F.col("only_late"))
    )
    return culprit.groupBy("s_name").agg(F.count(F.lit(1)).alias("numwait"))


@register(
    "q_sales_opportunity",
    oracle="""
WITH pos AS (
    SELECT SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS sum_cents,
           COUNT(*) AS cnt
    FROM customer WHERE c_acctbal > 0
)
SELECT n.n_name, COUNT(*) AS numcust,
       ROUND(CAST(SUM(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS DOUBLE)
             / 100, 2) AS totacctbal
FROM customer c
JOIN nation n ON n.n_nationkey = c.c_nationkey
CROSS JOIN pos
WHERE CAST(round(c.c_acctbal * 100) AS BIGINT) * pos.cnt > pos.sum_cents
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY 1
""",
)
def q_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped sales opportunity: customers with
    above-average positive balance and NO orders, counted per nation.
    The global average arrives as a 1-row broadcast (sum_cents, cnt)
    and the comparison clears the division (`cents·cnt > sum_cents`)
    for engine-exact boundaries; the no-orders test is a LEFT ANTI
    join, never a collected NOT IN."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    pos = cust.filter(F.col("c_acctbal") > 0).agg(
        F.sum(cents).alias("sum_cents"), F.count(F.lit(1)).alias("cnt")
    )
    rich = (
        cust.withColumn("cents", cents)
        .join(F.broadcast(pos))
        .filter(F.col("cents") * F.col("cnt") > F.col("sum_cents"))
    )
    no_orders = rich.join(
        orders, rich["c_custkey"] == orders["o_custkey"], "left_anti"
    )
    return (
        no_orders.join(nation, F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("cents").cast("double") / 100, 2).alias("totacctbal"),
        )
    )


@register(
    "q_dsir_weights",
    oracle=r"""
WITH toks AS (
    SELECT doc_id AS doc, (lang = 'en') AS t,
           CAST(('0x' || substr(md5(tok), 1, 8)) AS UBIGINT) % 256 AS bucket
    FROM (
        SELECT doc_id, lang,
               unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
        FROM documents
    )
),
raw AS (SELECT bucket, COUNT(*) AS cr FROM toks GROUP BY 1),
tgt AS (SELECT bucket, COUNT(*) AS ct FROM toks WHERE t GROUP BY 1),
tots AS (
    SELECT (SELECT SUM(cr) FROM raw) AS rt,
           (SELECT COALESCE(SUM(ct), 0) FROM tgt) AS tt
),
lam AS (
    SELECT r.bucket,
           CAST(round((ln(CAST(COALESCE(t.ct, 0) + 1 AS DOUBLE)
                          / CAST(tt + 256 AS DOUBLE))
                       - ln(CAST(r.cr + 1 AS DOUBLE)
                            / CAST(rt + 256 AS DOUBLE))) * 1e6) AS BIGINT)
               AS lam_micro
    FROM raw r LEFT JOIN tgt t USING (bucket) CROSS JOIN tots
)
SELECT doc, COUNT(*) AS n_tokens,
       CAST(SUM(lam_micro) AS DOUBLE) / 1e6 AS log_weight
FROM toks JOIN lam USING (bucket)
GROUP BY doc
""",
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance log-weights toward the English slice
    (arXiv:2302.03169): hashed-token bucket profiles, add-one smoothed
    log-ratio per bucket quantized to integer micronats, exact integer
    per-doc sums.  The md5-prefix bucket hash is engine-portable, so
    the oracle replays the identical bucketing."""
    from opl_spark.operators.sampling import dsir_weights

    docs = load_table(spark, sf_dir, "documents")
    return dsir_weights(docs, "text", "doc_id", F.col("lang") == "en")


@register(
    "q_spend_trend",
    oracle="""
WITH monthly AS (
    SELECT n.n_name AS nation,
           (EXTRACT(year FROM o.o_orderdate) - 1995) * 12
             + EXTRACT(month FROM o.o_orderdate) - 1 AS x,
           SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS y
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    GROUP BY 1, 2
)
SELECT nation, COUNT(*) AS n_months,
       ROUND(CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS DOUBLE)
             / CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS DOUBLE)
             / 100, 4) AS slope_per_month
FROM monthly
GROUP BY 1
""",
)
def q_spend_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation spend trend: ordinary-least-squares slope of monthly
    order revenue over the month index, in currency units per month.
    Every regression moment (n, Σx, Σy, Σxy, Σx²) is an exact integer
    — x is a month ordinal, y is revenue in cents — so the group-wise
    OLS needs no float accumulation: the two-level aggregation
    (month roll-up, then moment roll-up) is map-side combinable twice,
    and the single division happens per nation at emission.  The
    standard slope identity `(nΣxy − ΣxΣy) / (nΣx² − (Σx)²)` avoids
    a centered second pass entirely."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    monthly = (
        orders.join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(nation, F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            (
                (F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1
            ).cast("long").alias("x"),
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("y"))
    )
    n = F.count(F.lit(1))
    num = n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y")
    den = n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x")
    return monthly.groupBy("nation").agg(
        n.alias("n_months"),
        F.round(num.cast("double") / den.cast("double") / 100, 4).alias(
            "slope_per_month"
        ),
    )


@register(
    "q_topk_sketch",
    oracle=r"""
WITH toks AS (
    SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS value
    FROM documents
)
SELECT value, COUNT(*) AS est
FROM toks GROUP BY value
ORDER BY est DESC, value LIMIT 20
""",
)
def q_topk_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Space-saving top-20 tokens with 200 fixed counters per
    partition (Metwally et al., ICDT 2005): sketch-sized state, merge
    by summary rows + one threshold scalar, estimate ≥ true always.

    Oracle (r11 verdict task 2): space-saving is EXACT whenever no
    partition evicts — with fewer distinct values per partition than
    counters, every slot holds a full count, every eviction threshold
    is 0, and the merged upper bound collapses to the true global
    count.  The synthetic documents corpus has ~31 distinct tokens
    against 200 counters at every gate scale, so the registered id is
    hash-checked against the exact top-20 (same ``est DESC, value``
    tie-break).  The eviction regime — arrival-order-dependent
    estimates, overcount ≤ N/counters, heavy-hitter recovery — is
    pinned by tests/test_operators.py on a crafted 3010-key stream
    that forces displacement."""
    from opl_spark.operators.sketch import space_saving_topk

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok")
    )
    return space_saving_topk(toks, "tok", k=20, counters=200)


def _mmr_oracle() -> str:
    """Unrolled-CTE DuckDB replay of the quantized MMR greedy chain
    (mirrors ``operators/similarity.py:with_unit_quantized`` /
    ``mmr_select``): vectors quantize to 1e-6 unit integers, so every
    dot product is a sum of integer-valued doubles — exact under any
    summation order — and each of the k greedy argmax steps is one
    CTE with an integer score and a min-id tie-break."""
    k, shortlist, lam_pct = 10, 50, 70
    head = f"""
WITH pool AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
wq AS (SELECT id, list_transform(v, x -> floor(x * 1000 + 0.5)) AS w FROM pool),
nn AS (SELECT id, w, list_dot_product(w, w) AS n2 FROM wq),
uq AS (SELECT id,
              list_transform(w, y -> floor(y * 1000000 / sqrt(n2) + 0.5)) AS u
       FROM nn WHERE n2 > 0),
qv AS (SELECT u AS qu FROM uq WHERE id = 0),
sc AS (SELECT uq.id, uq.u,
              CAST(list_dot_product(uq.u, qv.qu) AS BIGINT) AS qsim
       FROM uq CROSS JOIN qv),
short AS MATERIALIZED (SELECT * FROM sc ORDER BY qsim DESC, id LIMIT {shortlist}),
picked1 AS MATERIALIZED (
    SELECT id, u, qsim, CAST({lam_pct} * qsim AS BIGINT) AS score,
           CAST(1 AS BIGINT) AS pick
    FROM short ORDER BY qsim DESC, id LIMIT 1)"""
    steps = []
    for step in range(2, k + 1):
        prev = f"picked{step - 1}"
        steps.append(f""",
cand{step} AS MATERIALIZED (
    SELECT c.id, c.u, c.qsim,
           CAST({lam_pct} * c.qsim
                - {100 - lam_pct} * MAX(CAST(list_dot_product(c.u, p.u) AS BIGINT))
                AS BIGINT) AS score
    FROM short c CROSS JOIN {prev} p
    WHERE c.id NOT IN (SELECT id FROM {prev})
    GROUP BY c.id, c.u, c.qsim),
step{step} AS (
    SELECT id, u, qsim, score, CAST({step} AS BIGINT) AS pick
    FROM cand{step} ORDER BY score DESC, id LIMIT 1),
picked{step} AS MATERIALIZED (SELECT * FROM {prev} UNION ALL SELECT * FROM step{step})""")
    tail = f"""
SELECT id, qsim AS sim_q, score AS mmr_q, pick FROM picked{k}
"""
    return head + "".join(steps) + tail


@register("q_mmr_select", oracle=_mmr_oracle())
def q_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity-aware top-10 for the vec_id-0 probe (λ=0.7 over a
    50-deep shortlist): relevance minus max-redundancy greedy pick.
    Integer-exact via 1e-6 unit quantization, so the full greedy
    chain — picks, scores, tie-breaks — is replayed hash-exact by the
    unrolled-CTE oracle (was rows-only before the quantized rewrite);
    the subset/first-pick/diversity properties stay pinned by
    tests/test_operators.py."""
    from opl_spark.operators.similarity import mmr_select

    emb = load_table(spark, sf_dir, "embeddings")
    return mmr_select(
        emb, "embedding", "vec_id", _query_vec(spark, sf_dir), k=10, shortlist=50
    )


@register(
    "q_label_prop",
    oracle="""
WITH raw AS (
    SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
e AS (
    SELECT src, dst FROM raw
    UNION
    SELECT dst AS src, src AS dst FROM raw
),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
l1 AS (
    SELECT dst AS node, label FROM (
        SELECT e.dst, l.label,
               row_number() OVER (PARTITION BY e.dst
                                  ORDER BY COUNT(*) DESC, l.label) AS rn
        FROM e JOIN l0 l ON e.src = l.node
        GROUP BY e.dst, l.label
    ) WHERE rn = 1
),
l2 AS (
    SELECT dst AS node, label FROM (
        SELECT e.dst, l.label,
               row_number() OVER (PARTITION BY e.dst
                                  ORDER BY COUNT(*) DESC, l.label) AS rn
        FROM e JOIN l1 l ON e.src = l.node
        GROUP BY e.dst, l.label
    ) WHERE rn = 1
),
l3 AS (
    SELECT dst AS node, label FROM (
        SELECT e.dst, l.label,
               row_number() OVER (PARTITION BY e.dst
                                  ORDER BY COUNT(*) DESC, l.label) AS rn
        FROM e JOIN l2 l ON e.src = l.node
        GROUP BY e.dst, l.label
    ) WHERE rn = 1
)
SELECT node, label FROM l3
""",
)
def q_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-round deterministic label propagation over the
    customer↔supplier trade graph (most-frequent neighbour label,
    min-label ties, synchronous rounds).  Integer labels end to end,
    so the oracle unrolls the identical three rounds as CTEs — the
    same portability trick as q_pagerank."""
    from opl_spark.operators.graph import label_propagation

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    raw = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    # both orientations in ONE pass (r13): the union planned the
    # orders⋈lineitem join+distinct once per branch, and its trailing
    # .distinct() was a content no-op (raw is distinct and the two
    # orientation classes are parity-disjoint: src even, dst odd) that
    # still paid a full exchange
    from opl_spark.operators.graph import both_directions

    edges = both_directions(raw)
    # label_propagation(checkpoint=True) lazily localCheckpoints the
    # edge frame itself — no caller-side checkpoint, or the same
    # corpus-sized edge RDD would persist twice.
    return label_propagation(edges, rounds=3)


@register(
    "q_seasonal_naive",
    oracle="""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n
    FROM events GROUP BY 1
),
marked AS (
    SELECT d, n, dayofweek(d) AS dow,
           ((EXTRACT(day FROM d) - 1) // 7) + 1 AS wk
    FROM daily
    WHERE d >= DATE '2024-01-01' AND d < DATE '2024-01-29'
),
hist AS (
    SELECT dow, SUM(n) AS sum3 FROM marked WHERE wk <= 3 GROUP BY 1
),
actual AS (
    SELECT dow, d, n FROM marked WHERE wk = 4
)
SELECT a.d AS day, a.n AS actual, CAST(h.sum3 AS BIGINT) AS forecast_x3,
       CAST(ABS(3 * a.n - h.sum3) AS BIGINT) AS abs_err_x3
FROM actual a JOIN hist h ON h.dow = a.dow
""",
)
def q_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict week 4's daily event
    volume from the mean of the same weekday over weeks 1–3, reporting
    per-day absolute error.  The ÷3 mean never happens — forecasts and
    errors stay ×3-scaled integers (`|3·actual − Σ3|`), so the entire
    backtest is exact across engines.  Two map-side-combinable
    aggregations (daily roll-up, weekday roll-up) and one 7-row
    broadcast join; the pattern extends to any horizon/periodicity by
    swapping the week arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(
            (F.col("d") >= F.lit("2024-01-01").cast("date"))
            & (F.col("d") < F.lit("2024-01-29").cast("date"))
        )
        .withColumn("dow", F.dayofweek("d"))
        .withColumn("wk", ((F.dayofmonth("d") - 1) / 7).cast("long") + 1)
    )
    hist = daily.filter(F.col("wk") <= 3).groupBy("dow").agg(
        F.sum("n").alias("sum3")
    )
    actual = daily.filter(F.col("wk") == 4)
    return actual.join(F.broadcast(hist), "dow").select(
        F.col("d").alias("day"),
        F.col("n").alias("actual"),
        F.col("sum3").alias("forecast_x3"),
        F.abs(3 * F.col("n") - F.col("sum3")).alias("abs_err_x3"),
    )


# ===========================================================================
# TPC-H completion block: the last four classic shapes (Q6/Q11/Q19/Q20)
# ===========================================================================


@register(
    "q_forecast_revenue",
    oracle="""
SELECT ROUND(CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                   * CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE)
             / 10000, 2) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 2 AND 4
  AND l_quantity < 24
""",
)
def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped forecast-revenue-change: the canonical
    full-scan conditional aggregate (one year, a discount band, a
    quantity cap; zero joins).  Every predicate reaches the parquet
    scan as a pushed filter and the plan is a single
    whole-stage-codegen pass with map-side partial sums.  Money stays
    exact: price cents x discount hundredths accumulate as a decimal
    sum of exact integers (1e-4 currency units, overflow-free at any
    scale) and the /1e4 + round(2) happens once on the one-row
    output."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_h = F.round(F.col("l_discount") * 100).cast("long")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & disc_h.between(2, 4)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum((cents * disc_h).cast("decimal(38,0)")).cast("double")
                / 10000,
                2,
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q_important_stock",
    oracle="""
WITH natsupp AS (
    SELECT s_suppkey FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name = 'NATION_7'
),
val AS (
    SELECT l.l_partkey,
           SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS value_cents
    FROM lineitem l JOIN natsupp ns ON ns.s_suppkey = l.l_suppkey
    GROUP BY 1
),
tot AS (SELECT SUM(value_cents) AS total_cents FROM val)
SELECT v.l_partkey AS partkey,
       ROUND(CAST(v.value_cents AS DOUBLE) / 100, 2) AS value
FROM val v CROSS JOIN tot
WHERE v.value_cents * 1000 > tot.total_cents
""",
)
def q_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped important stock: per-part inventory value held
    by one nation's suppliers, keeping parts above a fraction (0.1%) of
    the nation total.  (No partsupp table in this star schema, so
    lineitem volume stands in for stock value — the shape is
    identical.)  The nation's supplier keys BROADCAST into the
    lineitem scan; the global total arrives back as a 1-row broadcast
    and the HAVING-style fraction test clears the division
    (`value*1000 > total`) so threshold boundaries are engine-exact."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    natsupp = (
        supp.join(
            F.broadcast(nation.filter(F.col("n_name") == "NATION_7")),
            F.col("n_nationkey") == F.col("s_nationkey"),
        ).select("s_suppkey")
    )
    val = (
        li.join(F.broadcast(natsupp), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100)
                .cast("long")
                .cast("decimal(38,0)")
            ).alias("value_cents")
        )
    )
    tot = val.agg(F.sum("value_cents").alias("total_cents"))
    return (
        val.join(F.broadcast(tot))
        .filter(F.col("value_cents") * 1000 > F.col("total_cents"))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.round(F.col("value_cents").cast("double") / 100, 2).alias("value"),
        )
    )


@register(
    "q_discounted_revenue",
    oracle="""
SELECT ROUND(CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                   * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
             AS DOUBLE) / 10000, 2) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1'  AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#20' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 20 AND 30)
""",
)
def q_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped discounted revenue: a three-arm disjunctive
    predicate spanning part attributes and line quantity.  The part
    dimension is pre-filtered to the union of the three brand/size
    windows BEFORE it broadcasts (Catalyst can't split an OR across
    the join by itself, so the query hands it the per-side
    disjunction), then the joined stream applies the exact arm
    pairing.  Revenue = cents x (100 - discount hundredths) summed as
    integers; one divide + round on the single-row output."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    part_side = part.filter(
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 5))
        | ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#20") & F.col("p_size").between(1, 15))
    )
    li_side = li.filter(F.col("l_quantity").between(1, 30))
    arms = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#20")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc = F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    return (
        li_side.join(
            F.broadcast(part_side), F.col("p_partkey") == F.col("l_partkey")
        )
        .filter(arms)
        .agg(
            F.round(
                F.sum((cents * disc).cast("decimal(38,0)")).cast("double")
                / 10000,
                2,
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q_dominant_suppliers",
    oracle="""
WITH flagged AS (
    SELECT p_partkey FROM part WHERE p_name LIKE 'small%'
),
shipped AS (
    SELECT l.l_partkey, l.l_suppkey,
           SUM(CAST(round(l.l_quantity) AS BIGINT)) AS qty
    FROM lineitem l
    JOIN flagged f ON f.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY 1, 2
),
part_tot AS (
    SELECT l_partkey, SUM(qty) AS total_qty FROM shipped GROUP BY 1
)
SELECT s.s_name, COUNT(*) AS n_dominated
FROM shipped sh
JOIN part_tot pt ON pt.l_partkey = sh.l_partkey
JOIN supplier s ON s.s_suppkey = sh.l_suppkey
WHERE 2 * sh.qty > pt.total_qty
GROUP BY 1
""",
)
def q_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped supplier qualification: suppliers that shipped
    MORE THAN HALF of a flagged part family's 1996 volume, counted per
    supplier.  (partsupp availqty doesn't exist in this schema; the
    'excess share' test against the part's own total preserves Q20's
    nested aggregate-vs-aggregate semi-join shape.)  The LIKE-pruned
    part keys broadcast into the lineitem scan; per-(part,supplier)
    and per-part totals are two map-side-combinable aggs over the SAME
    shuffled stream (the second is a re-reduce of the first); the
    half test is integer cross-multiplied (`2*qty > total`)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    flagged = part.filter(F.col("p_name").like("small%")).select("p_partkey")
    shipped = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(F.broadcast(flagged), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.round(F.col("l_quantity")).cast("long")).alias("qty"))
    )
    part_tot = shipped.groupBy("l_partkey").agg(
        F.sum("qty").alias("total_qty")
    )
    return (
        shipped.join(part_tot, "l_partkey")
        .filter(2 * F.col("qty") > F.col("total_qty"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n_dominated"))
    )


@register(
    "q_hybrid_search",
    oracle=r"""
WITH toks AS (
    SELECT doc_id AS doc, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
    FROM documents
),
tok AS (SELECT doc, term FROM toks WHERE term <> ''),
dl AS (SELECT doc, COUNT(*) AS dl FROM tok GROUP BY 1),
corpus AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM dl),
tf AS (
    SELECT doc, term, COUNT(*) AS tf FROM tok
    WHERE term IN ('hash', 'join', 'window') GROUP BY 1, 2
),
dfreq AS (SELECT term, COUNT(*) AS df_t FROM tf GROUP BY 1),
bm25 AS (
    SELECT tf.doc,
           ROUND(SUM(
               ln((corpus.n_docs - dfreq.df_t + 0.5) / (dfreq.df_t + 0.5) + 1.0)
               * tf.tf * (1.2 + 1.0)
               / (tf.tf + 1.2 * (1.0 - 0.75
                  + 0.75 * dl.dl / (CAST(corpus.total_dl AS DOUBLE) / corpus.n_docs)))
           ), 6) AS score
    FROM tf
    JOIN dfreq ON tf.term = dfreq.term
    JOIN dl ON tf.doc = dl.doc
    CROSS JOIN corpus
    GROUP BY tf.doc
    ORDER BY score DESC, tf.doc
    LIMIT 50
),
lex AS (
    SELECT doc, row_number() OVER (ORDER BY score DESC, doc) AS lex_rank
    FROM bm25
),
q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
    SELECT e.vec_id AS doc,
           ROUND(
             list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv) /
             (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                    CAST(e.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(q.qv, q.qv))),
             6) AS sim
    FROM embeddings e CROSS JOIN q
    ORDER BY sim DESC, doc
    LIMIT 50
),
dense AS (
    SELECT doc, row_number() OVER (ORDER BY sim DESC, doc) AS dense_rank
    FROM scored
),
fused AS (
    SELECT COALESCE(l.doc, d.doc) AS doc,
           COALESCE(1000000000 // (60 + l.lex_rank), 0)
             + COALESCE(1000000000 // (60 + d.dense_rank), 0) AS rrf_x,
           l.lex_rank, d.dense_rank
    FROM lex l FULL OUTER JOIN dense d ON l.doc = d.doc
)
SELECT doc, rrf_x, lex_rank, dense_rank
FROM fused
ORDER BY rrf_x DESC, doc
LIMIT 10
""",
)
def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid RAG retrieval: BM25 shortlist for {hash, join, window} +
    dense cosine shortlist for the vec_id-0 probe, fused by
    reciprocal-rank fusion with ENGINE-EXACT integer contributions
    ``1e9 // (60 + rank)`` — the standard production pattern (sparse
    recall + dense recall, rank-level fusion, no score calibration
    across legs).  Both legs are the existing scale-audited
    distributed operators; the fusion itself touches only two 50-row
    shortlists."""
    from opl_spark.operators.similarity import hybrid_search_rrf

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return hybrid_search_rrf(
        docs,
        emb,
        "text",
        "doc_id",
        "embedding",
        "vec_id",
        ["hash", "join", "window"],
        _query_vec(spark, sf_dir),
        k=10,
        shortlist=50,
    )


@register(
    "q_containment_pairs",
    oracle=_SHINGLE_CTE.replace(
        "a.s = b.s AND a.doc < b.doc", "a.s = b.s AND a.doc <> b.doc"
    )
    + """
SELECT id_a, id_b,
       ROUND(CAST(i AS DOUBLE) / sa.n_sh, 6) AS containment
FROM inter
JOIN sizes sa ON sa.doc = id_a
WHERE i * 5 >= sa.n_sh * 4
""",
)
def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed shingle-containment pairs at ≥0.8 — catches short
    documents embedded inside longer ones (quotes, boilerplate
    wrappers, partial crawls) that symmetric Jaccard scores near zero.
    Same inverted-index join as q_dedup_ngram; the ≥0.8 gate is the
    exact integer test `5·inter ≥ 4·|A|`."""
    from opl_spark.operators.dedup import containment_pairs

    docs = load_table(spark, sf_dir, "documents")
    return containment_pairs(docs, "text", "doc_id", n=3)


@register(
    "q_ewma_daily",
    oracle="""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS x
    FROM events GROUP BY 1, 2
),
win AS (
    SELECT event_type, d, x,
           list(x) OVER (PARTITION BY event_type ORDER BY d
                         ROWS BETWEEN 61 PRECEDING AND CURRENT ROW) AS xs
    FROM daily
)
SELECT event_type, d AS day, x AS n_events,
       CAST(len(xs) AS BIGINT) AS n_window,
       ROUND(list_reduce(list_transform(xs, v -> CAST(v AS DOUBLE)),
                         (acc, v) -> (acc + v) / 2), 6) AS ewma
FROM win
""",
)
def q_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (alpha=1/2) of daily
    event volume per type — the trend-smoothing companion to
    q_moving_avg.  The recursion `ewma = (ewma + x)/2` runs as a
    LEFT FOLD over each row's trailing 62-day window list: the /2
    halvings are exact binary scalings (never round), the adds execute
    in one fixed oldest-to-newest order on every engine, so the result
    is bit-identical cross-engine at ANY magnitude — no scaled-integer
    form to overflow.  62 rows of history ≈ 62 halvings puts older
    contributions below one double ulp, and bounds the per-row list
    (the window runs over the report-sized (type, day) table,
    partitioned by type)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type"), F.col("ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).alias("x"))
    from pyspark.sql import Window

    w62 = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-61, Window.currentRow)
    )
    win = daily.withColumn("xs", F.collect_list("x").over(w62))
    m = F.array_size("xs")
    ewma = F.aggregate(
        F.slice(F.col("xs"), 2, F.greatest(m - 1, F.lit(0))),
        F.element_at(F.col("xs"), 1).cast("double"),
        lambda acc, v: (acc + v) / 2,
    )
    return win.select(
        "event_type",
        F.col("d").alias("day"),
        F.col("x").alias("n_events"),
        m.cast("long").alias("n_window"),
        F.round(ewma, 6).alias("ewma"),
    )


@register(
    "q_stupid_backoff",
    oracle=r"""
WITH docs AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                       x -> x <> '') AS w
    FROM documents
),
train AS (SELECT * FROM docs WHERE doc_id % 10 <> 0),
val AS (SELECT * FROM docs WHERE doc_id % 10 = 0),
c1 AS (
    SELECT t.w1 AS w, COUNT(*) AS c1 FROM (
        SELECT unnest(w) AS w1 FROM train
    ) t GROUP BY 1
),
corpus AS (SELECT SUM(c1) AS n_tokens, COUNT(*) AS vocab FROM c1),
c2 AS (
    SELECT g.a AS a, g.b AS b, COUNT(*) AS c2 FROM (
        SELECT unnest(list_transform(
            range(1, greatest(len(w) - 1, 0) + 1),
            i -> {'a': w[i], 'b': w[i + 1]})) AS g
        FROM train
    ) GROUP BY 1, 2
),
c3 AS (
    SELECT g.a AS a, g.b AS b, g.c AS c, COUNT(*) AS c3 FROM (
        SELECT unnest(list_transform(
            range(1, greatest(len(w) - 2, 0) + 1),
            i -> {'a': w[i], 'b': w[i + 1], 'c': w[i + 2]})) AS g
        FROM train
    ) GROUP BY 1, 2, 3
),
tri AS (
    SELECT doc, g.a AS a, g.b AS b, g.c AS c FROM (
        SELECT doc_id AS doc, unnest(list_transform(
            range(1, greatest(len(w) - 2, 0) + 1),
            i -> {'a': w[i], 'b': w[i + 1], 'c': w[i + 2]})) AS g
        FROM val
    )
),
scored AS (
    SELECT tri.doc,
           ln(CASE
              WHEN c3.c3 IS NOT NULL
                THEN CAST(c3.c3 AS DOUBLE) / c2ab.c2
              WHEN c2bc.c2 IS NOT NULL
                THEN 0.4 * CAST(c2bc.c2 AS DOUBLE) / c1b.c1
              ELSE 0.4 * 0.4 * (COALESCE(c1c.c1, 0) + 1)
                   / CAST(corpus.n_tokens + corpus.vocab AS DOUBLE)
           END) AS ls
    FROM tri
    LEFT JOIN c3 ON c3.a = tri.a AND c3.b = tri.b AND c3.c = tri.c
    LEFT JOIN c2 c2ab ON c2ab.a = tri.a AND c2ab.b = tri.b
    LEFT JOIN c2 c2bc ON c2bc.a = tri.b AND c2bc.b = tri.c
    LEFT JOIN c1 c1b ON c1b.w = tri.b
    LEFT JOIN c1 c1c ON c1c.w = tri.c
    CROSS JOIN corpus
)
SELECT doc, COUNT(*) AS n_trigrams, ROUND(AVG(ls), 6) AS avg_logscore
FROM scored GROUP BY doc
""",
)
def q_stupid_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out LM quality scoring with trigram Stupid Backoff (Brants
    et al., EMNLP 2007): counts from the 90% train split score the 10%
    validation split, so the backoff chain (trigram → α·bigram →
    α²·Laplace-unigram) actually fires — the distributed-count LM
    built exactly the way the paper built it for MapReduce."""
    from opl_spark.operators.text import stupid_backoff_score

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 10 != 0)
    val = docs.filter(F.col("doc_id") % 10 == 0)
    return stupid_backoff_score(train, val, "text", "doc_id")


@register(
    "q_random_projection",
    oracle="""
SELECT vec_id AS id, CAST(j AS INT) AS dim,
       ROUND(list_aggregate(
           list_transform(range(1, 65),
               i -> CAST(embedding[i] AS DOUBLE)
                    * (CASE WHEN (i * 2654435761 + j * 40503
                                  + i * j * 2246822519 + 11)
                              % 4294967296 < 2147483648
                       THEN 1.0 ELSE -1.0 END)),
           'sum') * 0.25, 6) + 0.0 AS value
FROM embeddings, range(1, 17) t(j)
""",
)
def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL sign random projection 64 → 16 dims: the dimensionality
    reducer in front of clustering/ANN when even PQ is too heavy.  The
    ±1 matrix is derived per (i,j) from the portable multiplicative
    hash, so there is no stored matrix, no broadcast, no RNG — the
    whole operator is one map-only JVM expression (zero shuffles)."""
    from opl_spark.operators.similarity import random_projection

    emb = load_table(spark, sf_dir, "embeddings")
    return random_projection(emb, "embedding", "vec_id", out_dim=16, in_dim=64)


@register(
    "q_bfs_hops",
    oracle="""
WITH raw AS (
    SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
e AS (SELECT src, dst FROM raw UNION SELECT dst, src FROM raw),
d0 AS (SELECT CAST(2 AS BIGINT) AS node, CAST(0 AS BIGINT) AS hop),
d1 AS (
    SELECT node, MIN(hop) AS hop FROM (
        SELECT node, hop FROM d0
        UNION ALL
        SELECT e.dst, d0.hop + 1 FROM d0 JOIN e ON e.src = d0.node
    ) GROUP BY 1
),
d2 AS (
    SELECT node, MIN(hop) AS hop FROM (
        SELECT node, hop FROM d1
        UNION ALL
        SELECT e.dst, d1.hop + 1 FROM d1 JOIN e ON e.src = d1.node
    ) GROUP BY 1
),
d3 AS (
    SELECT node, MIN(hop) AS hop FROM (
        SELECT node, hop FROM d2
        UNION ALL
        SELECT e.dst, d2.hop + 1 FROM d2 JOIN e ON e.src = d2.node
    ) GROUP BY 1
)
SELECT node, hop FROM d3
""",
)
def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-hop BFS distances from customer 1 over the undirected trade
    graph (same node keying as q_pagerank).  One frontier⋈edges join
    + one min per round, node-sized state, integer hops — the
    fixed-round prefix is oracled via unrolled CTEs like
    q_pagerank/q_kcore."""
    from opl_spark.operators.graph import bfs_hops

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    raw = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    # both orientations in ONE pass (r13) — see q_pagerank's note
    from opl_spark.operators.graph import both_directions

    return bfs_hops(both_directions(raw), seed=2, rounds=3)


@register(
    "q_user_journey",
    oracle="""
WITH seq AS (
    SELECT user_id, event_type,
           lead(event_type, 1) OVER w AS e2,
           lead(event_type, 2) OVER w AS e3
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_type || '>' || e2 || '>' || e3 AS path, COUNT(*) AS n
FROM seq WHERE e3 IS NOT NULL
GROUP BY 1
ORDER BY n DESC, path
LIMIT 10
""",
)
def q_user_journey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 three-step user journeys (the product-analytics path
    report): per-user lead windows with the deterministic (ts,
    event_id) tie order, path-keyed count, TakeOrdered on
    (n desc, path).  The window partitions by user — no global
    ranking; path cardinality is event_types³-bounded."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        seq.groupBy(
            F.concat_ws(">", "event_type", "e2", "e3").alias("path")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(10)
    )


_NB_CTE = r"""
WITH docs AS (
    SELECT doc_id, lang,
           list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                       x -> x <> '') AS w
    FROM documents
),
train AS (SELECT * FROM docs WHERE doc_id % 10 <> 0),
val AS (SELECT * FROM docs WHERE doc_id % 10 = 0),
tr AS (SELECT lang AS label, unnest(w) AS w FROM train),
cw AS (SELECT label, w, COUNT(*) AS c FROM tr GROUP BY 1, 2),
totals AS (SELECT label, SUM(c) AS t FROM cw GROUP BY 1),
vocab AS (SELECT COUNT(DISTINCT w) AS v FROM cw),
priors AS (SELECT lang AS label, COUNT(*) AS d_l FROM train GROUP BY 1),
d_total AS (SELECT COUNT(*) AS d FROM train),
classes AS (
    SELECT p.label,
           ln(CAST(p.d_l AS DOUBLE) / dt.d) AS logprior,
           t.t + vocab.v AS denom
    FROM priors p CROSS JOIN d_total dt
    JOIN totals t ON t.label = p.label
    CROSS JOIN vocab
),
tf AS (
    SELECT doc, w, COUNT(*) AS tf FROM (
        SELECT doc_id AS doc, unnest(w) AS w FROM val
    ) GROUP BY 1, 2
),
scored AS (
    SELECT tf.doc, cls.label,
           tf.tf * ln((COALESCE(cw.c, 0) + 1) / CAST(classes.denom AS DOUBLE))
               AS term
    FROM tf
    CROSS JOIN (SELECT label FROM classes) cls
    LEFT JOIN cw ON cw.label = cls.label AND cw.w = tf.w
    JOIN classes ON classes.label = cls.label
),
post AS (
    SELECT s.doc, s.label,
           ROUND(SUM(s.term) + ANY_VALUE(c.logprior), 6) AS logpost
    FROM scored s JOIN classes c ON c.label = s.label
    GROUP BY s.doc, s.label
)
"""


@register(
    "q_naive_bayes",
    oracle=_NB_CTE + """
SELECT doc, label, logpost FROM post
""",
)
def q_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier trained on the 90%
    split, scoring the held-out 10% — distributed training that is
    EXACT because the model is three count aggregates (class-word
    counts, class totals+priors, vocab size).  The full per-(doc,
    label) log-posterior matrix is emitted (round(6)); no float
    argmax sits on the comparison path."""
    from opl_spark.operators.text import naive_bayes_scores

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 10 != 0)
    val = docs.filter(F.col("doc_id") % 10 == 0)
    return naive_bayes_scores(train, val, "text", "lang", "doc_id")


@register(
    "q_pr_curve",
    oracle=_NB_CTE + """,
margin AS (
    SELECT p.doc,
           MAX(CASE WHEN p.label = 'en' THEN p.logpost END)
             - MAX(CASE WHEN p.label <> 'en' THEN p.logpost END) AS m,
           ANY_VALUE(v.lang = 'en') AS pos
    FROM post p JOIN val v ON v.doc_id = p.doc
    GROUP BY p.doc
),
thr AS (SELECT CAST(t AS BIGINT) AS t FROM unnest([-20, -10, -5, -2, 0, 2, 5, 10, 20]) AS u(t))
SELECT thr.t AS threshold,
       COUNT(*) FILTER (m >= thr.t AND pos) AS tp,
       COUNT(*) FILTER (m >= thr.t AND NOT pos) AS fp,
       COUNT(*) FILTER (m < thr.t AND pos) AS fn,
       ROUND(CAST(COUNT(*) FILTER (m >= thr.t AND pos) AS DOUBLE)
             / NULLIF(COUNT(*) FILTER (m >= thr.t), 0), 6) AS precision,
       ROUND(CAST(COUNT(*) FILTER (m >= thr.t AND pos) AS DOUBLE)
             / NULLIF(COUNT(*) FILTER (pos), 0), 6) AS recall
FROM margin CROSS JOIN thr
GROUP BY 1
""",
)
def q_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall threshold sweep over the held-out Naive Bayes
    margin (logpost['en'] − best other class) — the eval harness that
    closes the train → score → evaluate loop.  ONE pass: the
    doc-sized margin table cross-joins a 9-row threshold list and
    reduces to per-threshold conditional counts; precision/recall are
    single divisions of exact integers at emission."""
    from opl_spark.operators.text import naive_bayes_scores

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 10 != 0)
    val = docs.filter(F.col("doc_id") % 10 == 0)
    post = naive_bayes_scores(train, val, "text", "lang", "doc_id")
    margin = (
        post.groupBy("doc")
        .agg(
            (
                F.max(F.when(F.col("label") == "en", F.col("logpost")))
                - F.max(F.when(F.col("label") != "en", F.col("logpost")))
            ).alias("m")
        )
        .join(
            val.select(
                F.col("doc_id").alias("doc"), (F.col("lang") == "en").alias("pos")
            ),
            "doc",
        )
    )
    thr = spark.createDataFrame(
        [(t,) for t in [-20, -10, -5, -2, 0, 2, 5, 10, 20]], "threshold long"
    )
    hit = F.col("m") >= F.col("threshold")
    return (
        margin.crossJoin(F.broadcast(thr))
        .groupBy("threshold")
        .agg(
            F.sum(F.when(hit & F.col("pos"), 1).otherwise(0)).alias("tp"),
            F.sum(F.when(hit & ~F.col("pos"), 1).otherwise(0)).alias("fp"),
            F.sum(F.when(~hit & F.col("pos"), 1).otherwise(0)).alias("fn"),
        )
        .select(
            "threshold",
            "tp",
            "fp",
            "fn",
            F.round(
                F.col("tp").cast("double")
                / F.nullif(F.col("tp") + F.col("fp"), F.lit(0)),
                6,
            ).alias("precision"),
            F.round(
                F.col("tp").cast("double")
                / F.nullif(F.col("tp") + F.col("fn"), F.lit(0)),
                6,
            ).alias("recall"),
        )
    )


@register(
    "q_line_dedup",
    oracle=r"""
WITH s AS (
    SELECT doc_id AS doc,
           regexp_split_to_array(trim(text), '\.\s+') AS sents
    FROM documents
),
l AS (
    SELECT doc, sents,
           list_transform(sents, x -> lower(trim(x))) AS lows
    FROM s
),
k AS (
    SELECT doc, sents,
           list_filter(range(1, len(sents) + 1),
               i -> length(lows[i]) > 0
                    AND list_position(lows, lows[i]) = i) AS keep
    FROM l
)
SELECT doc,
       array_to_string(list_transform(keep, i -> sents[i]), '. ')
           AS clean_text,
       CAST(len(sents) AS BIGINT) AS n_sents,
       CAST(len(sents) - len(keep) AS BIGINT) AS n_removed
FROM k
""",
)
def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repeated-sentence removal (C4's intra-doc
    rule): first occurrence kept, case-insensitive, order preserved —
    one map-only HOF expression, zero shuffles."""
    from opl_spark.operators.text import dedup_lines_within_doc

    docs = load_table(spark, sf_dir, "documents")
    return dedup_lines_within_doc(docs, "text", "doc_id")


@register(
    "q_churn_cohort",
    oracle="""
WITH uw AS (
    SELECT DISTINCT user_id,
           CAST(floor((CAST(ts AS DATE) - DATE '2024-01-01') / 7) AS BIGINT)
               AS wk
    FROM events
),
w AS (SELECT DISTINCT wk FROM uw WHERE wk < (SELECT MAX(wk) FROM uw))
SELECT w.wk,
       COUNT(*) AS active,
       COUNT(*) FILTER (nxt.user_id IS NULL) AS churned,
       ROUND(CAST(COUNT(*) FILTER (nxt.user_id IS NULL) AS DOUBLE)
             / COUNT(*), 6) AS churn_rate
FROM w
JOIN uw cur ON cur.wk = w.wk
LEFT JOIN uw nxt ON nxt.user_id = cur.user_id AND nxt.wk = w.wk + 1
GROUP BY 1
""",
)
def q_churn_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly churn: of users active in week w, the fraction with no
    activity in week w+1 (the last observed week is excluded — its
    churn is right-censored).  One distinct user-week table, one
    self LEFT JOIN on (user, wk+1), exact integer counts; the ratio
    divides once at emission."""
    ev = load_table(spark, sf_dir, "events")
    uw = ev.select(
        "user_id",
        F.floor(
            F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
            / 7
        ).alias("wk"),
    ).distinct()
    max_wk = uw.agg(F.max("wk").alias("mx"))
    cur = uw.join(F.broadcast(max_wk)).filter(F.col("wk") < F.col("mx"))
    nxt = uw.select(
        F.col("user_id"), (F.col("wk") - 1).alias("wk"), F.lit(1).alias("ret")
    )
    joined = cur.join(nxt, ["user_id", "wk"], "left")
    return (
        joined.groupBy("wk")
        .agg(
            F.count(F.lit(1)).alias("active"),
            F.sum(F.when(F.col("ret").isNull(), 1).otherwise(0)).alias("churned"),
        )
        .select(
            "wk",
            "active",
            "churned",
            F.round(
                F.col("churned").cast("double") / F.col("active"), 6
            ).alias("churn_rate"),
        )
    )


@register(
    "q_dedup_report",
    oracle="""
WITH g AS (SELECT md5(text) AS h, COUNT(*) AS copies,
                  MIN(n_chars) AS chars FROM documents GROUP BY 1)
SELECT COUNT(*) AS n_docs,
       (SELECT COUNT(*) FROM g) AS n_distinct,
       COUNT(*) - (SELECT COUNT(*) FROM g) AS n_dupes,
       ROUND(CAST(COUNT(*) - (SELECT COUNT(*) FROM g) AS DOUBLE)
             / COUNT(*), 6) AS dup_rate,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_chars) - (SELECT SUM(chars) FROM g) AS BIGINT) AS chars_saved
FROM documents
""",
)
def q_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row exact-dedup report card (docs, distinct texts, dup
    rate, characters an exact dedup would save) — the before/after
    summary every curation run logs.  Two combinable aggregates (doc
    level, distinct-text level via md5 group) merged as single-row
    broadcasts; no data leaves the cluster."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy(F.md5(F.col("text").cast("binary")).alias("h")).agg(
        F.count(F.lit(1)).alias("copies"), F.min("n_chars").alias("chars")
    )
    doc_tot = docs.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )
    g_tot = g.agg(
        F.count(F.lit(1)).alias("n_distinct"), F.sum("chars").alias("kept_chars")
    )
    return (
        doc_tot.join(F.broadcast(g_tot))
        .select(
            "n_docs",
            "n_distinct",
            (F.col("n_docs") - F.col("n_distinct")).alias("n_dupes"),
            F.round(
                (F.col("n_docs") - F.col("n_distinct")).cast("double")
                / F.col("n_docs"),
                6,
            ).alias("dup_rate"),
            "total_chars",
            (F.col("total_chars") - F.col("kept_chars")).alias("chars_saved"),
        )
    )


@register(
    "q_cdc_chunks",
    oracle=r"""
WITH d AS (
    SELECT doc_id AS doc,
           regexp_split_to_array(lower(trim(text)), '\s+') AS w
    FROM documents
),
g AS (
    SELECT doc, w,
           list_transform(
               list_transform(range(1, greatest(len(w) - 2, 1) + 1),
                   i -> array_to_string(list_slice(w, i, i + 2), ' ')),
               s -> CAST(('0x' || substr(md5(s), 1, 8)) AS UBIGINT) % 16)
               AS gh
    FROM d
),
b AS (
    SELECT doc, w,
           list_filter(range(3, greatest(len(w), 3) + 1),
               i -> i <= len(w) AND gh[i - 2] = 0) AS bounds
    FROM g
),
se AS (
    SELECT doc, w,
           [1] || list_transform(bounds, x -> x + 1) AS starts,
           bounds || [len(w)] AS ends
    FROM b
),
ch AS (
    SELECT doc, u.s AS s, u.e AS e, u.k AS k FROM (
        SELECT doc, unnest(list_transform(range(1, len(starts) + 1),
                   k -> {'k': k, 's': starts[k], 'e': ends[k]})) AS u
        FROM se
    )
),
kept AS (
    SELECT ch.doc,
           row_number() OVER (PARTITION BY ch.doc ORDER BY ch.k) AS chunk_idx,
           array_to_string(list_slice(se.w, ch.s, ch.e), ' ') AS chunk,
           CAST(ch.e - ch.s + 1 AS BIGINT) AS n_words
    FROM ch JOIN se ON se.doc = ch.doc
    WHERE ch.e >= ch.s
)
SELECT doc, CAST(chunk_idx AS INT) AS chunk_idx,
       substr(md5(chunk), 1, 16) AS chunk_hash, n_words
FROM kept
""",
)
def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (FastCDC/rsync at word granularity):
    boundaries where the trailing 3-gram's portable hash ≡ 0 mod 16,
    so shifted/edited copies keep identical interior chunks — the
    shift-robust complement to fixed-width shingles.  Map-only HOF
    chain, zero shuffles."""
    from opl_spark.operators.text import cdc_chunks

    docs = load_table(spark, sf_dir, "documents")
    return cdc_chunks(docs, "text", "doc_id", mask=15)


@register(
    "q_skew_report",
    oracle="""
WITH ks AS (
    SELECT 'l_orderkey' AS key_col, l_orderkey AS k FROM lineitem
    UNION ALL SELECT 'l_partkey', l_partkey FROM lineitem
    UNION ALL SELECT 'l_suppkey', l_suppkey FROM lineitem
),
per AS (SELECT key_col, k, COUNT(*) AS c FROM ks GROUP BY 1, 2),
stats AS (
    SELECT key_col, COUNT(*) AS n_keys, SUM(c) AS total_rows,
           MAX(c) AS max_rows
    FROM per GROUP BY 1
),
hot AS (
    SELECT p.key_col, MIN(p.k) AS hottest_key
    FROM per p JOIN stats s ON s.key_col = p.key_col AND p.c = s.max_rows
    GROUP BY 1
)
SELECT s.key_col, s.n_keys, CAST(s.total_rows AS BIGINT) AS total_rows,
       s.max_rows, hot.hottest_key,
       CAST(s.max_rows * s.n_keys * 1000 // s.total_rows AS BIGINT) AS skew_x1000
FROM stats s JOIN hot ON hot.key_col = s.key_col
""",
)
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic across the three lineitem join keys —
    the 'which key needs salting' report run BEFORE choosing a join
    strategy.  skew_x1000 = max/mean per key in exact integer
    thousandths; hottest key picked with a deterministic min-id tie.
    One union-explode + one combinable per-key count; output is
    3 rows."""
    li = load_table(spark, sf_dir, "lineitem")
    parts = [
        li.select(F.lit(c).alias("key_col"), F.col(c).alias("k"))
        for c in ["l_orderkey", "l_partkey", "l_suppkey"]
    ]
    ks = parts[0].unionByName(parts[1]).unionByName(parts[2])
    per = ks.groupBy("key_col", "k").agg(F.count(F.lit(1)).alias("c"))
    stats = per.groupBy("key_col").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("c").alias("total_rows"),
        F.max("c").alias("max_rows"),
    )
    hottest = (
        per.join(
            stats.select("key_col", F.col("max_rows").alias("mx")), "key_col"
        )
        .filter(F.col("c") == F.col("mx"))
        .groupBy("key_col")
        .agg(F.min("k").alias("hottest_key"))
    )
    return (
        stats.join(hottest, "key_col")
        .select(
            "key_col",
            "n_keys",
            "total_rows",
            "max_rows",
            "hottest_key",
            F.expr("max_rows * n_keys * 1000L div total_rows").alias(
                "skew_x1000"
            ),
        )
    )


@register(
    "q_vocab_coverage",
    oracle="""
WITH toks AS (
    SELECT t.w FROM (
        SELECT unnest(list_filter(
            regexp_split_to_array(lower(trim(text)), '\\s+'),
            x -> x <> '')) AS w
        FROM documents
    ) t
),
vc AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY 1),
ranked AS (
    SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rn FROM vc
),
tot AS (SELECT SUM(c) AS total FROM vc)
SELECT s.n AS vocab_size,
       CAST(SUM(r.c) FILTER (r.rn <= s.n) AS BIGINT) AS covered,
       CAST(ANY_VALUE(tot.total) AS BIGINT) AS total_tokens,
       ROUND(CAST(SUM(r.c) FILTER (r.rn <= s.n) AS DOUBLE)
             / ANY_VALUE(tot.total), 6) AS coverage
FROM ranked r
CROSS JOIN tot
CROSS JOIN (SELECT CAST(n AS BIGINT) AS n
            FROM unnest([100, 500, 2000, 10000]) AS u(n)) s
GROUP BY s.n
""",
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-coverage curve: what fraction of corpus tokens the top-N
    vocabulary covers, at four candidate sizes — the
    vocab-size-selection report every tokenizer build starts from.
    The ranking window runs over the VOCAB-SIZED count summary (not
    the token stream); coverage sums are exact integers."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    vc = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    ranked = vc.select(
        "c",
        F.row_number()
        .over(Window.orderBy(F.col("c").desc(), F.col("w")))
        .alias("rn"),
    )
    tot = vc.agg(F.sum("c").alias("total"))
    sizes = docs.sparkSession.createDataFrame(
        [(100,), (500,), (2000,), (10000,)], "vocab_size long"
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(sizes))
        .groupBy("vocab_size")
        .agg(
            F.sum(F.when(F.col("rn") <= F.col("vocab_size"), F.col("c"))).alias(
                "covered"
            ),
            F.first("total").alias("total_tokens"),
        )
        .select(
            "vocab_size",
            "covered",
            "total_tokens",
            F.round(
                F.col("covered").cast("double") / F.col("total_tokens"), 6
            ).alias("coverage"),
        )
    )


@register(
    "q_theta_audience",
    oracle="""
WITH dd AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
days AS (SELECT DISTINCT day FROM dd),
pairs AS (SELECT a.day AS day_a, b.day AS day_b
          FROM days a JOIN days b ON b.day = a.day + INTERVAL 1 DAY),
m AS (
    SELECT p.day_a, p.day_b, d.user_id,
           MAX(CASE WHEN d.day = p.day_a THEN 1 ELSE 0 END) AS in_a,
           MAX(CASE WHEN d.day = p.day_b THEN 1 ELSE 0 END) AS in_b
    FROM pairs p JOIN dd d ON d.day IN (p.day_a, p.day_b)
    GROUP BY 1, 2, 3
)
SELECT day_a, day_b,
       COUNT(*) AS either_day,
       CAST(SUM(in_a * in_b) AS BIGINT) AS both_days,
       CAST(SUM(in_b * (1 - in_a)) AS BIGINT) AS new_users,
       CAST(SUM(in_a * (1 - in_b)) AS BIGINT) AS churned_users
FROM m GROUP BY 1, 2
""",
)
def q_theta_audience(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience set algebra with Theta sketches (Apache DataSketches
    via Spark built-ins): per-day user sketches combined with UNION /
    INTERSECTION / DIFFERENCE to answer 'active both days', 'new
    today', 'churned from yesterday' — the set operations HLL cannot
    do (HLL only unions).  One pass builds the day sketches; every
    audience question after that is sketch-sized work.  Emits per
    consecutive-day pair: estimated either-day / both-days / new /
    churned counts.

    Oracle (r10 verdict task 6): BELOW the nominal-k entry budget
    (4096) a Theta sketch is in exact mode — it retains every hash,
    theta stays 1.0, and union/intersection/difference of exact
    sketches are exact set algebra — so at the sf0.01 gate scale
    (≤ ~150 users/day) every estimate equals the exact count and the
    DuckDB twin replays it hash-exactly.  Past nominal the estimates
    go probabilistic; that regime is bounded by the error-bound pytest
    (tests/test_operators.py) instead."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.theta_sketch_agg("user_id").alias("sk")
    )
    # consecutive-day pairing via a keyed self-join on day-1 (the day
    # table is sketch-summary-sized; no global window needed)
    prev = daily.select(
        F.date_add(F.col("day"), 1).alias("day"),
        F.col("day").alias("prev_day"),
        F.col("sk").alias("prev_sk"),
    )
    paired = daily.join(prev, "day")
    return paired.select(
        F.col("prev_day").alias("day_a"),
        F.col("day").alias("day_b"),
        F.theta_sketch_estimate(F.theta_union(F.col("prev_sk"), F.col("sk")))
        .cast("long")
        .alias("either_day"),
        F.theta_sketch_estimate(
            F.theta_intersection(F.col("prev_sk"), F.col("sk"))
        )
        .cast("long")
        .alias("both_days"),
        F.theta_sketch_estimate(F.theta_difference(F.col("sk"), F.col("prev_sk")))
        .cast("long")
        .alias("new_users"),
        F.theta_sketch_estimate(F.theta_difference(F.col("prev_sk"), F.col("sk")))
        .cast("long")
        .alias("churned_users"),
    )


@register(
    "q_kll_quantiles",
    oracle="""
SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
       COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
       ROUND(quantile_disc(value, 0.5), 6)  AS p50,
       ROUND(quantile_disc(value, 0.9), 6)  AS p90,
       ROUND(quantile_disc(value, 0.99), 6) AS p99
FROM events GROUP BY 1
""",
)
def q_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketches (Apache DataSketches KLL via Spark
    built-ins): per-day value sketches built once, MERGED upward to
    weekly p50/p90/p99 without re-touching the event stream — the
    rollup-able form of percentile_approx, and the 100 TB path where
    exact per-group sort-based percentiles stop being re-aggregable.

    k=4096 (vs the 200 default): normalized rank error ~0.05% at any
    scale for a few-KB sketch, and — the oracle lever (r10 verdict
    task 6) — the sketch holds every item UNCOMPACTED below its k-item
    buffer, so at the sf0.01 gate scale (≤ ~2.4k values/week) merged
    weekly quantiles are EXACT order statistics under the inclusive
    rank rule, which DuckDB's quantile_disc replays hash-exactly (and
    tests/test_sketch_exact_regime.py pins on adversarial n).  The
    compacted large-n regime is bounded by the error-bound pytest
    (tests/test_operators.py) instead."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("week", "ts").cast("date").alias("week"),
        F.col("ts").cast("date").alias("day"),
    ).agg(F.kll_sketch_agg_double("value", F.lit(4096)).alias("sk"))
    weekly = daily.groupBy("week").agg(
        F.kll_merge_agg_double("sk").alias("sk"),
        F.count(F.lit(1)).alias("n_days"),
    )
    return weekly.select(
        "week",
        "n_days",
        F.round(F.kll_sketch_get_quantile_double("sk", F.lit(0.5)), 6).alias("p50"),
        F.round(F.kll_sketch_get_quantile_double("sk", F.lit(0.9)), 6).alias("p90"),
        F.round(F.kll_sketch_get_quantile_double("sk", F.lit(0.99)), 6).alias("p99"),
    )


@register(
    "q_k_anonymity",
    oracle="""
WITH g AS (
    SELECT c_nationkey, c_mktsegment, COUNT(*) AS sz
    FROM customer GROUP BY 1, 2
)
SELECT CAST(SUM(sz) AS BIGINT) AS total_rows,
       COUNT(*) AS n_groups,
       COUNT(*) FILTER (sz < 5) AS risk_groups,
       CAST(COALESCE(SUM(sz) FILTER (sz < 5), 0) AS BIGINT) AS risk_rows,
       MIN(sz) AS anonymity
FROM g
""",
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the (nation, segment) quasi-identifier
    pair: how many equivalence classes fall below k=5, how many rows
    they expose, and the dataset's anonymity level (its smallest
    class).  The privacy release gate run before sharing 'anonymized'
    extracts — one combinable group count + a one-row reduce."""
    cust = load_table(spark, sf_dir, "customer")
    g = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return g.agg(
        F.sum("sz").alias("total_rows"),
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.when(F.col("sz") < 5, 1).otherwise(0)).alias("risk_groups"),
        F.coalesce(
            F.sum(F.when(F.col("sz") < 5, F.col("sz"))), F.lit(0)
        ).alias("risk_rows"),
        F.min("sz").alias("anonymity"),
    )


@register(
    "q_doc_keywords",
    oracle=r"""
WITH toks AS (
    SELECT doc, w FROM (
        SELECT doc_id AS doc, unnest(list_filter(
            regexp_split_to_array(lower(trim(text)), '\s+'),
            x -> x <> '')) AS w
        FROM documents
    )
),
tf AS (SELECT doc, w, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(DISTINCT doc) AS n_docs FROM tf),
scored AS (
    SELECT tf.doc, tf.w,
           ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS s
    FROM tf JOIN df ON df.w = tf.w CROSS JOIN n
),
ranked AS (
    SELECT doc, w, s,
           row_number() OVER (PARTITION BY doc ORDER BY s DESC, w) AS rnk
    FROM scored
)
SELECT doc, w AS term, s AS score, CAST(rnk AS BIGINT) AS rank
FROM ranked WHERE rnk <= 3
""",
)
def q_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by tf·idf within
    each doc (deterministic (score desc, term) order) — the document
    tagger beside the corpus-level q_tfidf.  The ranking window
    partitions by doc over the (doc, term) aggregate; idf joins on
    the term key; N crosses as a 1-row broadcast."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("doc_id").alias("doc"),
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w"),
    ).filter(F.col("w") != "")
    tf = toks.groupBy("doc", "w").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    n = tf.select("doc").distinct().agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "w")
        .crossJoin(F.broadcast(n))
        .select(
            "doc",
            "w",
            # round(6) BEFORE ranking — the repo rule: no raw
            # transcendental float on an ordering that crosses engines
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("s"),
        )
    )
    w = Window.partitionBy("doc").orderBy(F.col("s").desc(), "w")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("doc", F.col("w").alias("term"), F.col("s").alias("score"), "rank")
    )


@register(
    "q_survival_hazard",
    oracle="""
WITH bounds AS (SELECT MAX(CAST(ts AS DATE)) AS mx FROM events),
life AS (
    SELECT user_id,
           CAST(MAX(CAST(ts AS DATE)) - MIN(CAST(ts AS DATE)) AS BIGINT)
               AS lt,
           MAX(CAST(ts AS DATE)) >= ANY_VALUE(bounds.mx) - 2 AS censored
    FROM events CROSS JOIN bounds
    GROUP BY user_id
),
per AS (
    SELECT lt, COUNT(*) AS n_all,
           COUNT(*) FILTER (NOT censored) AS n_churn
    FROM life GROUP BY lt
),
tt AS (SELECT DISTINCT lt AS t FROM per)
SELECT tt.t,
       CAST(SUM(p.n_all) AS BIGINT) AS n_risk,
       CAST(COALESCE(SUM(p.n_churn) FILTER (p.lt = tt.t), 0) AS BIGINT) AS n_churned,
       ROUND(CAST(COALESCE(SUM(p.n_churn) FILTER (p.lt = tt.t), 0) AS DOUBLE)
             / SUM(p.n_all), 6) AS hazard
FROM tt JOIN per p ON p.lt >= tt.t
GROUP BY tt.t
""",
)
def q_survival_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier hazard table for user lifetime (days between
    first and last activity; users active in the final 3 days are
    right-censored and never count as churn events): per observed
    lifetime t, the risk set |lifetime ≥ t|, churn events at t, and
    the discrete hazard d/n — the survival-analysis ingredients,
    emitted as exact integers + one division.  The risk-set suffix
    sums run as a ≤days² join over the LIFETIME-SIZED summary table,
    never over users."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(F.max(F.col("ts").cast("date")).alias("mx"))
    life = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.datediff(
                F.max(F.col("ts").cast("date")), F.min(F.col("ts").cast("date"))
            )
            .cast("long")
            .alias("lt"),
            (
                F.max(F.col("ts").cast("date"))
                >= F.date_sub(F.first("mx"), 2)
            ).alias("censored"),
        )
    )
    per = life.groupBy("lt").agg(
        F.count(F.lit(1)).alias("n_all"),
        F.sum(F.when(~F.col("censored"), 1).otherwise(0)).alias("n_churn"),
    )
    tt = per.select(F.col("lt").alias("t")).distinct()
    joined = tt.join(F.broadcast(per), F.col("lt") >= F.col("t"))
    return (
        joined.groupBy("t")
        .agg(
            F.sum("n_all").alias("n_risk"),
            F.coalesce(
                F.sum(F.when(F.col("lt") == F.col("t"), F.col("n_churn"))),
                F.lit(0),
            ).alias("n_churned"),
        )
        .select(
            "t",
            "n_risk",
            "n_churned",
            F.round(
                F.col("n_churned").cast("double") / F.col("n_risk"), 6
            ).alias("hazard"),
        )
    )


@register(
    "q_acf",
    oracle="""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS x
    FROM events GROUP BY 1, 2
),
lags AS (SELECT CAST(l AS BIGINT) AS lag FROM unnest([1, 2, 3, 7]) AS u(l)),
pairs AS (
    SELECT a.event_type, lags.lag, a.x AS x, b.x AS y
    FROM daily a
    CROSS JOIN lags
    JOIN daily b ON b.event_type = a.event_type
                AND b.d = a.d + CAST(lags.lag AS INT)
),
mom AS (
    SELECT event_type, lag, COUNT(*) AS n,
           SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
           SUM(x * x) AS sxx, SUM(y * y) AS syy
    FROM pairs GROUP BY 1, 2
)
SELECT event_type, lag, n,
       ROUND((n * sxy - sx * sy)
             / sqrt(CAST((n * sxx - sx * sx) AS DOUBLE)
                    * (n * syy - sy * sy)), 6) AS acf
FROM mom
WHERE (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
""",
)
def q_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of daily event volume per type at lags
    {1,2,3,7} — the seasonality detector behind every forecasting
    choice (a high lag-7 ACF is what justifies q_seasonal_naive).
    Exact integer moments via one keyed self-join of the
    report-sized day table (4× lag fan-out), Pearson assembled with
    one sqrt/division at emission; degenerate (zero-variance) series
    drop out exactly."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type"), F.col("ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).alias("x"))
    lags = spark.createDataFrame([(1,), (2,), (3,), (7,)], "lag long")
    a = daily.crossJoin(F.broadcast(lags)).select(
        "event_type",
        "lag",
        F.expr("date_add(d, cast(lag AS INT))").alias("d2"),
        F.col("x"),
    )
    b = daily.select(
        "event_type", F.col("d").alias("d2"), F.col("x").alias("y")
    )
    pairs = a.join(b, ["event_type", "d2"])
    mom = pairs.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return (
        mom.filter((vx > 0) & (vy > 0))
        .select(
            "event_type",
            "lag",
            "n",
            F.round(
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / F.sqrt(vx.cast("double") * vy),
                6,
            ).alias("acf"),
        )
    )


@register(
    "q_theil_sen",
    oracle="""
WITH monthly AS (
    SELECT n.n_name AS grp,
           CAST(date_part('year', o.o_orderdate) * 12
                + date_part('month', o.o_orderdate) AS BIGINT) AS m,
           SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY 1, 2
),
slopes AS (
    SELECT a.grp,
           (b.cents - a.cents) / CAST((b.m - a.m) AS DOUBLE) AS slope
    FROM monthly a
    JOIN monthly b ON b.grp = a.grp AND b.m > a.m
)
SELECT grp, COUNT(*) AS n_slopes,
       ROUND(quantile_cont(slope, 0.5) / 100, 6) AS sen_slope
FROM slopes GROUP BY grp
""",
)
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per nation: the MEDIAN of all pairwise
    month-over-month revenue slopes — one gross outlier month cannot
    move it, unlike the OLS slope of q_spend_trend.  The pair join
    runs over the GROUP×MONTH summary (months² pairs per group, never
    order rows); slopes divide exact integer cents by exact month
    gaps, and the median interpolates identically in both engines
    (Spark percentile ≡ DuckDB quantile_cont)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    monthly = (
        orders.join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy(
            F.col("n_name").alias("grp"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("long")
            .alias("m"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
    )
    a = monthly.select("grp", F.col("m").alias("ma"), F.col("cents").alias("ca"))
    b = monthly.select("grp", F.col("m").alias("mb"), F.col("cents").alias("cb"))
    slopes = (
        a.join(b, "grp")
        .filter(F.col("mb") > F.col("ma"))
        .select(
            "grp",
            (
                (F.col("cb") - F.col("ca"))
                / (F.col("mb") - F.col("ma")).cast("double")
            ).alias("slope"),
        )
    )
    return slopes.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_slopes"),
        F.round(F.expr("percentile(slope, 0.5)") / 100, 6).alias("sen_slope"),
    )


@register(
    "q_rfm_segments",
    oracle="""
WITH ref AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS r FROM orders),
per AS (
    SELECT o.o_custkey AS cust,
           CAST(ANY_VALUE(ref.r) - MAX(CAST(o.o_orderdate AS DATE)) AS BIGINT)
               AS rec,
           COUNT(*) AS freq,
           SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
    FROM orders o CROSS JOIN ref
    GROUP BY 1
),
b AS (
    SELECT quantile_cont(rec, 0.25) AS r1, quantile_cont(rec, 0.5) AS r2,
           quantile_cont(rec, 0.75) AS r3,
           quantile_cont(freq, 0.25) AS f1, quantile_cont(freq, 0.5) AS f2,
           quantile_cont(freq, 0.75) AS f3,
           quantile_cont(cents, 0.25) AS m1, quantile_cont(cents, 0.5) AS m2,
           quantile_cont(cents, 0.75) AS m3
    FROM per
),
scored AS (
    SELECT cust,
           CASE WHEN rec <= b.r1 THEN 4 WHEN rec <= b.r2 THEN 3
                WHEN rec <= b.r3 THEN 2 ELSE 1 END AS r_score,
           CASE WHEN freq > b.f3 THEN 4 WHEN freq > b.f2 THEN 3
                WHEN freq > b.f1 THEN 2 ELSE 1 END AS f_score,
           CASE WHEN cents > b.m3 THEN 4 WHEN cents > b.m2 THEN 3
                WHEN cents > b.m1 THEN 2 ELSE 1 END AS m_score,
           cents
    FROM per CROSS JOIN b
)
SELECT r_score, f_score, m_score,
       COUNT(*) AS n_customers,
       CAST(SUM(cents) AS BIGINT) AS total_cents
FROM scored GROUP BY 1, 2, 3
""",
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quartiles,
    4 = best): the classic CRM warehouse report.  Quartile boundaries
    come from ONE exact interpolated percentile pass over the
    customer summary and return as a 1-row broadcast — scoring is a
    map-only CASE chain, never a global NTILE window over customers.
    Cell counts and exact cents totals per 4×4×4 segment."""
    orders = load_table(spark, sf_dir, "orders")
    ref = orders.agg(F.max(F.col("o_orderdate").cast("date")).alias("r"))
    per = (
        orders.crossJoin(F.broadcast(ref))
        .groupBy(F.col("o_custkey").alias("cust"))
        .agg(
            F.datediff(F.first("r"), F.max(F.col("o_orderdate").cast("date")))
            .cast("long")
            .alias("rec"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            ),
        )
    )
    b = per.agg(
        F.expr("percentile(rec, 0.25)").alias("r1"),
        F.expr("percentile(rec, 0.5)").alias("r2"),
        F.expr("percentile(rec, 0.75)").alias("r3"),
        F.expr("percentile(freq, 0.25)").alias("f1"),
        F.expr("percentile(freq, 0.5)").alias("f2"),
        F.expr("percentile(freq, 0.75)").alias("f3"),
        F.expr("percentile(cents, 0.25)").alias("m1"),
        F.expr("percentile(cents, 0.5)").alias("m2"),
        F.expr("percentile(cents, 0.75)").alias("m3"),
    )
    scored = per.crossJoin(F.broadcast(b)).select(
        F.when(F.col("rec") <= F.col("r1"), 4)
        .when(F.col("rec") <= F.col("r2"), 3)
        .when(F.col("rec") <= F.col("r3"), 2)
        .otherwise(1)
        .alias("r_score"),
        F.when(F.col("freq") > F.col("f3"), 4)
        .when(F.col("freq") > F.col("f2"), 3)
        .when(F.col("freq") > F.col("f1"), 2)
        .otherwise(1)
        .alias("f_score"),
        F.when(F.col("cents") > F.col("m3"), 4)
        .when(F.col("cents") > F.col("m2"), 3)
        .when(F.col("cents") > F.col("m1"), 2)
        .otherwise(1)
        .alias("m_score"),
        "cents",
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").alias("total_cents"),
    )


@register(
    "q_periodic_snapshot",
    oracle="""
WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events),
per AS (
    SELECT user_id, CAST(ts AS DATE) AS d,
           SUM(CAST(round(value * 100) AS BIGINT)) AS day_cents
    FROM events GROUP BY 1, 2
),
users AS (SELECT DISTINCT user_id FROM events),
spine AS (SELECT u.user_id, days.d FROM users u CROSS JOIN days),
dense AS (
    SELECT s.user_id, s.d, COALESCE(p.day_cents, 0) AS day_cents
    FROM spine s LEFT JOIN per p ON p.user_id = s.user_id AND p.d = s.d
)
SELECT user_id, d AS day,
       CAST(SUM(day_cents) OVER (PARTITION BY user_id ORDER BY d
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS balance_cents
FROM dense
""",
)
def q_periodic_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kimball periodic-snapshot fact: every (user, day) cell carries
    the user's cumulative value balance through that day — gap days
    included, so point-in-time balance reads are one equality
    predicate, no as-of scan.  The user×day densification IS the
    fact's declared grain; the running sum is a user-partitioned
    window over exact integer cents."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    days = ev.select(F.col("ts").cast("date").alias("d")).distinct()
    users = ev.select("user_id").distinct()
    per = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("d")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("day_cents"))
    spine = users.crossJoin(F.broadcast(days))
    dense = spine.join(per, ["user_id", "d"], "left").select(
        "user_id", "d", F.coalesce(F.col("day_cents"), F.lit(0)).alias("day_cents")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return dense.select(
        "user_id",
        F.col("d").alias("day"),
        F.sum("day_cents").over(w).alias("balance_cents"),
    )


@register(
    "q_seasonality_strength",
    oracle="""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS x
    FROM events GROUP BY 1, 2
),
bydow AS (
    SELECT event_type, dayofweek(d) AS dow,
           SUM(x) AS tg, COUNT(*) AS ng
    FROM daily GROUP BY 1, 2
),
tot AS (
    SELECT event_type, COUNT(*) AS n, SUM(x) AS t, SUM(x * x) AS s2
    FROM daily GROUP BY 1
),
folded AS (
    SELECT event_type,
           list_reduce(
               list_prepend(CAST(0 AS DOUBLE),
                   list_transform(list({'tg': tg, 'ng': ng} ORDER BY dow),
                                  p -> CAST(p.tg AS DOUBLE) * p.tg / p.ng)),
               (acc, v) -> acc + v) AS ssb_raw
    FROM bydow GROUP BY event_type
)
SELECT t.event_type,
       ROUND((f.ssb_raw - CAST(t.t AS DOUBLE) * t.t / t.n)
             / (t.s2 - CAST(t.t AS DOUBLE) * t.t / t.n), 6) AS eta2
FROM tot t JOIN folded f ON f.event_type = t.event_type
WHERE t.s2 * t.n - t.t * t.t > 0
""",
)
def q_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday seasonality strength per event type: eta² = between-
    weekday / total sum of squares over the daily volume series — the
    scalar that says whether a weekly-seasonal model (q_seasonal_naive)
    is justified.  Group sums are exact integers; the one float
    reduction folds in FIXED weekday order on both engines (sorted
    collect + left fold), so no arbitrary-order float summation
    touches the hash path."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type"), F.col("ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).alias("x"))
    bydow = daily.groupBy(
        "event_type", F.dayofweek("d").alias("dow")
    ).agg(F.sum("x").alias("tg"), F.count(F.lit(1)).alias("ng"))
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("t"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
    )
    folded = bydow.groupBy("event_type").agg(
        F.aggregate(
            F.transform(
                F.sort_array(F.collect_list(F.struct("dow", "tg", "ng"))),
                lambda p: p["tg"].cast("double") * p["tg"] / p["ng"],
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("ssb_raw")
    )
    t2n = F.col("t").cast("double") * F.col("t") / F.col("n")
    return (
        tot.join(folded, "event_type")
        .filter(F.col("s2") * F.col("n") - F.col("t") * F.col("t") > 0)
        .select(
            "event_type",
            F.round(
                (F.col("ssb_raw") - t2n) / (F.col("s2") - t2n), 6
            ).alias("eta2"),
        )
    )


@register(
    "q_revenue_concentration",
    oracle="""
WITH per AS (
    SELECT o_custkey,
           SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
    FROM orders GROUP BY 1
),
tot AS (
    SELECT COUNT(*) AS n, SUM(cents) AS t,
           quantile_cont(cents, 0.9) AS p90
    FROM per
),
sq AS (
    SELECT SUM(CAST(cents AS HUGEINT) * cents) AS s2,
           COUNT(*) FILTER (per.cents > tot.p90) AS top_decile_customers,
           SUM(per.cents) FILTER (per.cents > tot.p90) AS top_cents
    FROM per CROSS JOIN tot
)
SELECT tot.n AS n_customers, CAST(tot.t AS BIGINT) AS total_cents,
       ROUND(CAST(sq.s2 AS DOUBLE)
             / (CAST(tot.t AS DOUBLE) * tot.t), 6) AS hhi,
       sq.top_decile_customers,
       ROUND(CAST(sq.top_cents AS DOUBLE) / tot.t, 6) AS top_decile_share
FROM tot CROSS JOIN sq
""",
)
def q_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer revenue concentration: Herfindahl–Hirschman index plus
    the top-decile customer share — the inequality report with NO
    global sort and NOTHING customer-sized collected: HHI = Σcents²/T²
    with the squared sum kept as an exact combinable decimal, the
    decile boundary one exact percentile broadcast + conditional
    sums, and floats only in the two closing divisions."""
    orders = load_table(spark, sf_dir, "orders")
    per = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    tot = per.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").alias("total_cents"),
        F.expr("percentile(cents, 0.9)").alias("p90"),
    )
    joined = per.crossJoin(F.broadcast(tot))
    # HHI = Σcents²/T² — the squared sum stays an EXACT decimal
    # integer (combinable, order-free), so the only float is the one
    # closing division; nothing customer-sized is ever collected
    agged = joined.groupBy().agg(
        F.first("n_customers").alias("n_customers"),
        F.first("total_cents").alias("total_cents"),
        F.sum(
            (F.col("cents").cast("decimal(38,0)") * F.col("cents"))
        ).alias("s2"),
        F.sum(F.when(F.col("cents") > F.col("p90"), 1).otherwise(0)).alias(
            "top_decile_customers"
        ),
        F.sum(F.when(F.col("cents") > F.col("p90"), F.col("cents"))).alias(
            "top_cents"
        ),
    )
    return agged.select(
        "n_customers",
        "total_cents",
        F.round(
            F.col("s2").cast("double")
            / (F.col("total_cents").cast("double") * F.col("total_cents")),
            6,
        ).alias("hhi"),
        "top_decile_customers",
        F.round(
            F.col("top_cents").cast("double") / F.col("total_cents"), 6
        ).alias("top_decile_share"),
    )


def _bpe_fertility_oracle() -> str:
    num_merges = 10
    return f"""
WITH {_bpe_chain(num_merges)},
wtok AS MATERIALIZED (
    SELECT w, len(string_split(trim(state, ','), ',,')) AS wt
    FROM st{num_merges}),
lwc AS MATERIALIZED (
    SELECT lang, w, COUNT(*) AS cnt FROM (
        SELECT lang,
               unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
        FROM documents) WHERE w <> '' GROUP BY 1, 2),
per AS MATERIALIZED (
    SELECT lang,
           CAST(SUM(cnt) AS BIGINT) AS n_words,
           CAST(SUM(cnt * wt) AS BIGINT) AS n_tokens,
           CAST(SUM(cnt * length(lwc.w)) AS BIGINT) AS n_chars
    FROM lwc JOIN wtok ON wtok.w = lwc.w GROUP BY 1)
SELECT lang, n_words, n_tokens, n_chars,
       CAST(n_tokens * 1000000 // n_words AS BIGINT) AS fertility_x1e6,
       ROUND(CAST(n_chars AS DOUBLE) / n_tokens, 6) AS chars_per_token
FROM per
"""


@register("q_bpe_fertility", oracle=_bpe_fertility_oracle())
def q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility under the corpus-learned BPE
    merge table (tokens/word ×1e6 exact, chars/token) — the fairness
    audit run before accepting a tokenizer.  Oracled via the replayed
    merge chain (was rows-only); tests pin fertility bounds and the
    exact-identity `n_tokens == Σ per-doc bpe_segment tokens`."""
    from opl_spark.operators.bpe import bpe_fertility, learn_bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    merges = learn_bpe_merges(docs, "text", num_merges=10)
    return bpe_fertility(docs, "text", "lang", merges)


@register(
    "q_activity_heatmap",
    oracle="""
SELECT dayofweek(CAST(ts AS DATE)) + 1 AS dow,
       CAST(date_part('hour', ts) AS INT) AS hour,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
""",
)
def q_activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday × hour activity heatmap (events + distinct users per
    cell) — the 7×24-cell usage report behind every ops dashboard.
    One combinable aggregate; output bounded at 168 rows regardless
    of scale."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.dayofweek(F.col("ts").cast("date")).alias("dow"),
        F.hour("ts").cast("int").alias("hour"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "q_ship_lag_quantiles",
    oracle="""
SELECT o.o_orderpriority AS priority,
       COUNT(*) AS n_lines,
       MIN(CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS BIGINT))
           AS min_days,
       ROUND(quantile_cont(
           CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS BIGINT),
           0.5), 6) AS p50_days,
       ROUND(quantile_cont(
           CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS BIGINT),
           0.9), 6) AS p90_days,
       MAX(CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS BIGINT))
           AS max_days
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY 1
""",
)
def q_ship_lag_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship fulfilment lag distribution per order priority
    (min/median/p90/max days) — the SLA report card.  Lags are exact
    integer day gaps; medians interpolate identically in both engines
    (Spark percentile ≡ DuckDB quantile_cont); one keyed fact⋈fact
    join + a priority-sized aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    lag = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    ).cast("long")
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("o_orderpriority").alias("priority"), lag.alias("lag"))
        .groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.min("lag").alias("min_days"),
            F.round(F.expr("percentile(lag, 0.5)"), 6).alias("p50_days"),
            F.round(F.expr("percentile(lag, 0.9)"), 6).alias("p90_days"),
            F.max("lag").alias("max_days"),
        )
    )


@register(
    "q_purchase_intervals",
    oracle="""
WITH seq AS (
    SELECT o_custkey,
           CAST(date_diff('day',
               lag(o_orderdate) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey),
               o_orderdate) AS BIGINT) AS gap
    FROM orders
)
SELECT COUNT(*) AS n_gaps,
       MIN(gap) AS min_days,
       ROUND(quantile_cont(gap, 0.5), 6) AS p50_days,
       ROUND(quantile_cont(gap, 0.9), 6) AS p90_days,
       MAX(gap) AS max_days
FROM seq WHERE gap IS NOT NULL
""",
)
def q_purchase_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase cadence: the distribution of day gaps between
    a customer's consecutive orders (min/median/p90/max) — the
    re-engagement metric behind churn thresholds and email cadence.
    One customer-partitioned lag window with the deterministic
    (date, orderkey) tie order; gaps are exact integer days; medians
    interpolate identically in both engines."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.select(
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        )
        .cast("long")
        .alias("gap")
    ).filter(F.col("gap").isNotNull())
    return gaps.agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.min("gap").alias("min_days"),
        F.round(F.expr("percentile(gap, 0.5)"), 6).alias("p50_days"),
        F.round(F.expr("percentile(gap, 0.9)"), 6).alias("p90_days"),
        F.max("gap").alias("max_days"),
    )


# ---------------------------------------------------------------------------
# bucketed-edge co-location for the iterative graph family (round 4)
# ---------------------------------------------------------------------------


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The symmetric customer↔supplier trade graph both graph queries
    iterate over (node key = 2·custkey / 2·suppkey+1; custkeys even,
    suppkeys odd, so the two directions can never collide)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    raw = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    # both orientations in ONE pass (r13) — see q_pagerank's note;
    # here the 2x join ran once per data directory (the bucketed
    # layout write), but the write itself halves
    from opl_spark.operators.graph import both_directions

    return both_directions(raw)


from opl_spark.workload import _ORACLES as _REGISTERED_ORACLES  # noqa: E402

def _bucketed_trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steady-state bucketed-graph memo, the materialized-view
    semantics the iterative operators amortize against: the layout
    write happens once per data directory, later calls go straight to
    the exchange-free bucketed scan.  The table is content-addressed
    by sf_dir and written via temp+atomic-rename
    (sources/bucketing.py:bucketed_table_atomic), so concurrent
    sessions sharing the warehouse never read a half-written edge
    list and per-directory isolation is structural."""
    from opl_spark.sources.bucketing import bucketed_table_atomic

    table = bucketed_table_atomic(
        spark,
        "opl_edges_trade",
        sf_dir,
        lambda: _trade_edges(spark, sf_dir).select("src", "dst"),
        bucket_col="src",
        num_buckets=16,
    )
    return spark.table(table)


@register("q_pagerank_bucketed", oracle=_REGISTERED_ORACLES["q_pagerank"])
def q_pagerank_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_pagerank's exact result via the 100×-scale edge layout: the
    symmetric trade graph is materialized ONCE PER DATA DIRECTORY as a
    catalog table bucketed+sorted on the node key
    (``bucketed_table_atomic`` — the steady-state read every
    iterative graph operator sees), so each of the three rounds'
    edge⋈rank join and the degree aggregation plan with NO Exchange
    on the edge side — only node-sized rank state and the inherent
    per-round message shuffle move.  Same integer arithmetic, same
    oracle, hash-identical output; the Exchange-free round shape is
    plan-asserted in tests/test_scale_plan.py and the delta is
    recorded in BENCH_NOTES.md."""
    from opl_spark.operators.graph import pagerank

    return pagerank(
        _bucketed_trade_edges(spark, sf_dir), iterations=3, checkpoint=False
    )


@register("q_label_prop_bucketed", oracle=_REGISTERED_ORACLES["q_label_prop"])
def q_label_prop_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_label_prop's exact result over the same memoized bucketed
    edge table as q_pagerank_bucketed (write the layout once, every
    iterative graph operator reuses it) — each round's edge⋈label
    join reads the bucketed scan with no edge-side Exchange.
    checkpoint=False: the bucketed scan IS the materialization, and
    checkpointing would discard the bucketing metadata (see
    pagerank)."""
    from opl_spark.operators.graph import label_propagation

    return label_propagation(
        _bucketed_trade_edges(spark, sf_dir), rounds=3, checkpoint=False
    )


# ---------------------------------------------------------------------------
# round 5: evaluation metrics, LM smoothing, curriculum ordering
# ---------------------------------------------------------------------------


@register(
    "q_readability",
    oracle=r"""
WITH m AS (
    SELECT doc_id AS doc,
           CAST(len(list_filter(regexp_split_to_array(text, '[.!?]+'),
                                s -> trim(s) <> '')) AS BIGINT) AS n_sentences,
           CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                                w -> w <> '')) AS BIGINT) AS n_words,
           CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
               AS n_syllables
    FROM documents
)
SELECT doc, n_sentences, n_words, n_syllables,
       ROUND((206.835 - 1.015 * (CAST(n_words AS DOUBLE)
                                 / CAST(n_sentences AS DOUBLE)))
             - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)),
             6) AS fre,
       ROUND((0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
              + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)))
             - 15.59, 6) AS grade
FROM m WHERE n_words > 0 AND n_sentences > 0
""",
)
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade per document from
    three integer regex counts (sentences / words / vowel-group
    syllables) — map-only, no shuffle; the scores are fixed-sequence
    float expressions over the integers so round(6) replays
    bit-identically (see operators/text.py:readability_scores)."""
    from opl_spark.operators.text import readability_scores

    return readability_scores(load_table(spark, sf_dir, "documents"), "text", "doc_id")


@register(
    "q_zipf_fit",
    oracle=r"""
WITH toks AS (
    SELECT source AS grp,
           unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
    FROM documents
),
t AS (SELECT grp, tok, COUNT(*) AS c FROM toks WHERE tok <> '' GROUP BY 1, 2),
r AS (
    SELECT grp, c,
           row_number() OVER (PARTITION BY grp ORDER BY c DESC, tok) AS r
    FROM t
),
q AS (
    SELECT grp,
           CAST(floor(ln(CAST(r AS DOUBLE)) * 1000 + 0.5) AS BIGINT) AS x,
           CAST(floor(ln(CAST(c AS DOUBLE)) * 1000 + 0.5) AS BIGINT) AS y
    FROM r WHERE r <= 50
),
a AS (
    SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(x * y) AS BIGINT) AS sxy
    FROM q GROUP BY 1
)
SELECT grp, n AS n_ranks,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope
FROM a WHERE n >= 2
""",
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf slope (ln freq ~ ln rank least squares over the
    top-50 ranks): distribution-shape spam/drift signal.  Logs are
    MILLI-quantized per element so the five regression sums are exact
    BIGINTs and the slope is one cross-multiplied division — the
    ranking window is per-SOURCE (partitioned)."""
    from opl_spark.operators.text import zipf_slope

    return zipf_slope(load_table(spark, sf_dir, "documents"), "text", "source")


@register(
    "q_kneser_ney",
    oracle=r"""
WITH docs AS (
    SELECT doc_id AS doc, regexp_split_to_array(lower(trim(text)), '\s+') AS w
    FROM documents
),
bg AS (
    SELECT doc, unnest(list_transform(
        range(2, len(w) + 1), i -> w[i-1] || ' ' || w[i])) AS b
    FROM docs WHERE len(w) >= 2
),
cb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c12 FROM bg GROUP BY 1),
pre AS (
    SELECT split_part(b, ' ', 1) AS p, CAST(SUM(c12) AS BIGINT) AS c1,
           CAST(COUNT(*) AS BIGINT) AS n1fw
    FROM cb GROUP BY 1
),
suf AS (
    SELECT split_part(b, ' ', 2) AS s, CAST(COUNT(*) AS BIGINT) AS n1bw
    FROM cb GROUP BY 1
),
nbt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM cb),
sc AS (
    -- the FIXED float sequence the Spark operator replays verbatim:
    -- term1 = (4c12-3)/(4c1); term2 = (3n1fw)/(4c1) * (n1bw/nb)
    SELECT g.doc,
           CAST(floor(ln(
               (CAST(4 * c.c12 - 3 AS DOUBLE) / CAST(4 * p.c1 AS DOUBLE))
               + (CAST(3 * p.n1fw AS DOUBLE) / CAST(4 * p.c1 AS DOUBLE))
                 * (CAST(s.n1bw AS DOUBLE)
                    / CAST((SELECT nb FROM nbt) AS DOUBLE))
           ) * 1000000 + 0.5) AS BIGINT) AS q
    FROM bg g
    JOIN cb c ON c.b = g.b
    JOIN pre p ON p.p = split_part(g.b, ' ', 1)
    JOIN suf s ON s.s = split_part(g.b, ' ', 2)
)
SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(-SUM(q) AS BIGINT) AS sum_nll_micro,
       ROUND(CAST(-SUM(q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000.0, 6)
           AS avg_nll
FROM sc GROUP BY doc
""",
)
def q_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram score per document (D = 3/4 —
    clears to integer ratios; logprobs micro-quantized per element so
    doc sums are exact).  The continuation-unigram backoff is the
    boilerplate detector raw bigram MLE isn't (see
    operators/text.py:kneser_ney_logprob)."""
    from opl_spark.operators.text import kneser_ney_logprob

    return kneser_ney_logprob(load_table(spark, sf_dir, "documents"), "text", "doc_id")


@register(
    "q_auc",
    oracle="""
WITH b AS (
    SELECT CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
               AS qs,
           CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
    FROM embeddings
),
bins AS (
    SELECT qs, CAST(SUM(y) AS BIGINT) AS pos,
           CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg
    FROM b GROUP BY 1
),
c AS (
    SELECT qs, pos, neg,
           CAST(COALESCE(SUM(neg) OVER (
               ORDER BY qs ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS BIGINT) AS neg_below
    FROM bins
)
SELECT CAST(SUM(pos) AS BIGINT) AS n_pos, CAST(SUM(neg) AS BIGINT) AS n_neg,
       CASE WHEN SUM(pos) * SUM(neg) = 0 THEN 0.5
            ELSE ROUND(CAST(SUM(2 * pos * neg_below + pos * neg) AS DOUBLE)
                       / CAST(2 * SUM(pos) * SUM(neg) AS DOUBLE), 6)
       END AS auc
FROM c
""",
)
def q_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-binned ROC-AUC of embedding dim 0 as a classifier for
    label < 5 — the Mann-Whitney U over micro-quantized score bins:
    one combinable bin aggregate, one cumulative pass over the BIN
    summary (never a global sort of the fact stream), all-BIGINT until
    the final division (see operators/evaluate.py:roc_auc_binned)."""
    from opl_spark.operators.evaluate import roc_auc_binned

    emb = load_table(spark, sf_dir, "embeddings")
    return roc_auc_binned(
        emb, F.col("embedding")[0], (F.col("label") < 5).cast("long")
    )


@register(
    "q_cohens_kappa",
    oracle="WITH scored AS (SELECT lang, "
    + ", ".join(f"{_lang_score_sql(lg)} AS s_{lg}" for lg in _LANGS_DESC)
    + f" FROM documents),\nconf AS (SELECT lang AS a, {_LANG_CASE} AS b, "
    + """CAST(COUNT(*) AS BIGINT) AS c FROM scored GROUP BY 1, 2),
rows_ AS (SELECT a, CAST(SUM(c) AS BIGINT) AS rc FROM conf GROUP BY 1),
cols_ AS (SELECT b, CAST(SUM(c) AS BIGINT) AS cc FROM conf GROUP BY 1),
s AS (SELECT CAST(SUM(r.rc * c2.cc) AS BIGINT) AS s
      FROM rows_ r JOIN cols_ c2 ON c2.b = r.a),
t AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT) AS d
      FROM conf)
SELECT n, d AS n_agree,
       ROUND(CAST(d AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
       ROUND(CAST((SELECT s FROM s) AS DOUBLE) / CAST(n * n AS DOUBLE), 6) AS pe,
       CASE WHEN n * n = (SELECT s FROM s)
            THEN CASE WHEN d = n THEN 1.0 ELSE 0.0 END
            ELSE ROUND(CAST(n * d - (SELECT s FROM s) AS DOUBLE)
                       / CAST(n * n - (SELECT s FROM s) AS DOUBLE), 6)
       END AS kappa
FROM t
""",
)
def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the labeled corpus language and the
    marker-heuristic detector — the chance-corrected scalar summary of
    q_lang_confusion's matrix, all-BIGINT cross-multiplied to the
    final division (see operators/evaluate.py:cohens_kappa)."""
    from opl_spark.operators.evaluate import cohens_kappa
    from opl_spark.operators.text import lang_id_col

    docs = load_table(spark, sf_dir, "documents")
    return cohens_kappa(docs, F.col("lang"), lang_id_col(F.col("text")))


@register(
    "q_krippendorff_alpha",
    oracle="WITH scored AS (SELECT lang, "
    + ", ".join(f"{_lang_score_sql(lg)} AS s_{lg}" for lg in _LANGS_DESC)
    + f" FROM documents),\nconf AS (SELECT lang AS a, {_LANG_CASE} AS b, "
    + """CAST(COUNT(*) AS BIGINT) AS c FROM scored GROUP BY 1, 2),
rows_ AS (SELECT a AS l, CAST(SUM(c) AS BIGINT) AS rc FROM conf GROUP BY 1),
cols_ AS (SELECT b AS l, CAST(SUM(c) AS BIGINT) AS cc FROM conf GROUP BY 1),
marg AS (SELECT COALESCE(r.rc, 0) + COALESCE(c2.cc, 0) AS nc
         FROM rows_ r FULL OUTER JOIN cols_ c2 ON r.l = c2.l),
s2 AS (SELECT CAST(SUM(nc * nc) AS BIGINT) AS s2 FROM marg),
t AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT) AS d
      FROM conf)
SELECT n AS n_units, d AS n_agree,
       ROUND(CAST(n - d AS DOUBLE) / CAST(n AS DOUBLE), 6) AS do_rate,
       ROUND(CAST(4 * n * n - (SELECT s2 FROM s2) AS DOUBLE)
             / CAST(2 * n * (2 * n - 1) AS DOUBLE), 6) AS de_rate,
       CASE WHEN 4 * n * n = (SELECT s2 FROM s2)
            THEN CASE WHEN d = n THEN 1.0 ELSE 0.0 END
            ELSE ROUND(1.0 - CAST(2 * (n - d) * (2 * n - 1) AS DOUBLE)
                       / CAST(4 * n * n - (SELECT s2 FROM s2) AS DOUBLE), 6)
       END AS alpha
FROM t
""",
)
def q_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha over the same (labeled lang, marker
    detector) rater pair as q_cohens_kappa — the reliability
    coefficient that pools both raters' value distributions for the
    chance correction, integer-exact to the single final division
    (see operators/evaluate.py:krippendorff_alpha)."""
    from opl_spark.operators.evaluate import krippendorff_alpha
    from opl_spark.operators.text import lang_id_col

    docs = load_table(spark, sf_dir, "documents")
    return krippendorff_alpha(docs, F.col("lang"), lang_id_col(F.col("text")))


@register(
    "q_mcnemar",
    oracle="WITH scored AS (SELECT lang, "
    + ", ".join(f"{_lang_score_sql(lg)} AS s_{lg}" for lg in _LANGS_DESC)
    + f" FROM documents),\nm AS (SELECT CASE WHEN lang = {_LANG_CASE} "
    + """THEN 1 ELSE 0 END AS a_ok,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS b_ok
    FROM scored),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(a_ok * (1 - b_ok)) AS BIGINT) AS b,
             CAST(SUM((1 - a_ok) * b_ok) AS BIGINT) AS c
      FROM m)
SELECT n, b AS n_b, c AS n_c,
       CASE WHEN b + c = 0 THEN 0.0
            ELSE ROUND(CAST(GREATEST(ABS(b - c) - 1, 0)
                            * GREATEST(ABS(b - c) - 1, 0) AS DOUBLE)
                       / CAST(b + c AS DOUBLE), 6)
       END AS chi2
FROM t
""",
)
def q_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test: is the marker language detector
    significantly different from the majority-class baseline
    (predict 'en' for everything) on the labeled corpus?  The
    discordant-pair counts + Edwards-corrected chi-square, one
    combinable aggregate (operators/evaluate.py:mcnemar_test) — the
    significance companion to q_cohens_kappa / q_krippendorff_alpha."""
    from opl_spark.operators.evaluate import mcnemar_test
    from opl_spark.operators.text import lang_id_col

    docs = load_table(spark, sf_dir, "documents")
    return mcnemar_test(
        docs, F.col("lang"), lang_id_col(F.col("text")), F.lit("en")
    )


@register(
    "q_blocklist_filter",
    oracle=r"""
WITH docs AS (
    SELECT doc_id AS doc,
           regexp_split_to_array(lower(trim(text)), '\s+') AS w
    FROM documents
),
scored AS (
    SELECT doc, len(w) AS n_words,
           len(list_filter(w, x -> list_contains(['slow', 'spill'], x)))
               AS n_hits
    FROM docs
)
SELECT doc, CAST(n_words AS BIGINT) AS n_words,
       CAST(n_hits AS BIGINT) AS n_hits,
       CAST(n_hits * 1000000 // greatest(n_words, 1) AS BIGINT) AS hit_ppm,
       (n_hits * 1000000 // greatest(n_words, 1)) <= 20000 AS kept
FROM scored
""",
)
def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-blocklist corpus gate (the banned-terms filter of
    Dolma/FineWeb/C4): whole-word case-insensitive hits against a
    driver-literal list, exact ppm hit ratio, keep decision at 2% —
    MAP-ONLY, no shuffle, no UDF
    (operators/text.py:blocklist_filter)."""
    from opl_spark.operators.text import blocklist_filter

    docs = load_table(spark, sf_dir, "documents")
    return blocklist_filter(docs, "text", "doc_id", ["slow", "spill"])


@register(
    "q_distinct_n",
    oracle=r"""
WITH docs AS (
    SELECT source, regexp_split_to_array(lower(trim(text)), '\s+') AS w
    FROM documents
),
g AS (
    SELECT source, t.n AS n,
           array_to_string(list_slice(w, s.i, s.i + t.n - 1), ' ') AS g
    FROM docs,
         UNNEST([1, 2, 3]) AS t(n),
         UNNEST(range(1, greatest(len(w) - t.n + 1, 1) + 1)) AS s(i)
)
SELECT source, CAST(n AS INTEGER) AS n,
       CAST(COUNT(*) AS BIGINT) AS total_ngrams,
       CAST(COUNT(DISTINCT g) AS BIGINT) AS distinct_ngrams,
       ROUND(CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*), 6) AS distinct_ratio
FROM g GROUP BY 1, 2
""",
)
def q_distinct_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-n corpus-diversity ratios per source (Li et al. 2016):
    type/token ratio plus distinct-2/3 — the standard screen for
    template-heavy or model-generated text.  One scan, one (source, n)
    aggregate (operators/text.py:distinct_ngram_ratios)."""
    from opl_spark.operators.text import distinct_ngram_ratios

    docs = load_table(spark, sf_dir, "documents")
    return distinct_ngram_ratios(docs, "text", "source")


def _retrieval_eval_oracle() -> str:
    from opl_spark.operators.evaluate import ndcg_weight_micro

    n_queries, k = 20, 10

    wts = ", ".join(f"({i}, {ndcg_weight_micro(i)})" for i in range(1, k + 1))
    prefix, acc = ["(0, 0)"], 0
    for i in range(1, k + 1):
        acc += ndcg_weight_micro(i)
        prefix.append(f"({i}, {acc})")
    return f"""
WITH pool AS MATERIALIZED (
    SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
),
q AS MATERIALIZED (
    SELECT id AS qid, v AS qv, label AS qlabel FROM pool ORDER BY id LIMIT {n_queries}
),
scored AS MATERIALIZED (
    SELECT q.qid, q.qlabel, p.id, p.label,
           ROUND(list_dot_product(p.v, q.qv)
                 / (sqrt(list_dot_product(p.v, p.v))
                    * sqrt(list_dot_product(q.qv, q.qv))), 6) AS sim
    FROM pool p CROSS JOIN q WHERE p.id <> q.qid
),
ranked AS (
    SELECT qid, qlabel, label,
           row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS r
    FROM scored
),
rel AS (
    SELECT qid, qlabel, r,
           CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel
    FROM ranked WHERE r <= {k}
),
wts(r, w) AS (VALUES {wts}),
idcg(h, s) AS (VALUES {", ".join(prefix)}),
perq AS (
    SELECT rel.qid, rel.qlabel, CAST(SUM(rel.rel) AS BIGINT) AS n_hits,
           CAST(SUM(rel.rel * w.w) AS BIGINT) AS dcg
    FROM rel JOIN wts w ON w.r = rel.r GROUP BY 1, 2
)
SELECT qid, qlabel AS label, n_hits,
       ROUND(CAST(n_hits AS DOUBLE) / {float(k)}, 6) AS precision,
       CASE WHEN n_hits = 0 THEN 0.0
            ELSE ROUND(CAST(dcg AS DOUBLE) / CAST(i.s AS DOUBLE), 6) END AS ndcg
FROM perq JOIN idcg i ON i.h = n_hits
"""


@register("q_retrieval_eval", oracle=_retrieval_eval_oracle())
def q_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality report for the embedding index: precision@10
    and binary-gain nDCG@10 (micro-unit literal discounts — exact
    BIGINT DCG sums) of each of the 20 lowest-id vectors' cosine
    neighbors against label agreement.  Neighbor generation is the
    knn_join batch gemm; every window is per-query over a k-sized
    shortlist (see operators/evaluate.py:retrieval_eval)."""
    from opl_spark.operators.evaluate import retrieval_eval

    emb = load_table(spark, sf_dir, "embeddings")
    return retrieval_eval(emb, "embedding", "vec_id", "label", n_queries=20, k=10)


@register(
    "q_embedding_outliers",
    oracle=f"""
WITH wq AS MATERIALIZED (
    SELECT vec_id AS id, label,
           list_transform(CAST(embedding AS DOUBLE[]),
                          x -> floor(x * 1000 + 0.5)) AS w
    FROM embeddings
),
idx AS MATERIALIZED (SELECT CAST(unnest(range(1, 65)) AS BIGINT) AS i),
pts AS MATERIALIZED (
    SELECT id, label, i.i AS pos, CAST(w[i.i] AS BIGINT) AS x
    FROM wq CROSS JOIN idx i
),
sums AS (
    SELECT label, pos, CAST(SUM(x) AS BIGINT) AS s,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM pts GROUP BY 1, 2
),
cent AS (
    -- half-up integer mean, floor-div semantics (DuckDB // truncates)
    SELECT label, pos, CAST({_pq_fd("2 * s + n", "2 * n")} AS BIGINT) AS c
    FROM sums
),
d AS (
    SELECT p.id, p.label, CAST(SUM((p.x - c.c) * (p.x - c.c)) AS BIGINT) AS d2
    FROM pts p JOIN cent c ON c.label = p.label AND c.pos = p.pos
    GROUP BY 1, 2
)
SELECT label, id, d2, rank FROM (
    SELECT label, id, d2,
           CAST(row_number() OVER (
               PARTITION BY label ORDER BY d2 DESC, id) AS BIGINT) AS rank
    FROM d
) WHERE rank <= 3
""",
)
def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 farthest vectors from their own label's centroid
    (squared L2 over milli-quantized integer coordinates, half-up
    integer centroid means) — the mislabel / corrupt-embedding screen,
    integer-exact end to end (see
    operators/similarity.py:label_centroid_outliers)."""
    from opl_spark.operators.similarity import label_centroid_outliers

    emb = load_table(spark, sf_dir, "embeddings")
    return label_centroid_outliers(emb, "embedding", "vec_id", "label", topk=3)


@register(
    "q_curriculum_order",
    oracle="""
WITH staged AS (
    SELECT doc_id AS id, source AS grp,
           CAST('0x' || substr(md5(source), 1, 8) AS UBIGINT) % 4 + 1 AS weight,
           md5(CAST(doc_id AS VARCHAR)) AS ord
    FROM documents
),
ranked AS (
    SELECT id, grp, CAST(weight AS BIGINT) AS weight,
           CAST(row_number() OVER (
               PARTITION BY grp ORDER BY ord, id) AS BIGINT) AS r
    FROM staged
)
SELECT id, grp, weight, r,
       CAST((2 * r - 1) * (840 // weight) AS BIGINT) AS sched_key
FROM ranked
""",
)
def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted interleave of source domains into one
    training order: exact rational schedule keys
    ``(2r−1)·(base/w)`` (no float ordering), portable-md5 weights and
    within-domain shuffle — the data-ORDERING half of weighted mixing.
    The global order rides in the key (writers range-partition on it);
    the only window is per-SOURCE (see
    operators/sampling.py:curriculum_interleave)."""
    from opl_spark.operators.sampling import curriculum_interleave

    docs = load_table(spark, sf_dir, "documents")
    return curriculum_interleave(docs, "doc_id", "source")


def _mrr_oracle() -> str:
    from opl_spark.operators.evaluate import mrr_weight_micro

    n_queries, k = 20, 10

    rrs = ", ".join(f"({i}, {mrr_weight_micro(i)})" for i in range(1, k + 1))
    return f"""
WITH pool AS MATERIALIZED (
    SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
),
q AS MATERIALIZED (
    SELECT id AS qid, v AS qv, label AS qlabel FROM pool ORDER BY id LIMIT {n_queries}
),
scored AS MATERIALIZED (
    SELECT q.qid, q.qlabel, p.id, p.label,
           ROUND(list_dot_product(p.v, q.qv)
                 / (sqrt(list_dot_product(p.v, p.v))
                    * sqrt(list_dot_product(q.qv, q.qv))), 6) AS sim
    FROM pool p CROSS JOIN q WHERE p.id <> q.qid
),
ranked AS (
    SELECT qid, qlabel, label,
           row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS r
    FROM scored
),
hit AS (
    SELECT qid, CAST(MIN(r) AS BIGINT) AS fr
    FROM ranked WHERE r <= {k} AND label = qlabel GROUP BY 1
),
rrs(r, w) AS (VALUES {rrs})
SELECT q.qid, q.qlabel AS label,
       CAST(COALESCE(h.fr, 0) AS BIGINT) AS first_hit_rank,
       ROUND(CAST(COALESCE(w.w, 0) AS DOUBLE) / 1000000.0, 6) AS rr
FROM q LEFT JOIN hit h ON h.qid = q.qid LEFT JOIN rrs w ON w.r = h.fr
"""


@register("q_mrr", oracle=_mrr_oracle())
def q_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank report for the embedding index (first top-10
    cosine neighbor sharing each query's label; AVG(rr) = MRR@10) —
    micro-unit literal reciprocal ranks, per-query rows so misses are
    attributable (see operators/evaluate.py:mrr_eval)."""
    from opl_spark.operators.evaluate import mrr_eval

    emb = load_table(spark, sf_dir, "embeddings")
    return mrr_eval(emb, "embedding", "vec_id", "label", n_queries=20, k=10)


@register(
    "q_ece",
    oracle="""
WITH staged AS (
    SELECT CAST(floor(least(greatest(CAST(embedding[1] AS DOUBLE) + 0.5, 0.0),
                            1.0) * 1000000 + 0.5) AS BIGINT) AS qp,
           CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
    FROM embeddings
),
binned AS (
    SELECT greatest(least(CAST(floor(CAST(qp * 10 AS DOUBLE) / 1000000.0)
                               AS BIGINT),
                          9), 0) AS bin, qp, y
    FROM staged
),
bins AS (
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_b,
           CAST(SUM(y) AS BIGINT) AS pos_b,
           CAST(SUM(qp) AS BIGINT) AS conf_b
    FROM binned GROUP BY 1
),
per_bin AS (
    SELECT bin, n_b, abs(pos_b * 1000000 - conf_b) AS gap FROM bins
)
SELECT CAST(SUM(n_b) AS BIGINT) AS n,
       ROUND(CAST(SUM(gap) AS DOUBLE) / CAST(SUM(n_b) * 1000000 AS DOUBLE), 6)
           AS ece,
       (SELECT bin FROM per_bin ORDER BY gap DESC, bin DESC LIMIT 1)
           AS worst_bin
FROM per_bin
""",
)
def q_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected calibration error of the clamp(dim0 + 0.5) pseudo-
    probability against label < 5, over 10 equal-width bins — the
    common-denominator BIGINT form (each bin's |accuracy − confidence|
    clears against the shared 1e6 scale), one combinable bin aggregate
    + a one-row reduce (see operators/evaluate.py:ece_binned)."""
    from opl_spark.operators.evaluate import ece_binned

    emb = load_table(spark, sf_dir, "embeddings")
    prob = F.least(
        F.greatest(F.col("embedding")[0].cast("double") + F.lit(0.5), F.lit(0.0)),
        F.lit(1.0),
    )
    return ece_binned(emb, prob, (F.col("label") < 5).cast("long"), n_bins=10)


@register(
    "q_psi_drift",
    oracle="""
WITH staged AS (
    SELECT greatest(least(CAST(floor(CAST(value AS DOUBLE) / 25.0) AS BIGINT),
                          19), 0) AS bin,
           CASE WHEN CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16'
                THEN 1 ELSE 0 END AS cur
    FROM events
),
bins AS (
    SELECT bin, CAST(SUM(1 - cur) + 1 AS BIGINT) AS a,
           CAST(SUM(cur) + 1 AS BIGINT) AS b
    FROM staged GROUP BY 1
),
tot AS (SELECT CAST(SUM(a) AS BIGINT) AS ta, CAST(SUM(b) AS BIGINT) AS tb FROM bins),
t AS (
    -- FIXED sequence: (a/ta - b/tb) * ln((a*tb)/(b*ta)), nano-quantized
    -- per bin so the cross-engine sum is exact
    SELECT a, b,
           CAST(floor((CAST(a AS DOUBLE) / CAST(tt.ta AS DOUBLE)
                       - CAST(b AS DOUBLE) / CAST(tt.tb AS DOUBLE))
                      * ln(CAST(a * tt.tb AS DOUBLE)
                           / CAST(b * tt.ta AS DOUBLE))
                      * 1000000000 + 0.5) AS BIGINT) AS q
    FROM bins CROSS JOIN tot tt
)
SELECT CAST(SUM(a) - COUNT(*) AS BIGINT) AS n_ref,
       CAST(SUM(b) - COUNT(*) AS BIGINT) AS n_cur,
       ROUND(CAST(SUM(q) AS DOUBLE) / 1000000000.0, 6) AS psi
FROM t
""",
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability index of the event value distribution,
    first half of the month vs second (20 fixed 25-unit bins, add-one
    smoothing) — the standard between-batch feature-drift monitor;
    per-bin terms nano-quantized from BIGINT counts so the sum
    replays exactly (see operators/evaluate.py:psi_drift)."""
    from opl_spark.operators.evaluate import psi_drift

    ev = load_table(spark, sf_dir, "events")
    return psi_drift(
        ev,
        F.col("value"),
        F.col("ts") >= F.lit("2024-01-16").cast("timestamp"),
        bin_width=25.0,
        n_bins=20,
    )


@register(
    "q_l_diversity",
    oracle="""
WITH g AS (
    SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS sz,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_sensitive
    FROM events GROUP BY 1, 2
)
SELECT event_type, day, sz, n_sensitive
FROM g WHERE n_sensitive < 3
""",
)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (l = 3) over the (event_type, day)
    quasi-identifier: equivalence classes whose SENSITIVE attribute
    (user) takes fewer than l distinct values — the disclosure-risk
    complement of q_k_anonymity (a k-anonymous group can still leak
    if everyone in it shares the sensitive value).  One combinable
    group aggregate, output risk-group-sized."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("sz"),
        F.count_distinct("user_id").alias("n_sensitive"),
    )
    return g.filter(F.col("n_sensitive") < 3)


@register(
    "q_bitmap_count",
    oracle="""
WITH seg AS (
    SELECT c_custkey // 62 AS word,
           bit_or(CAST(1 AS BIGINT) << CAST(c_custkey % 62 AS INTEGER)) AS bits
    FROM customer WHERE c_mktsegment = 'BUILDING' GROUP BY 1
),
nat AS (
    SELECT c_custkey // 62 AS word,
           bit_or(CAST(1 AS BIGINT) << CAST(c_custkey % 62 AS INTEGER)) AS bits
    FROM customer WHERE c_nationkey < 10 GROUP BY 1
),
j AS (
    SELECT s.word, s.bits & n.bits AS bits
    FROM seg s JOIN nat n ON n.word = s.word
)
SELECT word, bits, CAST(bit_count(bits) AS BIGINT) AS n_bits
FROM j WHERE bits <> 0
""",
)
def q_bitmap_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-index predicate intersection: 62-bit word bitmaps of
    segment='BUILDING' and nationkey<10 customers, ANDed word-by-word
    — SUM(n_bits) is the conjunction count with zero base-table
    re-scans (the low-cardinality OLAP index; see
    operators/layout.py:bitmap_index).  Emitting the per-word bitmaps
    makes the whole index oracle-replayable, not just the count."""
    from opl_spark.operators.layout import bitmap_and, bitmap_index

    cust = load_table(spark, sf_dir, "customer")
    seg = bitmap_index(cust, "c_custkey", F.col("c_mktsegment") == "BUILDING")
    nat = bitmap_index(cust, "c_custkey", F.col("c_nationkey") < 10)
    return bitmap_and(seg, nat)


#: steady-state rollup memo: table name -> the sf_dir its current
#: materialization is built ONCE per data directory and then serves
#: every dashboard query; re-building it inside every request would
#: charge the query the build cost a 100 TB deployment pays once per
#: refresh cycle.  Content-addressed by sf_dir (a process that
#: switches directories gets that directory's table structurally) and
#: written via temp+atomic-rename — see bucketed_table_atomic.


@register(
    "q_rollup_route",
    oracle="""
SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS bucket,
       l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
           AS revenue
FROM lineitem
GROUP BY 1, 2
""",
)
def q_rollup_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grain-routed cube query: monthly revenue by returnflag answered
    from the materialized DAY-grain rollup (built once per data dir as
    a bucketed catalog table — the steady-state read a dashboard sees;
    |days x flags| rows re-aggregate instead of the fact stream — the
    materialized-view accelerator the reference's one-grain-per-fact
    cubes imply at 100 TB).  DECIMAL partials re-sum exactly, so
    routing is invisible to the oracle (the direct fact aggregation).
    Exactness + the routed-plan-never-scans-lineitem contract are
    pinned by tests/test_rollup_router.py."""
    from opl_spark.rollup import lineitem_day_rollup_table, rollup_answer

    table = lineitem_day_rollup_table(spark, sf_dir)
    out = rollup_answer(
        spark,
        table,
        "month",
        ["l_returnflag"],
        ["revenue_dec"],
    )
    return out.select(
        "bucket",
        "l_returnflag",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.round(F.col("revenue_dec").cast("double"), 2).alias("revenue"),
    )


@register(
    "q_vad_segments",
    oracle=_AUDIO_FRAMES_CTE + """,
act AS (SELECT media_id, frame, e6 FROM re WHERE e6 >= 1000000),
isl AS (
    SELECT media_id, frame, e6,
           frame - row_number() OVER (PARTITION BY media_id ORDER BY frame) AS g
    FROM act
),
seg AS (
    SELECT media_id,
           CAST(MIN(frame) AS INTEGER) AS seg_start,
           CAST(MAX(frame) AS INTEGER) AS seg_end,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(e6) AS BIGINT) AS se6
    FROM isl GROUP BY media_id, g
)
-- integer half-up mean (positive, so // == floor): float round(x, 6)
-- lands exactly on .5 half the time n=2 and the engines disagree there
SELECT media_id, seg_start, seg_end, n_frames,
       CAST((2 * se6 + n_frames) // (2 * n_frames) AS DOUBLE) / 1000000.0
           AS mean_energy
FROM seg
""",
)
def q_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity segments over the framed stand-in audio:
    consecutive non-silence frames merge into (start, end, mean
    energy) runs — silence trimming as gaps-and-islands over the
    frame table, per-media windows only (see
    operators/multimodal.py:vad_segments)."""
    from opl_spark.operators.multimodal import (
        audio_frame_energy,
        vad_segments,
        with_media_column,
    )

    docs = load_table(spark, sf_dir, "documents")
    frames = audio_frame_energy(with_media_column(docs, "text", "doc_id"))
    return vad_segments(frames)


@register(
    "q_feature_hash",
    oracle=r"""
WITH toks AS (
    SELECT doc_id AS doc,
           unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
    FROM documents
),
hashed AS (
    SELECT doc,
           CAST(CAST('0x' || substr(md5(tok), 1, 8) AS UBIGINT) AS BIGINT) AS h
    FROM toks WHERE tok <> ''
)
SELECT doc, CAST(h % 64 AS BIGINT) AS bucket,
       CAST(SUM(CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS v
FROM hashed GROUP BY 1, 2
""",
)
def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick features: 64 signed-count buckets per document
    from the portable md5 hash — fixed-width model inputs with ZERO
    vocabulary state (no fit step, no dictionary broadcast; the
    feature extractor that still works when the corpus is 100 TB and
    streaming).  Map-only + one combinable aggregate (see
    operators/text.py:feature_hash)."""
    from opl_spark.operators.text import feature_hash

    return feature_hash(load_table(spark, sf_dir, "documents"), "text", "doc_id")


@register(
    "q_heldout_perplexity",
    oracle=r"""
WITH toks AS (
    SELECT doc_id AS doc,
           unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
    FROM documents
),
tk AS (SELECT doc, tok FROM toks WHERE tok <> ''),
vocab AS (
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
    FROM tk WHERE doc % 10 < 8 GROUP BY 1
),
tot AS (
    SELECT CAST(SUM(c) AS BIGINT) AS tot, CAST(COUNT(*) AS BIGINT) AS v
    FROM vocab
),
scored AS (
    SELECT t.doc,
           CAST(floor(ln(CAST(COALESCE(vo.c, 0) + 1 AS DOUBLE)
                         / CAST(tt.tot + tt.v AS DOUBLE))
                      * 1000000 + 0.5) AS BIGINT) AS q,
           CASE WHEN vo.c IS NULL THEN 1 ELSE 0 END AS unseen
    FROM tk t
    LEFT JOIN vocab vo ON vo.tok = t.tok
    CROSS JOIN tot tt
    WHERE t.doc % 10 >= 8
)
SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(unseen) AS BIGINT) AS n_unseen,
       ROUND(CAST(-SUM(q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000.0, 6)
           AS avg_nll
FROM scored GROUP BY doc
""",
)
def q_heldout_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out LM evaluation: add-one unigram model fit on the
    doc_id%10<8 TRAIN split scores the VAL split — the quality-gate
    number corpus-self scores flatter (train/test discipline inside
    one query; see operators/text.py:heldout_perplexity)."""
    from opl_spark.operators.text import heldout_perplexity

    return heldout_perplexity(
        load_table(spark, sf_dir, "documents"), "text", "doc_id"
    )


def _label_noise_oracle() -> str:
    n_queries, k, min_disagree = 100, 5, 4
    return f"""
WITH pool AS MATERIALIZED (
    SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
),
q AS MATERIALIZED (
    SELECT id AS qid, v AS qv, label AS qlabel FROM pool ORDER BY id LIMIT {n_queries}
),
scored AS MATERIALIZED (
    SELECT q.qid, q.qlabel, p.id, p.label,
           ROUND(list_dot_product(p.v, q.qv)
                 / (sqrt(list_dot_product(p.v, p.v))
                    * sqrt(list_dot_product(q.qv, q.qv))), 6) AS sim
    FROM pool p CROSS JOIN q WHERE p.id <> q.qid
),
ranked AS (
    SELECT qid, qlabel, label,
           row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS r
    FROM scored
),
votes AS (
    SELECT qid, qlabel,
           CAST(SUM(CASE WHEN label <> qlabel THEN 1 ELSE 0 END) AS BIGINT)
               AS n_disagree
    FROM ranked WHERE r <= {k} GROUP BY 1, 2
)
SELECT qid AS vec_id, qlabel AS label, n_disagree
FROM votes WHERE n_disagree >= {min_disagree}
"""


@register("q_label_noise", oracle=_label_noise_oracle())
def q_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mislabel candidates by neighborhood vote: the 100 lowest-id
    vectors whose top-5 cosine neighbors mostly carry a DIFFERENT
    label (≥ 4/5 disagreement) — the confident-learning screen,
    complementing q_embedding_outliers (see
    operators/evaluate.py:label_noise)."""
    from opl_spark.operators.evaluate import label_noise

    emb = load_table(spark, sf_dir, "embeddings")
    return label_noise(emb, "embedding", "vec_id", "label")


# ---------------------------------------------------------------------------
# round 9: LSH banding advisor surface
# ---------------------------------------------------------------------------


def _lsh_tuning_oracle() -> str:
    """Independent replay of the banding S-curve table: one SELECT per
    (bands × rows) factorization recomputing 1 − (1 − t^r)^b with the
    SAME multiply-chain shape as the Spark side (pow_chain_sql) — pure
    IEEE double multiplies, so both engines agree bit-for-bit where a
    libm pow() could differ in the final ulp."""
    from opl_spark.operators.dedup import _factorizations, banding_curve_sql

    threshold, budget = 0.5, 64

    below = threshold / 2
    parts = []
    for b, r in _factorizations(budget):
        parts.append(
            f"SELECT CAST({b} AS INTEGER) AS bands,"
            f" CAST({r} AS INTEGER) AS rows_per_band,"
            f" ROUND({banding_curve_sql(f'CAST({threshold!r} AS DOUBLE)', b, r)}, 6)"
            f" AS recall_at_threshold,"
            f" ROUND({banding_curve_sql(f'CAST({below!r} AS DOUBLE)', b, r)}, 6)"
            f" AS fp_at_below"
        )
    return "\nUNION ALL ".join(parts)


@register("q_lsh_tuning", oracle=_lsh_tuning_oracle())
def q_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banding-parameter advisor's S-curve table as a query (r9):
    every (bands × rows) factorization of the 64-hash budget with the
    candidate-collision probability at the verify threshold (0.5) and
    at threshold/2 (the candidate-waste proxy) — the table
    lsh_banding_advise ranks and `opl-spark -c lsh-advise` prints.
    Both engines evaluate the identical multiply-chain expressions
    (operators/dedup.py:pow_chain_sql), making the tuning math itself
    driver-auditable; the planted-dup recall pin for an ADVISED
    banding lives in tests/test_operators.py."""
    from opl_spark.operators.dedup import banding_curve_frame

    return banding_curve_frame(spark, 0.5, 64)


def _srp_incremental_oracle() -> str:
    """Replay of the storeless SRP-incremental probe: same plane
    literals and integer bucket arithmetic as _srp_oracle, split into
    store (vec_id % 5 <> 0) and batch (vec_id % 5 = 0), candidates
    from the (band, key) join, exact-cosine verify, best stored match
    per batch vector (max cos, min stored id on ties — the rounded
    cosine orders, matching srp_probe's struct-max)."""
    from opl_spark.operators.similarity import srp_plane_coeff

    dims, n_bits, bands, threshold = 64, 24, 4, 0.3

    rows = n_bits // bands
    vals = ", ".join(
        f"({j}, {i}, {srp_plane_coeff(j, i)})"
        for j in range(n_bits)
        for i in range(dims)
    )
    cos = (
        "ROUND(list_dot_product(x.v, y.v) / (sqrt(list_dot_product(x.v, x.v))"
        " * sqrt(list_dot_product(y.v, y.v))), 6)"
    )
    return f"""
WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT id, list_transform(v, x -> floor(x * 1000.0 + 0.5)) AS qv FROM e),
planes(j, i, c) AS (VALUES {vals}),
dots AS (
    SELECT q.id, p.j, SUM(q.qv[p.i + 1] * p.c) AS s
    FROM q CROSS JOIN planes p
    GROUP BY 1, 2
),
keys AS (
    SELECT id, j // {rows} AS band,
           CAST(SUM(CASE WHEN s >= 0 THEN (1 << (j % {rows})) ELSE 0 END)
                AS BIGINT) AS key
    FROM dots GROUP BY 1, 2
),
cand AS (
    SELECT DISTINCT n.id AS vec_id, o.id AS old_id
    FROM keys n JOIN keys o ON n.band = o.band AND n.key = o.key
    WHERE n.id % 5 = 0 AND o.id % 5 <> 0
),
scored AS (
    SELECT cand.vec_id, cand.old_id, {cos} AS cos
    FROM cand JOIN e x ON x.id = cand.vec_id JOIN e y ON y.id = cand.old_id
),
best AS (
    SELECT vec_id, old_id, cos,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, old_id ASC) AS rk
    FROM scored WHERE cos >= {threshold}
)
SELECT vec_id, old_id AS dup_of, cos FROM best WHERE rk = 1
"""


@register("q_srp_incremental", oracle=_srp_incremental_oracle())
def q_srp_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SRP-LSH probe as a query (r9): the corpus split
    into an already-indexed store (vec_id % 5 != 0) and an arriving
    batch (vec_id % 5 == 0), the batch's banded sign-bit keys joined
    against the store's, bucket-mates verified with the exact cosine,
    best stored match kept per new vector — the storeless twin of the
    persisted (band, bucket_shard)-partitioned index
    (operators/similarity.py:build_srp_index /
    srp_dedup_incremental, whose verbatim/edited/novel/self-detect
    contract is pinned in tests/test_operators.py).  The whole bucket
    structure is integer-exact, so the oracle replays candidates
    bit-for-bit and the verify is portable raw-double arithmetic."""
    from opl_spark.operators.similarity import _srp_store_rows, srp_probe

    emb = load_table(spark, sf_dir, "embeddings")
    store = _srp_store_rows(
        emb.filter(F.col("vec_id") % 5 != 0), "embedding", "vec_id", 64, 24, 4
    )
    batch = _srp_store_rows(
        emb.filter(F.col("vec_id") % 5 == 0), "embedding", "vec_id", 64, 24, 4
    )
    return srp_probe(store, batch, threshold=0.3)


_BUCKET_STATS_ORACLE = f"""
WITH {{chain}}
SELECT band,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(MAX(k) AS BIGINT) AS max_bucket,
       ROUND(SUM(k * (k - 1) / 2.0), 1) AS est_candidate_pairs
FROM (SELECT band, band_key, COUNT(*) AS k FROM bnd GROUP BY 1, 2)
GROUP BY band
"""


def _bucket_stats_oracle() -> str:
    """Replay of minhash_bucket_stats over the PORTABLE band keys: the
    proven _minhash_chain CTEs up to `bnd` (per-doc band keys), bucket
    sizes per (band, key), then the per-band occupancy rollup — the
    same k·(k−1)/2 fan-out bucket_pairs would expand."""
    return _BUCKET_STATS_ORACLE.format(chain=_minhash_chain())


@register("q_bucket_stats", oracle=_bucket_stats_oracle())
def q_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banding advisor's MEASURED half as a query (r9): per-band
    LSH bucket occupancy over the documents corpus — bucket count,
    widest bucket (the max_bucket hot-bucket guard's input), and the
    exact candidate-pair fan-out Σ k·(k−1)/2 that bucket_pairs would
    expand.  Read next to q_lsh_tuning: the S-curve says what recall a
    banding buys, this says what the candidate bill is on THIS corpus.
    Runs the portable hash family end to end so the DuckDB oracle
    replays every bucket bit-for-bit
    (operators/dedup.py:minhash_bucket_stats)."""
    from opl_spark.operators.dedup import minhash_bucket_stats, minhash_signatures

    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, "text", "doc_id", 64, 3, portable=True)
    return minhash_bucket_stats(sigs, 16, 4, portable=True)


_CHI2_ORACLE = """
WITH cells AS (
    -- null-as-level sentinel, mirroring chi2_independence's coalesce
    SELECT COALESCE(CAST(o_orderpriority AS VARCHAR), '__null__') AS a,
           COALESCE(CAST(o_orderstatus AS VARCHAR), '__null__') AS b,
           CAST(COUNT(*) AS BIGINT) AS nc
    FROM orders GROUP BY 1, 2
),
marg AS (
    SELECT nc,
           SUM(nc) OVER (PARTITION BY a) AS rm,
           SUM(nc) OVER (PARTITION BY b) AS cm,
           SUM(nc) OVER () AS nt,
           (SELECT COUNT(DISTINCT a) FROM cells) AS rl,
           (SELECT COUNT(DISTINCT b) FROM cells) AS cl
    FROM cells
),
terms AS (
    SELECT CAST(floor(1e9 * CAST(nc * nc AS DOUBLE) / CAST(rm * cm AS DOUBLE)
                      + 0.5) AS BIGINT) AS t, nt, rl, cl
    FROM marg
),
red AS (
    SELECT SUM(t) AS s, MAX(nt) AS nt, MAX(rl) AS rl, MAX(cl) AS cl FROM terms
)
SELECT CAST(nt AS BIGINT) AS n,
       CAST(rl AS INTEGER) AS r_levels,
       CAST(cl AS INTEGER) AS c_levels,
       CAST((rl - 1) * (cl - 1) AS INTEGER) AS dof,
       ROUND(CAST(nt AS DOUBLE) * (CAST(s AS DOUBLE) / 1e9) - nt, 6) AS chi2,
       CASE WHEN least(rl - 1, cl - 1) = 0 THEN CAST(0.0 AS DOUBLE) ELSE
       ROUND(sqrt(greatest(CAST(nt AS DOUBLE) * (CAST(s AS DOUBLE) / 1e9) - nt,
                           CAST(0.0 AS DOUBLE))
                  / (CAST(nt AS DOUBLE) * least(rl - 1, cl - 1))), 6) END
           AS cramers_v
FROM red
"""

@register("q_chi2_independence", oracle=_CHI2_ORACLE)
def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test + Cramér's V over order
    priority × order status (r9) — the category × category association
    check completing the drift/significance tier (psi, ks, mcnemar).
    Micro-quantized per-cell terms make the cross-cell sum BIGINT-
    exact, so the statistic replays bit-for-bit on both engines
    (operators/evaluate.py:chi2_independence)."""
    from opl_spark.operators.evaluate import chi2_independence

    orders = load_table(spark, sf_dir, "orders")
    return chi2_independence(
        orders, F.col("o_orderpriority"), F.col("o_orderstatus")
    )


def _rendezvous_oracle() -> str:
    """Replay of HRW sharding: per (doc, shard) weight from the same
    md5-derived 32-bit hash, argmax per doc (ties to the larger shard,
    matching array_max's struct order), then the per-shard rollup."""
    k = 8
    return f"""
WITH w AS (
    SELECT d.doc_id, d.n_chars, s.s AS shard,
           CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':'
                                  || CAST(s.s AS VARCHAR)), 1, 8))
                AS UBIGINT) AS h
    FROM documents d CROSS JOIN (SELECT unnest(range(0, {k})) AS s) s
),
pick AS (
    SELECT doc_id, n_chars, shard,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY h DESC, shard DESC) AS rk
    FROM w
)
SELECT CAST(shard AS INTEGER) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars
FROM pick WHERE rk = 1
GROUP BY shard
"""


@register("q_rendezvous_shard", oracle=_rendezvous_oracle())
def q_rendezvous_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (HRW) shard routing for the training corpus (r9):
    every document goes to the shard whose per-(doc, shard) hash wins,
    so re-balancing from k to k+1 shards moves only ~1/(k+1) of the
    data (vs everything, for modulus routing) — emitted as the
    per-shard doc/char rollup a shard-writer would consume.  The
    weight hash is the portable md5-32 family, so the oracle replays
    the assignment exactly (operators/sampling.py:rendezvous_shard_col)."""
    from opl_spark.operators.sampling import rendezvous_shard_col

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(rendezvous_shard_col("doc_id", 8).alias("shard"), "n_chars")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
        )
        .select(
            F.col("shard").cast("int").alias("shard"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_chars").cast("long").alias("n_chars"),
        )
    )


def _ivf_recall_oracle() -> str:
    """Replay of the IVF recall curve over the SHARED k-means chain
    (:func:`_ivf_kmeans_chain` — the same centroids
    q_similarity_ivf_kmeans probes): cells ranked by integer distance
    to the query, every vector's cell from the same integer argmin,
    the brute-force round-6 cosine top-{topk} as ground truth, then
    recall@nprobe = |truth in the first nprobe cells| / {topk} for
    nprobe = 1..{k}."""
    k, iters, dim, topk = 8, 3, 64, 10
    return f"""
WITH {_ivf_kmeans_chain(k, iters, dim)},
qd AS MATERIALIZED (
    SELECT c.cell, CAST(SUM((q.x - c.c) * (q.x - c.c)) AS BIGINT) AS d2
    FROM cent{iters} c JOIN pts q ON q.pos = c.pos AND q.id = 0 GROUP BY 1),
cellrank AS MATERIALIZED (
    SELECT cell, CAST(row_number() OVER (ORDER BY d2, cell) AS INTEGER) AS r
    FROM qd),
dfin AS MATERIALIZED (
    SELECT p.id, c.cell, CAST(SUM((p.x - c.c) * (p.x - c.c)) AS BIGINT) AS d2
    FROM pts p JOIN cent{iters} c ON c.pos = p.pos GROUP BY 1, 2),
membership AS MATERIALIZED (
    SELECT id, cell FROM (
        SELECT id, cell,
               row_number() OVER (PARTITION BY id ORDER BY d2, cell) AS rn
        FROM dfin) WHERE rn = 1),
qv AS MATERIALIZED (SELECT v AS qv FROM pool WHERE id = 0),
truth AS MATERIALIZED (
    SELECT e.id FROM wq e CROSS JOIN qv q
    ORDER BY ROUND(list_dot_product(e.v, q.qv)
                   / (sqrt(list_dot_product(e.v, e.v))
                      * sqrt(list_dot_product(q.qv, q.qv))), 6) DESC, e.id
    LIMIT {topk}),
hitr AS MATERIALIZED (
    SELECT cr.r FROM truth t
    JOIN membership m ON m.id = t.id
    JOIN cellrank cr ON cr.cell = m.cell)
SELECT CAST(p.nprobe AS INTEGER) AS nprobe,
       ROUND(CAST(COUNT(hitr.r) AS DOUBLE) / {topk}, 6) AS recall_at_{topk}
FROM (SELECT unnest(range(1, {k + 1})) AS nprobe) p
LEFT JOIN hitr ON hitr.r <= p.nprobe
GROUP BY p.nprobe
"""


@register("q_ivf_recall_curve", oracle=_ivf_recall_oracle())
def q_ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF tuning table (r9): recall@10 of the probed candidate
    pool for every nprobe = 1..8 against the brute-force cosine
    truth — the ANN companion of q_lsh_tuning's banding S-curve
    (MinHash) and srp_banding_advise (SRP), completing the advisor
    story across all three approximate-candidate families.  An
    operator reads the smallest nprobe meeting the recall target and
    gets the scan fraction (nprobe/ncells of the cell-partitioned
    store) for free.  Centroids, cell membership, and the query's
    cell ranking run in the same integer arithmetic the IVF query
    uses, so the whole curve replays hash-exact from the SHARED
    k-means oracle chain — and from the shared TRAINING pass too: the
    centroids come from the same per-data-dir memo
    q_similarity_ivf_kmeans probes (``_ivf_centroids``), so the curve
    no longer re-runs the 3 Lloyd rounds it is measuring (r9 verdict
    task 3)."""
    import math

    from opl_spark.operators.similarity import (
        assign_cells_quantized,
        cosine_lit_udf,
        quantized_weights_col,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    query = _query_vec(spark, sf_dir)
    cents = _ivf_centroids(spark, sf_dir, k=8, iters=3)
    qw = [math.floor(x * 1000.0 + 0.5) for x in query]
    ranked = sorted(
        (sum((a - b) * (a - b) for a, b in zip(qw, c)), cid)
        for cid, c in cents
    )
    rank_of = {cid: r + 1 for r, (_, cid) in enumerate(ranked)}
    # ONE corpus pass: the brute-force truth selection (the exact sim
    # expression + (sim desc, id) tiebreak of topk_scored, planned as
    # TakeOrderedAndProject) CARRIES the quantized weights, so the 10
    # truth rows arrive assignment-ready — no second embeddings scan
    # to fetch vectors back.  Cell membership is a per-row integer
    # function, so assigning only these 10 rows yields the identical
    # cells the oracle's full-corpus argmin computes for those ids.
    sim = cosine_lit_udf(query)(F.col("embedding"))
    truth_w = (
        emb.select(
            F.col("vec_id").alias("id"),
            quantized_weights_col(F.col("embedding")).alias("w"),
            F.round(sim, 6).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col("id"))
        .limit(10)
        .select("id", "w")
    )
    assigned = assign_cells_quantized(truth_w, cents).select("id", "cell")
    rank_expr = F.element_at(
        F.create_map(
            *[F.lit(v) for kv in rank_of.items() for v in kv]
        ),
        F.col("cell").cast("int"),
    )
    hits = assigned.select(rank_expr.alias("r"))
    # a hit in the rank-r cell is recalled by every nprobe >= r:
    # explode each hit into the probes it covers (<= topk x ncells
    # rows) and equality-join — the obvious `r <= nprobe` range join
    # plans as a nested loop, which the repo-wide scale audit rightly
    # refuses even when the inputs are provably tiny
    covered = hits.select(
        F.explode(F.sequence(F.col("r"), F.lit(8))).alias("nprobe")
    )
    per = covered.groupBy("nprobe").agg(F.count(F.lit(1)).alias("h"))
    probes = spark.range(1, 9).select(F.col("id").cast("int").alias("nprobe"))
    return (
        # explicit broadcast: both sides are <= 8 rows, but the STATIC
        # plan would otherwise sort-merge (AQE only fixes it at runtime)
        probes.join(F.broadcast(per), "nprobe", "left")
        .select(
            "nprobe",
            F.round(
                F.coalesce(F.col("h"), F.lit(0)).cast("double") / 10, 6
            ).alias("recall_at_10"),
        )
        .orderBy("nprobe")
    )


# ---------------------------------------------------------------------------
# round 10: advisor measured-recall legs, association effect size,
# dedup/graph reporting
# ---------------------------------------------------------------------------


def _srp_recall_oracle() -> str:
    """Replay of the SRP recall curve: brute-force cosine top-{topk}
    truth, integer band keys (the exact q_srp_lsh construction —
    shared ``srp_plane_coeff`` literals, integer dot products, sign
    bits packed per band), each truth vector's FIRST band agreeing
    with the query, then recall@n_bands for n_bands = 1..{bands}."""
    from opl_spark.operators.similarity import srp_plane_coeff

    dims, n_bits, bands, topk = 64, 24, 4, 10

    rows = n_bits // bands
    vals = ", ".join(
        f"({j}, {i}, {srp_plane_coeff(j, i)})"
        for j in range(n_bits)
        for i in range(dims)
    )
    return f"""
WITH e AS MATERIALIZED (
    SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
truth AS MATERIALIZED (
    SELECT e.id FROM e CROSS JOIN (SELECT v AS qv FROM e WHERE id = 0) q0
    ORDER BY ROUND(list_dot_product(e.v, q0.qv)
                   / (sqrt(list_dot_product(e.v, e.v))
                      * sqrt(list_dot_product(q0.qv, q0.qv))), 6) DESC, e.id
    LIMIT {topk}),
sub AS MATERIALIZED (
    SELECT id, list_transform(v, x -> floor(x * 1000.0 + 0.5)) AS qv
    FROM e WHERE id = 0 OR id IN (SELECT id FROM truth)),
planes(j, i, c) AS (VALUES {vals}),
dots AS MATERIALIZED (
    SELECT sub.id, p.j, SUM(sub.qv[p.i + 1] * p.c) AS s
    FROM sub CROSS JOIN planes p GROUP BY 1, 2),
keys AS MATERIALIZED (
    SELECT id, j // {rows} AS band,
           CAST(SUM(CASE WHEN s >= 0 THEN (1 << (j % {rows})) ELSE 0 END)
                AS BIGINT) AS key
    FROM dots GROUP BY 1, 2),
qb AS (SELECT band, key FROM keys WHERE id = 0),
fb AS (
    SELECT k.id, MIN(k.band) + 1 AS fb
    FROM keys k
    JOIN qb ON qb.band = k.band AND qb.key = k.key
    JOIN truth t ON t.id = k.id
    GROUP BY 1)
SELECT CAST(p.nb AS INTEGER) AS n_bands,
       ROUND(CAST(COUNT(f.fb) AS DOUBLE) / {topk}, 6) AS recall_at_{topk}
FROM (SELECT unnest(range(1, {bands + 1})) AS nb) p
LEFT JOIN fb f ON f.fb <= p.nb
GROUP BY p.nb
"""


@register("q_srp_recall_curve", oracle=_srp_recall_oracle())
def q_srp_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SRP tuning table (r10, the verdict-suggested twin of
    q_ivf_recall_curve): recall@10 of SRP-LSH candidacy — "shares at
    least one of the first n band keys with the query" — against the
    brute-force cosine truth, for n_bands = 1..4.  Completes the
    measured side of the SRP advisor exactly as the IVF curve did for
    cell probing: srp_banding_advise says what a banding SHOULD
    recall at a cosine threshold; this measures what the deployed
    24-bit/4-band index ACTUALLY recalls for a real query on THIS
    corpus.  Banding is the integer sign-bit construction of
    q_srp_lsh (same shared plane literals), so the whole curve
    replays hash-exact in DuckDB.

    Scale shape: one TakeOrderedAndProject truth pass over the corpus
    (the 100 TB-safe per-partition heap — no global sort), then every
    remaining step runs on the 11 truth∪query rows: banding is a
    map over 11 rows, the band-key match is an 8-row broadcast join,
    and the curve explode is ≤ 10×4 rows."""
    from opl_spark.operators.similarity import srp_banded_keys, topk_scored

    emb = load_table(spark, sf_dir, "embeddings")
    query = _query_vec(spark, sf_dir)
    # driver-side truth ids — 10 rows, the cosine_topk precedent
    tids = [
        int(r["id"])
        for r in topk_scored(emb, "embedding", "vec_id", query, 10).collect()
    ]
    sub = emb.filter(F.col("vec_id").isin(sorted(set(tids + [0]))))
    banded = srp_banded_keys(sub, "embedding", "vec_id", 64, 24, 4).select(
        F.col("__id").alias("id"), "band", "key"
    )
    qb = banded.filter(F.col("id") == 0).select("band", "key")
    fb = (
        banded.filter(F.col("id").isin(tids))
        .join(F.broadcast(qb), ["band", "key"])
        .groupBy("id")
        .agg((F.min("band") + 1).alias("fb"))
    )
    covered = fb.select(
        F.explode(F.sequence(F.col("fb"), F.lit(4))).alias("n_bands")
    )
    per = covered.groupBy("n_bands").agg(F.count(F.lit(1)).alias("h"))
    nb = spark.range(1, 5).select(F.col("id").cast("int").alias("n_bands"))
    return (
        # explicit broadcast: both sides are <= 4 rows, but the STATIC
        # plan would otherwise sort-merge (AQE only fixes it at runtime)
        nb.join(F.broadcast(per), "n_bands", "left")
        .select(
            "n_bands",
            F.round(
                F.coalesce(F.col("h"), F.lit(0)).cast("double") / 10, 6
            ).alias("recall_at_10"),
        )
        .orderBy("n_bands")
    )


_MI_ORACLE = """
WITH cells AS (
    SELECT COALESCE(CAST(o_orderpriority AS VARCHAR), '__null__') AS a,
           COALESCE(CAST(o_orderstatus AS VARCHAR), '__null__') AS b,
           CAST(COUNT(*) AS BIGINT) AS nc
    FROM orders GROUP BY 1, 2
),
marg AS (
    SELECT nc,
           SUM(nc) OVER (PARTITION BY a) AS rm,
           SUM(nc) OVER (PARTITION BY b) AS cm,
           SUM(nc) OVER () AS nt,
           (SELECT COUNT(DISTINCT a) FROM cells) AS rl,
           (SELECT COUNT(DISTINCT b) FROM cells) AS cl
    FROM cells
),
terms AS (
    SELECT CAST(floor(1e9 * (CAST(nc AS DOUBLE)
                  * ln(CAST(nc AS DOUBLE) * CAST(nt AS DOUBLE)
                       / (CAST(rm AS DOUBLE) * CAST(cm AS DOUBLE)))
                  / CAST(nt AS DOUBLE)) + 0.5) AS BIGINT) AS t,
           nt, rl, cl
    FROM marg
),
red AS (
    SELECT SUM(t) AS s, MAX(nt) AS nt, MAX(rl) AS rl, MAX(cl) AS cl FROM terms
)
SELECT CAST(nt AS BIGINT) AS n,
       CAST(rl AS INTEGER) AS r_levels,
       CAST(cl AS INTEGER) AS c_levels,
       ROUND(CAST(s AS DOUBLE) / 1e9, 6) AS mi
FROM red
"""


@register("q_mutual_information", oracle=_MI_ORACLE)
def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information over order priority × order status (r10) —
    the EFFECT-SIZE companion of q_chi2_independence on the identical
    cell table: chi² says whether the association is significant, MI
    says how many nats of information one column carries about the
    other (0 exactly at independence).  Per-cell terms micro-quantize
    to BIGINT before the cross-cell sum (one libm ln per cell — the
    q_pmi precedent), so the statistic replays bit-for-bit
    (operators/evaluate.py:mutual_information)."""
    from opl_spark.operators.evaluate import mutual_information

    orders = load_table(spark, sf_dir, "orders")
    return mutual_information(
        orders, F.col("o_orderpriority"), F.col("o_orderstatus")
    )


def _cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steady-state CC-label memo, same materialized-view semantics
    as the bucketed-edge / rollup stores: a dedup pipeline computes the
    keep/drop labels ONCE per corpus snapshot (the expensive pair
    expansion + connected components) and every downstream report
    reads the materialization.  The store is content-addressed by
    sf_dir and written via temp+atomic-rename
    (sources/bucketing.py:materialize_parquet_atomic), so concurrent
    sessions sharing the warehouse never observe a half-written
    table and switching directories serves the right corpus's labels
    structurally — no mutable memo dict to go stale."""
    from opl_spark.sources.bucketing import materialize_parquet_atomic

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        pairs = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.2)
        return dedup_clusters(pairs)

    return materialize_parquet_atomic(spark, "opl_cc_labels_docs", sf_dir, build)


@register(
    "q_dup_cluster_sizes",
    oracle=_COMPONENTS_CTE
    + """,
csize AS (SELECT keeper, COUNT(*) AS cs FROM comp GROUP BY 1),
hist AS (SELECT cs, COUNT(*) AS ncl FROM csize GROUP BY 1),
tot AS (
    SELECT (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM comp)
        AS n1)
SELECT CAST(cs AS BIGINT) AS cluster_size, CAST(ncl AS BIGINT) AS n_clusters
FROM hist
UNION ALL
SELECT 1, CAST(n1 AS BIGINT) FROM tot WHERE n1 > 0
""",
)
def q_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram (r10): how much of the corpus
    is singleton vs paired vs heavily replicated — the summary a
    dedup PIPELINE reports after q_dedup_clusters hands it the
    keep/drop list (near-dup CC at 3-gram Jaccard ≥ 0.2; every doc
    outside the pair graph is a size-1 cluster).  Same CC chain and
    oracle as q_dedup_clusters, reduced to (cluster_size,
    n_clusters); the singleton row comes from a tagged-union count —
    one pass, no 1-row × 1-row nested-loop join.  Labels come from
    the per-data-dir materialization (``_cc_labels`` — the pipeline
    computes the keep/drop list once per corpus snapshot; reports
    read it), mirroring the rollup / bucketed-edge / centroid-memo
    steady-state pattern; q_dedup_clusters itself stays a fresh
    computation so the CC engine keeps earning its own hash signal."""
    docs = load_table(spark, sf_dir, "documents")
    labels = _cc_labels(spark, sf_dir)
    hist = (
        labels.groupBy("keeper")
        .agg(F.count(F.lit(1)).alias("cs"))
        .groupBy("cs")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            F.col("cs").cast("long").alias("cluster_size"),
            F.col("n_clusters").cast("long"),
        )
    )
    tagged = docs.select(F.lit(1).alias("t"), F.lit(0).alias("c")).unionAll(
        labels.select(F.lit(0).alias("t"), F.lit(1).alias("c"))
    )
    singles = (
        tagged.agg(
            (F.sum("t") - F.sum("c")).alias("n1")
        )
        .filter(F.col("n1") > 0)
        .select(
            F.lit(1).cast("long").alias("cluster_size"),
            F.col("n1").cast("long").alias("n_clusters"),
        )
    )
    return hist.unionByName(singles)


@register(
    "q_degree_distribution",
    oracle="""
WITH raw AS (
    SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
e AS (
    SELECT src, dst FROM raw
    UNION
    SELECT dst AS src, src AS dst FROM raw
),
deg AS (SELECT src AS node, COUNT(*) AS degree FROM e GROUP BY 1)
SELECT CAST(degree AS BIGINT) AS degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY 1
""",
)
def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the customer↔supplier trade graph (r10) —
    the sizing report every graph operator's planner reads first:
    max-degree bounds the wedge fan-out q_triangles pays, the heavy
    tail is the salting signal for q_pagerank's message shuffle.
    Two combinable aggregations (node-sized, then degree-sized);
    same edge construction and oracle CTE as q_pagerank."""
    deg = _trade_edges(spark, sf_dir).groupBy("src").agg(
        F.count(F.lit(1)).alias("degree")
    )
    return deg.groupBy("degree").agg(
        F.count(F.lit(1)).alias("n_nodes")
    ).select(F.col("degree").cast("long"), F.col("n_nodes").cast("long"))


@register(
    "q_lsh_recall_measured",
    oracle=f"""
WITH {_minhash_chain()},
trueint AS MATERIALIZED (
    SELECT a.doc AS id_a, b.doc AS id_b, COUNT(*) AS i
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc < b.doc
    GROUP BY 1, 2),
truth AS MATERIALIZED (
    SELECT t.id_a, t.id_b FROM trueint t
    JOIN sizes sa ON sa.doc = t.id_a
    JOIN sizes sb ON sb.doc = t.id_b
    WHERE ROUND(CAST(t.i AS DOUBLE) / (sa.n_sh + sb.n_sh - t.i), 6) >= 0.5),
caught AS MATERIALIZED (
    SELECT c.id_a, c.id_b FROM cand c
    LEFT JOIN ints ON ints.id_a = c.id_a AND ints.id_b = c.id_b
    JOIN sizes za ON za.doc = c.id_a
    JOIN sizes zb ON zb.doc = c.id_b
    WHERE ROUND(CAST(COALESCE(ints.i, 0) AS DOUBLE)
                / (za.n_sh + zb.n_sh - COALESCE(ints.i, 0)), 6) >= 0.5)
SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_true,
       CAST((SELECT COUNT(*) FROM caught) AS BIGINT) AS n_caught,
       ROUND(CAST((SELECT COUNT(*) FROM caught) AS DOUBLE)
             / (SELECT COUNT(*) FROM truth), 6) AS recall
""",
)
def q_lsh_recall_measured(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED MinHash-banding recall (r10): |verified LSH pairs| /
    |exact Jaccard ≥ 0.5 pairs| on THIS corpus — the empirical leg
    the banding advisor's S-curve (q_lsh_tuning) predicts in theory
    and q_bucket_stats prices in candidates; together the three
    answer "what recall, at what candidate bill, and did it hold".
    Truth is the full inverted-index enumeration (q_dedup_ngram's
    path at threshold 0.5), caught is q_dedup_minhash's portable
    16×4-band pipeline; caught ⊆ truth by construction (identical
    exact-Jaccard verify), so the ratio IS banding recall.  One
    tagged union then a single global count aggregation — no 1-row ×
    1-row join."""
    docs = load_table(spark, sf_dir, "documents")
    truth = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5)
    caught = minhash_dedup_pairs(
        docs, "text", "doc_id", threshold=0.5, portable=True
    )
    tagged = truth.select(F.lit(1).alias("t"), F.lit(0).alias("c")).unionAll(
        caught.select(F.lit(0).alias("t"), F.lit(1).alias("c"))
    )
    return tagged.agg(
        F.sum("t").cast("long").alias("n_true"),
        F.sum("c").cast("long").alias("n_caught"),
    ).select(
        "n_true",
        "n_caught",
        F.round(
            F.col("n_caught").cast("double") / F.col("n_true"), 6
        ).alias("recall"),
    )


def _matching_oracle() -> str:
    """Unrolled replay of dominant-edge matching: per round,
    row_number over (w DESC, partner ASC) on BOTH sides — rs = rp = 1
    is exactly the operator's mutual struct-max — then matched nodes
    drop out.  Integer weights (cents × (100 − disc%)) make the
    argmax tie-breaks engine-portable."""
    rounds = 3
    parts = ["""
WITH e0 AS MATERIALIZED (
    SELECT l_suppkey AS s, l_partkey AS p,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                    * (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100
                              AS BIGINT))) AS BIGINT) AS w
    FROM lineitem GROUP BY 1, 2
)"""]
    for r in range(1, rounds + 1):
        parts.append(f""",
r{r} AS MATERIALIZED (
    SELECT s, p, w,
           row_number() OVER (PARTITION BY s ORDER BY w DESC, p) AS rs,
           row_number() OVER (PARTITION BY p ORDER BY w DESC, s) AS rp
    FROM e{r - 1}),
m{r} AS MATERIALIZED (
    SELECT s, p, w, {r} AS round FROM r{r} WHERE rs = 1 AND rp = 1),
e{r} AS MATERIALIZED (
    SELECT s, p, w FROM e{r - 1}
    WHERE s NOT IN (SELECT s FROM m{r}) AND p NOT IN (SELECT p FROM m{r}))""")
    union = "\nUNION ALL\n".join(
        f"SELECT CAST(s AS BIGINT) AS suppkey, CAST(p AS BIGINT) AS partkey,"
        f" w AS weight, CAST(round AS INTEGER) AS round FROM m{r}"
        for r in range(1, rounds + 1)
    )
    return "".join(parts) + "\n" + union


@register("q_dominant_matching", oracle=_matching_oracle())
def q_dominant_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assignment-shaped analytic (r10, the verdict's suggestion):
    maximum-weight supplier↔part matching by locally dominant edges
    (Preis STACS '99 — the standard distributed 1/2-approximation):
    three mutual-best rounds over the revenue-weighted trade graph,
    answering "which single part should each supplier own, and vice
    versa, to keep the most revenue covered by exclusive pairs".
    Weights are integer (cents × (100 − discount%)), the per-round
    selection is two map-side-combinable struct-max aggregations plus
    a node-keyed intersect — never a window over the edge stream —
    and the whole 3-round schedule replays hash-exact from the
    unrolled DuckDB oracle
    (operators/graph.py:dominant_edge_matching)."""
    from opl_spark.operators.graph import dominant_edge_matching

    li = load_table(spark, sf_dir, "lineitem")
    cents = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
    disc = F.lit(100) - (
        F.col("l_discount").cast("decimal(18,2)") * 100
    ).cast("long")
    edges = li.groupBy(
        F.col("l_suppkey").alias("src"), F.col("l_partkey").alias("dst")
    ).agg(F.sum(cents * disc).alias("w"))
    return dominant_edge_matching(edges, "src", "dst", "w", rounds=3).select(
        F.col("src").cast("long").alias("suppkey"),
        F.col("dst").cast("long").alias("partkey"),
        F.col("w").alias("weight"),
        F.col("round").cast("int").alias("round"),
    )


# ---------------------------------------------------------------------------
# rank statistics (r10): Spearman, Gini, Kendall — the tie-exact rank
# tier over opl_spark/operators/ranking.py.  The reference engine has
# no rank statistics; these extend the analytics family next to
# Pearson (q_correlation) and HHI (q_revenue_concentration), and every
# rank is DOUBLED (rank2 = 2·avg_rank, an integer) so both engines run
# pure integer/decimal arithmetic to the final division.
# ---------------------------------------------------------------------------

@register(
    "q_spearman",
    oracle="""
WITH base AS (
    SELECT CAST(round(l_quantity) AS BIGINT) AS x,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS y
    FROM lineitem
    WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
),
r AS (
    SELECT CAST(2 * RANK() OVER (ORDER BY x)
                + COUNT(*) OVER (PARTITION BY x) - 1 AS HUGEINT) AS rx,
           CAST(2 * RANK() OVER (ORDER BY y)
                + COUNT(*) OVER (PARTITION BY y) - 1 AS HUGEINT) AS ry
    FROM base
),
st AS (
    SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(rx) AS sx, SUM(ry) AS sy,
           SUM(rx * ry) AS sxy, SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy
    FROM r
)
SELECT CAST(n AS BIGINT) AS n,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS spearman_rho
FROM st
""",
)
def q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between order quantity and extended
    price — monotone-association strength that Pearson (q_correlation)
    misses when the relation is nonlinear.  Exact tie correction via
    doubled average ranks; the rank pass is the two-pass
    range-partition scheme of operators/ranking.py:avg_rank2 (windows
    keyed by the range-partition id — P parallel groups, NEVER the
    single-task global window the oracle is allowed to use on 60k
    rows but a 100 TB engine is not)."""
    from opl_spark.operators.ranking import spearman_rho

    li = load_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_quantity")).cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    # l_quantity is the bounded 1..50 TPC-H domain — the caller-known
    # low-cardinality x that lets the x-rank come from the 50-row
    # distinct frame instead of a second full row-rank pass (r13)
    return spearman_rho(li, "x", "y", low_card_x=True)


@register(
    "q_gini",
    oracle="""
WITH per AS (
    SELECT SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
    FROM orders GROUP BY o_custkey
),
r AS (
    SELECT CAST(cents AS HUGEINT) AS x,
           CAST(2 * RANK() OVER (ORDER BY cents)
                + COUNT(*) OVER (PARTITION BY cents) - 1 AS HUGEINT) AS r2
    FROM per
),
st AS (
    SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS t, SUM(r2 * x) AS srx
    FROM r
)
SELECT CAST(n AS BIGINT) AS n_customers,
       CAST(t AS BIGINT) AS total_cents,
       CASE WHEN t = 0 THEN NULL
            ELSE ROUND(CAST(srx - (n + 1) * t AS DOUBLE)
                       / CAST(n * t AS DOUBLE), 6) END AS gini
FROM st
""",
)
def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer order revenue — the
    inequality statistic that completes the concentration report next
    to HHI / top-decile share (q_revenue_concentration): HHI weighs
    the giants, Gini reads the whole Lorenz curve.  Revenue in exact
    cents, ranks exact and doubled (ties share a rank2), numerator
    Σrank2·x − (n+1)·Σx in decimal(38,0) — floats only at the closing
    division (operators/ranking.py:gini_coefficient)."""
    from opl_spark.operators.ranking import gini_coefficient

    orders = load_table(spark, sf_dir, "orders")
    per = orders.groupBy("o_custkey").agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("long")
        ).alias("cents")
    )
    g = gini_coefficient(per, "cents")
    return g.select(
        F.col("n").alias("n_customers"),
        F.col("total").alias("total_cents"),
        F.col("gini"),
    )


@register(
    "q_kendall_tau",
    oracle="""
WITH base AS (
    SELECT CAST(round(l_quantity) AS BIGINT) AS x,
           CAST(round(l_discount * 100) AS BIGINT) AS y
    FROM lineitem
    WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
),
cells AS (
    SELECT x, y, CAST(COUNT(*) AS HUGEINT) AS c FROM base GROUP BY 1, 2
),
cd AS (
    -- COALESCE: with a single distinct x the self-join is empty and
    -- the sums go NULL; the engine coalesces conc/disc to 0 there
    SELECT COALESCE(SUM(CASE WHEN b.y > a.y THEN a.c * b.c
                    ELSE CAST(0 AS HUGEINT) END),
                    CAST(0 AS HUGEINT)) AS conc,
           COALESCE(SUM(CASE WHEN b.y < a.y THEN a.c * b.c
                    ELSE CAST(0 AS HUGEINT) END),
                    CAST(0 AS HUGEINT)) AS disc
    FROM cells a JOIN cells b ON b.x > a.x
),
nn AS (SELECT SUM(c) AS n FROM cells),
tx AS (SELECT SUM(cx * cx) - SUM(cx) AS tie_x2
       FROM (SELECT SUM(c) AS cx FROM cells GROUP BY x)),
ty AS (SELECT SUM(cy * cy) - SUM(cy) AS tie_y2
       FROM (SELECT SUM(c) AS cy FROM cells GROUP BY y))
SELECT CAST(n AS BIGINT) AS n,
       CAST(conc AS BIGINT) AS concordant,
       CAST(disc AS BIGINT) AS discordant,
       -- fully-tied margin => denominator 0 => tau undefined (NULL),
       -- mirroring the engine's _null_safe_ratio contract
       CASE WHEN (n * (n - 1) - tie_x2) * (n * (n - 1) - tie_y2) = 0
            THEN NULL
            ELSE ROUND(CAST(2 * (conc - disc) AS DOUBLE)
                 / sqrt(CAST(n * (n - 1) - tie_x2 AS DOUBLE)
                        * CAST(n * (n - 1) - tie_y2 AS DOUBLE)),
                 6) END AS kendall_tau_b
FROM cd CROSS JOIN nn CROSS JOIN tx CROSS JOIN ty
""",
)
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's τ-b between quantity and discount percent — the
    third leg of the correlation family (Pearson/Spearman/Kendall),
    computed the only way that survives 100 TB: concordant/discordant
    pair counts from the 50×11 joint contingency table, so the
    quadratic term is |cells|² (a broadcast nested loop over ≤550
    rows), never n².  Tie corrections (τ-b) from the cell margins;
    counts exact to the final division
    (operators/ranking.py:kendall_tau_b)."""
    from opl_spark.operators.ranking import kendall_tau_b

    li = load_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_quantity")).cast("long").alias("x"),
        F.round(F.col("l_discount") * 100).cast("long").alias("y"),
    )
    return kendall_tau_b(li, "x", "y")


@register(
    "q_lorenz_deciles",
    oracle="""
WITH per AS (
    SELECT SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
    FROM orders GROUP BY o_custkey
),
r AS (
    SELECT CAST(cents AS HUGEINT) AS x,
           CAST(2 * RANK() OVER (ORDER BY cents)
                + COUNT(*) OVER (PARTITION BY cents) - 1 AS HUGEINT) AS r2
    FROM per
),
nn AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS t FROM r),
d AS (
    SELECT CAST((5 * r2 + n - 1) // n AS INTEGER) AS bucket, x
    FROM r CROSS JOIN nn
),
g AS (
    SELECT bucket, COUNT(*) AS n_members, SUM(x) AS bucket_value
    FROM d GROUP BY 1
)
SELECT a.bucket,
       CAST(a.n_members AS BIGINT) AS n_members,
       CAST(a.bucket_value AS BIGINT) AS bucket_value,
       ROUND(CAST(SUM(b.bucket_value) AS DOUBLE)
             / CAST((SELECT t FROM nn) AS DOUBLE), 6) AS cum_share
FROM g a JOIN g b ON b.bucket <= a.bucket
GROUP BY a.bucket, a.n_members, a.bucket_value
""",
)
def q_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Lorenz table under q_gini: customers in ascending-revenue
    rank deciles, each with member count, revenue mass, and cumulative
    share of the total — "the bottom 40% of customers hold x% of
    revenue", the report an account manager actually reads next to
    the single-number Gini.  Bucketing is by tie-averaged rank (a tie
    group lands in ONE bucket — deterministic on any engine; both
    engines apply the identical rule), the bucket index is exact
    integral arithmetic over doubled ranks, and the cumulative runs
    as a broadcast suffix join over the 10-row summary — never a
    global window over customers
    (operators/ranking.py:lorenz_deciles)."""
    from opl_spark.operators.ranking import lorenz_deciles

    orders = load_table(spark, sf_dir, "orders")
    per = orders.groupBy("o_custkey").agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("long")
        ).alias("cents")
    )
    return lorenz_deciles(per, "cents", buckets=10)


@register(
    "q_cuped",
    oracle="""
WITH per AS (
    SELECT user_id % 2 AS arm,
           SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                    THEN CAST(round(value * 100) AS BIGINT)
                    ELSE 0 END) AS x,
           SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                    THEN CAST(round(value * 100) AS BIGINT)
                    ELSE 0 END) AS y
    FROM events GROUP BY user_id
),
a AS (
    SELECT arm, CAST(COUNT(*) AS HUGEINT) AS n_a,
           CAST(SUM(x) AS HUGEINT) AS sx_a,
           CAST(SUM(y) AS HUGEINT) AS sy_a,
           SUM(CAST(x AS HUGEINT) * y) AS sxy_a,
           SUM(CAST(x AS HUGEINT) * x) AS sxx_a
    FROM per GROUP BY 1
),
t AS (
    SELECT SUM(n_a) AS n, SUM(sx_a) AS sx, SUM(sy_a) AS sy,
           SUM(sxy_a) AS sxy, SUM(sxx_a) AS sxx
    FROM a
),
j AS (
    SELECT a.*, t.*,
           CASE WHEN t.n * t.sxx - t.sx * t.sx = 0 THEN 0.0
                ELSE CAST(t.n * t.sxy - t.sx * t.sy AS DOUBLE)
                     / CAST(t.n * t.sxx - t.sx * t.sx AS DOUBLE)
           END AS theta
    FROM a CROSS JOIN t
)
SELECT CAST(arm AS BIGINT) AS arm,
       CAST(n_a AS BIGINT) AS n,
       ROUND(CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS mean_raw,
       ROUND(CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)
             - theta * (CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                        - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)),
             6) AS mean_cuped,
       ROUND(theta, 6) AS theta
FROM j
""",
)
def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted experiment readout (Deng et al., WSDM 2013)
    over the event stream: users split into two deterministic arms
    (user_id parity — portable to any engine), each user's
    pre-period spend (before 2024-01-16) is the covariate for their
    post-period spend, and the report shows raw vs variance-reduced
    arm means plus the pooled θ.  The experimentation tier's missing
    piece next to the plain z-test (q_ab_zstat): the same decision at
    a fraction of the sample, since Var(ŷ) = (1 − ρ²)·Var(y).  One
    hash aggregate over users; everything downstream is arm-count
    rows against a 1-row pooled-moment broadcast
    (operators/evaluate.py:cuped_adjustment)."""
    from opl_spark.operators.evaluate import cuped_adjustment

    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    cents = F.round(F.col("value") * 100).cast("long")
    per = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cut, cents).otherwise(F.lit(0))).alias(
            "x"
        ),
        F.sum(F.when(F.col("ts") >= cut, cents).otherwise(F.lit(0))).alias(
            "y"
        ),
    )
    units = per.select(
        (F.col("user_id") % 2).alias("arm"), "x", "y"
    )
    return cuped_adjustment(units, "x", "y", "arm")


@register(
    "q_mann_whitney",
    oracle="""
WITH base AS (
    SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS x,
           o_orderpriority IN ('1-URGENT', '2-HIGH') AS g
    FROM orders
    WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
),
r AS (
    SELECT g, CAST(2 * RANK() OVER (ORDER BY x)
                   + COUNT(*) OVER (PARTITION BY x) - 1 AS HUGEINT) AS r2
    FROM base
),
ties AS (
    SELECT SUM(CAST(c AS HUGEINT) * c * c - c) AS tie_t
    FROM (SELECT COUNT(*) AS c FROM base GROUP BY x)
),
st AS (
    SELECT CAST(SUM(CASE WHEN g THEN 1 ELSE 0 END) AS HUGEINT) AS n1,
           CAST(SUM(CASE WHEN g THEN 0 ELSE 1 END) AS HUGEINT) AS n2,
           SUM(CASE WHEN g THEN r2 ELSE 0 END) AS r2_1
    FROM r
),
j AS (
    SELECT n1, n2, tie_t, n1 + n2 AS n,
           r2_1 - n1 * (n1 + 1) AS u2
    FROM st CROSS JOIN ties
)
SELECT CAST(n1 AS BIGINT) AS n1,
       CAST(n2 AS BIGINT) AS n2,
       CAST(u2 AS DOUBLE) / 2.0 AS u1,
       -- degenerate input (empty group, n<2, all values tied) =>
       -- sigma 0 => z undefined (NULL), mirroring mann_whitney_u's
       -- NULL-on-zero-sigma contract
       CASE WHEN n1 = 0 OR n2 = 0 OR n < 2
                 OR (n + 1) * n * (n - 1) - tie_t = 0
            THEN NULL
            ELSE ROUND(CAST(u2 - n1 * n2 AS DOUBLE)
                 / (2.0 * sqrt(CAST(n1 * n2 AS DOUBLE)
                               * CAST((n + 1) * n * (n - 1) - tie_t
                                      AS DOUBLE)
                               / CAST(12 * n * (n - 1) AS DOUBLE))),
                 6) END AS z
FROM j
""",
)
def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney rank-sum test: do urgent/high-priority orders
    carry stochastically larger totals than the rest?  The
    nonparametric complement to q_ab_zstat — distribution-free, so a
    heavy-tailed revenue metric can't fake or mask a shift through
    its outliers.  Pooled tie-averaged ranks from the distributed
    two-pass rank pass, U and the tie-corrected z in exact decimal
    arithmetic to the closing float expression (written identically
    in the oracle; no continuity correction)
    (operators/ranking.py:mann_whitney_u)."""
    from opl_spark.operators.ranking import mann_whitney_u

    orders = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("x"),
        # a NULL priority yields NULL here; the operator's NULL screen
        # drops it, matching the oracle's WHERE
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("g"),
    )
    return mann_whitney_u(orders, "x", "g")
