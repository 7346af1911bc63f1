"""Data-layout operators: Z-order (Morton) interleaving for
multi-dimensional file clustering.

A 100 TB table cut on TWO dimensions (e.g. `date` AND
`organization`) can only be range-partitioned on one of them; sorting
files by the bit-interleaved Z-key of both keeps rows close in BOTH
dimensions, so every file's min/max footer stats span a small
rectangle and a cut on either dimension skips most files.  This is
the standard `OPTIMIZE ... ZORDER BY` layout trick expressed as plain
column arithmetic — a sort key, not a new storage format.

Everything is literal-shift bit math (codegen'd, no UDF), and
`zorder_sql` emits the byte-identical ANSI-SQL expression so the
transform is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_key(cols: list[Column], bits: int = 8) -> Column:
    """Interleave the low ``bits`` bits of each (non-negative) input
    column into one Morton key: bit ``b`` of dimension ``d`` lands at
    output bit ``b * ndims + d``.  All shifts are by literal amounts —
    the whole key is one codegen'd expression."""
    ndims = len(cols)
    key = F.lit(0).cast("long")
    for b in range(bits):
        for d, c in enumerate(cols):
            bit = F.shiftrightunsigned(c.cast("long"), b).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, b * ndims + d))
    return key


def zorder_rank_quantize(
    df: DataFrame, cols: list[str], bits: int = 8
) -> tuple[DataFrame, list[str]]:
    """Equi-depth quantization of each cluster column to the
    ``bits``-wide domain ``0..2^bits-1`` — the range-quantize step
    Delta/Iceberg z-order performs before interleaving.

    ``zorder_key`` interleaves the LOW ``bits`` bits of its inputs;
    for a high-cardinality column (an order key, a timestamp) the low
    byte is effectively random, so interleaving raw values yields
    near-zero row-group min/max pruning.  This helper maps each value
    to its rank bucket first: ONE ``approxQuantile`` pass over all
    columns (sampled at relative error 0.001, driver-bounded: 2^bits−1
    cutpoints per column)
    and then a codegen'd higher-order fold that counts cutpoints ≤
    value — equivalent to a 2^bits-bucket percent_rank WITHOUT the
    single-partition global window an exact rank would need.

    Returns ``(df_with_bucket_cols, bucket_col_names)``; feed the
    bucket columns to ``zorder_key`` and drop them after sorting.
    The fold lambda captures only named-column attributes (staged
    ``__zqv_*`` casts) per the repo HOF-capture rule.
    """
    nq = (1 << bits) - 1
    qs = [i / float(1 << bits) for i in range(1, 1 << bits)]
    rel_err = 0.001
    cuts = df.stat.approxQuantile(cols, qs, rel_err)
    names: list[str] = []

    def _count_cuts_below(raw_name: str):
        # binds the staged column NAME (an attribute, per the repo
        # HOF-capture rule), keeping the fold lambda strictly 2-ary
        return lambda acc, cut: acc + F.when(
            F.col(raw_name) >= cut, 1
        ).otherwise(0)

    for c, cc in zip(cols, cuts):
        raw, bucket = f"__zqv_{c}", f"__zq_{c}"
        arr = F.array(*[F.lit(float(x)) for x in cc])
        df = df.withColumn(raw, F.col(c).cast("double"))
        df = df.withColumn(
            bucket,
            F.least(F.lit(nq), F.aggregate(arr, F.lit(0), _count_cuts_below(raw))),
        ).drop(raw)
        names.append(bucket)
    return df, names


def zorder_sql(exprs: list[str], bits: int = 8) -> str:
    """The ANSI-SQL expression computing ``zorder_key`` over the given
    column expressions — same bit placement, engine-portable (`&`,
    `|`, `>>`, `<<`)."""
    ndims = len(exprs)
    terms = []
    for b in range(bits):
        for d, e in enumerate(exprs):
            # every term fully parenthesized: engines disagree on the
            # relative precedence of `<<` vs `&`/`|`
            terms.append(f"(((({e}) >> {b}) & 1) << {b * ndims + d})")
    return " | ".join(terms)


#: Bits per bitmap word.  62, not 64: DuckDB raises on a BIGINT left
#: shift past bit 62 (1 << 63 overflows the signed range), so a
#: 62-bit word keeps every shift — and every OR/AND result — valid
#: and positive in BOTH engines, which is what lets the oracle replay
#: bitmaps value-for-value.
BITMAP_WORD_BITS = 62


def bitmap_index(df: DataFrame, id_col: str, predicate: Column) -> DataFrame:
    """Word-bucketed bitmap of the ids satisfying ``predicate``:
    one ``(word, bits)`` row per 62-id block with any member — the
    classic low-cardinality OLAP index shape (one bitmap per dimension
    value; set algebra instead of row scans).

    Shape: map-only bit math (literal-width shifts, codegen'd) + one
    combinable ``bit_or`` aggregate keyed on the word — the index is
    ~|ids|/62 rows and unions/intersections of MANY predicates become
    word-keyed joins over it.  Ids must be non-negative.
    """
    return (
        df.filter(predicate)
        .select(
            F.expr(f"{id_col} DIV {BITMAP_WORD_BITS}").alias("word"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), "
                f"CAST({id_col} % {BITMAP_WORD_BITS} AS INT))"
            ).alias("b"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(b)").alias("bits"))
    )


def bitmap_and(a: DataFrame, b: DataFrame) -> DataFrame:
    """Intersection of two bitmap indexes: word-keyed inner join +
    per-word AND, empty words dropped.  Emits
    ``(word, bits, n_bits)`` — ``SUM(n_bits)`` is the predicate
    conjunction's exact count without touching the base table."""
    bj = a.select("word", F.col("bits").alias("ba")).join(
        b.select("word", F.col("bits").alias("bb")), "word"
    )
    anded = bj.select(
        "word", (F.col("ba").bitwiseAND(F.col("bb"))).alias("bits")
    ).filter(F.col("bits") != 0)
    return anded.select(
        "word", "bits", F.expr("CAST(bit_count(bits) AS BIGINT)").alias("n_bits")
    )
