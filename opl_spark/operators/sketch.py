"""Mergeable sketches: count-min (approximate frequency with a hard
overcount-only guarantee).

The HLL++ distinct sketch is Spark-native (``approx_count_distinct``,
registered as ``q_approx_distinct``); count-min is the companion for
FREQUENCY: a (depth × width) grid of counters whose update is a
map-side-combinable ``groupBy(row, bucket).sum`` — the sketch is the
aggregation state itself, so it merges across partitions, batches, and
streams for free, and its size is fixed (depth·width counters) no
matter how many distinct keys the 100 TB corpus holds.

Guarantee: ``estimate >= true`` always (counters only ever overcount
on hash collisions); with width w and depth d, the overcount is
≤ 2N/w with probability 1 - (1/2)^d — the standard Cormode-Muthukrishnan
bound.  Hash rows derive from ``xxhash64(token, row-salt)``, all
JVM-side codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _cms_cells(
    col: Column, width: int, depth: int, portable: bool = False
) -> Column:
    """array<struct<row,bucket>> — the depth cells a value updates.

    ``portable=True`` derives each row's bucket from the md5 prefix of
    ``value || ':' || row`` instead of ``xxhash64`` — engine-exact, so
    a SQL oracle can replay the sketch cell-for-cell (the same idiom
    as the portable MinHash family)."""
    def bucket(i: int) -> Column:
        if portable:
            h = F.conv(
                F.substring(F.md5(F.concat(col, F.lit(f":{i}"))), 1, 8), 16, 10
            ).cast("long")
            return F.pmod(h, F.lit(width))
        return F.pmod(F.xxhash64(col, F.lit(i)), F.lit(width))

    return F.array(
        *[
            F.struct(F.lit(i).alias("row"), bucket(i).alias("bucket"))
            for i in range(depth)
        ]
    )


def count_min_build(
    df: DataFrame,
    col: str,
    width: int = 1024,
    depth: int = 4,
    portable: bool = False,
    weight_col: str | None = None,
) -> DataFrame:
    """Build the sketch: one explode of the depth cells per value, then
    one map-side-combinable count per (row, bucket).  The shuffle
    carries at most depth·width rows TOTAL regardless of input size —
    the sketch, not the data.

    ``weight_col`` (r14): build from a PRE-AGGREGATED ``(value,
    count)`` frame instead of the raw value stream — each cell adds
    ``weight`` instead of 1, and Σ over distinct values of freq(v) is
    by commutativity the identical integer the raw stream yields, so
    sketch contents (and every downstream estimate) are bit-equal.
    Use it when a consumer already pays the value-count aggregation
    (q_cms_counts shares the vocabulary frame): the depth·|values|
    cell explode then runs over the vocabulary, not the corpus, and
    the corpus is scanned once for both."""
    cells = df.select(
        F.explode(_cms_cells(F.col(col), width, depth, portable)).alias("cell"),
        *((F.col(weight_col).alias("__w"),) if weight_col else ()),
    )
    return cells.groupBy(
        F.col("cell.row").alias("row"), F.col("cell.bucket").alias("bucket")
    ).agg(
        (F.sum("__w") if weight_col else F.count(F.lit(1))).alias("c")
    )


def count_min_estimate(
    sketch: DataFrame,
    terms: DataFrame,
    col: str,
    width: int,
    depth: int,
    portable: bool = False,
) -> DataFrame:
    """Estimate frequencies for the ``terms`` rows: probe the depth
    cells per term and take the MIN counter (absent cell = 0).  Join
    fans out to depth rows per term — terms are query-sized, the
    sketch is fixed-size, so AQE broadcasts whichever side is smaller.
    Emits ``(term, est)`` with ``est >= true`` guaranteed.

    ``width``/``depth`` are REQUIRED and must equal the values the
    sketch was built with — probing with a different geometry hashes
    into the wrong cells and can UNDERcount, the one failure mode
    count-min promises cannot happen (the sketch rows carry no
    geometry metadata to validate against)."""
    probes = terms.select(
        F.col(col).alias("term"),
        F.explode(_cms_cells(F.col(col), width, depth, portable)).alias("cell"),
    ).select("term", F.col("cell.row").alias("row"), F.col("cell.bucket").alias("bucket"))
    joined = probes.join(sketch, ["row", "bucket"], "left").na.fill({"c": 0})
    return joined.groupBy("term").agg(F.min("c").alias("est"))


# ---------------------------------------------------------------------------
# Space-saving top-k (Metwally et al., "Efficient computation of
# frequent and top-k elements in data streams", ICDT 2005)
# ---------------------------------------------------------------------------


def space_saving_topk(
    df: DataFrame, col: str, k: int = 20, counters: int = 200
) -> DataFrame:
    """Approximate top-k frequent values with FIXED memory: each
    partition runs a ``counters``-slot space-saving summary (the
    classic stream heavy-hitter structure — full counts for tracked
    items, evict-min with inherited count for new ones), then the
    per-partition summaries merge WITHOUT revisiting the data.

    The merge keeps the overcount-only guarantee: a partition's
    summary bounds any UNTRACKED item's local count by the summary's
    minimum counter (its eviction threshold), so

        ub(item) = Σ_present (count_p − thr_p) + Σ_all thr_p

    needs only the summary rows plus one scalar (the threshold total)
    — never a candidate × partition expansion.  ``estimate ≥ true``
    always, and the absolute error is ≤ N/counters, so with
    ``counters`` a few multiples of ``k`` the true heavy hitters
    cannot be displaced.  Summary size is partitions·counters rows —
    sketch-sized, independent of distinct-key cardinality, which is
    the whole point at 100 TB (an exact groupBy count would shuffle
    every distinct key).

    Emits the k rows with the largest upper bound, ``(value, est)``,
    min-value tiebreak for determinism.  Within-partition results
    depend on arrival order (inherent to space-saving); re-runs over
    the same files are stable.
    """
    import pandas as pd
    from pyspark import TaskContext

    out_schema = "part_id long, value string, cnt long, thr long"

    def summarize(iterator):
        slots: dict[str, int] = {}
        n_seen = 0
        for pdf in iterator:
            for v in pdf[col].astype(str):
                n_seen += 1
                if v in slots:
                    slots[v] += 1
                elif len(slots) < counters:
                    slots[v] = 1
                else:
                    mn_key = min(slots, key=lambda s: (slots[s], s))
                    mn = slots.pop(mn_key)
                    slots[v] = mn + 1
        if not slots:
            return
        thr = min(slots.values()) if len(slots) >= counters else 0
        yield pd.DataFrame(
            {
                "part_id": TaskContext.get().partitionId(),
                "value": list(slots.keys()),
                "cnt": list(slots.values()),
                "thr": thr,
            }
        )

    summaries = (
        df.select(F.col(col).cast("string").alias(col))
        .mapInPandas(summarize, schema=out_schema)
        .localCheckpoint(eager=True)  # summaries are partition-order state; pin them
    )
    thr_total = int(
        summaries.select("part_id", "thr").distinct().agg(F.sum("thr")).first()[0]
        or 0
    )
    ub = (
        summaries.groupBy("value")
        .agg(F.sum(F.col("cnt") - F.col("thr")).alias("delta"))
        .select("value", (F.col("delta") + F.lit(thr_total)).alias("est"))
    )
    return ub.orderBy(F.desc("est"), F.asc("value")).limit(k)
