"""Temporal join operators: as-of join and interval join.

Neither exists as a built-in Spark join type, but both decompose into
shapes Catalyst executes well — the point is choosing a decomposition
whose shuffle/state behavior survives scale:

- **as-of join** (latest right row at-or-before each left row, per
  key): implemented as union → per-key running ``last(ignorenulls)``
  window.  ONE shuffle on the key; the window frame is
  (unbounded-preceding, current), which WindowExec evaluates as a
  running aggregate — O(1) state per row, no per-row rescan of the
  partition.  This beats the naive ``left join + row_number over
  (partition by left-row order by right_ts desc)``, which materializes
  every candidate pair before discarding all but one (quadratic on hot
  keys).
- **interval join** (right rows inside a left-anchored time window,
  per key): an equi-join on the key with the time bounds as a residual
  predicate — one hash-partitioned shuffle per side; with streaming
  inputs + watermarks the same condition is Spark's stream-stream
  interval join, with state bounded by the lookback horizon.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    direction: str = "backward",
) -> DataFrame:
    """As-of join: for every left row, the single nearest right row
    sharing ``keys`` — ``direction="backward"`` takes the greatest
    ``right_ts <= left_ts`` (the DuckDB/pandas ``ASOF JOIN`` contract),
    ``"forward"`` the smallest ``right_ts >= left_ts`` (conversion /
    next-event attribution).  Inner semantics — left rows with no
    match are dropped.  Both directions are the same union → per-key
    running ``last(ignorenulls)`` window, just ordered in reverse for
    forward: still ONE shuffle on the key and O(1) window state.

    Output columns: all of ``left``'s, then ``right``'s except the
    keys — the two inputs must not share other column names.

    At equal timestamps the right row sorts first (so it IS visible to
    the left row, matching the inclusive bound); among equal-timestamp
    right rows the greatest payload struct wins backward (least wins
    forward) — deterministic, where engines with an unspecified tie
    rule are not."""
    overlap = (set(left.columns) & set(right.columns)) - set(keys)
    if overlap:
        raise ValueError(f"asof_join inputs share non-key columns {sorted(overlap)}")
    r_payload_cols = [c for c in right.columns if c not in keys]
    l_type = T.StructType([left.schema[c] for c in left.columns])
    r_type = T.StructType([right.schema[c] for c in r_payload_cols])

    lhs = left.select(
        *[F.col(k) for k in keys],
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__l"),
        F.lit(None).cast(r_type).alias("__r"),
    )
    rhs = right.select(
        *[F.col(k) for k in keys],
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.lit(None).cast(l_type).alias("__l"),
        F.struct(*[F.col(c) for c in r_payload_cols]).alias("__r"),
    )
    if direction == "backward":
        order = [F.col("__ts").asc(), F.col("__side").asc(), F.col("__r").asc()]
    elif direction == "forward":
        order = [F.col("__ts").desc(), F.col("__side").asc(), F.col("__r").desc()]
    else:
        raise ValueError(f"asof_join: unknown direction {direction!r}")
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        lhs.unionByName(rhs)
        .withColumn("__last_r", F.last("__r", ignorenulls=True).over(w))
        .filter((F.col("__side") == 1) & F.col("__last_r").isNotNull())
    )
    return matched.select("__l.*", "__last_r.*")


def interval_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    lookback,
) -> DataFrame:
    """Interval join: right rows with ``right_ts`` in
    ``(left_ts - lookback, left_ts]`` per key — the attribution /
    feature-window join (e.g. clicks within the hour before each
    purchase).

    ``lookback`` is either an integer (same units as numeric ts
    columns, e.g. epoch micros) or an SQL interval string like
    ``'1 HOUR'`` for timestamp columns.  With streaming inputs (both
    sides watermarked by the caller), this exact condition is Spark's
    stream-stream interval join — the time bound is what lets the
    engine expire join state instead of keeping both streams forever.

    Output columns: all of ``left``'s, then ``right``'s except keys —
    the inputs must not share other column names."""
    overlap = (set(left.columns) & set(right.columns)) - set(keys)
    if overlap:
        raise ValueError(f"interval_join inputs share non-key columns {sorted(overlap)}")
    l, r = left.alias("__L"), right.alias("__R")
    cond: Column = functools.reduce(
        operator.and_, [F.col(f"__L.{k}") == F.col(f"__R.{k}") for k in keys]
    )
    lts, rts = F.col(f"__L.{left_ts}"), F.col(f"__R.{right_ts}")
    horizon = (
        lts - F.lit(lookback) if isinstance(lookback, int) else lts - F.expr(f"INTERVAL {lookback}")
    )
    cond = cond & (rts > horizon) & (rts <= lts)
    out = [F.col(f"__L.{c}") for c in left.columns] + [
        F.col(f"__R.{c}") for c in right.columns if c not in keys
    ]
    return l.join(r, cond).select(*out)
