"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference has no streaming surface (SURVEY.md §2.9); this is the
additive tier for the online leg of a training-data pipeline: exact
streaming dedup — emit a key the FIRST time it is seen, suppress every
later occurrence — which batch engines express as a window rank but a
stream needs per-key state for.

Scale notes:
- state per key is a single boolean row (a few bytes), partitioned by
  the grouping key across executors — the state store shards with the
  shuffle, no driver involvement;
- with ``GroupStateTimeout.NoTimeout`` state lives for the stream's
  lifetime; production dedup over unbounded keyspaces should pass a
  TTL via ``processingTimeTimeout`` so the store is bounded (the
  plumbing is identical);
- the UDF closure is self-contained (pandas-only) so external-harness
  Python workers need no package import.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout


def first_seen_stream(events: DataFrame, key_cols: list[str]) -> DataFrame:
    """Streaming exact-dedup: one output row per distinct key, emitted
    in the microbatch where the key first appears, carrying the lowest
    ``event_id`` seen in that batch.

    Exactly-once emission per key is the stateful contract: a key that
    reappears in any later microbatch produces nothing.

    Only ``key_cols + event_id`` cross the Arrow boundary: Catalyst does
    not prune columns through ``applyInPandasWithState`` (the python
    eval node consumes its child's full schema), so without the
    explicit projection every column — including a wide ``props``
    payload — ships to the worker per batch (measured 3–6× the needed
    transfer on the events table).
    """
    id_col = "event_id"
    events = events.select(*dict.fromkeys([*key_cols, id_col]))
    key_fields = [events.schema[k] for k in key_cols]
    out_schema = T.StructType(
        [*key_fields, T.StructField("first_id", T.LongType())]
    )
    state_schema = T.StructType([T.StructField("seen", T.BooleanType())])
    names = list(key_cols)

    def fn(key, pdfs, state):
        import pandas as pd  # self-contained: no engine-package imports

        if state.exists:
            for _ in pdfs:  # drain — key already emitted
                pass
            return
        first = None
        for pdf in pdfs:
            m = pdf[id_col].min()
            first = m if first is None else min(first, m)
        state.update((True,))
        row = {n: [v] for n, v in zip(names, key)}
        row["first_id"] = [first]
        yield pd.DataFrame(row)

    return (
        events.groupBy(*key_cols)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )
