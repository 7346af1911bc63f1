"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (the reference's documented
active-users fact query, library_olap/README.md:39-49, re-expressed
over the synthetic star schema) at sf0.001.

``queries()`` / ``oracle_sql()`` export the full t2 workload from
``opl_spark.workload`` — one entry per implemented operator from
SURVEY.md §2, each with an ANSI-SQL DuckDB oracle where expressible —
in AUDIT ORDER.  The driver hash-checks the first 50 ids of that order
each round and records the window, in order, as
``CORRECTNESS_r<N>.json`` beside this file.  The order is derived from
those ledgers (:func:`audit_order`), so no round edits it by hand.
Without ledger files it is registration order (every registered id has
an oracle; rows-only ids would follow the oracled ones).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

#: the ledgers sit beside this file; the harness imports it from
#: another cwd, so they are never looked up relative to the cwd
LEDGER_DIR = os.path.dirname(os.path.abspath(__file__))

sys.path.insert(0, LEDGER_DIR)

from opl_spark import workload  # noqa: E402

#: Ids whose query or oracle changed after their newest ledger row:
#: they lead the next window, right after the red ids.  The one
#: maintenance rule: add an id when its code or oracle changes, and
#: remove it once a ledger round newer than the change has it green.
_AUDIT_PRIORITY: tuple[str, ...] = (
    # cut compilation became set / range / path forms over plain
    # column comparisons: every compiled cut filter changed
    "q_cut_eq",
    "q_cut_dice",
    "q_cut_range",
    "q_cut_open_range",
    "q_cut_set",
    "q_cut_hierarchy",
    "q_cut_hierarchy_range",
    "q_drilldown_cutlevel",
    "q_drilldown_week",
)

Ledger = dict[str, tuple[int, int, bool | None]]


def audit_ledger(ledger_dir: str = LEDGER_DIR) -> Ledger:
    """``{id: (round, window position, hash_match)}`` from each id's
    newest ``CORRECTNESS_r<N>.json`` row (``hash_match`` is None for a
    rows-only id, which has no oracle)."""
    newest: Ledger = {}
    for path in glob.glob(os.path.join(ledger_dir, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m is None:
            continue
        rnd = int(m.group(1))
        with open(path) as fh:
            for pos, (qid, row) in enumerate(json.load(fh).items()):
                if rnd > newest.get(qid, (0,))[0]:
                    newest[qid] = (rnd, pos, row.get("hash_match"))
    return newest


def audit_order(
    names: Iterable[str], oracled: Iterable[str], ledger: Ledger
) -> list[str]:
    """The registered ``names`` in the order the driver should audit:

    1. ids whose newest ledger row is hash-red, oldest audit first;
    2. ``_AUDIT_PRIORITY``;
    3. never-audited ids, oracled before rows-only, each in
       registration order;
    4. every other id, by (round, window position) of its newest row:
       the stalest confirmation leads, so the window walks the registry.

    Ledger ids that are no longer registered are ignored."""
    names, oracled = list(names), set(oracled)

    def by_audit(ids: Iterable[str]) -> list[str]:
        return sorted(ids, key=lambda n: ledger[n][:2])

    audited = [n for n in names if n in ledger]
    head = by_audit(n for n in audited if ledger[n][2] is False)
    head += [n for n in _AUDIT_PRIORITY if n in names and n not in head]
    fresh = [n for n in names if n not in ledger and n not in head]
    fresh.sort(key=lambda n: n not in oracled)  # stable sort
    return head + fresh + by_audit(n for n in audited if n not in head)


def _order() -> list[str]:
    return audit_order(workload.queries(), workload.oracle_sql(), audit_ledger())


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return workload.queries()["q_active_users"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in audit
    order."""
    qs = workload.queries()
    return {n: qs[n] for n in _order()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI-SQL twin for each query (omitted for
    non-SQL-expressible ops → driver records a rows-only check), in
    audit order."""
    osql = workload.oracle_sql()
    return {n: osql[n] for n in _order() if n in osql}
