"""Executor-loss resilience leg (r11 verdict task 7): a task that DIES
MID-WRITE and is retried by the scheduler must leave every durable
artifact exact — the content-addressed memo stores
(materialize_parquet_atomic / bucketed_table_atomic,
opl_spark/sources/bucketing.py).

Mechanics: local mode ignores ``spark.task.maxFailures`` — retries
need the ``local[N, F]`` master form — so the chaos run happens in a
SUBPROCESS on ``local[4, 3]``.  The fault is a mapInPandas stage that
raises on ``TaskContext.attemptNumber() == 0`` for partition 0 (an
OS-level sentinel file dropped before the raise proves the death
actually fired — Spark discards accumulator updates from failed
attempts, and a test whose fault never triggers proves nothing).
The retried attempt recomputes the
partition from source — exactly the executor-loss story on a real
cluster — and the store build completes.  Durability of
the protocol itself (temp + atomic rename, never write into a final
path) is what makes the retried write invisible to readers:
the first attempt only ever touched a task-attempt temp file that
Spark's commit protocol discards.

This extends tests/test_memo_soak.py (concurrent WRITERS racing one
warehouse) with the orthogonal failure axis: one writer whose TASKS
die.
"""

import pytest

#: slow tier (r14): property/soak/cluster suites run via `pytest -m slow`;
#: the default (`-m 'not slow'`) is the fast tier the driver's verify times.
pytestmark = pytest.mark.slow

import os
import subprocess
import sys

_WORKER = '''
import sys
sys.path.insert(0, {repo!r})
import pandas as pd
from pyspark import TaskContext
from pyspark.sql import functions as F
from opl_spark.session import get_spark

spark = get_spark(
    app_name="chaos-task-retry",
    master="local[4, 3]",          # N threads, maxFailures=3 -> retries live
    shuffle_partitions=4,
    extra_conf={{"spark.sql.warehouse.dir": {wh!r}}},
)
import os, time
MARKS = {marks!r}
os.makedirs(MARKS, exist_ok=True)

def n_deaths() -> int:
    return len(os.listdir(MARKS))

def fail_once(iterator):
    """Die on the FIRST attempt of partition 0, mid-stream: emit one
    chunk, then raise — so the task has already produced output rows
    (and, inside a write stage, already written bytes to its attempt
    file) when it dies.  The death drops an OS-level sentinel file
    BEFORE raising: Spark discards accumulator updates from failed
    attempts, so an accumulator cannot prove the fault fired."""
    ctx = TaskContext.get()
    first = True
    for pdf in iterator:
        if first and ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
            yield pdf.iloc[: len(pdf) // 2]
            open(os.path.join(
                MARKS, f"death-{{os.getpid()}}-{{time.monotonic_ns()}}"
            ), "w").close()
            raise RuntimeError("chaos: task killed mid-write (attempt 0)")
        first = False
        yield pdf

def chaotic(df):
    return df.mapInPandas(fail_once, schema=df.schema)

# ---- leg 1: materialize_parquet_atomic under task death -------------
from opl_spark.sources.bucketing import (
    bucketed_table_atomic,
    materialize_parquet_atomic,
)

base = spark.range(0, 1000, 1, 4).select(
    F.col("id"), (F.col("id") % 7).alias("k")
)
out = materialize_parquet_atomic(
    spark, "chaos_memo", "tok1", lambda: chaotic(base)
)
got = sorted((r["id"], r["k"]) for r in out.collect())
want = [(i, i % 7) for i in range(1000)]
assert got == want, f"memo store diverged: {{len(got)}} rows"
assert n_deaths() >= 1, "fault never fired (leg 1)"
print("LEG1 OK deaths=", n_deaths(), flush=True)

# ---- leg 2: bucketed_table_atomic under task death -------------------
d0 = n_deaths()
tbl = bucketed_table_atomic(
    spark, "chaos_bucketed", "tok1", lambda: chaotic(base), "k", 4
)
got2 = sorted((r["id"], r["k"]) for r in spark.table(tbl).collect())
assert got2 == want, "bucketed store diverged"
assert n_deaths() > d0, "fault never fired (leg 2)"
# bucket metadata survived the rename: describe shows the bucket spec
desc = spark.sql(f"DESCRIBE FORMATTED {{tbl}}").collect()
desc_txt = "\\n".join(str(r) for r in desc)
assert "4 buckets" in desc_txt.lower() or "num buckets" in desc_txt.lower()
print("LEG2 OK deaths=", n_deaths(), flush=True)

spark.stop()
print("ALL OK", flush=True)
'''


def test_memo_stores_survive_task_death(tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "chaos_worker.py"
    script.write_text(
        _WORKER.format(
            repo=repo,
            wh=str(tmp_path / "wh"),
            marks=str(tmp_path / "deaths"),
        )
    )
    proc = subprocess.run(
        [sys.executable, str(script)],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, (
        f"stdout:\n{proc.stdout[-3000:]}\n\nstderr:\n{proc.stderr[-3000:]}"
    )
    assert "ALL OK" in proc.stdout
    for leg in ("LEG1 OK", "LEG2 OK"):
        assert leg in proc.stdout, proc.stdout
