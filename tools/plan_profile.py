#!/usr/bin/env python
"""Optimization profiler: for each named query, capture the physical
plan (``explain("formatted")``) into plans/<dir>/<id>_<tag>.txt and
time the noop-sink execution (best of N, same methodology as
bench.py:run_set), reporting wall seconds and the number of Spark jobs
the query scheduled (sequential-action shapes show up as job count).

Usage:
    python tools/plan_profile.py --plans r14 [--tag before|after] [--runs 2] q_a q_b ...

``--plans`` names the subdirectory of plans/ the captured plans go to
(one per optimization round: plans/r13, plans/r14, ...).

Timing here is for ITERATION ONLY (relative before/after on the same
host, same session); the recording of record stays bench.py's.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_DRIVER_MEM = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g")
os.environ.setdefault(
    "PYSPARK_SUBMIT_ARGS", f"--driver-memory {_DRIVER_MEM} pyspark-shell"
)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--plans", required=True,
                    help="subdirectory of plans/ for the captured plans")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("names", nargs="+", metavar="query_id")
    args = ap.parse_args()
    tag, runs, names = args.tag, args.runs, args.names

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(REPO, "plans", args.plans)
    os.makedirs(out_dir, exist_ok=True)

    from opl_spark import workload
    from opl_spark.session import get_spark
    from opl_spark.sources import TABLES, load_table

    spark = get_spark(app_name=f"opl-profile-{args.plans}-{tag}")
    qs = workload.queries()
    # warm-up: parquet footers + codegen, as in bench.run_set
    for t in TABLES:
        load_table(spark, sf_dir, t).write.format("noop").mode(
            "overwrite"
        ).save()

    import gc

    sc = spark.sparkContext
    results: dict[str, dict] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"profile:{name}")
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(buf.getvalue())
        best, best_jobs = float("inf"), None
        for _ in range(runs):
            j0 = sc.statusTracker().getJobIdsForGroup(None)
            t0 = time.perf_counter()
            # re-build per run: query construction (its own driver
            # actions included) is part of what bench.py times
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            el = time.perf_counter() - t0
            j1 = sc.statusTracker().getJobIdsForGroup(None)
            if el < best:
                best, best_jobs = el, len(set(j1) - set(j0))
        results[name] = {"sec": round(best, 3), "jobs": best_jobs}
        print(f"{name}: {best:.3f}s jobs={best_jobs}", file=sys.stderr)
        spark.catalog.clearCache()
        gc.collect()
    print(json.dumps(results, indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
