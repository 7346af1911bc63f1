"""Benchmark entry point.

    python3 perfbench/run.py --workload {serve,nightly} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  Inputs are generated from ``--seed``;
every run builds its own warehouse under ``.perfbench_run/`` and removes
it at exit.  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``, where ``metrics``
holds the end-to-end metrics (``--trace 0``) or the per-layer metrics of
a traced replay (``--trace 1``), each as ``{"value", "unit"}``.  The
line before it records the environment; span dumps go to
``.perfbench_out/``.  See ``BENCHMARK.json`` for the metric list.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

WORKLOADS = ("serve", "nightly")


def _spec() -> dict:
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # a terminated run still stops its Spark driver and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, harness.ROOT)
    try:
        import opl_spark  # noqa: F401 — the program under test
    except ImportError as exc:
        harness.log(f"perfbench: cannot import the engine from {harness.ROOT}: {exc}")
        return 2
    spec = _spec()
    import importlib

    wl = importlib.import_module(f"wl_{args.workload}")
    run = harness.Run(args.workload, args.seed, bool(args.trace))
    try:
        out = wl.run_workload(run, args.seconds)
        env = run.record_env(**out["extra"])
    finally:
        run.close()
    if run.trace:
        run.write_output("spans", {"env": env, **out["trace"]})
        wanted = spec["per_layer"]
        # a layer that does no work in this workload reports 0; every
        # other per-layer metric must come from the traced replay
        values = {m["name"]: 0 for m in wanted
                  if m["name"].startswith(wl.UNEXERCISED_LAYERS)} | out["layers"]
    else:
        wanted = spec["end_to_end"]
        values = out["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        harness.log(f"perfbench: workload {args.workload} did not produce {missing}")
        return 3
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"env": env}, default=str))
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
