"""Shared machinery for the benchmark workloads.

- :class:`Run` owns one run's scratch directory inside the checkout and
  the engine's Spark session, and removes or stops both on exit.
- :class:`Tracer` records spans (name, start, end, parent, request or
  query id) in memory, tags the Spark jobs each span causes with a job
  group of its own, and writes everything out once at the end.
- :func:`spark_counters` reads jobs, tasks, shuffle and spill bytes per
  job group from the status tracker and the driver's UI REST API.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time
import urllib.request
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: per-run scratch (warehouses, Spark local dirs); removed at exit
RUN_BASE = os.path.join(ROOT, ".perfbench_run")
#: span dumps and environment records; kept for inspection
OUT_BASE = os.path.join(ROOT, ".perfbench_out")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pct(samples: list[float], p: float) -> float:
    """Nearest-rank percentile: the k-th order statistic, k = ceil(p·n)."""
    s = sorted(samples)
    return s[max(0, math.ceil(p * len(s)) - 1)]


def median(samples: list[float]) -> float:
    return pct(samples, 0.5)


# ---------------------------------------------------------------------------
# process-tree memory and foreign Spark drivers
# ---------------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def process_tree(pid: int) -> list[int]:
    tree, todo = [], [pid]
    while todo:
        p = todo.pop()
        tree.append(p)
        todo.extend(_children(p))
    return tree


def peak_rss_mb(pid: int) -> float:
    """Sum of VmHWM (peak resident set) over ``pid`` and its descendants."""
    total_kb = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def foreign_spark_drivers() -> list[int]:
    """PIDs of Spark driver JVMs that this run did not start."""
    own = set(process_tree(os.getpid()))
    found = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) in own:
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        if b"org.apache.spark.deploy.SparkSubmit" in cmd:
            found.append(int(d))
    return found


def cpu_times() -> tuple[int, int]:
    """(all, steal) jiffies of the host's CPUs so far."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f), f[7] if len(f) > 7 else 0


def _commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if not ref.startswith("ref: "):
            return ref
        with open(os.path.join(ROOT, ".git", ref[5:])) as fh:
            return fh.read().strip()
    except OSError:
        return None


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------


class Run:
    """Scratch directory and Spark session of one run.

    Everything the run writes lives under ``.perfbench_run/<id>`` in the
    checkout: the warehouse, ``spark.sql.warehouse.dir`` (so content-
    addressed tables persisted by the source layer never leak between
    runs), Spark's local dirs and the JVM's temp dir."""

    def __init__(self, workload: str, seed: int, trace: bool):
        self.workload, self.seed, self.trace = workload, seed, trace
        os.makedirs(RUN_BASE, exist_ok=True)
        self.dir = tempfile.mkdtemp(prefix=f"{workload}-{seed}-", dir=RUN_BASE)
        self.tmp = os.path.join(self.dir, "tmp")
        os.makedirs(self.tmp)
        # python-side temp files (py4j handshake, arrow spill) too
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = self.tmp
        # the environment variable wins over spark.local.dir when set
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        self.cpus = os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
        self.spark = None
        self.foreign_at_start = foreign_spark_drivers()
        self.cpu_at_start = cpu_times()
        self.env: dict = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def start_spark(self):
        """The engine's own session factory, with per-run state; returns
        the session start time in seconds."""
        from opl_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": self.path("spark-warehouse"),
            "spark.local.dir": self.path("spark-local"),
            # no hsperfdata file under the system /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            # keep every job of the run visible to the REST counters
            conf["spark.ui.retainedJobs"] = "100000"
            conf["spark.ui.retainedStages"] = "100000"
        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}", extra_conf=conf)
        self.session_start_s = time.perf_counter() - t0
        return self.session_start_s

    def record_env(self, **extra) -> dict:
        import pyspark

        env = {
            "workload": self.workload,
            "seed": self.seed,
            "trace": self.trace,
            "nproc": nproc(),
            "SPARK_GRAFT_CPUS": self.cpus,
            "driver_memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM")
            or (self.spark.conf.get("spark.driver.memory", "1g") if self.spark else None),
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "java": self.spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
            if self.spark else None,
            "commit": _commit(),
        }
        env.update(extra)
        self.env = env
        return env

    def close(self) -> None:
        foreign = set(self.foreign_at_start) | set(foreign_spark_drivers())
        self.env["other_spark_driver_alive"] = bool(foreign)
        total, steal = (b - a for a, b in zip(self.cpu_at_start, cpu_times()))
        # CPU time the hypervisor gave to other guests during the run
        self.env["cpu_steal_share"] = steal / total if total else 0.0
        if self.spark is not None:
            from pyspark import SparkContext

            jvm = getattr(SparkContext._gateway, "proc", None)
            self.spark.stop()
            self.spark = None
            if jvm is not None:
                jvm.stdin.close()  # the driver JVM exits when its stdin closes
                try:
                    jvm.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    jvm.kill()
                    jvm.wait(timeout=20)
        shutil.rmtree(self.dir, ignore_errors=True)

    def write_output(self, name: str, payload) -> str:
        os.makedirs(OUT_BASE, exist_ok=True)
        path = os.path.join(OUT_BASE, f"{self.workload}-{self.seed}-{name}.json")
        with open(path, "w") as fh:
            json.dump(payload, fh, indent=1, default=str)
        return path


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans around the benchmark's calls into each layer.

    Each span may carry a Spark job group (``pb-<span index>``) so the
    jobs it triggers are counted against it; nested spans restore the
    enclosing group on exit.  A disabled tracer costs one attribute
    check per call."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, rid=None, group: bool = True):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        idx = len(self.spans)
        rec = {
            "name": name, "id": rid,
            "parent": self._stack[-1] if self._stack else None,
            "group": f"pb-{idx}" if group else None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        prev = sc.getLocalProperty("spark.jobGroup.id")
        if group:
            sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group:
                if prev is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    sc.setJobGroup(prev, prev)

    def wrap(self, obj, attr: str, name: str, rid_of=None):
        """Replace ``obj.attr`` (an instance's method or a module's
        function) by a traced version; returns an undo callable."""
        orig = getattr(obj, attr)
        tracer = self

        def traced(*a, **kw):
            rid = rid_of(*a, **kw) if rid_of else None
            with tracer.span(name, rid):
                return orig(*a, **kw)

        setattr(obj, attr, traced)
        return lambda: setattr(obj, attr, orig)

    def self_times(self) -> list[float]:
        """Per span: duration minus the union of its children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out = []
        for i, s in enumerate(self.spans):
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(kids.get(i, [])):
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out.append(s["end"] - s["start"] - covered)
        return out

    def dump(self) -> list[dict]:
        """Spans with times relative to the first span, and self times."""
        selfs = self.self_times()
        t0 = self.spans[0]["start"] if self.spans else 0.0
        return [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0, "self": st}
            for s, st in zip(self.spans, selfs)
        ]


def spark_counters(spark, groups: list[str]) -> dict[str, dict]:
    """Per job group: jobs and tasks (status tracker), shuffle read/write
    and spilled bytes (UI REST API at ``sc.uiWebUrl``)."""
    sc = spark.sparkContext
    with contextlib.suppress(Exception):  # listener bus drain; best effort
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    tracker = sc.statusTracker()
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    with urllib.request.urlopen(f"{base}/stages?status=complete", timeout=30) as r:
        stages = {s["stageId"]: s for s in json.load(r)}
    out = {}
    for g in groups:
        c = {"jobs": 0, "tasks": 0, "shuffle_read_bytes": 0,
             "shuffle_write_bytes": 0, "spill_bytes": 0}
        for jid in tracker.getJobIdsForGroup(g):
            info = tracker.getJobInfo(jid)
            c["jobs"] += 1
            for sid in info.stageIds if info else ():
                s = stages.get(sid)
                if s is None:
                    continue  # skipped stage: its shuffle output was reused
                c["tasks"] += s["numCompleteTasks"]
                c["shuffle_read_bytes"] += s["shuffleReadBytes"]
                c["shuffle_write_bytes"] += s["shuffleWriteBytes"]
                c["spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
        out[g] = c
    return out


def layer_totals(tracer: Tracer, counters: dict[str, dict]) -> dict[str, dict]:
    """Per span name: calls, total and self seconds, and the Spark
    counters of the span's own job group (jobs of nested spans count
    against the nested span)."""
    selfs = tracer.self_times()
    agg: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for s, st in zip(tracer.spans, selfs):
        a = agg[s["name"]]
        a["calls"] += 1
        a["total_s"] += s["end"] - s["start"]
        a["self_s"] += st
        for k, v in counters.get(s["group"], {}).items():
            a[k] += v
    return {k: dict(v) for k, v in agg.items()}


def log(*args) -> None:
    print(*args, file=sys.stderr, flush=True)
