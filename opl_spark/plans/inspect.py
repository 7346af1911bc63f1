"""Physical-plan inspection — the engine's scale contract is that cut
compilation reaches the scan (partition pruning / predicate pushdown /
column pruning), and these helpers make that checkable in tests and
operable in production triage ("why is this query scanning history?").

Built on ``EXPLAIN FORMATTED`` over a temp view — public SQL surface,
no JVM internals.
"""

from __future__ import annotations

import re
import uuid

from pyspark.sql import DataFrame


def _probe_name() -> str:
    # Unique per call: the probe views live in shared catalog state
    # (session-local for temp views, cross-session for global temp
    # views), so concurrent inspections — e.g. two in-flight HTTP
    # /olap/<fact>/explain requests — must never share a view name or
    # one call's createOrReplace/drop stomps the other's probe.
    return f"_opl_plan_probe_{uuid.uuid4().hex}"


def formatted_plan(df: DataFrame) -> str:
    """The EXPLAIN FORMATTED text of a DataFrame's plan."""
    probe = _probe_name()
    df.createOrReplaceTempView(probe)
    try:
        rows = df.sparkSession.sql(
            f"EXPLAIN FORMATTED SELECT * FROM {probe}"
        ).collect()
    finally:
        df.sparkSession.catalog.dropTempView(probe)
    return "\n".join(r[0] for r in rows)


def window_specs(plan: str) -> list[str]:
    """Every ``windowspecdefinition(...)`` argument string in a plan,
    extracted with BALANCED parentheses — sort keys that are
    expressions (``cast(a as bigint) ASC``) nest parens, which a naive
    ``[^)]*`` capture truncates (and then misclassifies)."""
    out = []
    marker = "windowspecdefinition("
    i = plan.find(marker)
    while i != -1:
        depth, j = 1, i + len(marker)
        while j < len(plan) and depth:
            if plan[j] == "(":
                depth += 1
            elif plan[j] == ")":
                depth -= 1
            j += 1
        out.append(plan[i + len(marker) : j - 1])
        i = plan.find(marker, j)
    return out


def _top_level_args(spec: str) -> list[str]:
    args, depth, cur = [], 0, []
    for ch in spec:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            args.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        args.append("".join(cur).strip())
    return args


def unpartitioned_ordered_windows(plan: str) -> list[str]:
    """The windowspecdefinition specs whose FIRST top-level argument is
    already an ordered sort key (`` ASC``/`` DESC``) — i.e. ordered
    windows with NO partition keys, the single-task-funnel shape."""
    bad = []
    for spec in window_specs(plan):
        args = _top_level_args(spec)
        if args and (" ASC" in args[0] or " DESC" in args[0]):
            bad.append(spec)
    return bad


def unpartitioned_unordered_windows(plan: str) -> list[str]:
    """The windowspecdefinition specs with NO partition keys and NO
    sort keys — an unordered ``OVER ()``.  Catalyst renders such a
    spec with the frame as its only top-level argument, so "first arg
    is the specifiedwindowframe" is the exact signature.  An unordered
    global window funnels the whole input into one task just like the
    ordered kind (:func:`unpartitioned_ordered_windows`) — the shape
    is legitimate ONLY over summary-sized inputs (bin tables,
    shortlist legs, category² cells); on a fact stream, restructure to
    a 1-row aggregate broadcast-joined back (the share-of-total
    pattern)."""
    bad = []
    for spec in window_specs(plan):
        args = _top_level_args(spec)
        if args and args[0].startswith("specifiedwindowframe"):
            bad.append(spec)
    return bad


def scale_lint(
    df: DataFrame,
    single_row_broadcast_ok: bool = False,
) -> list[str]:
    """Lint a DataFrame's physical plan for the shapes that silently
    stop scaling at 100× — the library form of the repo-wide test
    audit (tests/test_scale_plan.py calls this same detector), usable
    in CI gates and notebook spot checks before a query ships:

    - ``cartesian``: CartesianProduct — O(n·m) row pairs;
    - ``nested-loop join``: BroadcastNestedLoopJoin — legitimate ONLY
      against a provably single-row side (pass
      ``single_row_broadcast_ok=True`` when that is the design);
    - ``global window``: an ORDERED window with no partition keys —
      funnels the whole input through one task;
    - ``unordered global window``: an ``OVER ()`` with neither
      partition nor sort keys — the same single-task funnel.

    (An ``Exchange SinglePartition`` is deliberately NOT flagged: the
    final step of every grand-total aggregate plans one legitimately,
    carrying one partial row per upstream partition.)

    Returns human-readable findings (empty = clean).  Plan SHAPE is
    scale-invariant, so linting a small-data build of the query is
    valid for the full-size deployment.
    """
    plan = formatted_plan(df)
    findings = []
    if "CartesianProduct" in plan:
        findings.append("cartesian: CartesianProduct joins every row pair")
    if "BroadcastNestedLoopJoin" in plan and not single_row_broadcast_ok:
        findings.append(
            "nested-loop join: BroadcastNestedLoopJoin (fine only vs a "
            "single-row side; pass single_row_broadcast_ok=True if so)"
        )
    for spec in unpartitioned_ordered_windows(plan):
        findings.append(
            f"global window: ordered window with no partition keys "
            f"({spec[:60]}...)"
        )
        break
    for spec in unpartitioned_unordered_windows(plan):
        findings.append(
            "unordered global window: OVER () with no partition or "
            "sort keys (fine only over summary-sized input)"
        )
        break
    return findings


def cost_report(df: DataFrame) -> dict:
    """Pre-flight cost preview — the numbers an operator wants BEFORE
    submitting a plan against 100 TB: how many shuffle exchanges and
    broadcasts the plan contains, how many scans (and the bytes the
    optimizer estimates they will read), and how much of the plan runs
    inside whole-stage codegen.

    All read from public surfaces (EXPLAIN FORMATTED + the optimizer's
    plan statistics); nothing executes.  Estimated bytes follow the
    optimizer's sizeInBytes (file-size based for parquet scans) — a
    planning signal, not an execution measurement.

    The non-AQE codegen probe replans in an ISOLATED
    ``spark.newSession()`` (SQL conf is per-session), so concurrent
    queries in the caller's session — including ones arriving through
    the HTTP ``/olap/<fact>/explain`` route, which made the old
    session-scoped toggle window easy to hit — always plan with their
    own AQE setting.
    """
    plan = formatted_plan(df)
    n_broadcasts = len(re.findall(r"^\(\d+\) BroadcastExchange", plan, flags=re.M))
    n_shuffles = len(re.findall(r"^\(\d+\) Exchange", plan, flags=re.M))
    n_scans = len(re.findall(r"^\(\d+\) Scan ", plan, flags=re.M))
    # codegen spans show as *(N) markers only in a NON-AQE physical
    # plan (AdaptiveSparkPlan collapses codegen stages per-stage at
    # runtime, so the unexecuted AQE plan prints none) — replan the
    # probe once in a throwaway session with AQE off.  A GLOBAL temp
    # view carries the logical plan across sessions; the probe
    # session's conf change is invisible to the caller's session.
    # The view name is unique per call (global temp views are shared
    # across ALL sessions, so a fixed name races concurrent reports).
    spark = df.sparkSession
    gprobe = _probe_name()
    df.createOrReplaceGlobalTempView(gprobe)
    probe = spark.newSession()
    probe.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        simple = "\n".join(
            r[0]
            for r in probe.sql(
                f"EXPLAIN SELECT * FROM global_temp.{gprobe}"
            ).collect()
        )
    finally:
        spark.catalog.dropGlobalTempView(gprobe)
    codegen_ids = set(re.findall(r"\*\((\d+)\)", simple))
    n_ops = len(re.findall(r"^\(\d+\)", plan, flags=re.M))
    # estimated bytes READ = sum of leaf-relation sizes (file-size
    # based for parquet) — the number that predicts cluster scan cost;
    # the plan-output sizeInBytes is meaningless without CBO stats
    try:
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        est_scan = sum(
            int(leaves.apply(i).stats().sizeInBytes())
            for i in range(leaves.size())
        )
    except Exception:  # stats surface unavailable (e.g. streaming)
        est_scan = -1
    # per-scan source locations — WHICH tables the plan actually
    # reads.  This is the routedness evidence for rollup-lattice
    # queries (a routed aggregate lists <warehouse>/_lattice/..., a
    # live one lists the fact table) and the triage answer to "why is
    # this query scanning history".  Truncated by EXPLAIN to a few
    # entries per scan; fine for identification.
    locations = [
        ln.split("Location:", 1)[1].strip()
        for ln in plan.splitlines()
        if "Location:" in ln
    ]
    return {
        "n_shuffles": n_shuffles,
        "n_broadcasts": n_broadcasts,
        "n_scans": n_scans,
        "n_codegen_stages": len(codegen_ids),
        "n_plan_ops": n_ops,
        "est_scan_bytes": est_scan,
        "scan_locations": locations,
        "scale_flags": scale_lint(df, single_row_broadcast_ok=True),
    }
