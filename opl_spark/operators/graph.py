"""Graph analytics over linkage/interaction graphs: PageRank in exact
integer arithmetic.

The reference has no graph surface (its graphs live implicitly in the
library network's FK structure); this module serves the training-data
pipeline tier — ranking nodes of the customer↔supplier interaction
graph, boilerplate-source graphs, or fuzzy-linkage graphs built by
``operators.dedup``.

Scale shape: the edge list is the only large state.  Per iteration the
plan is one edge⋈rank hash join + one key-sum aggregation — both
shuffle on the node key, so a pre-partitioned/bucketed edge list
co-locates every round.  Rank state is node-sized, never collected;
the driver only paces the (fixed, small) iteration count.  Lineage is
truncated once on the edge list, not per round (ranks re-derive from 2
prior maps, so the DAG stays shallow without extra checkpoints).

Arithmetic: ranks are BIGINTs scaled by 1e12.  Contribution =
``rank DIV degree`` (integer floor division, exact and
order-independent); update = ``0.15*S + (85 * Σcontrib) DIV 100``.
Every engine computes the identical integer result — no float summation
order to drift, which is what makes the DuckDB oracle hash-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Fixed-point scale for rank values (1.0 == 1e12).
PR_SCALE = 1_000_000_000_000


def both_directions(edges: DataFrame) -> DataFrame:
    """Both orientations of every edge in ONE pass over the input —
    ``explode(array(struct(s,d), struct(d,s)))``, the same multiset a
    ``union`` of the frame with its swapped self emits, but planned as
    a single subtree.  A union plans (and at materialization EXECUTES)
    the upstream derivation once per branch — for an edge list derived
    from a join+distinct that is two full joins for one edge set
    (guide §2.4: remove shuffles/passes outright)."""
    return edges.select(
        F.explode(
            F.array(
                F.struct(F.col("src"), F.col("dst")),
                F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
            )
        ).alias("__e")
    ).select("__e.src", "__e.dst")


def bucketize_edges(
    spark,
    edges: DataFrame,
    table: str = "opl_graph_edges_bucketed",
    num_buckets: int = 32,
) -> DataFrame:
    """Write the (symmetric) edge list ONCE as a catalog table
    bucketed + sorted on ``src`` and read it back — the 100×-scale
    setup step for every iterative operator in this module.

    Each round of pagerank / label propagation / k-core joins and
    aggregates the edge list on its node key; from a plain DataFrame
    that re-shuffles the FULL edge list every round (iterations ×
    |E| exchange traffic).  A bucketed scan reports its hash
    distribution to Catalyst, so the per-round edge-side join and the
    degree aggregation plan with NO Exchange on the edge side — only
    the node-sized rank/label state moves (plus the one inherent
    message shuffle onto ``dst``, which IS the algorithm's
    communication).  Reading from table files also starts each round
    from a fresh scan, so the bucketed path needs no localCheckpoint
    lineage truncation (pass ``checkpoint=False`` to the iterators).

    Asserted by tests/test_scale_plan.py (bucketed plan: no Exchange
    above the edge scan; strictly fewer exchanges than the plain
    plan); measured in BENCH_NOTES.md.
    """
    from opl_spark.sources.bucketing import write_bucketed

    write_bucketed(
        edges.select("src", "dst"), table, "src", num_buckets=num_buckets
    )
    return spark.table(table).select("src", "dst")


def _degrees(e: DataFrame) -> DataFrame:
    """``(node, deg)`` of an edge list with both directions present."""
    return e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    checkpoint: bool = True,
) -> DataFrame:
    """Fixed-iteration PageRank over an undirected edge list
    (``src``/``dst`` long columns, both directions present — see
    :func:`both_directions`).  Returns ``(node, pr)`` with ``pr`` the
    1e12-scaled BIGINT rank after ``iterations`` rounds from a uniform
    start.  Undirected graphs have no dangling nodes (deg >= 1), so no
    teleport-mass correction term is needed.

    Exactly reproducible across engines: all arithmetic is integer
    (see module doc), and each round is one join + one sum — the
    Pregel message-passing shape without per-round driver traffic.
    ``checkpoint=False`` skips lineage truncation AND preserves the
    input's physical layout — pass it with :func:`bucketize_edges`
    output so the per-round edge-side join stays exchange-free
    (localCheckpoint rewrites the plan as an RDD scan, which would
    discard the bucketing metadata).
    """
    e = edges.select("src", "dst")
    if checkpoint:
        e = e.localCheckpoint(eager=False)
    deg = _degrees(e)
    damping_pct = 85
    base = int(round((100 - damping_pct) / 100 * PR_SCALE))
    pr = deg.select("node", "deg", F.lit(PR_SCALE).alias("pr"))
    for _ in range(iterations):
        msgs = e.join(pr, e["src"] == pr["node"]).select(
            F.col("dst").alias("node"),
            F.expr("pr div deg").alias("contrib"),
        )
        agg = msgs.groupBy("node").agg(F.sum("contrib").alias("s"))
        pr = deg.join(agg, "node", "left").select(
            "node",
            "deg",
            (
                F.lit(base)
                + F.expr(
                    f"({damping_pct} * coalesce(s, 0L)) div 100"
                )
            ).alias("pr"),
        )
    return pr.select("node", "pr")


def _kcore_round(e: DataFrame, k: int) -> tuple[DataFrame, DataFrame]:
    """One k-core pruning round: the node-sized list of nodes whose
    degree is below ``k``, and ``e`` without their incident edges (one
    degree aggregation + two anti-joins against that list)."""
    bad = _degrees(e).filter(F.col("deg") < k).select("node")
    pruned = (
        e.join(bad, e["src"] == bad["node"], "left_anti")
        .join(bad, e["dst"] == bad["node"], "left_anti")
    )
    return bad, pruned


def kcore_prune(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """Fixed-round k-core pruning of an undirected edge list (both
    directions present): each round drops nodes whose current degree
    is below ``k`` plus their incident edges.  Returns the surviving
    ``(node, deg)`` table after exactly ``rounds`` rounds — a pinned,
    engine-portable prefix of the k-core fixpoint (all-integer, so a
    SQL oracle can unroll the identical rounds).

    No driver traffic at all for the fixed-round form.  :func:`kcore`
    iterates the same round to convergence.
    """
    e = edges.select("src", "dst").localCheckpoint(eager=False)
    for _ in range(rounds):
        _bad, e = _kcore_round(e, k)
    return _degrees(e)


def kcore(edges: DataFrame, k: int) -> DataFrame:
    """k-core to convergence: repeat :func:`kcore_prune`'s round until
    no node falls below ``k`` (every survivor then has degree >= k in
    the surviving subgraph — the classical k-core).  Driver state per
    round is ONE count (the number of below-k nodes); lineage is
    truncated each round so the DAG stays flat over long prune chains.
    """
    e = edges.select("src", "dst").localCheckpoint(eager=False)
    max_iter = 50
    for _ in range(max_iter):
        bad, pruned = _kcore_round(e, k)
        if bad.limit(1).count() == 0:
            break
        e = pruned.localCheckpoint(eager=False)
    return _degrees(e)


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
    checkpoint: bool = True,
) -> DataFrame:
    """Deterministic synchronous label propagation (Raghavan et al.,
    arXiv:0709.2938) for community detection: every node starts as its
    own label; each round it adopts the most frequent label among its
    neighbours, smallest label on ties.  A FIXED round count replaces
    the paper's random asynchronous order — same answer on every
    engine, every partitioning, every run, which is what lets a SQL
    oracle unroll the identical rounds.

    Expects a symmetric ``src``/``dst`` edge list.  Per round the plan is one
    edge⋈label hash join + one (node, label) count + one struct-max
    per node — all shuffling on the node key, so a bucketed edge list
    co-locates every round (same shape as :func:`pagerank`).  Label
    state is node-sized and never collected; ties resolve via
    ``max(struct(count, -label))`` instead of a ranking window, so no
    per-node sort materializes.

    ``checkpoint=True`` (default) lazily ``localCheckpoint``s the edge
    list so the unrolled k-round plan computes the upstream edge build
    ONCE — each round's join otherwise re-plans it (an orders⋈lineitem
    edge derivation would run k times).  Pass ``checkpoint=False``
    with :func:`bucketize_edges` output: checkpointing rewrites the
    plan as an RDD scan, which would discard the bucketing metadata
    that keeps the per-round edge side exchange-free (same contract as
    :func:`pagerank`).
    """
    e = edges.select(F.col("src").alias("s"), F.col("dst").alias("d"))
    if checkpoint:
        e = e.localCheckpoint(eager=False)
    labels = e.select(F.col("s").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    for _ in range(rounds):
        counts = (
            e.join(labels, e["s"] == labels["node"])
            .groupBy(F.col("d").alias("n2"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            counts.groupBy(F.col("n2").alias("node"))
            .agg(
                F.max(
                    F.struct(F.col("c"), (-F.col("label")).alias("nl"))
                ).alias("b")
            )
            .select("node", (-F.col("b.nl")).alias("label"))
        )
    return labels


def bfs_hops(edges: DataFrame, seed, rounds: int = 3) -> DataFrame:
    """Bounded-depth BFS hop distances from ``seed`` over a directed
    edge set — ``(node, hop)`` for every node within ``rounds`` hops,
    hop = length of the shortest path.

    Per round: one frontier⋈edges join + one node-keyed min — the
    textbook iterative-BFS data shape.  r14: the join side really is
    the FRONTIER (nodes first reached LAST round, ``hop == r``), not
    the whole visited set — a node at distance < r had its edges
    expanded in an earlier round, so re-expanding it can only emit
    dominated ``hop`` candidates the min discards; dropping them is
    provably output-identical and shrinks the per-round join input
    from |visited| to |frontier| (guide §2.3 — shuffle fewer rows;
    on an expander most nodes are interior by round 2).  Distance
    state stays node-sized and in-cluster; lineage is truncated per
    round with a lazy ``localCheckpoint`` so the k-round plan never
    nests.  Exact integer hops, so a fixed-round prefix is
    engine-portable (the oracle unrolls the same rounds as CTEs).
    """
    e = edges.select("src", "dst").localCheckpoint(eager=False)
    # the seed row is unconditional — a sink/absent seed is still at
    # hop 0 of itself (matches the oracle's literal d0 CTE); node type
    # follows the edge schema
    from pyspark.sql.types import LongType, StructField, StructType

    dist = edges.sparkSession.createDataFrame(
        [(seed, 0)],
        StructType(
            [
                StructField("node", edges.schema["src"].dataType),
                StructField("hop", LongType()),
            ]
        ),
    )
    for r in range(rounds):
        # frontier-only expansion (docstring): nodes first reached
        # last round; round 0's frontier is the seed frame itself
        frontier = dist.filter(F.col("hop") == r) if r else dist
        nxt = (
            frontier.join(e, frontier["node"] == e["src"])
            .select(F.col("dst").alias("node"), (F.col("hop") + 1).alias("hop"))
        )
        dist = (
            dist.union(nxt)
            .groupBy("node")
            .agg(F.min("hop").alias("hop"))
            .localCheckpoint(eager=False)
        )
    return dist


def dominant_edge_matching(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    rounds: int = 3,
) -> DataFrame:
    """Parallel maximum-weight matching by LOCALLY DOMINANT edges
    (Preis, STACS '99; Manne & Bisseling '07 — the standard
    distributed 1/2-approximation): each round, an edge is matched
    iff it is simultaneously its src node's best incident edge AND
    its dst node's best incident edge ("mutually best"); matched
    nodes leave the graph and the next round runs on the remainder.
    Deterministic everywhere: best = max (weight, then LOWEST partner
    id) — so the result is a pure integer function of the edge list,
    replayable by an unrolled SQL oracle (row_number PARTITION BY
    node ORDER BY w DESC, partner ASC = 1 on both sides).

    Input is a BIPARTITE edge list ``(src, dst, weight)``: the src
    and dst columns are SEPARATE node universes (supplier vs part) —
    a node id appearing in both columns would be treated as two
    distinct nodes, so symmetrize-and-dedupe general graphs into a
    bipartite double cover (or add the per-node orientation explode)
    before calling.  Weights must be integer-valued (the repo's
    micro-quantization rule — float weights would make cross-engine
    argmax ties unportable) and node ids numeric (arithmetic-negation
    tie-break, the srp_probe contract).  Emits ``(src, dst, weight,
    round)`` — a matching: every src and every dst appears at most
    once across all rounds.

    Scale shape per round: TWO map-side-combinable struct-max
    aggregations (node-sized output, never a global sort or window
    over the edge stream), one node-keyed equality join to intersect
    the two "best" sets, and two anti-joins to drop matched
    endpoints; ``localCheckpoint`` truncates the per-round lineage
    exactly as in :func:`pagerank`.  rounds is O(log n) for full
    maximal matching; a fixed small ``rounds`` bounds both engines
    identically."""
    alive = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("p"),
        F.col(weight).alias("w"),
    ).localCheckpoint(eager=False)
    out = None
    for r in range(1, rounds + 1):
        best_s = alive.groupBy("s").agg(
            F.max(F.struct(F.col("w"), (-F.col("p")).alias("np"))).alias("b")
        ).select("s", (-F.col("b.np")).alias("p"), F.col("b.w").alias("w"))
        best_p = alive.groupBy("p").agg(
            F.max(F.struct(F.col("w"), (-F.col("s")).alias("ns"))).alias("b")
        ).select("p", (-F.col("b.ns")).alias("s"), F.col("b.w").alias("w"))
        matched = best_s.join(best_p, ["s", "p", "w"]).withColumn(
            "round", F.lit(r)
        ).localCheckpoint(eager=False)
        out = matched if out is None else out.unionByName(matched)
        alive = (
            alive.join(matched.select("s"), "s", "left_anti")
            .join(matched.select("p"), "p", "left_anti")
            .select("s", "p", "w")
            .localCheckpoint(eager=False)
        )
    return out.select(
        F.col("s").alias(src), F.col("p").alias(dst),
        F.col("w").alias(weight), "round",
    )
