"""The OLAP query surface: cut / drilldown / measure / aggregate.

Compiles the reference API's query grammar (reference:
api-library-olap/README.md:16-88) into a single declarative DataFrame
plan ``df.filter(...).groupBy(...).agg(...)``, sorted in one
partition (``coalesce(1).sortWithinPartitions(...)``), and lets
Catalyst do the rest (predicate pushdown, partition pruning on scope
columns, AQE).  There is deliberately NO custom physical planning —
SURVEY.md §4: every rewrite this workload needs is stock Catalyst.

Cut grammar ("approximately the WHERE of the SQL query",
api-library-olap/README.md:27-51):

- ``dim:member``                equality slice            (README.md:31-34)
- ``a|b``                       multi-dimension dice      (README.md:36)
- ``dim:1-120``                 contiguous range          (README.md:38-40)
- ``dim:23-``                   open range                (README.md:41)
- ``dim:23;50``                 discrete set              (README.md:38,42)
- ``dim:2016,10[,3]``           hierarchy level path      (README.md:44-49)
- ``dim:2016,10-2017,02``       hierarchy tuple range     (README.md:51)

These compile to three forms (set, range, path) of plain column
comparisons, so every date cut prunes the fact's ``(year, month)``
partitions, the connector's ``date:Y,M,D-Y,M,D`` window included.

Drilldown grammar ("equivalent to SQL GROUP BY",
api-library-olap/README.md:54-79):

- ``dim``         → one level below the dimension's cut (README.md:57-63),
                    or the TOP hierarchy level if the dim is un-cut
                    (README.md:69-71)
- ``dim:level``   → levels from below-cut down to ``level`` inclusive
                    (README.md:65-67); a level at-or-above the cut depth
                    selects exactly that level (README.md:77-79 — the
                    boundary-spanning-range disambiguation case)
- ``a|b``         → multi-dimension drilldown (README.md:73-75)
"""

from __future__ import annotations

import operator
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from opl_spark.catalog import Dimension, FactMeta, Measure

#: The request params ``CubeEngine._plan`` takes: they decide which rows
#: aggregate into which groups (so rollup routing keys on them);
#: post-aggregation params (top_n, having, share…) ride the answer.
CORE_PARAMS = ("cut", "drilldown", "measure", "aggregate", "hierarchy")

# ---------------------------------------------------------------------------
# parsing helpers
# ---------------------------------------------------------------------------


def _atom(value: str, numeric: bool):
    """Type a cut literal against the target column's family."""
    if numeric:
        try:
            return int(value)
        except ValueError:
            return float(value)
    return value


def _is_numeric(dtype: T.DataType) -> bool:
    return isinstance(dtype, T.NumericType)


def _tuple_bound(cols: list[str], vals: list, strict, inclusive) -> Column:
    """``(cols…) >= vals`` (or ``<=``) as lexicographic column
    comparisons, built from the deepest bound level out:
    ``y > a OR (y = a AND (m > b OR (m = b AND d >= c)))``.  A NULL
    level the comparison reaches makes it NULL, so no row passes on it
    (a MySQL row comparison behaves the same)."""
    *outer, (c, v) = zip(cols, vals)
    cond = inclusive(F.col(c), v)
    for c, v in reversed(outer):
        col = F.col(c)
        cond = strict(col, v) | ((col == v) & cond)
    return cond


@dataclass
class _CutTerm:
    dimension: str
    spec: str
    condition: Column | None = None
    depth: int = 1  # how many hierarchy levels the cut pins


@dataclass
class CubeQuery:
    """One parsed ``/aggregate`` request against a fact.

    ``hierarchy`` selects which declared hierarchy orders the walk per
    dimension (``dim:hierarchyName[|dim2:name2]``) — the reference's
    metadata declares multiple hierarchies per dimension and lets the
    API receive the one to use (api-library-olap/README.md:112-117);
    unlisted dimensions use their first declared hierarchy."""

    fact: FactMeta
    cut: str | None = None
    drilldown: str | None = None
    measure: str | None = None
    aggregate: str | None = None
    hierarchy: str | None = None
    cut_terms: list[_CutTerm] = field(default_factory=list)
    hierarchy_by_dim: dict[str, str] = field(default_factory=dict)
    #: (measure, aggregate, fractional) per output, set by CubeEngine._plan
    measures: list[tuple[Measure, str, bool]] = field(default_factory=list)

    def __post_init__(self) -> None:
        if self.cut:
            for term in self.cut.split("|"):
                dim, _, spec = term.partition(":")
                if not spec:
                    raise ValueError(f"malformed cut term {term!r} (need dim:member)")
                self.cut_terms.append(_CutTerm(dimension=dim.strip(), spec=spec.strip()))
        if self.hierarchy:
            for term in self.hierarchy.split("|"):
                dim, _, hname = term.partition(":")
                if not hname:
                    raise ValueError(
                        f"malformed hierarchy term {term!r} (need dim:hierarchyName)"
                    )
                self.hierarchy_by_dim[dim.strip()] = hname.strip()


# ---------------------------------------------------------------------------
# cut compilation (C1-C7)
# ---------------------------------------------------------------------------


class CubeEngine:
    """Compiles CubeQuery → DataFrame plan over a registered fact DF."""

    def __init__(self, catalog):
        self.catalog = catalog
        self._frames: dict[str, DataFrame] = {}
        #: bumped on every (re-)registration — consumers caching results
        #: computed over a frame (OlapApi's response cache) key on
        #: this so a swapped frame invalidates them structurally
        self._versions: dict[str, int] = {}

    def register_fact(self, name: str, df: DataFrame) -> None:
        self._frames[name] = df
        self._versions[name] = self._versions.get(name, 0) + 1

    def frame_version(self, name: str) -> int:
        """Monotonic per-fact registration counter (0 = never
        registered); part of any response-cache key over this fact."""
        return self._versions.get(name, 0)

    def frame(self, name: str) -> DataFrame:
        if name not in self._frames:
            raise KeyError(f"fact {name!r} has no registered DataFrame")
        return self._frames[name]

    # -- grammar compilation ------------------------------------------------

    def _compile_cut(
        self, df: DataFrame, dim: Dimension, spec: str, hierarchy: str | None = None
    ) -> tuple[Column, int]:
        """One cut term → (filter condition, cut depth in hierarchy levels).

        Three forms: a set (C5), a range (C3/C4/C7) and a path (C1/C6).
        Every literal is typed against the walk's level columns, so a
        condition is plain column comparisons that Catalyst turns into
        partition filters on the fact's ``(year, month)`` directories."""
        cols = [dim.level(lv).physical for lv in dim.hierarchy_order(hierarchy)]
        numeric = [_is_numeric(df.schema[c].dataType) for c in cols]

        def typed(side: str) -> list:
            # components beyond the walk's depth are dropped (prefix
            # semantics): the Data Studio connector sends Y,M,D even to
            # facts whose date walk stops at month (Codice.gs:336-341)
            parts = [p.strip() for p in side.split(",")][: len(cols)]
            return [_atom(p, n) for p, n in zip(parts, numeric)]

        # C5 — discrete set: union of independently-compiled members
        if ";" in spec:
            members = spec.split(";")
            if not all(m.strip() for m in members):
                raise ValueError(
                    f"empty member in cut set {spec!r} on dimension {dim.name!r}"
                )
            compiled = [self._compile_cut(df, dim, m, hierarchy) for m in members]
            return (
                reduce(operator.or_, (c for c, _ in compiled)),
                max(d for _, d in compiled),
            )

        # C3/C4/C7 — range, split on the FIRST '-'.  A dash can also live
        # INSIDE a level value (the ISO week label 'Y1997-W01'), so the
        # spec is a range only when both bounds type against the levels
        # (an empty side is an open range): 'date:1997,Y1997-W01' is a
        # path, because 'W01' is no iso_year (a week-level range is thus
        # inexpressible: use a set).  A dash on a string first level is a
        # range separator only inside a tuple spec.
        lo_s, dash, hi_s = (s.strip() for s in spec.partition("-"))
        if dash and (numeric[0] or "," in spec) and (lo_s or hi_s):
            try:
                bounds = [
                    (typed(side), strict, inclusive)
                    for side, strict, inclusive in (
                        (lo_s, operator.gt, operator.ge),
                        (hi_s, operator.lt, operator.le),
                    )
                    if side
                ]
            except ValueError:
                pass  # a dash inside a level value: a path
            else:
                return (
                    reduce(operator.and_, (_tuple_bound(cols, *b) for b in bounds)),
                    max(len(vals) for vals, _, _ in bounds),
                )

        # C1/C6 — path: equality down the walk (C1 is one component)
        vals = typed(spec)
        return (
            reduce(operator.and_, (F.col(c) == v for c, v in zip(cols, vals))),
            len(vals),
        )

    # -- drilldown resolution (D1-D5) ---------------------------------------

    def _resolve_drilldown(
        self, df: DataFrame, q: CubeQuery
    ) -> list[str]:
        """Drilldown string → ordered list of physical group-by columns."""
        if not q.drilldown:
            return []  # A5 — full-table aggregate
        cut_depth: dict[str, int] = {}
        for t in q.cut_terms:
            cut_depth[t.dimension] = max(cut_depth.get(t.dimension, 0), t.depth)

        group_levels: list[tuple[Dimension, str]] = []
        for term in q.drilldown.split("|"):
            dname, _, lname = term.strip().partition(":")
            dim = q.fact.dimension(dname)
            order = dim.hierarchy_order(q.hierarchy_by_dim.get(dname))
            k = cut_depth.get(dname, 0)
            if lname:
                if lname not in order:
                    # connector form: the level addressed by one of its
                    # attribute names (Codice.gs:289-297 emits the
                    # matched attribute as the drilldown child node)
                    owner = dim.level_of_attribute(lname)
                    if owner is None or owner.name not in order:
                        raise KeyError(f"dimension {dname!r} has no level {lname!r}")
                    lname = owner.name
                idx = order.index(lname)
                if idx >= k:
                    # D2 — below-cut down to the named level, inclusive
                    selected = order[k : idx + 1] if k < idx + 1 else (order[idx],)
                else:
                    # D5 — explicitly re-including a level at/above the cut
                    selected = (order[idx],)
            else:
                if k == 0:
                    selected = (order[0],)  # D3 — un-cut dim → top level
                else:
                    # D1 — one level below the cut (clamped at the leaf)
                    selected = (order[min(k, len(order) - 1)],)
            for lv in selected:
                group_levels.append((dim, lv))

        cols: list[str] = []
        for dim, lv in group_levels:
            level = dim.level(lv)
            for c in (level.physical, *level.attributes):
                if c not in cols:
                    cols.append(c)
        return cols

    # -- measures / aggregates (A2-A7) --------------------------------------

    # Each derivable aggregate is ONE expression over its (sum, count,
    # min, max) inputs, fed fact columns here and a rollup's partials
    # by ``RollupStore``.  ``avg`` is round(double(exact_sum)/count, 6)
    # instead of the engine-native AVG: over decimal inputs the sum is
    # exact and order-independent, so the result is bit-identical
    # across engines and across shuffle orders — a plain AVG over
    # doubles is neither.  ``sum``/``min``/``max`` over fractional
    # inputs are likewise canonicalized to round(double(x), 2): the
    # reduction itself stays exact; only the emitted value is re-typed,
    # so the wire format carries no trailing-zero ambiguity across
    # engines.  ``median`` is an EXTENSION aggregate (the reference's
    # API admits only sum/avg/count, api-library-olap/README.md:131-137):
    # exact interpolated percentile, which DuckDB's quantile_cont
    # matches bit-for-bit after round(6).  At 100 TB swap percentile for
    # approx_percentile per-measure — the grammar is unchanged.
    #: the fact-column reduction behind each input of a derivable aggregate
    _INPUTS = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}
    #: aggregates derivable from (sum, count, min, max) inputs
    DERIVABLE = ("sum", "avg", "count", "min", "max")
    #: aggregates that need the raw values
    _RAW_AGGS = {
        "median": lambda c: F.round(F.percentile(c, 0.5).cast("double"), 6),
        # the 100 TB swap-in for median: t-digest-style sketch, one pass,
        # mergeable — not oracle-checkable (approximation is
        # engine-specific), bounded-error-tested instead
        "approx_median": lambda c: F.round(
            F.approx_percentile(c, 0.5, 10000).cast("double"), 6
        ),
    }

    @classmethod
    def _fact_input(cls, m: Measure, kind: str) -> Column:
        return cls._INPUTS[kind](F.col(m.physical))

    def _agg_exprs(self, q: CubeQuery, part=None) -> list[Column]:
        """The measure outputs of a planned query.  ``part(measure,
        kind)`` gives a derivable aggregate's ``kind`` input (sum,
        count, min or max): by default the fact column's reduction."""
        part = part or self._fact_input
        exprs = []
        for m, agg, fractional in q.measures:
            if agg in self._RAW_AGGS:
                expr = self._RAW_AGGS[agg](F.col(m.physical))
            elif agg == "avg":
                expr = F.round(part(m, "sum").cast("double") / part(m, "count"), 6)
            else:
                expr = part(m, agg)
                if fractional:
                    expr = F.round(expr.cast("double"), 2)
            exprs.append(expr.alias(m.name))
        return exprs

    # -- the entry point ----------------------------------------------------

    def aggregate(
        self,
        fact: str,
        cut: str | None = None,
        drilldown: str | None = None,
        measure: str | None = None,
        aggregate: str | None = None,
        hierarchy: str | None = None,
        top_n: int | None = None,
        top_within: str | None = None,
        having: str | None = None,
        share: bool = False,
        share_within: str | None = None,
    ) -> DataFrame:
        """``GET /olap/<fact>/aggregate`` → DataFrame.

        The emitted plan is a single filter→groupBy→agg→sort chain;
        cut conditions land on the fact's scope/partition columns, so
        every cut form on the date walk prunes partitions, the
        connector's ``date:Y,M,D-Y,M,D`` window included.

        ``top_n`` is an extension beyond the reference surface: keep
        only the N highest rows by the (first) measure.  With
        ``top_within`` (comma-separated output group columns) the rank
        is PER GROUP — a partitioned row_number whose window is keyed
        by the group, so each group ranks on its own executors.
        Without it the cut is global and plans as TakeOrdered
        (orderBy+limit), never an unpartitioned window.  Ties break by
        the remaining group columns — fully deterministic output.

        ``having`` filters AFTER aggregation on a measure output
        column — one strict ``col op number`` comparison (ops: >= <=
        > < = !=), parsed, never eval'd, so the HTTP surface cannot
        inject expressions.  Applied before ``top_n``.

        ``share`` appends one ``<measure>_share`` column per measure:
        the row's fraction of the total over all output rows (the
        percent-of-total every BI layer recomputes client-side —
        reference A8, `Codice.gs:134-137` — here server-side and
        exact).  ``share_within`` (comma-separated group columns)
        makes it percent-of-PARENT instead.  The total is an unordered
        window over the aggregated result, which is report-sized by
        construction (dims × levels) — never fact-sized, so the
        single-partition global case is metadata-scale.  Shares round
        to 6; applied before ``having``/``top_n`` so both can filter
        on them.
        """
        q, group_cols = self._plan(
            fact, cut, drilldown, measure, aggregate, hierarchy
        )
        return self._answer(
            self.frame(fact), q, group_cols,
            top_n=top_n, top_within=top_within, having=having,
            share=share, share_within=share_within,
        )

    # -- the one aggregation path: plan, then answer ------------------------

    def _plan(
        self,
        fact: str,
        cut: str | None = None,
        drilldown: str | None = None,
        measure: str | None = None,
        aggregate: str | None = None,
        hierarchy: str | None = None,
    ) -> tuple[CubeQuery, list[str]]:
        """Plan step shared by every cube answer (``aggregate``,
        ``drill_across``, ``RollupStore``), run once per request: parse
        the request, compile each cut term against the fact frame,
        resolve the drilldown to group columns (cut depths feed the
        below-cut rule), and resolve each measure to ``(measure,
        aggregate, fractional)`` in ``q.measures`` — the one place the
        per-measure allowed-aggregate check (M5) runs.  The compiled
        conditions compare level columns by name with literals typed
        against the fact's schema; a rollup carries the same columns
        with the same types, so the same conditions filter it
        unchanged."""
        meta = self.catalog.fact(fact)
        df = self.frame(fact)
        q = CubeQuery(
            fact=meta,
            cut=cut,
            drilldown=drilldown,
            measure=measure,
            aggregate=aggregate,
            hierarchy=hierarchy,
        )
        for t in q.cut_terms:
            dim = meta.dimension(t.dimension)
            t.condition, t.depth = self._compile_cut(
                df, dim, t.spec, q.hierarchy_by_dim.get(t.dimension)
            )
        group_cols = self._resolve_drilldown(df, q)
        names = measure.split("|") if measure else [meta.default_measure.name]
        for name in names:
            m: Measure = meta.measure(name.strip())
            agg = aggregate or m.default_aggregate
            if agg not in self.DERIVABLE and agg not in self._RAW_AGGS:
                raise ValueError(
                    f"unsupported aggregate {agg!r} (sum/avg/count/median/approx_median/min/max)"
                )
            # M5 — per-measure allowed-aggregate contract: the metadata
            # declares which aggregates each measure admits (reference:
            # api-library-olap/README.md:131-149); anything else is a
            # client error, not a silent fallback.
            if agg not in m.aggregates:
                raise ValueError(
                    f"measure {m.name!r} does not allow aggregate {agg!r} "
                    f"(allowed: {', '.join(m.aggregates)})"
                )
            # DecimalType subclasses FractionalType — this covers
            # decimal, double, and float measures; integral sums stay
            # bigint (already canonical on both engines).
            fractional = agg in ("sum", "min", "max") and isinstance(
                df.schema[m.physical].dataType, T.FractionalType
            )
            q.measures.append((m, agg, fractional))
        return q, group_cols

    def _answer(
        self,
        src: DataFrame,
        q: CubeQuery,
        group_cols: list[str],
        part=None,
        top_n: int | None = None,
        top_within: str | None = None,
        having: str | None = None,
        share: bool = False,
        share_within: str | None = None,
    ) -> DataFrame:
        """Answer step over ``src`` (the fact, or a rollup whose
        partials ``part`` re-reduces, see :meth:`_agg_exprs`): the
        planned cut filters, then groupBy/agg, then share → having →
        top_n, then the deterministic ordering."""
        for t in q.cut_terms:
            src = src.filter(t.condition)
        # the no-drilldown grand total flows through the SAME
        # post-processing: having/share/top_n are well-defined on the
        # one-row result, and silently dropping request parameters is
        # worse than either honoring or rejecting them
        aggs = self._agg_exprs(q, part)
        out = src.groupBy(*group_cols).agg(*aggs) if group_cols else src.agg(*aggs)
        if share or share_within:
            out = self._apply_share(out, len(group_cols), share_within)
        if having:
            out = out.filter(self._compile_having(out, len(group_cols), having))
        if top_n is not None:
            out = self._apply_top(out, len(group_cols), int(top_n), top_within)
        if not group_cols:
            return out
        # deterministic ordering — required by output=table consumers.
        # The result is report-sized, so it is sorted in one partition:
        # a global orderBy would range-partition it, which costs a
        # sampling job and an exchange per request
        return out.coalesce(1).sortWithinPartitions(*out.columns[: len(group_cols)])

    def drill_across(
        self,
        facts: list[str],
        drilldown: str,
        cut: str | None = None,
        measure: str | None = None,
        hierarchy: str | None = None,
    ) -> DataFrame:
        """Drill-across: the SAME drilldown (and optional cut) runs
        against every fact — which therefore must all declare the
        drilldown's CONFORMED dimensions — and the report-sized
        per-fact aggregates FULL OUTER join on the shared group
        columns, measures suffixed ``_<fact>``.  Kimball's
        multi-fact comparison query (loans vs accessions per
        consortium), impossible in the reference without N API calls
        and client-side stitching.

        Scale shape: each fact aggregates independently (all the
        aggregate() machinery applies — pruning, pushdown, partial
        aggs); the join inputs are dimension-cardinality-sized, so the
        USING-join coalesces keys over report rows, never facts.
        Absent cells stay NULL — absence of a fact's measure is
        information a BI layer must see, not a zero.
        """
        if len(facts) < 2:
            raise ValueError("drill_across: need at least two facts")
        if not drilldown:
            raise ValueError(
                "drill_across: a drilldown over the conformed dimensions is "
                "required (a grand-total comparison has no join keys)"
            )
        joined: DataFrame | None = None
        keys: list[str] | None = None
        for f in facts:
            q, gcols = self._plan(
                f, cut=cut, drilldown=drilldown, measure=measure,
                hierarchy=hierarchy,
            )
            out = self._answer(self.frame(f), q, gcols)
            renamed = out
            for m in out.columns[len(gcols):]:
                renamed = renamed.withColumnRenamed(m, f"{m}_{f}")
            if joined is None:
                joined, keys = renamed, gcols
            else:
                if gcols != keys:
                    raise ValueError(
                        f"drill_across: fact {f!r} resolves drilldown to "
                        f"{gcols}, expected conformed {keys}"
                    )
                joined = joined.join(renamed, keys, "full_outer")
        return joined.coalesce(1).sortWithinPartitions(*keys)  # as in _answer

    @staticmethod
    def _apply_share(
        out: DataFrame, n_group_cols: int, share_within: str | None
    ) -> DataFrame:
        """Append ``<measure>_share`` columns: each row's fraction of
        the (grand or per-parent) measure total.  The window runs over
        the AGGREGATED result — report-sized by construction — so the
        unpartitioned grand-total case is metadata-scale, not a
        fact-stream funnel."""
        from pyspark.sql import Window

        group_cols = out.columns[:n_group_cols]
        measures = out.columns[n_group_cols:]
        if share_within:
            keys = [c.strip() for c in share_within.split(",") if c.strip()]
            for k in keys:
                if k not in group_cols:
                    raise KeyError(
                        f"share_within column {k!r} not a group column {group_cols}"
                    )
            w = Window.partitionBy(*keys)
            for m in measures:
                out = out.withColumn(
                    f"{m}_share", F.round(F.col(m) / F.sum(m).over(w), 6)
                )
            return out
        # grand total: one single-row aggregate broadcast back onto the
        # report — not a window (avoids the misleading WindowExec
        # single-partition warning on what is metadata-sized data)
        totals = out.agg(
            *[F.sum(m).alias(f"__total_{m}") for m in measures]
        )
        out = out.crossJoin(F.broadcast(totals))
        for m in measures:
            out = out.withColumn(
                f"{m}_share", F.round(F.col(m) / F.col(f"__total_{m}"), 6)
            )
        return out.drop(*[f"__total_{m}" for m in measures])

    @staticmethod
    def _compile_having(out: DataFrame, n_group_cols: int, having: str) -> Column:
        """Parse one ``<measure> <op> <number>`` comparison against a
        measure OUTPUT column (group-column predicates belong in the
        cut).  Strict grammar — no expression evaluation."""
        import re

        m = re.fullmatch(
            r"\s*(\w+)\s*(>=|<=|!=|=|>|<)\s*(-?\d+(?:\.\d+)?)\s*", having
        )
        if not m:
            raise ValueError(f"malformed having {having!r} (need 'col op number')")
        col, op, num = m.group(1), m.group(2), float(m.group(3))
        measure_cols = out.columns[n_group_cols:]
        if col not in measure_cols:
            raise KeyError(
                f"having column {col!r} not a measure output {measure_cols}"
            )
        ops = {
            ">=": F.col(col) >= num,
            "<=": F.col(col) <= num,
            ">": F.col(col) > num,
            "<": F.col(col) < num,
            "=": F.col(col) == num,
            "!=": F.col(col) != num,
        }
        return ops[op]

    @staticmethod
    def _apply_top(
        out: DataFrame, n_group_cols: int, top_n: int, top_within: str | None
    ) -> DataFrame:
        """Rank rows of an aggregated cube result by the first measure
        (desc; remaining group columns break ties) and keep the top N —
        per ``top_within`` group when given, else globally."""
        from pyspark.sql.window import Window

        gnames = out.columns[:n_group_cols]
        measure_col = out.columns[n_group_cols]
        within = [c.strip() for c in (top_within or "").split(",") if c.strip()]
        unknown = [c for c in within if c not in gnames]
        if unknown:
            raise KeyError(
                f"top_within columns {unknown} not in drilldown output {gnames}"
            )
        rest = [c for c in gnames if c not in within]
        order = [F.col(measure_col).desc(), *[F.col(c) for c in rest]]
        if not within:
            # global top-N: orderBy+limit plans as TakeOrdered — never
            # an unpartitioned ranking window
            return out.orderBy(*order).limit(top_n)
        w = Window.partitionBy(*within).orderBy(*order)
        return (
            out.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= top_n)
            .drop("__rk")
        )


# ---------------------------------------------------------------------------
# output shaping (S11 output=table, P7 zero-fill)
# ---------------------------------------------------------------------------


def to_table(df: DataFrame) -> list[list]:
    """``output=table`` shape: first row = column names, then value rows
    (reference: Codice.gs:349 request, Codice.gs:155-184 consumption).

    Driver-side materialization — only ever called on aggregated
    (small) results, never on a raw fact table.
    """
    return [list(df.columns), *[list(r) for r in df.collect()]]


def zero_fill(df: DataFrame, measure_cols: list[str]) -> DataFrame:
    """Empty-result handling: one row of ``'null'`` dimension values and
    0 measures (reference `empty_dataset` contract: Codice.gs:361-373).

    Implemented as a union with a default row that is kept only when the
    aggregate result is empty — fully declarative, no driver round-trip.
    """
    spark = df.sparkSession
    defaults = []
    for f_ in df.schema.fields:
        if f_.name in measure_cols:
            defaults.append(F.lit(0).cast(f_.dataType).alias(f_.name))
        elif isinstance(f_.dataType, T.StringType):
            defaults.append(F.lit("null").alias(f_.name))
        else:
            defaults.append(F.lit(None).cast(f_.dataType).alias(f_.name))
    default_row = spark.range(1).select(*defaults)
    has_rows = df.agg(F.count(F.lit(1)).alias("n"))
    # cross-join against the 0-or-1-row guard keeps the default row only
    # when the aggregate was empty; broadcast-sized by construction.
    guarded_default = default_row.crossJoin(has_rows.filter(F.col("n") == 0)).drop("n")
    return df.unionByName(guarded_default)
