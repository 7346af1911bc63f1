"""Property tests for the cut grammar (SURVEY.md §5.4): for randomized
cut specs, the compiled DataFrame filter must select exactly the rows a
direct Python evaluation of the documented semantics selects."""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from opl_spark.catalog import Catalog, Dimension, FactMeta, Hierarchy, Level, Measure
from opl_spark.cube import CubeEngine

ROWS = [
    # (year, month, day, lib, kind)
    (y, m, d, lib, kind)
    for y in (2015, 2016, 2017)
    for m in (1, 6, 12)
    for d in (1, 15)
    for lib in (3, 50, 120)
    for kind in ("a", "b")
]

META = FactMeta(
    name="f",
    dimensions=(
        Dimension(
            name="date",
            levels=(Level("year"), Level("month"), Level("day")),
            hierarchies=(Hierarchy("cal", ("year", "month", "day")),),
        ),
        Dimension(name="lib"),
        Dimension(name="kind"),
    ),
    measures=(Measure("value", column="lib", aggregates=("sum", "count")),),
)


@pytest.fixture(scope="module")
def engine(spark):
    df = spark.createDataFrame(
        ROWS, "year long, month long, day long, lib long, kind string"
    )
    eng = CubeEngine(Catalog({"f": META}))
    eng.register_fact("f", df)
    return eng


def _rows_matching(cut_terms):
    """Direct Python evaluation of the documented cut semantics."""

    def term_ok(row, dim, spec):
        y, m, d, lib, kind = row
        vals = {"date": (y, m, d), "lib": lib, "kind": kind}
        if ";" in spec:
            return any(term_ok(row, dim, s) for s in spec.split(";"))
        if dim == "date":
            tup = vals["date"]
            if "-" in spec:
                lo_s, _, hi_s = spec.partition("-")
                lo = tuple(int(x) for x in lo_s.split(",")) if lo_s else None
                hi = tuple(int(x) for x in hi_s.split(",")) if hi_s else None
                ok = True
                if lo:
                    ok = ok and tup[: len(lo)] >= lo
                if hi:
                    ok = ok and tup[: len(hi)] <= hi
                return ok
            path = tuple(int(x) for x in spec.split(","))
            return tup[: len(path)] == path
        v = vals[dim]
        if dim == "lib" and "-" in spec:
            lo_s, _, hi_s = spec.partition("-")
            if lo_s and hi_s:
                return int(lo_s) <= v <= int(hi_s)
            if lo_s:
                return v >= int(lo_s)
            return v <= int(hi_s)
        return str(v) == spec

    out = []
    for row in ROWS:
        if all(term_ok(row, dim, spec) for dim, spec in cut_terms):
            out.append(row)
    return sorted(out)


date_path = st.builds(
    lambda y, m, d, depth: ",".join(str(x) for x in (y, m, d)[:depth]),
    st.sampled_from([2014, 2015, 2016, 2017]),
    st.sampled_from([1, 6, 12]),
    st.sampled_from([1, 15]),
    st.integers(1, 3),
)
date_range = st.builds(
    lambda a, b: f"{a}-{b}" if a <= b else f"{b}-{a}",
    date_path.filter(lambda s: "," in s),
    date_path.filter(lambda s: "," in s),
)
lib_eq = st.sampled_from(["3", "50", "120", "7"])
lib_range = st.sampled_from(["3-50", "50-", "-120", "4-119", "121-"])
lib_set = st.builds(lambda xs: ";".join(xs), st.lists(lib_eq, min_size=1, max_size=3))
kind_eq = st.sampled_from(["a", "b", "z"])

cut_term = st.one_of(
    st.tuples(st.just("date"), st.one_of(date_path, date_range)),
    st.tuples(st.just("lib"), st.one_of(lib_eq, lib_range, lib_set)),
    st.tuples(st.just("kind"), kind_eq),
)


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(terms=st.lists(cut_term, min_size=1, max_size=3))
@pytest.mark.slow  # r14 slow tier
def test_cut_matches_python_semantics(engine, terms):
    cut = "|".join(f"{d}:{s}" for d, s in terms)
    # drill every level explicitly (D5 form) so each surviving row is
    # its own group with all columns present regardless of cut depth
    df = engine.aggregate(
        "f",
        cut=cut,
        drilldown="date:year|date:month|date:day|lib|kind",
        measure="value",
        aggregate="count",
    )
    got = sorted(
        (r["year"], r["month"], r["day"], r["lib"], r["kind"]) for r in df.collect()
    )
    expected = _rows_matching(terms)
    assert got == expected, f"cut={cut!r}"


def test_having_parser_rejects_arbitrary_strings_without_injection():
    """Fuzz the having grammar: every generated string either parses
    to a plain comparison or raises ValueError/KeyError — it can never
    reach expression evaluation (the HTTP surface depends on this)."""
    import re

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from opl_spark.cube import CubeEngine

    class _FakeOut:
        columns = ["g", "value", "n"]

    @settings(max_examples=200, deadline=None)
    @given(st.text(max_size=40))
    def check(s):
        try:
            CubeEngine._compile_having(_FakeOut(), 1, s)
        except (ValueError, KeyError):
            return
        # anything accepted must match the strict comparison grammar
        assert re.fullmatch(
            r"\s*\w+\s*(>=|<=|!=|=|>|<)\s*-?\d+(\.\d+)?\s*", s
        ), s

    check()


def test_range_never_matches_a_null_level(spark):
    """A tuple range compares level by level, so a NULL level it has to
    look at excludes the row, as an equality cut and a MySQL row
    comparison do.  (A struct comparison sorted NULL first, so
    ``(1997, NULL)`` passed the upper bound ``1997,3``.)"""
    rows = [(1996, 12, 1), (1997, None, 1), (1997, 3, 1), (None, 1, 1), (1998, 1, 1)]
    df = spark.createDataFrame(
        [(y, m, d, 3, "a") for y, m, d in rows],
        "year long, month long, day long, lib long, kind string",
    )
    eng = CubeEngine(Catalog({"f": META}))
    eng.register_fact("f", df)
    out = eng.aggregate(
        "f",
        cut="date:1996,1-1997,3",
        drilldown="date:year|date:month|date:day",
        measure="value",
        aggregate="count",
    )
    got = {(r["year"], r["month"], r["day"]) for r in out.collect()}
    assert got == {(1996, 12, 1), (1997, 3, 1)}


def test_set_members_are_stripped(engine):
    """``;`` set members are stripped like path components, so
    ``kind:a; b`` selects the ``b`` rows too."""
    out = engine.aggregate(
        "f", cut="kind:a; b", drilldown="kind", measure="value", aggregate="count"
    )
    assert sorted(r["kind"] for r in out.collect()) == ["a", "b"]


# ---------------------------------------------------------------------------
# dash-valued string levels (the iso_week shape) — r11 grammar hardening
# ---------------------------------------------------------------------------

ISO_META = FactMeta(
    name="fw",
    dimensions=(
        Dimension(
            name="date",
            levels=(Level("iso_year"), Level("week"), Level("day")),
            hierarchies=(Hierarchy("wk", ("iso_year", "week", "day")),),
        ),
    ),
    measures=(Measure("n", column="day", aggregates=("count",)),),
)

ISO_ROWS = [
    (y, f"Y{y}-W{w:02d}", d)
    for y in (1996, 1997)
    for w in (1, 2, 52)
    for d in (1, 5)
]


@pytest.fixture(scope="module")
def iso_engine(spark):
    df = spark.createDataFrame(ISO_ROWS, "iso_year long, week string, day long")
    eng = CubeEngine(Catalog({"fw": ISO_META}))
    eng.register_fact("fw", df)
    return eng


iso_path = st.builds(
    lambda y, w, d, depth: ",".join(
        (str(y), f"Y{y}-W{w:02d}", str(d))[:depth]
    ),
    st.sampled_from([1995, 1996, 1997]),
    st.sampled_from([1, 2, 52, 7]),
    st.sampled_from([1, 5, 9]),
    st.integers(1, 3),
)
iso_year_range = st.builds(
    lambda a, b: f"{min(a, b)}-{max(a, b)}",
    st.sampled_from([1995, 1996, 1997, 1998]),
    st.sampled_from([1995, 1996, 1997, 1998]),
)


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=st.one_of(iso_path, iso_year_range))
@pytest.mark.slow  # r14 slow tier
def test_dash_valued_path_cuts_match_python_semantics(iso_engine, spec):
    """Property: on a hierarchy whose middle level holds dash-bearing
    string values, every generated path cut (any depth — the week
    label's internal dash must never read as a range separator) and
    every first-level numeric range selects exactly the rows the
    documented semantics select."""
    df = iso_engine.aggregate(
        "fw",
        cut=f"date:{spec}",
        drilldown="date:iso_year|date:week|date:day",
        measure="n",
    )
    got = sorted(
        (r["iso_year"], r["week"], r["day"]) for r in df.collect()
    )

    def keep(row):
        y, w, d = row
        if "," in spec or not spec.replace("-", "").isdigit() or "-" not in spec:
            # path semantics: equality down the declared order
            parts = spec.split(",")
            tup = (str(y), w, str(d))
            return tup[: len(parts)] == tuple(p.strip() for p in parts)
        lo, _, hi = spec.partition("-")
        return int(lo) <= y <= int(hi)

    expected = sorted(row for row in ISO_ROWS if keep(row))
    assert got == expected, f"cut={spec!r}"
