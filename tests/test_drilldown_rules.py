"""Drilldown level-resolution rules (D1-D5, api-library-olap/
README.md:54-79) checked against a direct Python model, plus the cut
grammar's mixed set/range corner cases (SURVEY.md §7.2 stage-5 risk)."""

import pytest

from opl_spark.catalog import Catalog, Dimension, FactMeta, Hierarchy, Level, Measure
from opl_spark.cube import CubeEngine

META = FactMeta(
    name="f",
    dimensions=(
        Dimension(
            name="date",
            levels=(Level("year"), Level("month"), Level("day")),
            hierarchies=(Hierarchy("cal", ("year", "month", "day")),),
        ),
        Dimension(name="lib"),
    ),
    measures=(Measure("value", column="lib"),),
)

ROWS = [
    (y, m, d, lib)
    for y in (2016, 2017)
    for m in (1, 2)
    for d in (1, 2)
    for lib in (1, 2)
]


@pytest.fixture(scope="module")
def engine(spark):
    df = spark.createDataFrame(ROWS, "year long, month long, day long, lib long")
    eng = CubeEngine(Catalog({"f": META}))
    eng.register_fact("f", df)
    return eng


def _group_cols(engine, cut, drilldown):
    df = engine.aggregate("f", cut=cut, drilldown=drilldown, measure="value")
    return [c for c in df.columns if c != "value"]


# (cut, drilldown) → expected group columns per the documented rules
CASES = [
    # D3 — un-cut dimension drills to the TOP hierarchy level
    (None, "date", ["year"]),
    # D1 — cut at year → default drilldown is one level below (month)
    ("date:2016", "date", ["month"]),
    # D1 at depth 2 → day
    ("date:2016,1", "date", ["day"]),
    # D1 clamps at the leaf
    ("date:2016,1,2", "date", ["day"]),
    # D2 — named level below the cut: below-cut down to target inclusive
    ("date:2016", "date:day", ["month", "day"]),
    # D2 with no cut: top down to target
    (None, "date:day", ["year", "month", "day"]),
    # D5 — level at/above the cut selects exactly that level
    ("date:2016,1-2017,2", "date:year|date:month", ["year", "month"]),
    # D4 — multi-dimension drilldown concatenates
    ("date:2016", "date|lib", ["month", "lib"]),
]


@pytest.mark.parametrize("cut,drilldown,expected", CASES)
def test_drilldown_resolution(engine, cut, drilldown, expected):
    assert _group_cols(engine, cut, drilldown) == expected


def test_cut_set_of_ranges(engine):
    """`lib:1-1;2` — a discrete set whose members are themselves
    ranges/equalities must union the member predicates."""
    df = engine.aggregate("f", cut="lib:1-1;2", drilldown="lib", measure="value")
    assert sorted(r["lib"] for r in df.collect()) == [1, 2]


def test_cut_set_with_hierarchy_paths(engine):
    """`date:2016,1;2017,2` — set members may be hierarchy paths; the
    set's depth is the deepest member's."""
    df = engine.aggregate(
        "f", cut="date:2016,1;2017,2", drilldown="date", measure="value"
    )
    # depth 2 ⇒ default drilldown = day (one below the cut)
    assert [c for c in df.columns if c != "value"] == ["day"]
    # both set members contribute to each day group: per day the libs
    # {1, 2} appear once per (y,m) member → sum(lib) = (1+2) × 2 = 6
    rows = {r["day"]: r["value"] for r in df.collect()}
    assert rows == {1: 6, 2: 6}


def test_malformed_cut_raises(engine):
    with pytest.raises(ValueError):
        engine.aggregate("f", cut="date", drilldown="date", measure="value")
    with pytest.raises(ValueError):
        engine.aggregate("f", cut="lib:1;;2", drilldown="lib", measure="value")


def test_unknown_level_raises(engine):
    with pytest.raises(KeyError):
        engine.aggregate("f", drilldown="date:decade", measure="value")


def test_disallowed_aggregate_raises(spark):
    """M5 — per-measure allowed-aggregate contract (api-library-olap/
    README.md:131-149): requesting an aggregate the measure does not
    declare is a client error, never a silent fallback."""
    from opl_spark.facts import LOANS_META

    eng = CubeEngine(Catalog({"loans2": LOANS_META}))
    eng.register_fact(
        "loans2",
        spark.createDataFrame(
            [(1, "a", 1, 2016, 1, 1, "F", "1-URGENT", "AUTO", 10.0)],
            "consortia_id long, consortia_label string, library_id long, "
            "year long, month long, day long, loan_type string, "
            "priority string, segment string, value double",
        ),
    )
    # the 'loans' measure declares count only — avg must be rejected
    with pytest.raises(ValueError, match="does not allow aggregate"):
        eng.aggregate("loans2", drilldown="loan_type", measure="loans", aggregate="avg")
    # and 'value' declares sum/avg — count must be rejected
    with pytest.raises(ValueError, match="does not allow aggregate"):
        eng.aggregate("loans2", drilldown="loan_type", measure="value", aggregate="count")


def test_hierarchy_parameter_selects_order(spark):
    """A dimension may declare several hierarchies; the API receives
    which one to walk (api-library-olap/README.md:112-117) — the chosen
    order changes both cut depth accounting and drilldown resolution."""
    meta = FactMeta(
        name="g",
        dimensions=(
            Dimension(
                name="geo",
                levels=(Level("country"), Level("region_"), Level("city")),
                hierarchies=(
                    Hierarchy("admin", ("country", "region_", "city")),
                    Hierarchy("direct", ("country", "city")),
                ),
            ),
        ),
        measures=(Measure("v", column="pop", aggregates=("sum",)),),
    )
    rows = [("IT", "LOM", "BS", 1), ("IT", "LOM", "MI", 2), ("FR", "IDF", "PA", 3)]
    eng = CubeEngine(Catalog({"g": meta}))
    eng.register_fact(
        "g",
        spark.createDataFrame(
            rows, "country string, region_ string, city string, pop long"
        ),
    )
    # default (first declared) hierarchy: one level below country = region_
    d1 = eng.aggregate("g", cut="geo:IT", drilldown="geo")
    assert [c for c in d1.columns if c != "v"] == ["region_"]
    # the 'direct' hierarchy skips region_: one below country = city
    d2 = eng.aggregate("g", cut="geo:IT", drilldown="geo", hierarchy="geo:direct")
    assert [c for c in d2.columns if c != "v"] == ["city"]
    assert sorted(r["city"] for r in d2.collect()) == ["BS", "MI"]
    # unknown hierarchy name is a client error
    with pytest.raises(KeyError):
        eng.aggregate("g", drilldown="geo", hierarchy="geo:nope")
    # malformed hierarchy term is a client error
    with pytest.raises(ValueError):
        eng.aggregate("g", drilldown="geo", hierarchy="geo")


def test_median_extension_aggregate(spark):
    """``median`` (extension beyond the reference's sum/avg/count) is
    exact interpolated percentile and respects the per-measure
    allowed-aggregate contract."""
    from opl_spark.facts import LOANS_META

    eng = CubeEngine(Catalog({"loans2": LOANS_META}))
    rows = [
        (1, "a", 1, 2016, 1, 1, "F", "1-URGENT", "AUTO", float(v))
        for v in (10, 20, 40, 100)
    ]
    eng.register_fact(
        "loans2",
        spark.createDataFrame(
            rows,
            "consortia_id long, consortia_label string, library_id long, "
            "year long, month long, day long, loan_type string, "
            "priority string, segment string, value double",
        ),
    )
    out = eng.aggregate("loans2", drilldown="loan_type", measure="value", aggregate="median")
    # interpolated median of (10,20,40,100) = 30
    assert [(r["loan_type"], r["value"]) for r in out.collect()] == [("F", 30.0)]
    # 'loans' declares count only — median must be rejected
    with pytest.raises(ValueError, match="does not allow aggregate"):
        eng.aggregate("loans2", drilldown="loan_type", measure="loans", aggregate="median")


def test_approx_median_tracks_exact(spark):
    """The scale path for median: approx_percentile with accuracy 10k
    must land within 1% of the exact interpolated median here."""
    from opl_spark.facts import LOANS_META

    eng = CubeEngine(Catalog({"loans2": LOANS_META}))
    rows = [
        (1, "a", 1, 2016, 1, 1, "F", "1-URGENT", "AUTO", float(v))
        for v in range(1, 1001)
    ]
    eng.register_fact(
        "loans2",
        spark.createDataFrame(
            rows,
            "consortia_id long, consortia_label string, library_id long, "
            "year long, month long, day long, loan_type string, "
            "priority string, segment string, value double",
        ),
    )
    exact = eng.aggregate(
        "loans2", drilldown="loan_type", measure="value", aggregate="median"
    ).first()["value"]
    approx = eng.aggregate(
        "loans2", drilldown="loan_type", measure="value", aggregate="approx_median"
    ).first()["value"]
    assert abs(approx - exact) <= max(1.0, 0.01 * exact)


def test_cube_top_n_per_group_and_global(engine):
    """top_n/top_within: per-group keeps the N best rows of each group
    by the measure (deterministic tiebreak); global top_n plans as
    TakeOrdered, never an unpartitioned window."""
    from opl_spark.plans import formatted_plan

    per = engine.aggregate(
        "f", drilldown="date:month", measure="value", top_n=1, top_within="year"
    )
    rows = per.collect()
    # one winner per year, and it is that year's max month total
    years = [r["year"] for r in rows]
    assert sorted(years) == sorted(set(years))
    full = engine.aggregate("f", drilldown="date:month", measure="value")
    best = {}
    for r in full.collect():
        cur = best.get(r["year"])
        if cur is None or (r["value"], ) > (cur["value"], ):
            best[r["year"]] = r
    for r in rows:
        assert r["value"] == best[r["year"]]["value"]

    glob = engine.aggregate("f", drilldown="date:month", measure="value", top_n=2)
    plan = formatted_plan(glob)
    assert "TakeOrderedAndProject" in plan, plan
    assert glob.count() == 2

    with pytest.raises(KeyError):
        engine.aggregate(
            "f", drilldown="date:month", measure="value",
            top_n=1, top_within="nope",
        )


def test_span_duplication_profile_hand_case(spark):
    from opl_spark.operators.dedup import span_duplication_profile

    df = spark.createDataFrame(
        [
            (1, "a b c d e"),        # spans (n=2): ab bc cd de
            (2, "a b c x y"),        # shares ab bc with doc 1
            (3, "q r s t u"),        # all unique
        ],
        "doc_id long, text string",
    )
    out = {r["doc"]: r for r in
           span_duplication_profile(df, "text", "doc_id", n=2).collect()}
    assert out[1]["n_spans"] == 4 and out[1]["n_dup_spans"] == 2
    assert out[2]["n_spans"] == 4 and out[2]["n_dup_spans"] == 2
    assert out[3]["n_spans"] == 4 and out[3]["n_dup_spans"] == 0
    assert out[1]["dup_frac"] == 0.5 and out[3]["dup_frac"] == 0.0


def test_cube_having_filters_and_rejects_injection(engine):
    full = engine.aggregate("f", drilldown="date", measure="value")
    vals = sorted(r["value"] for r in full.collect())
    cut = vals[len(vals) // 2]
    kept = engine.aggregate(
        "f", drilldown="date", measure="value", having=f"value>={cut}"
    )
    assert {r["value"] for r in kept.collect()} == {v for v in vals if v >= cut}
    # strict grammar: expressions and unknown/group columns refuse
    with pytest.raises(ValueError, match="malformed having"):
        engine.aggregate(
            "f", drilldown="date", measure="value",
            having="value >= 1 OR 1=1",
        )
    with pytest.raises(KeyError, match="not a measure output"):
        engine.aggregate(
            "f", drilldown="date", measure="value", having="year>=1"
        )


def test_share_within_sums_to_one_per_parent(spark, sf_dir):
    """percent-of-parent: children's share columns must sum to 1
    within every parent group (up to the 6-decimal rounding), and the
    grand-total variant must sum to 1 overall."""
    from opl_spark.cube import CubeEngine
    from opl_spark.facts import build_loans_fact, default_catalog
    from pyspark.sql import functions as F

    engine = CubeEngine(default_catalog())
    engine.register_fact("loans2", build_loans_fact(spark, sf_dir))
    out = engine.aggregate(
        "loans2",
        drilldown="organization_level:library_id",
        measure="value",
        share_within="consortia_id",
    )
    sums = (
        out.groupBy("consortia_id")
        .agg(F.sum("value_share").alias("s"))
        .collect()
    )
    assert sums and all(abs(r["s"] - 1.0) < 1e-4 for r in sums)
    total = engine.aggregate(
        "loans2", drilldown="organization_level", measure="value", share=True
    ).agg(F.sum("value_share")).first()[0]
    assert abs(total - 1.0) < 1e-4


def test_share_within_rejects_non_group_column(spark, sf_dir):
    import pytest

    from opl_spark.cube import CubeEngine
    from opl_spark.facts import build_loans_fact, default_catalog

    engine = CubeEngine(default_catalog())
    engine.register_fact("loans2", build_loans_fact(spark, sf_dir))
    with pytest.raises(KeyError):
        engine.aggregate(
            "loans2", drilldown="organization_level", measure="value",
            share_within="nope",
        ).collect()


def test_grand_total_row_honors_having_and_share(spark, sf_dir):
    """With no drilldown, having/share must still apply to the one-row
    grand total instead of being silently dropped."""
    from opl_spark.cube import CubeEngine
    from opl_spark.facts import build_loans_fact, default_catalog

    engine = CubeEngine(default_catalog())
    engine.register_fact("loans2", build_loans_fact(spark, sf_dir))
    shared = engine.aggregate("loans2", measure="value", share=True)
    row = shared.collect()
    assert len(row) == 1 and abs(row[0]["value_share"] - 1.0) < 1e-9
    filtered = engine.aggregate(
        "loans2", measure="value", having="value>=999999999999"
    )
    assert filtered.count() == 0


def test_drill_across_rejects_nonconformed_and_single_fact(spark, sf_dir):
    import pytest

    from opl_spark.cube import CubeEngine
    from opl_spark.facts import (
        build_loans_fact,
        build_patrimonio_fact,
        default_catalog,
    )

    engine = CubeEngine(default_catalog())
    engine.register_fact("loans2", build_loans_fact(spark, sf_dir))
    engine.register_fact("patrimonio", build_patrimonio_fact(spark, sf_dir))
    with pytest.raises(ValueError, match="at least two"):
        engine.drill_across(["loans2"], drilldown="organization_level")
    # patrimonio's consortia_id dim resolves to different group columns
    # than loans2's organization_level hierarchy → conformance error
    with pytest.raises((ValueError, KeyError)):
        engine.drill_across(
            ["loans2", "patrimonio"], drilldown="organization_level"
        )


def test_drill_across_with_cut_resolves_below_the_cut(spark, sf_dir):
    """A cut moves where the drilldown resolves (below-cut rule): with
    ``cut=date:<year>`` a ``date`` drilldown joins the facts on the
    month level, and each fact's measure equals that fact's own
    aggregate over the same request."""
    from opl_spark.cube import CubeEngine
    from opl_spark.facts import (
        build_accessions_fact,
        build_loans_fact,
        default_catalog,
    )

    engine = CubeEngine(default_catalog())
    engine.register_fact("loans2", build_loans_fact(spark, sf_dir))
    engine.register_fact("accessions", build_accessions_fact(spark, sf_dir))
    year = engine.aggregate("loans2", drilldown="date").first()["year"]
    cut = f"date:{year}"
    out = engine.drill_across(
        ["loans2", "accessions"], drilldown="date", cut=cut
    )
    assert out.columns == ["month", "value_loans2", "accessions_accessions"]
    rows = out.collect()
    assert rows
    for fact, col in (("loans2", "value"), ("accessions", "accessions")):
        own = engine.aggregate(fact, cut=cut, drilldown="date").collect()
        assert own
        got = {
            r["month"]: r[f"{col}_{fact}"]
            for r in rows
            if r[f"{col}_{fact}"] is not None
        }
        assert got == {r["month"]: r[col] for r in own}, fact


def test_iso_week_hierarchy_year_boundary(spark):
    """Week as a first-class date level (r10 verdict task 7): the
    iso_week hierarchy cuts/drills on the ISO week-based year, whose
    boundaries deliberately disagree with the calendar year — Dec
    30-31 1996 belong to Y1997-W01 and Dec 29-31 1997 to Y1998-W01.
    A calendar-year cut would be wrong on both ends."""
    from pyspark.sql import functions as F

    from opl_spark.cube import CubeEngine
    from opl_spark.facts import default_catalog
    from opl_spark.timescope import iso_week_year_col, week_label_col

    dates = [
        "1996-12-29",  # Sunday  -> Y1996-W52 (excluded)
        "1996-12-30",  # Monday  -> Y1997-W01 (included: prior cal year)
        "1996-12-31",  # Tuesday -> Y1997-W01 (included)
        "1997-01-01",  # Wed     -> Y1997-W01 (included)
        "1997-12-28",  # Sunday  -> Y1997-W52 (included)
        "1997-12-29",  # Monday  -> Y1998-W01 (excluded: next ISO year)
        "1997-12-31",  # Wed     -> Y1998-W01 (excluded)
        "1998-01-01",  # Thu     -> Y1998-W01 (excluded)
    ]
    d = F.to_date("d")
    fact = spark.createDataFrame([(x,) for x in dates], "d: string").select(
        F.year(d).cast("long").alias("year"),
        F.month(d).cast("long").alias("month"),
        F.dayofmonth(d).cast("long").alias("day"),
        iso_week_year_col(d).cast("long").alias("iso_year"),
        week_label_col(d).alias("week"),
        F.lit(1).cast("long").alias("consortia_id"),
        F.lit("r").alias("consortia_label"),
        F.lit(1).cast("long").alias("library_id"),
        F.lit("O").alias("loan_type"),
        F.lit("1-URGENT").alias("priority"),
        F.lit("BUILDING").alias("segment"),
        F.lit(1).cast("decimal(18,2)").alias("value"),
    )
    eng = CubeEngine(default_catalog())
    eng.register_fact("loans2", fact)

    # D1 on the iso_week hierarchy: cut at iso_year, drill to week
    rows = {
        r["week"]: r["loans"]
        for r in eng.aggregate(
            "loans2",
            cut="date:1997",
            drilldown="date",
            hierarchy="date:iso_week",
            measure="loans",
        ).collect()
    }
    assert rows == {"Y1997-W01": 3, "Y1997-W52": 1}

    # C6 path cut addressing the week LEVEL: the label's internal dash
    # must parse as part of the value, not as a range separator
    out = eng.aggregate(
        "loans2",
        cut="date:1997,Y1997-W01",
        hierarchy="date:iso_week",
        measure="loans",
    ).collect()
    assert len(out) == 1 and out[0]["loans"] == 3

    # iso_year RANGE still parses as a range on the week hierarchy
    # (depth-1 cut, so the default drilldown lands on week)
    out = eng.aggregate(
        "loans2",
        cut="date:1997-1998",
        drilldown="date",
        hierarchy="date:iso_week",
        measure="loans",
    ).collect()
    assert {r["week"]: r["loans"] for r in out} == {
        "Y1997-W01": 3, "Y1997-W52": 1, "Y1998-W01": 3
    }

    # calendar hierarchy is untouched: same cut string, different rows
    cal = eng.aggregate(
        "loans2", cut="date:1997", drilldown="date", measure="loans"
    ).collect()
    assert sum(r["loans"] for r in cal) == 4  # the four 1997 cal dates


def test_dash_value_path_cut_on_three_level_hierarchy(spark):
    """Code-review r11 pin: a dash-containing value in a MIDDLE path
    component (week on an iso_year→week→day walk) must still compile
    as a C6 path — the range probe type-checks both bound tuples
    against the level columns instead of only inspecting the last
    component, so 'date:1997,Y1997-W01,5' is a path, not a crash."""
    from opl_spark.catalog import Catalog, Dimension, FactMeta, Hierarchy, Level, Measure
    from opl_spark.cube import CubeEngine

    meta = FactMeta(
        name="f3",
        dimensions=(
            Dimension(
                name="date",
                levels=(Level("iso_year"), Level("week"), Level("day")),
                hierarchies=(Hierarchy("wk", ("iso_year", "week", "day")),),
            ),
        ),
        measures=(Measure("n", column="day", aggregates=("count",)),),
    )
    rows = [
        (1997, "Y1997-W01", d) for d in (1, 2, 5)
    ] + [(1997, "Y1997-W02", 5), (1998, "Y1998-W01", 5)]
    df = spark.createDataFrame(rows, "iso_year long, week string, day long")
    eng = CubeEngine(Catalog({"f3": meta}))
    eng.register_fact("f3", df)

    out = eng.aggregate("f3", cut="date:1997,Y1997-W01,5", measure="n").collect()
    assert len(out) == 1 and out[0]["n"] == 1
    out = eng.aggregate("f3", cut="date:1997,Y1997-W01", measure="n").collect()
    assert out[0]["n"] == 3
    # numeric tuple ranges on the same hierarchy still parse as ranges
    out = eng.aggregate(
        "f3", cut="date:1997-1998", drilldown="date:iso_year", measure="n"
    ).collect()
    assert {r["iso_year"]: r["n"] for r in out} == {1997: 4, 1998: 1}
