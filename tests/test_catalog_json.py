"""The per-fact JSON metadata contract (<factName>.json; reference
api-library-olap/README.md:90-161) must load through Catalog.from_dir
into the same structures the engine uses natively."""

import json

from opl_spark.catalog import Catalog
from opl_spark.cube import CubeEngine
from opl_spark.facts import LOANS_META, build_loans_fact

ACCESSIONS_JSON = {
    "label": "Accessions",
    "dimensions": [
        {"name": "doc_type", "levels": [{"name": "doc_type"}]},
        {
            "name": "organization_level",
            "levels": [
                {"name": "consortia_id", "attributes": ["consortia_label"]},
                {"name": "library_id"},
            ],
            "hierarchies": [
                {"name": "organization", "order": ["consortia_id", "library_id"]}
            ],
        },
        {
            "name": "date",
            "levels": [{"name": "year"}, {"name": "month"}],
            "hierarchies": [{"name": "calendar", "order": ["year", "month"]}],
        },
    ],
    "measures": [
        {"name": "accessions", "column": "accessions", "aggregates": ["sum", "avg"]},
        {"name": "target", "column": "target", "aggregates": ["sum"]},
    ],
    "mappings": {"accessions": "accessions.accessions"},
}


def test_from_dir_round_trip(tmp_path):
    (tmp_path / "accessions.json").write_text(json.dumps(ACCESSIONS_JSON))
    cat = Catalog.from_dir(str(tmp_path))
    meta = cat.fact("accessions")
    assert meta.dimension("organization_level").hierarchy_order() == (
        "consortia_id",
        "library_id",
    )
    assert meta.dimension("organization_level").level("consortia_id").attributes == (
        "consortia_label",
    )
    assert meta.default_measure.name == "accessions"
    assert meta.measure("target").default_aggregate == "sum"
    assert meta.physical_column("accessions") == "accessions"
    # metadata endpoints serve the loaded fact
    assert cat.fact_tables() == [{"name": "accessions", "label": "Accessions"}]
    assert {d["name"] for d in cat.dimensions("accessions")} == {
        "doc_type",
        "organization_level",
        "date",
    }


def test_json_loaded_fact_drives_the_cube(spark, sf_dir, tmp_path):
    """A fact whose metadata came from JSON must compile cube queries
    identically to the natively-declared metadata."""
    # serialize LOANS_META by hand into the JSON contract
    spec = {
        "label": LOANS_META.label,
        "dimensions": [
            {
                "name": d.name,
                "levels": [
                    {"name": lv.name, "attributes": list(lv.attributes)}
                    for lv in d.levels
                ],
                "hierarchies": [
                    {"name": h.name, "order": list(h.order)} for h in d.hierarchies
                ],
            }
            for d in LOANS_META.dimensions
        ],
        "measures": [
            {"name": m.name, "column": m.physical, "aggregates": list(m.aggregates)}
            for m in LOANS_META.measures
        ],
    }
    (tmp_path / "loans2.json").write_text(json.dumps(spec))
    cat = Catalog.from_dir(str(tmp_path))
    eng_json = CubeEngine(cat)
    df = build_loans_fact(spark, sf_dir)
    eng_json.register_fact("loans2", df)

    from opl_spark.facts import default_catalog

    eng_native = CubeEngine(default_catalog())
    eng_native.register_fact("loans2", df)

    kw = dict(cut="date:1995,3|loan_type:O", drilldown="organization_level", measure="value")
    got = eng_json.aggregate("loans2", **kw).collect()
    want = eng_native.aggregate("loans2", **kw).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want)) and len(got) > 0


def test_shipped_metadata_files_load_to_native_catalog():
    """examples/metadata/<factName>.json — the artifact set an operator
    migrating off the reference carries — must round-trip to exactly
    the natively-declared catalog."""
    import os

    from opl_spark.facts import default_catalog

    here = os.path.join(os.path.dirname(__file__), "..", "examples", "metadata")
    loaded = Catalog.from_dir(here)
    native = default_catalog()
    assert [f["name"] for f in loaded.fact_tables()] == sorted(
        f["name"] for f in native.fact_tables()
    )
    for fact in (f["name"] for f in native.fact_tables()):
        assert loaded.dimensions(fact) == native.dimensions(fact), fact
        assert loaded.measures(fact) == native.measures(fact), fact


def test_cost_report_shapes(spark, sf_dir):
    """cost_report must reproduce the known plan contracts: a map-only
    text op has zero shuffles/broadcasts; the Q5-shaped star join has
    exactly one shuffle exchange (fact⋈fact) and every dimension
    broadcast; scan-byte estimates are positive and scale with the
    table set read."""
    from opl_spark import workload
    from opl_spark.plans.inspect import cost_report

    qs = workload.queries()
    mono = cost_report(qs["q_lang_id"](spark, sf_dir))
    assert mono["n_shuffles"] == 0 and mono["n_broadcasts"] == 0
    assert mono["n_scans"] == 1 and mono["est_scan_bytes"] > 0
    assert mono["n_codegen_stages"] >= 1  # AQE must not blind the probe
    assert mono["scale_flags"] == []
    star = cost_report(qs["q_regional_revenue"](spark, sf_dir))
    assert star["n_shuffles"] == 1          # only orders⋈lineitem
    assert star["n_broadcasts"] >= 4        # region/nation/supplier/customer
    assert star["est_scan_bytes"] > mono["est_scan_bytes"]
    assert star["scale_flags"] == []
