"""Plan-shape probes over registry queries (``plans.inspect.cost_report``)."""


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
