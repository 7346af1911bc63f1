"""Schema evolution on fact-table append (S7; reference
modifyTableStruct OLAP.php:177-199) and fact-table maintenance
(compact, upsert, vacuum, expiry)."""

import pytest
from pyspark.sql import functions as F

from opl_spark.snapshot import FactQuery, SnapshotEngine
from opl_spark.sources import register_sources


@pytest.fixture(scope="module")
def registered(spark, sf_dir):
    register_sources(spark, sf_dir)
    return spark


def test_append_with_new_column_widens_schema(registered, tmp_path):
    """An evolved fact query (extra column) appends legally; rows from
    the old shape read back as NULL in the new column (the ADD COLUMN
    half of the reference's ALTER TABLE dance, free via mergeSchema)."""
    spark = registered
    eng = SnapshotEngine(spark, str(tmp_path))
    v1 = "SELECT r_regionkey AS k, r_name AS name FROM region"
    v2 = "SELECT r_regionkey AS k, r_name AS name, 1 AS extra FROM region"
    eng.run("1998-06-01", [FactQuery(1, "f_evolve", v1)])
    eng.run("1998-06-02", [FactQuery(1, "f_evolve", v2)])
    df = eng.fact_frame("f_evolve")
    assert "extra" in df.columns
    old = df.filter(F.col("day") == 152)  # 1998-06-01 day-of-year
    new = df.filter(F.col("day") == 153)
    assert old.count() == new.count() == 5
    assert old.filter(F.col("extra").isNull()).count() == 5
    assert new.filter(F.col("extra") == 1).count() == 5


def test_append_with_type_change_is_rejected(registered, tmp_path):
    """Type NARROWING/conflict is an error, not a silent degradation —
    the deliberate divergence from the reference, which truncates
    decimals to ints (OLAP.php:51-58; SURVEY.md §1.2)."""
    spark = registered
    eng = SnapshotEngine(spark, str(tmp_path))
    eng.run("1998-06-01", [FactQuery(1, "f_conflict", "SELECT r_regionkey AS k FROM region")])
    eng.run(
        "1998-06-02",
        [FactQuery(1, "f_conflict", "SELECT r_name AS k FROM region")],
    )
    with pytest.raises(Exception, match="(?i)merge|incompatible|failed"):
        eng.fact_frame("f_conflict").collect()


def test_compact_bounds_files_and_preserves_rows(registered, tmp_path):
    """Repeated snapshot runs accumulate files; compaction must reduce
    to one file per (year, month) directory with identical data."""
    import glob

    spark = registered
    eng = SnapshotEngine(spark, str(tmp_path))
    q = "SELECT r_regionkey AS k, r_name AS name FROM region"
    for d in ("1998-06-01", "1998-06-02", "1998-06-03"):
        eng.run(d, [FactQuery(1, "f_compact", q)])
    path = str(tmp_path / "f_compact")
    before = glob.glob(f"{path}/year=*/month=*/*.parquet")
    rows_before = sorted(map(tuple, eng.fact_frame("f_compact").collect()))
    assert len(before) >= 3  # one file batch per run

    eng.compact("f_compact")
    after = glob.glob(f"{path}/year=*/month=*/*.parquet")
    assert len(after) == 1  # single (1998, 6) partition, single file
    assert sorted(map(tuple, eng.fact_frame("f_compact").collect())) == rows_before


def test_attach_audit_rejects_colliding_columns(spark):
    """A fact query that emits its own year/month/... columns would bind
    ambiguously against the audit scope columns — the engine must fail
    loudly, not write an ambiguous table."""
    from opl_spark.snapshot import attach_audit
    from opl_spark.timescope import make_scope

    df = spark.range(1).selectExpr("id", "2020 AS year")
    with pytest.raises(ValueError, match="audit columns"):
        attach_audit(df, 1, make_scope("2020-01-01"))


def test_upsert_replaces_matched_keys_and_appends_new(registered, tmp_path):
    """SCD1 merge: incoming rows replace every row of the keys they
    mention, untouched keys survive byte-identical, new keys append —
    and re-running the same upsert is a no-op restatement."""
    spark = registered
    eng = SnapshotEngine(spark, str(tmp_path))
    base = spark.createDataFrame(
        [(1, "a", 10.0, 1998, 6), (2, "b", 20.0, 1998, 6), (3, "c", 30.0, 1998, 7)],
        "k long, name string, v double, year int, month int",
    )
    eng.write(base, "f_upsert")
    patch = spark.createDataFrame(
        [(2, "b2", 21.0, 1998, 6), (4, "d", 40.0, 1998, 7)],
        "k long, name string, v double, year int, month int",
    )
    stats = eng.upsert(patch, "f_upsert", ["k"])
    assert stats == {"replaced": 1, "inserted": 2, "kept": 2}
    got = {r["k"]: (r["name"], r["v"]) for r in eng.fact_frame("f_upsert").collect()}
    assert got == {1: ("a", 10.0), 2: ("b2", 21.0), 3: ("c", 30.0), 4: ("d", 40.0)}
    # idempotent restatement: same patch again changes nothing
    stats2 = eng.upsert(patch, "f_upsert", ["k"])
    assert stats2 == {"replaced": 2, "inserted": 2, "kept": 2}
    got2 = {r["k"]: (r["name"], r["v"]) for r in eng.fact_frame("f_upsert").collect()}
    assert got2 == got


def test_upsert_evolves_schema_and_handles_multirow_keys(registered, tmp_path):
    """A key may own several rows (fact grain below the merge key):
    the incoming batch is the FULL new version of its keys — old rows
    of a mentioned key all drop.  New columns in the patch null-fill
    the kept side (same mergeSchema contract as append)."""
    spark = registered
    eng = SnapshotEngine(spark, str(tmp_path))
    base = spark.createDataFrame(
        [(1, 10.0, 1998, 6), (1, 11.0, 1998, 6), (2, 20.0, 1998, 6)],
        "k long, v double, year int, month int",
    )
    eng.write(base, "f_multi")
    patch = spark.createDataFrame(
        [(1, 12.0, "x", 1998, 6)],
        "k long, v double, extra string, year int, month int",
    )
    stats = eng.upsert(patch, "f_multi", ["k"])
    assert stats == {"replaced": 2, "inserted": 1, "kept": 1}
    rows = sorted(
        (r["k"], r["v"], r["extra"]) for r in eng.fact_frame("f_multi").collect()
    )
    assert rows == [(1, 12.0, "x"), (2, 20.0, None)]


def test_vacuum_removes_stale_staging_but_keeps_crash_backup(registered, tmp_path):
    """vacuum must delete leftover __compacting/__upserting staging and
    a completed-swap __old backup, but preserve an __old whose live
    table is MISSING (the mid-swap crash state an operator recovers by
    renaming back)."""
    import os

    spark = registered
    eng = SnapshotEngine(spark, str(tmp_path))
    base = spark.createDataFrame(
        [(1, 10.0, 1998, 6)], "k long, v double, year int, month int"
    )
    eng.write(base, "f_live")
    # completed swap: live exists + stale backup and staging dirs
    base.write.parquet(os.path.join(str(tmp_path), "f_live__old"))
    base.write.parquet(os.path.join(str(tmp_path), "f_live__compacting"))
    base.write.parquet(os.path.join(str(tmp_path), "f_live__upserting"))
    # mid-swap crash: __old without a live table
    base.write.parquet(os.path.join(str(tmp_path), "f_crashed__old"))
    removed = sorted(eng.vacuum())
    assert removed == ["f_live__compacting", "f_live__old", "f_live__upserting"]
    assert os.path.isdir(os.path.join(str(tmp_path), "f_crashed__old"))
    assert eng.fact_frame("f_live").count() == 1
    # idempotent: second vacuum finds nothing
    assert eng.vacuum() == []


def test_table_stats_reports_partition_files_and_bytes(registered, tmp_path):
    from opl_spark.snapshot import table_stats

    spark = registered
    eng = SnapshotEngine(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(1, 1998, 6), (2, 1998, 6), (3, 1998, 7)],
        "k long, year int, month int",
    )
    eng.write(df, "f_stats")
    eng.write(df.filter("month = 6"), "f_stats")  # second file batch in 06
    stats = {s["partition"]: s for s in table_stats(eng, "f_stats")}
    assert set(stats) == {"year=1998/month=6", "year=1998/month=7"}
    assert stats["year=1998/month=6"]["n_files"] > stats["year=1998/month=7"]["n_files"]
    assert all(s["bytes"] > 0 for s in stats.values())
    eng.compact("f_stats")
    after = {s["partition"]: s for s in table_stats(eng, "f_stats")}
    assert all(s["n_files"] == 1 for s in after.values())


def test_compact_cluster_by_sorts_row_groups(registered, tmp_path):
    """compact(cluster_by=[k]) must preserve data exactly AND leave
    each rewritten file internally sorted on k, so parquet row-group
    min/max stats can prune point reads — checked from the file
    footers, not the plan."""
    import glob

    import pyarrow.parquet as pq

    spark = registered
    eng = SnapshotEngine(spark, str(tmp_path))
    q = ("SELECT CAST(l_orderkey AS BIGINT) AS k, l_linenumber AS v "
         "FROM lineitem WHERE l_orderkey <= 2000")
    for d in ("1998-06-01", "1998-06-02"):
        eng.run(d, [FactQuery(1, "f_cluster", q)])
    rows_before = sorted(map(tuple, eng.fact_frame("f_cluster").collect()))

    eng.compact("f_cluster", cluster_by=["k"])
    rows_after = sorted(map(tuple, eng.fact_frame("f_cluster").collect()))
    assert rows_after == rows_before
    files = glob.glob(str(tmp_path / "f_cluster" / "year=*" / "month=*" / "*.parquet"))
    assert files
    for f in files:
        ks = pq.read_table(f, columns=["k"]).column("k").to_pylist()
        assert ks == sorted(ks), f


def test_compact_zorder_quantizes_high_cardinality_keys(registered, tmp_path):
    """compact(zorder=True) on two HIGH-CARDINALITY columns must (1)
    preserve data exactly, (2) not leak the __zq_* scaffolding
    columns, and (3) actually cluster: each rewritten file's k-range
    (from parquet footers) must span well under the full domain —
    the low-8-bits Morton key this replaces left every file spanning
    ~the whole domain (zero min/max pruning)."""
    import glob

    import pyarrow.parquet as pq

    spark = registered
    eng = SnapshotEngine(spark, str(tmp_path))
    q = ("SELECT CAST(l_orderkey AS BIGINT) AS k, "
         "CAST(l_partkey AS BIGINT) AS p, l_linenumber AS v "
         "FROM lineitem")
    eng.run("1998-06-01", [FactQuery(1, "f_zq", q)])
    rows_before = sorted(map(tuple, eng.fact_frame("f_zq").collect()))

    # test-scale data is small enough for AQE to coalesce the salted
    # 8-way repartition into one task (fine operationally — the salt
    # is an upper bound); pin it off so the span check sees >1 file
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prior = spark.conf.get(coalesce_key, "true")
    spark.conf.set(coalesce_key, "false")
    try:
        eng.compact("f_zq", target_files_per_partition=8,
                    cluster_by=["k", "p"], zorder=True)
    finally:
        spark.conf.set(coalesce_key, prior)
    after = eng.fact_frame("f_zq")
    assert not [c for c in after.columns if c.startswith("__zq")]
    assert sorted(map(tuple, after.collect())) == rows_before
    files = glob.glob(str(tmp_path / "f_zq" / "year=*" / "month=*" / "*.parquet"))
    assert len(files) > 1
    per_file = []
    for f in files:
        ks = pq.read_table(f, columns=["k"]).column("k").to_pylist()
        per_file.append((min(ks), max(ks)))
    lo = min(mn for mn, _ in per_file)
    hi = max(mx for _, mx in per_file)
    spans = [(mx - mn) / max(1, hi - lo) for mn, mx in per_file]
    # average per-file k-span must be a strict subset of the domain;
    # an unquantized Morton key on raw order keys leaves this ≈ 1.0
    assert sum(spans) / len(spans) < 0.7, spans


def test_upsert_patch_derived_from_target(registered, tmp_path):
    """Read-modify-write: an upsert whose patch DataFrame lazily
    derives from the target table itself must not re-read the table's
    files after the swap (the counts the call returns forced exactly
    that before the fix)."""
    spark = registered
    eng = SnapshotEngine(spark, str(tmp_path))
    q = "SELECT r_regionkey AS k, r_name AS name FROM region"
    eng.run("1998-06-01", [FactQuery(1, "f_rmw", q)])
    patch = (
        eng.fact_frame("f_rmw")
        .filter(F.col("k") == 0)
        .withColumn("name", F.upper(F.col("name")))
    )
    res = eng.upsert(patch, "f_rmw", ["k"])
    assert res["replaced"] == 1 and res["inserted"] == 1
    got = {r["k"]: r["name"] for r in eng.fact_frame("f_rmw").collect()}
    assert got[0] == got[0].upper()


def test_strict_type_parity_mode_degrades_like_reference(registered, tmp_path):
    """The opt-in migration mode (r10 verdict 'missing' item 2):
    strict_type_parity replays the reference's type degradation
    (OLAP.php:51-58) — NEWDECIMAL → INT(21) with MySQL's
    round-half-away-from-zero, VAR_STRING → VARCHAR(50) truncation —
    while the DEFAULT engine keeps full precision."""
    spark = registered
    sql = (
        "SELECT CAST(2.5 AS DECIMAL(18,2)) AS pos_half, "
        "CAST(-2.5 AS DECIMAL(18,2)) AS neg_half, "
        "CAST(2.4 AS DECIMAL(18,2)) AS below, "
        "CAST(9999999999.4 AS DECIMAL(18,1)) AS big, "
        "CAST(-9999999999 AS DECIMAL(18,0)) AS neg_big, "
        "CAST(NULL AS DECIMAL(18,2)) AS null_dec, "
        "repeat('x', 60) AS longstr, "
        "CAST(7 AS BIGINT) AS keep_long "
        "FROM region LIMIT 1"
    )
    strict = SnapshotEngine(spark, str(tmp_path / "strict"), strict_type_parity=True)
    strict.run("1998-06-01", [FactQuery(1, "f_parity", sql)])
    row = strict.fact_frame("f_parity").collect()[0]
    assert (row["pos_half"], row["neg_half"], row["below"]) == (3, -3, 2)
    # MySQL INT saturation (non-strict clamp at ±2^31; ADVICE r12) —
    # and NULL must stay NULL, not become a clamp bound
    assert (row["big"], row["neg_big"]) == (2147483647, -2147483648)
    assert row["null_dec"] is None
    assert len(row["longstr"]) == 50
    assert row["keep_long"] == 7
    types = dict(strict.fact_frame("f_parity").dtypes)
    assert types["pos_half"] == "bigint" and types["longstr"] == "string"

    # default mode: precision preserved (the deliberate divergence)
    default = SnapshotEngine(spark, str(tmp_path / "default"))
    default.run("1998-06-01", [FactQuery(1, "f_parity", sql)])
    row = default.fact_frame("f_parity").collect()[0]
    assert float(row["pos_half"]) == 2.5 and len(row["longstr"]) == 60
    assert dict(default.fact_frame("f_parity").dtypes)["pos_half"].startswith(
        "decimal"
    )
