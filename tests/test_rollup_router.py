"""The day-grain rollup store (opl_spark/rollup.py) and the bitmap
index (operators/layout.py) — exactness of the re-aggregated answer
against the direct fact aggregation, and the answer plan's scan
source."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opl_spark.rollup import grain_col, lineitem_day_rollup_table, rollup_answer
from opl_spark.sources import load_table


def test_routed_answer_equals_direct_fact_aggregation(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "ship_ts", F.col("l_shipdate").cast("timestamp")
    )
    table = lineitem_day_rollup_table(spark, sf_dir)
    for requested in ("month", "quarter", "year"):
        routed = rollup_answer(
            spark, table, requested, ["l_returnflag"], ["revenue_dec"]
        )
        direct = li.groupBy(
            grain_col(F.col("ship_ts"), requested).alias("bucket"), "l_returnflag"
        ).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias(
                "revenue_dec"
            ),
        )
        key = lambda r: (str(r["bucket"]), r["l_returnflag"])
        got = {key(r): (r["n_rows"], r["revenue_dec"]) for r in routed.collect()}
        want = {key(r): (r["n_rows"], r["revenue_dec"]) for r in direct.collect()}
        assert got == want, requested


def test_routed_plan_scans_rollup_not_fact(spark, sf_dir):
    """The whole point: the routed query's scan reads the summary
    table, not the lineitem fact files."""
    import os

    from opl_spark.plans import formatted_plan

    table = lineitem_day_rollup_table(spark, sf_dir)
    routed = rollup_answer(
        spark, table, "month", ["l_returnflag"], ["revenue_dec"]
    )
    plan = formatted_plan(routed)
    assert table in plan
    assert os.path.join(sf_dir, "lineitem") not in plan


# ---------------------------------------------------------------------------
# bitmap index
# ---------------------------------------------------------------------------


def test_bitmap_and_counts_match_direct_predicate(spark, sf_dir):
    from opl_spark.operators.layout import bitmap_and, bitmap_index

    cust = load_table(spark, sf_dir, "customer")
    seg = bitmap_index(cust, "c_custkey", F.col("c_mktsegment") == "BUILDING")
    nat = bitmap_index(cust, "c_custkey", F.col("c_nationkey") < 10)
    both = bitmap_and(seg, nat)
    got = both.agg(F.sum("n_bits")).collect()[0][0] or 0
    want = cust.filter(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_nationkey") < 10)
    ).count()
    assert got == want and want > 0


def test_bitmap_words_stay_positive(spark):
    """62-bit words: no shift ever reaches the sign bit, so bitmap
    values replay in DuckDB (which raises on BIGINT << 63)."""
    from opl_spark.operators.layout import BITMAP_WORD_BITS, bitmap_index

    assert BITMAP_WORD_BITS == 62
    df = spark.range(200).select(F.col("id"))
    bm = bitmap_index(df, "id", F.lit(True))
    rows = bm.collect()
    assert all(r["bits"] > 0 for r in rows)
    # every id accounted for exactly once
    total = sum(bin(r["bits"]).count("1") for r in rows)
    assert total == 200


def test_rollup_route_query_memoizes_build_per_data_dir(spark, sf_dir):
    """q_rollup_route is a STEADY-STATE routed read: the day-grain
    rollup builds once per data directory (the materialized-view
    refresh cycle), later calls skip straight to the routed scan, and
    switching data directories forces a rebuild instead of serving
    stale partials."""
    import hashlib

    from opl_spark import workload

    q = workload.queries()["q_rollup_route"]
    first = q(spark, sf_dir).collect()
    digest = hashlib.sha1(sf_dir.encode()).hexdigest()[:12]
    table = f"opl_rollup_lineitem_day_{digest}"
    assert spark.catalog.tableExists(table)
    wh = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
    path = spark._jvm.org.apache.hadoop.fs.Path(f"{wh}/{table}")
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    built_at = fs.getFileStatus(path).getModificationTime()
    # same dir: the content-addressed location is reused, never
    # rewritten (a concurrent reader can't observe a half-done swap),
    # result identical (routed read only)
    assert sorted(map(tuple, q(spark, sf_dir).collect())) == sorted(
        map(tuple, first)
    )
    assert fs.getFileStatus(path).getModificationTime() == built_at


def test_bucketed_graph_queries_memoize_build_per_data_dir(spark, sf_dir):
    """The bucketed trade-edge table follows q_rollup_route's
    materialized-view semantics: built once per data directory, shared
    by both bucketed graph queries, rebuilt when the memo points at a
    different directory — never served stale."""
    import hashlib

    from opl_spark import workload

    qs = workload.queries()
    first = qs["q_pagerank_bucketed"](spark, sf_dir).collect()
    digest = hashlib.sha1(sf_dir.encode()).hexdigest()[:12]
    table = f"opl_edges_trade_{digest}"
    assert spark.catalog.tableExists(table)
    wh = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
    path = spark._jvm.org.apache.hadoop.fs.Path(f"{wh}/{table}")
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    built_at = fs.getFileStatus(path).getModificationTime()
    # steady state: same dir reuses the content-addressed table
    # (location never rewritten), result identical; label_prop rides
    # the same materialization
    assert sorted(map(tuple, qs["q_pagerank_bucketed"](spark, sf_dir).collect())) \
        == sorted(map(tuple, first))
    lp = qs["q_label_prop_bucketed"](spark, sf_dir).collect()
    assert lp
    assert fs.getFileStatus(path).getModificationTime() == built_at


@pytest.mark.slow  # r14 slow tier
def test_ivf_centroids_memoize_training_per_data_dir(spark, sf_dir, monkeypatch):
    """The integer-k-means centroid chain follows the same per-data-dir
    memo semantics: ONE training pass (3 Lloyd rounds) serves both
    q_similarity_ivf_kmeans and q_ivf_recall_curve, a repeat call is a
    pure memo read, and a different data-dir key trains fresh instead
    of serving another directory's centroids (r9 verdict task 3)."""
    from opl_spark import workload
    from opl_spark import workload_ext as wx
    from opl_spark.operators import similarity as sim

    calls = []
    real = sim.kmeans_centroids_quantized

    def counting(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(sim, "kmeans_centroids_quantized", counting)
    wx._IVF_CENTROIDS.clear()
    qs = workload.queries()
    ivf = qs["q_similarity_ivf_kmeans"](spark, sf_dir).collect()
    curve = qs["q_ivf_recall_curve"](spark, sf_dir).collect()
    assert ivf and curve
    assert len(calls) == 1  # one training pass, two consumers
    # repeat: still one training pass, identical results
    assert qs["q_ivf_recall_curve"](spark, sf_dir).collect() == curve
    assert len(calls) == 1
    assert (sf_dir, 8, 3) in wx._IVF_CENTROIDS
    # a different data dir keys a FRESH training pass (no stale serve)
    wx._IVF_CENTROIDS[("/some/other/dir", 8, 3)] = [(0, [1])]
    assert wx._ivf_centroids(spark, sf_dir, 8, 3) != [(0, [1])]
    got = wx._ivf_centroids(spark, "/some/other/dir", 8, 3)
    assert got == [(0, [1])]  # per-key isolation: other dir, other state
    del wx._IVF_CENTROIDS[("/some/other/dir", 8, 3)]


def test_cc_labels_memoize_build_per_data_dir(spark, sf_dir):
    """The dedup keep/drop labels follow the materialized-view
    semantics of the other per-data-dir memos, with the r10
    concurrency hardening: the store is content-addressed by sf_dir
    and atomically renamed into place, so the steady state reuses the
    SAME directory (no rewrite a concurrent reader could observe
    half-done), per-dir isolation is structural (different dir →
    different location), and the memoized result stays identical to a
    fresh CC computation."""
    import hashlib

    from opl_spark import workload
    from opl_spark import workload_ext as wx
    from opl_spark.operators.dedup import dedup_clusters, ngram_jaccard_pairs
    from opl_spark.sources import load_table

    qs = workload.queries()
    first = qs["q_dup_cluster_sizes"](spark, sf_dir).collect()
    digest = hashlib.sha1(sf_dir.encode()).hexdigest()[:12]
    wh = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
    loc = f"{wh}/opl_cc_labels_docs/{digest}"
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(loc)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    assert fs.exists(path)
    built_at = fs.getFileStatus(path).getModificationTime()
    # memoized labels == fresh CC labels (bit-identical keep/drop list)
    docs = load_table(spark, sf_dir, "documents")
    fresh = dedup_clusters(
        ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.2)
    )
    assert sorted(map(tuple, wx._cc_labels(spark, sf_dir).collect())) == sorted(
        map(tuple, fresh.collect())
    )
    # steady state: same dir reuses the SAME location, never rewritten
    assert sorted(map(tuple, qs["q_dup_cluster_sizes"](spark, sf_dir).collect())) \
        == sorted(map(tuple, first))
    assert fs.getFileStatus(path).getModificationTime() == built_at
    # no temp litter after a successful build
    base = jvm.org.apache.hadoop.fs.Path(f"{wh}/opl_cc_labels_docs")
    names = [st.getPath().getName() for st in fs.listStatus(base)]
    assert not [n for n in names if n.startswith(".tmp-")]


def test_materialize_parquet_atomic_contract(spark):
    """The atomic memo helper: builds once per token, reuses the
    complete directory on every later call (builder NOT re-invoked),
    isolates tokens structurally, and never leaves temp litter."""
    import hashlib

    from opl_spark.sources.bucketing import materialize_parquet_atomic

    name = "opl_test_atomic_memo"
    wh = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
    jvm = spark._jvm
    base = jvm.org.apache.hadoop.fs.Path(f"{wh}/{name}")
    fs = base.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(base, True)

    calls = []

    def build_a():
        calls.append("a")
        return spark.range(5).selectExpr("id", "id * id AS sq")

    got = materialize_parquet_atomic(spark, name, "token-a", build_a)
    assert sorted(r["sq"] for r in got.collect()) == [0, 1, 4, 9, 16]
    assert calls == ["a"]
    # steady state: reuse, no rebuild
    again = materialize_parquet_atomic(spark, name, "token-a", build_a)
    assert calls == ["a"]
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, got.collect()))
    # a different token builds its own location; the first is untouched
    other = materialize_parquet_atomic(
        spark, name, "token-b",
        lambda: spark.range(2).selectExpr("id", "id + 100 AS sq"),
    )
    assert sorted(r["sq"] for r in other.collect()) == [100, 101]
    assert calls == ["a"]
    # both digests live side by side, no temp litter
    names = sorted(st.getPath().getName() for st in fs.listStatus(base))
    want = sorted(
        hashlib.sha1(t.encode()).hexdigest()[:12] for t in ("token-a", "token-b")
    )
    assert names == want
    fs.delete(base, True)


@pytest.mark.slow  # r14 slow tier
def test_bucketed_table_atomic_survives_two_process_race(tmp_path):
    """Two OS processes build the SAME content-addressed bucketed
    table concurrently against one warehouse; both must read the same
    complete data (the drop+saveAsTable memo this replaced served a
    half-written table in exactly this scenario), and exactly one
    final directory survives."""
    import os
    import subprocess
    import sys

    script = tmp_path / "race_one.py"
    script.write_text(
        "import sys\n"
        f"sys.path.insert(0, {os.getcwd()!r})\n"
        "from opl_spark.session import get_spark\n"
        "from opl_spark.sources.bucketing import bucketed_table_atomic\n"
        "from pyspark.sql import functions as F\n"
        "spark = get_spark(app_name='race-'+sys.argv[1],"
        " shuffle_partitions=4, master='local[2]')\n"
        "def build():\n"
        "    return spark.range(5000).select((F.col('id') % 97)"
        ".alias('src'), (F.col('id') % 13).alias('dst'))\n"
        "t = bucketed_table_atomic(spark, 'opl_race_test', 'tokR',"
        " build, 'src', 8)\n"
        "df = spark.table(t)\n"
        "s = df.agg(F.count(F.lit(1)), F.sum('src'), F.sum('dst'))"
        ".collect()[0]\n"
        "print('RESULT', t, s[0], s[1], s[2], flush=True)\n"
        "spark.stop()\n"
    )
    import glob
    import shutil

    for d in glob.glob("spark-warehouse/opl_race_test_*") + glob.glob(
        "spark-warehouse/.opl_race_test*"
    ):
        shutil.rmtree(d, ignore_errors=True)
    procs = [
        subprocess.Popen(
            [sys.executable, str(script), tag],
            stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT,
            text=True,
        )
        for tag in ("A", "B")
    ]
    outs = [p.communicate(timeout=300)[0] for p in procs]
    assert all(p.returncode == 0 for p in procs), outs
    results = [
        line for out in outs for line in out.splitlines()
        if line.startswith("RESULT")
    ]
    assert len(results) == 2 and results[0].split()[1:] == results[1].split()[1:], (
        results
    )
    finals = glob.glob("spark-warehouse/opl_race_test_*")
    assert len(finals) == 1, finals
    for d in finals + glob.glob("spark-warehouse/.opl_race_test*"):
        shutil.rmtree(d, ignore_errors=True)
