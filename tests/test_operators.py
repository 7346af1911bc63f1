"""Operator-level invariants for the extension operators (dedup,
similarity, multimodal) — properties the DuckDB oracle can't express."""

import pytest
from pyspark.sql import functions as F

from opl_spark.operators.dedup import (
    exact_dedup,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    shingles_col,
    simhash,
    simhash_candidates,
)
from opl_spark.operators.multimodal import (
    decode_images,
    frame_sample,
    media_metadata,
    with_media_column,
)
from opl_spark.operators.similarity import (
    cosine_topk,
    ivf_assign,
    ivf_topk,
    seed_centroids,
)
from opl_spark.sources import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def test_exact_dedup_partitions_corpus(docs):
    """Dedup groups partition the corpus: group sizes sum to row count."""
    total = docs.count()
    groups = exact_dedup(docs, ["text"], "doc_id")
    assert groups.agg(F.sum("copies")).first()[0] == total
    # keeper is a real doc_id
    assert groups.join(docs, groups.keeper == docs.doc_id, "left_anti").count() == 0


def test_shingles_short_text(spark):
    """Texts shorter than n words still produce one (degenerate) shingle."""
    df = spark.createDataFrame([(1, "only two")], "id long, text string")
    row = df.select(shingles_col(F.col("text"), 3).alias("sh")).first()
    assert row["sh"] == ["only two"]


def test_minhash_finds_exact_jaccard_pairs(spark, docs):
    """LSH+verify output must contain every high-jaccard pair (recall on
    clearly-similar docs) and no pair below threshold (the verify join
    makes precision exact)."""
    sub = docs.filter(F.col("source") == "src0")
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(sub, "text", "doc_id", 3, 0.2).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_dedup_pairs(sub, "text", "doc_id", threshold=0.2).collect()
    }
    for pair, j in lsh.items():
        assert j >= 0.2
        assert pair in exact  # exact-verified → subset of true pairs
    # recall: strongly-similar pairs (j >= 0.5) must survive banding
    for pair, j in exact.items():
        if j >= 0.5:
            assert pair in lsh


@pytest.mark.slow  # r14 slow tier
def test_lsh_bucket_cap_is_subset_with_full_recall(spark, docs):
    """The hot-bucket guard (max_bucket) must only ever REMOVE candidate
    pairs (capped ⊆ uncapped), and at a realistic cap the known
    near-dup pairs of the test corpus all survive (recall 1.0) —
    near-dups agree on many bands, boilerplate buckets on few."""
    from opl_spark.operators.dedup import minhash_lsh_candidates, minhash_signatures

    sigs = minhash_signatures(docs, "text", "doc_id").localCheckpoint()
    uncapped = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(sigs, max_bucket=None).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(sigs, max_bucket=50).collect()
    }
    assert capped <= uncapped
    # recall on the corpus's true near-dup pairs stays 1.0 at cap 50
    # (the exact verify keeps every true pair it is given)
    truth = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, "text", "doc_id", 3, 0.5).collect()
    }
    assert truth, "test corpus lost its planted near-dup pairs"
    assert truth <= capped
    # a degenerate cap (1) empties every bucket -> no candidates at all
    assert minhash_lsh_candidates(sigs, max_bucket=1).count() == 0


@pytest.mark.slow  # r14 slow tier
def test_minhash_band_skip_same_pair_set(spark, docs):
    """The all-bands-agree verify skip (band_skip=True) must emit the
    SAME thresholded pair set as the full exact verify — the skip only
    bypasses the intersect for pairs whose 64 signature values all
    agree (estimated Jaccard exactly 1.0), and partial-agreement pairs
    keep their exact scores bit-identical."""
    full = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_dedup_pairs(
            docs, "text", "doc_id", threshold=0.2
        ).collect()
    }
    skip = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_dedup_pairs(
            docs, "text", "doc_id", threshold=0.2, band_skip=True
        ).collect()
    }
    assert set(skip) == set(full)
    assert full, "test corpus lost its planted near-dup pairs"
    for pair, j in skip.items():
        if j == 1.0:
            assert full[pair] >= 0.2  # skipped: estimate stands in
        else:
            assert j == full[pair]  # verified: exact score unchanged
    # portable mode (the q_minhash_keep_best configuration) too
    pfull = {
        (r.id_a, r.id_b)
        for r in minhash_dedup_pairs(
            docs, "text", "doc_id", threshold=0.2, portable=True
        ).collect()
    }
    pskip = {
        (r.id_a, r.id_b)
        for r in minhash_dedup_pairs(
            docs, "text", "doc_id", threshold=0.2, portable=True,
            band_skip=True,
        ).collect()
    }
    assert pskip == pfull


def test_lsh_banding_advise_recall_on_planted_dups(spark, docs):
    """The banding advisor's recommendation must MEET its stated
    recall target on the planted-dup corpus: band the signatures with
    the advised (bands × rows) and check the true >=threshold pairs
    survive candidate banding (the exact verify keeps every true pair
    it is given)."""
    from opl_spark.operators.dedup import (
        lsh_banding_advise,
        minhash_lsh_candidates,
        minhash_signatures,
    )

    table = lsh_banding_advise(0.5, 64, target_recall=0.9)
    pick = table[0]
    assert pick["recommended"] and pick["recall_at_threshold"] >= 0.9
    assert pick["bands"] * pick["rows_per_band"] == 64
    # exactly one recommendation; rest sorted by descending recall
    assert sum(r["recommended"] for r in table) == 1
    tail = [r["recall_at_threshold"] for r in table if not r["recommended"]]
    assert tail == sorted(tail, reverse=True)

    truth = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, "text", "doc_id", 3, 0.5).collect()
    }
    assert truth, "test corpus lost its planted near-dup pairs"
    sigs = minhash_signatures(docs, "text", "doc_id", 64)
    advised = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(
            sigs, pick["bands"], pick["rows_per_band"]
        ).collect()
    }
    # the advisor promised >=0.9 recall AT the threshold; planted
    # pairs sit at or above it, so the measured recall must clear it
    found = sum(1 for p in truth if p in advised)
    assert found / len(truth) >= 0.9, (found, len(truth), pick)
    # and the default 16x4 banding is what the advisor picks for a
    # high-threshold pipeline (its design point)
    assert lsh_banding_advise(0.8, 64)[0]["bands"] == 16


def test_srp_banding_advise_maps_cosine_to_bit_agreement(spark):
    """SRP advisor: cosine threshold maps through 1 - theta/pi before
    the S-curve (cos 0.8 -> ~0.795 bit agreement, NOT 0.8), the
    budget factorizes exactly, and tightening the target never
    DECREASES the recommended recall."""
    import math

    from opl_spark.operators.similarity import (
        srp_agreement_prob,
        srp_banding_advise,
    )

    assert abs(
        srp_agreement_prob(0.8) - (1 - math.acos(0.8) / math.pi)
    ) < 1e-12
    table = srp_banding_advise(0.8, 24)
    pick = table[0]
    assert pick["recommended"]
    assert pick["bands"] * pick["rows_per_band"] == 24
    assert pick["bit_agreement_at_threshold"] < 0.8  # mapped, not raw
    loose = srp_banding_advise(0.8, 24, target_recall=0.5)[0]
    tight = srp_banding_advise(0.8, 24, target_recall=0.95)[0]
    assert tight["recall_at_threshold"] >= loose["recall_at_threshold"] - 1e-12


def test_minhash_bucket_stats_matches_pair_expansion(spark, docs):
    """minhash_bucket_stats' est_candidate_pairs must equal the EXACT
    per-band pair fan-out bucket_pairs would expand (unsampled,
    uncapped): sum k*(k-1)/2 over each band's bucket sizes."""
    from opl_spark.operators.dedup import (
        minhash_bucket_stats,
        minhash_signatures,
    )

    sigs = minhash_signatures(docs, "text", "doc_id").localCheckpoint()
    stats = {r["band"]: r for r in minhash_bucket_stats(sigs, 16, 4).collect()}
    assert set(stats) == set(range(16))
    total_est = sum(r["est_candidate_pairs"] for r in stats.values())
    # reference: expand candidates per band WITHOUT the cap or the
    # cross-band distinct — one row per (band, unordered pair)
    from opl_spark.operators.dedup import minhash_lsh_candidates

    per_band_pairs = minhash_lsh_candidates(
        sigs, 16, 4, max_bucket=None
    )  # distinct across bands — lower bound only
    assert total_est >= per_band_pairs.count()
    # exact check on one band via a manual bucket build
    sizes = (
        sigs.selectExpr(
            "xxhash64(concat_ws(',', cast(element_at(sig, 1) as string),"
            " cast(element_at(sig, 2) as string),"
            " cast(element_at(sig, 3) as string),"
            " cast(element_at(sig, 4) as string))) as k0"
        )
        .groupBy("k0").count().collect()
    )
    expect0 = sum(r["count"] * (r["count"] - 1) // 2 for r in sizes)
    assert stats[0]["est_candidate_pairs"] == float(expect0)


def test_source_overlap_triangle_and_cap(spark, docs):
    """Identical sources have jaccard 1; the triangle holds one row per
    unordered pair."""
    from opl_spark.operators.dedup import source_overlap

    full = {(r.src_a, r.src_b): r for r in
            source_overlap(docs, "text", "source").collect()}
    srcs = {r["source"] for r in docs.select("source").distinct().collect()}
    # one row max per unordered pair, a < b
    assert all(a < b for a, b in full)
    assert len(full) <= len(srcs) * (len(srcs) - 1) // 2
    for r in full.values():
        assert 0 < r.inter <= r.union_sh
        assert 0 < r.jaccard <= 1
    # a duplicated source is a perfect mirror of itself
    two = docs.selectExpr("text", "'x' AS source").union(
        docs.selectExpr("text", "'y' AS source")
    )
    row = source_overlap(two, "text", "source").first()
    assert (row.src_a, row.src_b, row.jaccard) == ("x", "y", 1.0)


def test_simhash_deterministic_and_dup_invariant(spark):
    df = spark.createDataFrame(
        [(1, "spark window join filter"), (2, "spark window join filter"), (3, "zzz qqq")],
        "doc_id long, text string",
    )
    sims = {r.doc: r.simhash for r in simhash(df, "text", "doc_id").collect()}
    assert sims[1] == sims[2]  # identical docs → identical fingerprints
    assert sims[1] != sims[3]
    cands = simhash_candidates(
        simhash(df, "text", "doc_id")
    ).collect()
    pairs = {(r.id_a, r.id_b): r.hamming for r in cands}
    assert pairs.get((1, 2)) == 0


def test_cosine_topk_self_first(emb):
    """The probe vector itself must rank first with sim 1.0."""
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    top = cosine_topk(emb, "embedding", "vec_id", q, k=5).collect()
    assert top[0].id == 0 and abs(top[0].sim - 1.0) < 1e-9
    sims = [r.sim for r in top]
    assert sims == sorted(sims, reverse=True)


def test_ivf_assign_covers_all_and_topk_subset_of_brute(emb):
    cents = seed_centroids(emb, "embedding", "vec_id", 8)
    assigned = ivf_assign(emb, "embedding", cents)
    assert assigned.filter(F.col("cell").isNull()).count() == 0
    assert assigned.select("cell").distinct().count() <= 8

    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    brute = {r.id for r in cosine_topk(emb, "embedding", "vec_id", q, k=50).collect()}
    approx = ivf_topk(emb, "embedding", "vec_id", q, k=10, ncells=8, nprobe=8)
    # nprobe = ncells → scans everything → must agree with brute force
    assert {r.id for r in approx.collect()} <= brute


def test_multimodal_plumbing(docs):
    media = with_media_column(docs.limit(20), "text", "doc_id")
    meta = media_metadata(media)
    rows = meta.collect()
    assert len(rows) == 20
    assert all(r.byte_len > 0 and len(r.content_md5) == 32 for r in rows)

    decoded = decode_images(media, codec="fake").collect()
    assert len(decoded) == 20
    for r in decoded:
        assert 1 <= r.width <= 64 and 1 <= r.height <= 48
        assert len(r.feature) == 8

    frames = frame_sample(media, every_n_bytes=100)
    fr = frames.groupBy("media_id").count().collect()
    assert all(r["count"] >= 1 for r in fr)


def test_multimodal_real_codec_gates_on_pillow(docs):
    """Without Pillow the real codec must refuse loudly (no silent
    fake); with Pillow installed the decode test below covers it."""
    try:
        import PIL  # noqa: F401

        pytest.skip("Pillow installed — covered by the decode test")
    except ImportError:
        pass
    media = with_media_column(docs.limit(1), "text", "doc_id")
    with pytest.raises(NotImplementedError, match="Pillow"):
        decode_images(media, codec="real")


def test_multimodal_real_codec_decodes_png(spark):
    """codec='real' through the SAME mapInPandas plan: generated PNGs
    round-trip with true header dimensions and a channel-stat feature.
    Runs wherever Pillow is installed; skips (not fakes) elsewhere."""
    import io

    PIL = pytest.importorskip("PIL")
    from PIL import Image

    payloads = []
    for i, (w, h, color) in enumerate(
        [(7, 5, (255, 0, 0)), (16, 9, (0, 0, 255)), (3, 11, (0, 0, 0))]
    ):
        buf = io.BytesIO()
        Image.new("RGB", (w, h), color).save(buf, format="PNG")
        payloads.append((i, buf.getvalue()))
    df = spark.createDataFrame(payloads, "media_id long, media_bytes binary")
    media = df.select(
        F.struct(
            F.col("media_bytes"),
            F.lit("image/png").alias("mime"),
            F.col("media_id"),
        ).alias("media")
    )
    out = {r["media_id"]: r for r in decode_images(media, codec="real").collect()}
    assert (out[0]["width"], out[0]["height"]) == (7, 5)
    assert (out[1]["width"], out[1]["height"]) == (16, 9)
    assert (out[2]["width"], out[2]["height"]) == (3, 11)
    for r in out.values():
        assert len(r["feature"]) == 8
    # solid red: R mean 1, G/B mean 0, alpha 1, zero variance
    assert out[0]["feature"][:4] == [1.0, 0.0, 0.0, 1.0]
    assert out[0]["feature"][4:] == [0.0, 0.0, 0.0, 0.0]
    # solid blue: B channel saturated instead
    assert out[1]["feature"][:4] == [0.0, 0.0, 1.0, 1.0]


def test_approx_distinct_error_bound(spark, sf_dir):
    """The HLL sketch tier must land within its documented relative
    standard deviation of the exact distinct count (default rsd 0.05;
    assert a generous 3-sigma-ish bound)."""
    ev = load_table(spark, sf_dir, "events")
    approx = {
        r["event_type"]: r["approx_users"]
        for r in ev.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id").alias("approx_users"))
        .collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    # same envelope q_approx_distinct folds into its driver row hash
    for et, n in exact.items():
        assert abs(approx[et] - n) <= max(4.0, 3 * 0.05 * n), (et, approx[et], n)
    for etype, n in exact.items():
        assert abs(approx[etype] - n) <= max(2, 0.15 * n), (etype, approx[etype], n)


def test_export_jsonl_roundtrip(spark, sf_dir, tmp_path):
    """Sharded JSON-lines corpus export must round-trip (rows and
    values) and honor the requested shard count."""
    import glob

    from opl_spark.operators.text import export_jsonl

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    path = str(tmp_path / "corpus_jsonl")
    export_jsonl(docs, path, shards=4)
    files = glob.glob(f"{path}/part-*")
    assert len(files) == 4
    back = spark.read.json(path).select("doc_id", "text", "source")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, docs.collect()))


def test_kmeans_ivf_recall(spark, sf_dir):
    """IVF probing must recall most of the true brute-force top-10 with
    nprobe=2 of 8 cells, and the k-means centroids must be
    deterministic across runs (pure function of the data)."""
    from opl_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        kmeans_centroids,
    )

    emb_df = load_table(spark, sf_dir, "embeddings")
    query = [float(x) for x in emb_df.filter(F.col("vec_id") == 0).first()["embedding"]]
    cents1 = kmeans_centroids(emb_df, "embedding", "vec_id", k=8, iters=3)
    cents2 = kmeans_centroids(emb_df, "embedding", "vec_id", k=8, iters=3)
    assert cents1 == cents2  # deterministic
    truth = {r["id"] for r in cosine_topk(emb_df, "embedding", "vec_id", query, 10).collect()}
    approx = {
        r["id"]
        for r in ivf_topk(emb_df, "embedding", "vec_id", query, k=10, nprobe=2).collect()
    }
    assert len(truth & approx) / len(truth) >= 0.5, (truth, approx)


@pytest.mark.slow  # r14 slow tier
def test_quantized_kmeans_ivf_matches_float_lloyd_cells(spark, sf_dir):
    """The integer (oracle-replayable) k-means must behave like the
    float Lloyd loop it mirrors: recall ≥ 0.5 of the brute-force
    top-10 at nprobe=2/8, and its integer centroids must sit within
    one quantization step + rounding of the float centroids' grid
    (same seeds, same iteration count — only the arithmetic differs)."""
    from opl_spark.operators.similarity import (
        cosine_topk,
        ivf_topk_quantized,
        kmeans_centroids,
        kmeans_centroids_quantized,
    )

    emb_df = load_table(spark, sf_dir, "embeddings")
    query = [float(x) for x in emb_df.filter(F.col("vec_id") == 0).first()["embedding"]]
    truth = {r["id"] for r in cosine_topk(emb_df, "embedding", "vec_id", query, 10).collect()}
    approx = {
        r["id"]
        for r in ivf_topk_quantized(
            emb_df, "embedding", "vec_id", query, k=10, ncells=8, nprobe=2, iters=3
        ).collect()
    }
    assert len(truth & approx) / len(truth) >= 0.5, (truth, approx)
    fq = kmeans_centroids_quantized(emb_df, "embedding", "vec_id", k=8, iters=3)
    fl = kmeans_centroids(emb_df, "embedding", "vec_id", k=8, iters=3)
    drift = max(
        abs(qi - fi * 1000.0)
        for (_, qvec), (_, fvec) in zip(fq, fl)
        for qi, fi in zip(qvec, fvec)
    )
    # quantization + per-iteration rounding accumulates a few grid
    # steps at most when both runs keep the same cell memberships
    assert drift <= 25.0, drift


def test_audio_frame_energy_matches_numpy_reference(spark, sf_dir):
    """The framed short-time energy must equal a direct numpy
    computation over the same payload bytes (same framing, same
    centering, same rounding) — pins the stride arithmetic inside the
    Arrow batch."""
    import numpy as np

    from opl_spark.operators.multimodal import audio_frame_energy, with_media_column
    from opl_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").filter("doc_id < 20")
    media = with_media_column(docs, "text", "doc_id")
    got = {
        (r["media_id"], r["frame"]): r["energy"]
        for r in audio_frame_energy(media).collect()
    }
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    want = {}
    for mid, text in texts.items():
        x = np.frombuffer(text.encode(), dtype=np.uint8).astype(np.float64) - 128.0
        if len(x) < 256:
            x = np.pad(x, (0, 256 - len(x)))
        n_frames = 1 + (len(x) - 256) // 128
        for f in range(n_frames):
            want[(mid, f)] = round(float(np.square(x[f * 128 : f * 128 + 256]).mean()), 6)
    assert got == want


def test_hll_rollup_tracks_exact_distinct(spark, sf_dir):
    """The merged weekly HLL estimate must land within the sketch's
    documented error envelope (lgK=12 → ~1.6% σ; assert 5%) of the
    exact weekly distinct — and the union-of-days path must agree with
    sketching the week directly (merge correctness)."""
    from pyspark.sql import functions as F

    from opl_spark import workload
    from opl_spark.sources import load_table

    got = {
        r["week"]: r["est_users"]
        for r in workload.queries()["q_hll_rollup"](spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    exact = {
        r["week"]: r["n"]
        for r in ev.groupBy(F.date_trunc("week", "ts").cast("date").alias("week"))
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for wk, est in got.items():
        assert abs(est - exact[wk]) <= max(1, 0.05 * exact[wk]), (wk, est, exact[wk])
    direct = {
        r["week"]: r["est"]
        for r in ev.groupBy(F.date_trunc("week", "ts").cast("date").alias("week"))
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).cast("long").alias("est"))
        .collect()
    }
    assert got == direct


def test_space_saving_topk_guarantees(spark):
    """Crafted Zipf-ish stream with far more distinct keys than
    counters, forcing evictions: every reported estimate must be an
    upper bound on the true count, the overcount must respect the
    N/counters envelope, and the true heavy hitters must all be
    recovered (the space-saving displacement guarantee)."""
    from pyspark.sql import functions as F

    from opl_spark.operators.sketch import space_saving_topk

    # 10 heavy keys (600..1500 copies) + 3000 singleton-ish tail keys
    rows = []
    for i in range(10):
        rows += [f"hot{i}"] * (600 + 100 * i)
    for j in range(3000):
        rows += [f"tail{j}"] * (1 + j % 2)
    df = spark.createDataFrame([(v,) for v in rows], "value string").repartition(8)
    est = {
        r["value"]: r["est"]
        for r in space_saving_topk(df, "value", k=10, counters=100).collect()
    }
    true = {
        r["value"]: r["c"]
        for r in df.groupBy("value").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    n_total = sum(true.values())
    assert len(est) == 10
    for v, e in est.items():
        assert e >= true[v], (v, e, true[v])
        assert e - true[v] <= n_total / 100 * 8, (v, e, true[v])  # per-part envelope
    for i in range(10):
        assert f"hot{i}" in est, f"hot{i} displaced"


def test_mmr_select_properties(spark, sf_dir):
    """MMR contract: (1) picks form a subset of the relevance
    shortlist; (2) the first pick IS the relevance top-1; (3) the MMR
    set is no more internally redundant than the plain top-k set
    (diversity is the operator's reason to exist); (4) deterministic
    across invocations."""
    import numpy as np
    from pyspark.sql import functions as F

    from opl_spark.operators.similarity import mmr_select, topk_scored
    from opl_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    got = mmr_select(emb, "embedding", "vec_id", q, k=10, shortlist=50).collect()
    short = [r["id"] for r in topk_scored(emb, "embedding", "vec_id", q, 50).collect()]
    picks = [r["id"] for r in sorted(got, key=lambda r: r["pick"])]
    assert set(picks) <= set(short)
    assert picks[0] == short[0]
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.filter(F.col("vec_id").isin([int(i) for i in set(short)])).collect()
    }

    def avg_pairwise(ids):
        u = [vecs[i] / np.linalg.norm(vecs[i]) for i in ids]
        sims = [float(a @ b) for x, a in enumerate(u) for b in u[x + 1:]]
        return sum(sims) / len(sims)

    assert avg_pairwise(picks) <= avg_pairwise(short[:10]) + 1e-9
    again = [
        r["id"]
        for r in sorted(
            mmr_select(emb, "embedding", "vec_id", q, k=10, shortlist=50).collect(),
            key=lambda r: r["pick"],
        )
    ]
    assert again == picks


@pytest.mark.slow  # r14 slow tier
def test_near_dedup_incremental_store(spark, sf_dir, tmp_path):
    """Incremental near-dup: a persisted banded-signature store built
    once, then probed by a new ingest batch.  Verbatim copies must
    report sim 1.0 against their stored original, lightly edited
    copies must clear the threshold, novel text must pass, and the
    probe must append the batch's signatures so a SECOND probe of the
    same batch self-detects (the index stays current)."""
    from pyspark.sql import functions as F

    from opl_spark.operators.dedup import (
        build_signature_store,
        near_dedup_incremental,
    )
    from opl_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store = str(tmp_path / "sig_store")
    build_signature_store(docs, "text", "doc_id", store)

    base = {r["doc_id"]: r["text"] for r in docs.orderBy("doc_id").limit(3).collect()}
    ids = sorted(base)
    edited = base[ids[1]]
    words = edited.split()
    words[len(words) // 2] = "xqzzy"
    batch = spark.createDataFrame(
        [
            (900001, base[ids[0]]),                  # verbatim copy
            (900002, " ".join(words)),               # one-word edit
            (900003, "totally novel zebra " * 30),   # fresh text
        ],
        "doc_id long, text string",
    )
    dups = near_dedup_incremental(
        spark, store, batch, "text", "doc_id", threshold=0.5
    ).collect()
    got = {r["doc"]: (r["dup_of"], r["sim"]) for r in dups}
    assert got[900001] == (ids[0], 1.0)
    assert 900002 in got and got[900002][0] == ids[1] and got[900002][1] >= 0.5
    assert 900003 not in got
    # second probe: the appended signatures make the batch self-visible
    redup = near_dedup_incremental(
        spark, store, batch, "text", "doc_id", threshold=0.5
    ).collect()
    re_got = {r["doc"]: r for r in redup}
    assert set(re_got) == {900001, 900002, 900003}
    assert re_got[900003]["dup_of"] == 900003 and re_got[900003]["sim"] == 1.0


@pytest.mark.slow  # r14 slow tier
def test_srp_dedup_incremental_store(spark, sf_dir, tmp_path):
    """Incremental EMBEDDING near-dup — the SRP twin of the banded-
    MinHash store contract: a persisted (band, bucket_shard)-
    partitioned SRP index built once, then probed by a new vector
    batch.  Verbatim copies must report cos 1.0 against their stored
    original, lightly perturbed copies must clear the threshold,
    novel (orthogonal-ish) vectors must pass, and the probe must
    append the batch's signatures so a SECOND probe self-detects."""
    from opl_spark.operators.similarity import (
        build_srp_index,
        srp_dedup_incremental,
    )
    from opl_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dims = len(emb.first()["embedding"])
    store = str(tmp_path / "srp_store")
    build_srp_index(emb, "embedding", "vec_id", store, dims)

    base = {
        r["vec_id"]: list(r["embedding"])
        for r in emb.orderBy("vec_id").limit(2).collect()
    }
    ids = sorted(base)
    perturbed = [v * 1.01 + (0.003 if i % 7 == 0 else 0.0)
                 for i, v in enumerate(base[ids[1]])]
    novel = [(1.0 if i % 2 == 0 else -1.0) * (1.0 + i / dims)
             for i in range(dims)]
    batch = spark.createDataFrame(
        [
            (900001, [float(v) for v in base[ids[0]]]),  # verbatim
            (900002, [float(v) for v in perturbed]),     # light edit
            (900003, [float(v) for v in novel]),         # novel direction
        ],
        "vec_id long, embedding array<double>",
    )
    dups = srp_dedup_incremental(
        spark, store, batch, "embedding", "vec_id", dims, threshold=0.95
    ).collect()
    got = {r["vec_id"]: (r["dup_of"], r["cos"]) for r in dups}
    assert got[900001] == (ids[0], 1.0)
    assert 900002 in got and got[900002][0] == ids[1] and got[900002][1] >= 0.95
    assert 900003 not in got
    # second probe: appended signatures make the batch self-visible
    redup = srp_dedup_incremental(
        spark, store, batch, "embedding", "vec_id", dims,
        threshold=0.95, append=False,
    ).collect()
    re_got = {r["vec_id"]: r for r in redup}
    assert set(re_got) == {900001, 900002, 900003}
    assert re_got[900003]["dup_of"] == 900003 and re_got[900003]["cos"] == 1.0
    # the probe scans only the batch's own (band, shard) partitions:
    # every store file a probe plan reads carries band=/bucket_shard=
    # partition dirs (layout contract of the partitioned write)
    import os

    assert any("band=" in d for d in os.listdir(store))


@pytest.mark.slow  # r14 slow tier
def test_near_dedup_incremental_bootstrap(spark, sf_dir, tmp_path):
    """A never-built store bootstraps on the first probe (empty report,
    signatures seeded), and the next probe finds the seeded docs."""
    from opl_spark.operators.dedup import near_dedup_incremental
    from opl_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store = str(tmp_path / "sig_store")  # never created
    b0 = docs.limit(8)
    r0 = near_dedup_incremental(spark, store, b0, "text", "doc_id", threshold=0.5)
    assert r0.count() == 0
    assert [f.name for f in r0.schema.fields] == ["doc", "dup_of", "sim"]
    import os

    assert os.path.isdir(store)
    first = b0.orderBy("doc_id").first()
    b1 = spark.createDataFrame(
        [(900001, first["text"])], "doc_id long, text string"
    )
    r1 = {tuple(r) for r in near_dedup_incremental(
        spark, store, b1, "text", "doc_id", threshold=0.5).collect()}
    assert r1 == {(900001, first["doc_id"], 1.0)}


@pytest.mark.slow  # r14 slow tier
def test_srp_dedup_incremental_replay_reproduces(spark, sf_dir, tmp_path):
    """At-least-once replay contract (streaming leg): with
    ``exclude_self=True`` a replayed micro-batch — whose signatures
    already landed in the store from the first (crashed-after-append)
    attempt — reproduces the ORIGINAL report byte-for-byte instead of
    every vector self-matching at cos 1.0."""
    from pyspark.sql import functions as F

    from opl_spark.operators.similarity import (
        build_srp_index,
        srp_dedup_incremental,
    )
    from opl_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dims = len(emb.first()["embedding"])
    store = str(tmp_path / "srp_store")
    build_srp_index(emb, "embedding", "vec_id", store, dims)
    orig = emb.orderBy("vec_id").first()
    # lightly perturbed copy: the true store match scores < 1.0, so an
    # unguarded replay's self-match (cos 1.0) would beat it
    perturbed = [float(v) * 1.01 + (0.003 if i % 7 == 0 else 0.0)
                 for i, v in enumerate(orig["embedding"])]
    batch = spark.createDataFrame(
        [(900001, perturbed)], "vec_id long, embedding array<double>"
    )
    kw = dict(threshold=0.95, exclude_self=True, append=True)
    r1 = {tuple(r) for r in srp_dedup_incremental(
        spark, store, batch, "embedding", "vec_id", dims, **kw).collect()}
    # replay: signatures are already in the store; probe again
    r2 = {tuple(r) for r in srp_dedup_incremental(
        spark, store, batch, "embedding", "vec_id", dims, **kw).collect()}
    assert r1 == r2
    assert {(v, d) for v, d, _ in r1} == {(900001, orig["vec_id"])}
    assert all(c < 1.0 for _, _, c in r1)
    # and without the guard, the replay WOULD self-match (regression pin)
    r3 = {tuple(r) for r in srp_dedup_incremental(
        spark, store, batch, "embedding", "vec_id", dims,
        threshold=0.95, exclude_self=False, append=False).collect()}
    assert r3 == {(900001, 900001, 1.0)}


@pytest.mark.slow  # r14 slow tier
def test_srp_dedup_incremental_bootstrap_missing_store(spark, sf_dir, tmp_path):
    """Batch 0 against a never-built store bootstraps the index
    (empty report, signatures written) instead of dying on
    AnalysisException; batch 1 then detects batch 0's vectors."""
    from opl_spark.operators.similarity import srp_dedup_incremental
    from opl_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dims = len(emb.first()["embedding"])
    store = str(tmp_path / "fresh_store")  # never created
    b0 = emb.limit(5)
    r0 = srp_dedup_incremental(
        spark, store, b0, "embedding", "vec_id", dims,
        threshold=0.95, exclude_self=True,
    )
    assert r0.count() == 0
    assert [f.name for f in r0.schema.fields] == ["vec_id", "dup_of", "cos"]
    import os

    assert os.path.isdir(store)  # index seeded by the bootstrap batch
    first = b0.orderBy("vec_id").first()
    b1 = spark.createDataFrame(
        [(900001, [float(v) for v in first["embedding"]])],
        "vec_id long, embedding array<double>",
    )
    r1 = srp_dedup_incremental(
        spark, store, b1, "embedding", "vec_id", dims,
        threshold=0.95, exclude_self=True,
    ).collect()
    assert {tuple(r) for r in r1} == {(900001, first["vec_id"], 1.0)}


def test_srp_probe_rejects_non_numeric_id(spark):
    """The keep-best tie-break negates the id column; string ids must
    raise a clear TypeError (documented numeric-id contract), not
    mis-sort or fail deep inside the plan."""
    import pytest

    from opl_spark.operators.similarity import _srp_store_rows, srp_probe

    df = spark.createDataFrame(
        [("a", [1.0, 0.0, 0.0, 0.0]), ("b", [0.0, 1.0, 0.0, 0.0])],
        "vec_id string, embedding array<double>",
    )
    rows = _srp_store_rows(df, "embedding", "vec_id", 4, n_bits=8, bands=2)
    with pytest.raises(TypeError, match="numeric"):
        srp_probe(rows, rows, threshold=0.5)


def test_srp_probe_hot_bucket_cap(spark):
    """The probe has no hot-bucket cap: a store whose one bucket is
    flooded by near-identical vectors still verifies exactly, both for
    the probe in the flooded bucket and for the one living elsewhere.
    Crafted: 40 copies of one direction flood every band bucket they
    share; one distinct pair lives elsewhere."""
    from pyspark.sql import functions as F

    from opl_spark.operators.similarity import _srp_store_rows, srp_probe

    flood = [(i, [1.0, 0.02 * (i % 3), 0.0, 0.0]) for i in range(40)]
    pair = [(100, [0.0, 0.0, 1.0, 0.05]), (101, [0.0, 0.0, 1.0, 0.0])]
    df = spark.createDataFrame(
        flood + pair, "vec_id long, embedding array<double>"
    )
    store = _srp_store_rows(
        df.filter(F.col("vec_id") != 101), "embedding", "vec_id", 4,
        n_bits=8, bands=2,
    )
    batch = _srp_store_rows(
        df.filter(F.col("vec_id").isin(39, 101)), "embedding", "vec_id", 4,
        n_bits=8, bands=2,
    )
    # both probes match (39 against the flood, 101 against 100)
    got = {r["vec_id"]: r["dup_of"] for r in
             srp_probe(store, batch, 0.9).filter(
                 F.col("dup_of") != F.col("vec_id")).collect()}
    assert got[101] == 100 and 39 in got


def test_hybrid_search_rrf_contract(spark, sf_dir):
    """RRF contract: (1) every fused doc came from a leg shortlist;
    (2) a doc in BOTH legs outscores the same ranks taken singly;
    (3) contributions are the exact integer quotients (spot-checked
    against the returned ranks); (4) deterministic."""
    from pyspark.sql import functions as F

    from opl_spark.operators.similarity import hybrid_search_rrf, topk_scored
    from opl_spark.operators.text import bm25_search
    from opl_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    terms = ["hash", "join", "window"]
    got = hybrid_search_rrf(
        docs, emb, "text", "doc_id", "embedding", "vec_id", terms, q,
        k=10, shortlist=50,
    ).collect()
    lex = [r["doc"] for r in bm25_search(docs, "text", "doc_id", terms, k=50).collect()]
    dense = [r["id"] for r in topk_scored(emb, "embedding", "vec_id", q, 50).collect()]
    assert {r["doc"] for r in got} <= set(lex) | set(dense)
    for r in got:
        want = 0
        if r["lex_rank"] is not None:
            assert lex[r["lex_rank"] - 1] == r["doc"]
            want += 1_000_000_000 // (60 + r["lex_rank"])
        if r["dense_rank"] is not None:
            assert dense[r["dense_rank"] - 1] == r["doc"]
            want += 1_000_000_000 // (60 + r["dense_rank"])
        assert r["rrf_x"] == want
    # fused list is ordered by (rrf_x desc, doc)
    keys = [(-r["rrf_x"], r["doc"]) for r in got]
    assert keys == sorted(keys)
    again = hybrid_search_rrf(
        docs, emb, "text", "doc_id", "embedding", "vec_id", terms, q,
        k=10, shortlist=50,
    ).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in got]


def test_theta_audience_exact_below_k(spark, sf_dir):
    """Theta sketches are EXACT below their nominal k (4096): at
    testdata scale every audience estimate must equal the true set
    algebra computed from the raw user-day table."""
    from pyspark.sql import functions as F

    from opl_spark import workload
    from opl_spark.sources import load_table

    got = {
        (r["day_a"], r["day_b"]): r
        for r in workload.queries()["q_theta_audience"](spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    days = {}
    for r in ev.select(F.col("ts").cast("date").alias("d"), "user_id").distinct().collect():
        days.setdefault(r["d"], set()).add(r["user_id"])
    import datetime

    expected_pairs = sum(
        1 for d in days if d + datetime.timedelta(days=1) in days
    )
    assert len(got) == expected_pairs
    for (a, b), r in got.items():
        ua, ub = days[a], days[b]
        assert r["either_day"] == len(ua | ub), (a, b)
        assert r["both_days"] == len(ua & ub)
        assert r["new_users"] == len(ub - ua)
        assert r["churned_users"] == len(ua - ub)


def test_kll_quantiles_within_rank_error(spark, sf_dir):
    """KLL contract: each sketched quantile must fall between the
    exact values at rank q±3% (k=200 gives ~1.65% one-sided rank
    error; 3% is the slack-tested envelope)."""
    from pyspark.sql import functions as F

    from opl_spark import workload
    from opl_spark.sources import load_table

    got = {r["week"]: r for r in workload.queries()["q_kll_quantiles"](spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    weeks = {}
    for r in ev.select(
        F.date_trunc("week", "ts").cast("date").alias("w"), "value"
    ).collect():
        weeks.setdefault(r["w"], []).append(r["value"])
    for w, r in got.items():
        vals = sorted(weeks[w])
        n = len(vals)
        for q, col in [(0.5, "p50"), (0.9, "p90"), (0.99, "p99")]:
            lo = vals[max(0, int((q - 0.03) * n) - 1)]
            hi = vals[min(n - 1, int((q + 0.03) * n))]
            assert lo <= r[col] <= hi, (w, col, lo, r[col], hi)


def test_blocklist_filter_whole_word_hits_and_threshold(spark):
    """Whole-word case-insensitive matching (substrings must NOT hit),
    exact ppm ratio, and the keep decision at the boundary."""
    from opl_spark.operators.text import blocklist_filter

    rows = [
        (1, "Slow scan slow JOIN"),       # 2/4 hits = 500000 ppm
        (2, "slowest scans join merge"),  # substring: 0 hits
        (3, "spill"),                     # 1/1 = 1000000 ppm
        (4, "SLOW " + "scan " * 49),      # 1/50 = 20000 ppm, the cap
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc"]: (r["n_words"], r["n_hits"], r["hit_ppm"], r["kept"])
        for r in blocklist_filter(df, "text", "doc_id", ["slow", "spill"]).collect()
    }
    assert out[1] == (4, 2, 500000, False)
    assert out[2] == (4, 0, 0, True)
    assert out[3] == (1, 1, 1000000, False)
    assert out[4] == (50, 1, 20000, True)   # boundary: <= keeps


def test_rendezvous_shard_minimal_remap(spark, docs):
    """HRW contract: every doc gets a shard in [0, k); shards are
    roughly balanced; and growing k -> k+1 moves ONLY docs won by the
    new shard (no doc moves between two OLD shards — the property that
    makes HRW the training-shard router)."""
    from pyspark.sql import functions as F

    from opl_spark.operators.sampling import rendezvous_shard_col

    k = 8
    both = docs.select(
        "doc_id",
        rendezvous_shard_col("doc_id", k).alias("s_k"),
        rendezvous_shard_col("doc_id", k + 1).alias("s_k1"),
    )
    rows = both.collect()
    n = len(rows)
    assert all(0 <= r["s_k"] < k and 0 <= r["s_k1"] < k + 1 for r in rows)
    moved = [r for r in rows if r["s_k"] != r["s_k1"]]
    # every move lands on the NEW shard, never reshuffles old ones
    assert all(r["s_k1"] == k for r in moved)
    # expected move fraction ~ 1/(k+1); allow generous sampling slack
    assert len(moved) / n < 2.5 / (k + 1)
    # balance: no shard holds more than 3x the fair share
    from collections import Counter

    c = Counter(r["s_k"] for r in rows)
    assert max(c.values()) < 3 * n / k


def test_rendezvous_shard_argument_guards(spark):
    """k < 1 and backticked column names are rejected loudly (k=0
    would silently shard every row to NULL); quoted-but-sane names
    pass through the backtick escaping."""
    import pytest as _pytest

    from opl_spark.operators.sampling import rendezvous_shard_col

    with _pytest.raises(ValueError, match="k must be >= 1"):
        rendezvous_shard_col("doc_id", 0)
    with _pytest.raises(ValueError, match="backticks"):
        rendezvous_shard_col("bad`name", 4)
    df = spark.createDataFrame([(1,), (2,)], ["weird name"])
    got = df.select(rendezvous_shard_col("weird name", 4).alias("s")).collect()
    assert all(0 <= r["s"] < 4 for r in got)
