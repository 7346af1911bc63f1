"""Tests for graph analytics (PageRank) and the multimodal perceptual
pipeline (image pHash, near-dup candidates, scene changes).

Reference strategy mirrors the repo convention: hand-computed /
numpy-reference expectations for the non-SQL-expressible operators,
algorithm-level invariants for the rest.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import functions as F

from opl_spark.operators.graph import PR_SCALE, both_directions, pagerank
from opl_spark.operators.multimodal import (
    image_phash,
    phash_dup_candidates,
    video_scene_changes,
    with_media_column,
)


def symmetrize(edges):
    """Undirected view of an edge list: both directions, self-loops
    dropped, duplicates removed (so degrees are simple row counts)."""
    return (
        both_directions(edges)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _local_pagerank(edges, iterations=3, damping_pct=85):
    """Driver-side integer replica of operators.graph.pagerank."""
    from collections import defaultdict

    deg = defaultdict(int)
    for s, d in edges:
        deg[s] += 1
    pr = {n: PR_SCALE for n in deg}
    base = (100 - damping_pct) * PR_SCALE // 100
    for _ in range(iterations):
        acc = defaultdict(int)
        for s, d in edges:
            acc[d] += pr[s] // deg[s]
        pr = {n: base + (damping_pct * acc.get(n, 0)) // 100 for n in deg}
    return pr


def test_pagerank_matches_local_integer_replica(spark):
    # path graph 1-2-3-4 plus a pendant 5 off node 2
    raw = [(1, 2), (2, 3), (3, 4), (2, 5)]
    edges = spark.createDataFrame(raw, ["src", "dst"])
    und = symmetrize(edges)
    got = {r["node"]: r["pr"] for r in pagerank(und, iterations=3).collect()}
    sym = [(s, d) for s, d in raw] + [(d, s) for s, d in raw]
    want = _local_pagerank(sym)
    assert got == want
    # hub (node 2, degree 3) must outrank every leaf
    assert got[2] == max(got.values())


def test_pagerank_mass_approximately_conserved(spark):
    raw = [(1, 2), (2, 3), (3, 1), (3, 4)]
    und = symmetrize(spark.createDataFrame(raw, ["src", "dst"]))
    prs = [r["pr"] for r in pagerank(und, iterations=4).collect()]
    # unnormalized formulation: total rank stays near N * SCALE
    # (floor-division loss only ever shrinks it, never grows it)
    n = len(prs)
    assert n * PR_SCALE * 0.99 < sum(prs) <= n * PR_SCALE


def _fake_grid(by: bytes) -> np.ndarray:
    x = np.frombuffer(by, dtype=np.uint8).astype(np.float64)
    if len(x) == 0:
        return np.zeros(64)
    return np.bincount(np.arange(len(x)) % 64, weights=x, minlength=64)


def _local_phash(by: bytes, bits: int = 63) -> int:
    g = _fake_grid(by)
    above = g > g.mean()
    return sum(1 << b for b in range(bits) if above[b])


def test_image_phash_matches_numpy_reference(spark):
    texts = [(0, "hello world"), (1, "hello world"), (2, "something else entirely")]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    media = with_media_column(df, "text", "doc_id")
    got = {r["media_id"]: r["phash"] for r in image_phash(media).collect()}
    for i, t in texts:
        assert got[i] == _local_phash(t.encode()), i
    # identical payloads hash identically; hash fits in 63 bits
    assert got[0] == got[1]
    assert all(0 <= h < 1 << 63 for h in got.values())


def test_phash_dup_candidates_find_exact_copies(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact copy
        (2, "completely different text with other bytes 123"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    hashes = image_phash(with_media_column(df, "text", "doc_id"))
    pairs = {
        (r["media_a"], r["media_b"]): r["hamming"]
        for r in phash_dup_candidates(hashes, max_hamming=0).collect()
    }
    assert pairs.get((0, 1)) == 0  # exact copy found at hamming 0


def _local_scenes(by: bytes, frame_bytes: int, threshold: float):
    x = np.frombuffer(by, dtype=np.uint8).astype(np.float64)
    pad = (-len(x)) % frame_bytes
    if pad:
        x = np.pad(x, (0, pad))
    lumas = x.reshape(-1, frame_bytes).mean(axis=1).round(6)
    shots, start = [], 0
    for i in range(1, len(lumas)):
        if abs(lumas[i] - lumas[i - 1]) > threshold:
            shots.append((start, i - start))
            start = i
    shots.append((start, len(lumas) - start))
    return shots


def test_scene_changes_match_numpy_reference(spark):
    payloads = [
        (0, "a" * 100 + "Z" * 100 + "a" * 100),  # two clear cuts
        (1, "constant payload " * 10),
    ]
    df = spark.createDataFrame(payloads, ["doc_id", "text"])
    media = with_media_column(df, "text", "doc_id")
    out = video_scene_changes(media, frame_bytes=50, threshold=5.0).collect()
    got = {}
    for r in out:
        got.setdefault(r["media_id"], []).append(
            (r["shot_no"], r["start_frame"], r["n_frames"])
        )
    for mid, text in payloads:
        want = _local_scenes(text.encode(), 50, 5.0)
        shots = sorted(got[mid])
        assert [(s, n) for _, s, n in shots] == want, mid


def test_scene_change_empty_payload_dropped(spark):
    df = spark.createDataFrame([(0, "")], ["doc_id", "text"])
    media = with_media_column(df, "text", "doc_id")
    assert video_scene_changes(media, frame_bytes=8).count() == 0


def test_kcore_converges_to_classical_core(spark):
    from opl_spark.operators.graph import kcore, kcore_prune

    # 4-clique {1,2,3,4} + a tail 4-5-6: the 2-core is exactly the
    # clique plus nothing of the tail (5 drops after 6, so two rounds
    # are required — exercises the iteration, not just one pass)
    raw = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),  # clique
        (4, 5), (5, 6),                                   # tail
    ]
    edges = symmetrize(spark.createDataFrame(raw, ["src", "dst"]))
    core = {r["node"]: r["deg"] for r in kcore(edges, k=2).collect()}
    assert set(core) == {1, 2, 3, 4}
    assert all(d >= 2 for d in core.values())
    # converged result is a fixpoint of further fixed-round pruning
    again = {
        r["node"]: r["deg"]
        for r in kcore_prune(
            symmetrize(
                spark.createDataFrame(
                    [(a, b) for a, b in raw if a in core and b in core],
                    ["src", "dst"],
                )
            ),
            k=2,
            rounds=2,
        ).collect()
    }
    assert again == core


def test_pareto_front_matches_quadratic_reference(spark):
    from opl_spark.operators.analytics import pareto_front_2d

    import random

    rng = random.Random(7)
    # x spans ten 100_000-wide buckets, so the cross-bucket pass runs
    pts = [(rng.randrange(0, 1_000_000), rng.randrange(0, 50)) for _ in range(300)]
    df = spark.createDataFrame(pts, ["x", "y"])
    got = {(r["x"], r["y"]) for r in pareto_front_2d(df, "x", "y").collect()}
    per_x = {}
    for x, y in pts:
        per_x[x] = max(per_x.get(x, -1), y)
    dedup = list(per_x.items())
    want = {
        (x, y)
        for x, y in dedup
        if not any(
            (qx >= x and qy >= y and (qx > x or qy > y)) for qx, qy in dedup
        )
    }
    assert got == want


def test_sentence_dedup_drops_boilerplate_keeps_order(spark):
    from opl_spark.operators.dedup import sentence_dedup

    boiler = "subscribe to our newsletter"
    rows = [
        (0, f"alpha fact one. {boiler}. beta fact two"),
        (1, f"{boiler}. gamma insight"),
        (2, f"delta point. {boiler}"),
        (3, "entirely unique document text"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc"]: r for r in sentence_dedup(df, "text", "doc_id", 3).collect()}
    assert out[0]["clean_text"] == "alpha fact one. beta fact two"
    assert out[0]["n_dropped"] == 1 and out[0]["n_sentences"] == 3
    assert out[1]["clean_text"] == "gamma insight"
    assert out[2]["clean_text"] == "delta point"
    assert out[3]["n_dropped"] == 0
    assert out[3]["clean_text"] == "entirely unique document text"


def test_vad_segments_islands_and_half_up_mean(spark):
    from opl_spark.operators.multimodal import vad_segments

    rows = [
        # media 1: frames 0-1 active, 2 silent, 3 active
        (1, 0, 2.0), (1, 1, 3.0), (1, 2, 0.5), (1, 3, 5.0),
        # media 2: all silent
        (2, 0, 0.1), (2, 1, 0.2),
    ]
    df = spark.createDataFrame(rows, "media_id long, frame int, energy double")
    out = {
        (r["media_id"], r["seg_start"]): r
        for r in vad_segments(df).collect()
    }
    assert set(out) == {(1, 0), (1, 3)}
    seg = out[(1, 0)]
    assert seg["seg_end"] == 1 and seg["n_frames"] == 2
    assert seg["mean_energy"] == 2.5
    assert out[(1, 3)]["n_frames"] == 1 and out[(1, 3)]["mean_energy"] == 5.0


def test_vad_segment_mean_is_half_up_at_boundary(spark):
    from opl_spark.operators.multimodal import vad_segments

    # two frames summing to an ODD micro total -> mean sits exactly on
    # the .5 micro boundary; the integer half-up division must round UP
    rows = [(1, 0, 1.000001), (1, 1, 2.000002)]
    df = spark.createDataFrame(rows, "media_id long, frame int, energy double")
    r = vad_segments(df).collect()[0]
    # (1000001 + 2000002) / 2 = 1500001.5 micro -> 1500002
    assert r["mean_energy"] == 1.500002


def test_dominant_edge_matching_hand_example(spark):
    """Preis locally-dominant matching on a hand BIPARTITE graph —
    suppliers {1, 2} x parts {10, 20} with edges (1,10,5), (2,10,9),
    (2,20,7).  Round 1: (2,10,9) is the only mutually-best edge
    (9 beats 7 at supplier 2 and 5 at part 10); its endpoints take
    (1,10) and (2,20) down with them, so the 3-round result is that
    single edge — the classic 1/2-approximation case (the maximum
    matching (1,10)+(2,20) = 12 > 9).  A second round picks up a pair
    that only became mutual after round 1 removed a blocker."""
    from opl_spark.operators.graph import dominant_edge_matching

    star = spark.createDataFrame(
        [(1, 10, 5), (2, 10, 9), (2, 20, 7)], "src long, dst long, w long"
    )
    got = dominant_edge_matching(star, rounds=3).collect()
    assert [(r["src"], r["dst"], r["w"], r["round"]) for r in got] == [
        (2, 10, 9, 1)
    ]
    # chain: (1,10,5) blocked in round 1 by (1,20,9)x(2,20,?) fight —
    # supplier 1 prefers part 20 (w 9), part 20 prefers supplier 2
    # (w 11): round 1 matches (2,20,11); round 2 then matches (1,10,5)
    chain = spark.createDataFrame(
        [(1, 10, 5), (1, 20, 9), (2, 20, 11)], "src long, dst long, w long"
    )
    got2 = sorted(
        (r["src"], r["dst"], r["round"])
        for r in dominant_edge_matching(chain, rounds=3).collect()
    )
    assert got2 == [(1, 10, 2), (2, 20, 1)]


def test_dominant_edge_matching_is_a_matching_and_deterministic(spark, sf_dir):
    """Output invariants on the real revenue graph: every src and
    every dst appears at most once across all rounds (it IS a
    matching); weight ties break to the LOWEST partner id (pinned on
    a planted tie); two runs return identical rows."""
    from pyspark.sql import functions as F

    from opl_spark import workload

    q = workload.queries()["q_dominant_matching"]
    rows = q(spark, sf_dir).collect()
    srcs = [r["suppkey"] for r in rows]
    dsts = [r["partkey"] for r in rows]
    assert len(srcs) == len(set(srcs)) and len(dsts) == len(set(dsts))
    assert rows and all(r["round"] >= 1 for r in rows)
    again = q(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # planted tie: node 1 sees (1,10,w=5) and (1,20,w=5) -> partner 10
    from opl_spark.operators.graph import dominant_edge_matching

    tie = spark.createDataFrame(
        [(1, 10, 5), (1, 20, 5)], "src long, dst long, w long"
    )
    got = dominant_edge_matching(tie, rounds=1).collect()
    assert [(r["src"], r["dst"]) for r in got] == [(1, 10)]
