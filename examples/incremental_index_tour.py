"""Runnable tour of the PERSISTED incremental near-dup indexes.

Usage:
    python examples/incremental_index_tour.py [SF_DIR] [WORK_DIR]

The steady-state ingest story: a 100 TB corpus is deduped ONCE, then
every arriving batch probes a persisted index instead of re-scanning
history.  Two index families share the same lifecycle —

1.  TEXT (MinHash): build_signature_store materializes banded MinHash
    signatures partitioned by (band, bucket_shard);
    near_dedup_incremental probes a new batch against ONLY the
    partitions its own band keys land in, then appends the batch's
    signatures so the index stays current without rebuilds.
2.  EMBEDDING (SRP): build_srp_index / srp_dedup_incremental — the
    cosine twin (sign-random-projection banding, exact-cosine verify).

Plus the operational details a real pipeline hits:

3.  BOOTSTRAP: the first probe against a never-built store seeds the
    index (empty report) instead of crashing — batch 0 of a stream
    needs no separate build step.
4.  REPLAY SAFETY: srp_dedup_incremental's exclude_self=True makes a
    batch's own appended signatures invisible to its probe, so an
    at-least-once replay (crash between append and report write)
    reproduces the ORIGINAL report instead of self-matching at cos
    1.0 — the mode any
    at-least-once caller (a foreachBatch sink, a retried job) should
    use.
5.  CLI: the same lifecycle with zero Python —
        opl-spark -c srp-probe --store S --batch B.parquet \\
                  --threshold 0.9 --report-out R
    (first call bootstraps, later calls detect; --no-append probes
    read-only, --exclude-self is the replay-safe mode).

Every probe is batch-sized x bands partitions of the store — never a
full-store scan; the stores hold signatures, not payloads, so at
100 TB of corpus they are orders smaller and are the only thing
history ever re-reads.
"""

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F  # noqa: E402

from opl_spark.cli import main as cli_main  # noqa: E402
from opl_spark.operators.dedup import (  # noqa: E402
    build_signature_store,
    near_dedup_incremental,
)
from opl_spark.operators.similarity import (  # noqa: E402
    build_srp_index,
    srp_dedup_incremental,
)
from opl_spark.session import get_spark  # noqa: E402
from opl_spark.sources import load_table  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    work = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(
        prefix="opl_index_tour_"
    )
    spark = get_spark(app_name="incremental-index-tour")
    report = {}

    # ------------------------------------------------------------------
    # 1. TEXT index: build once over the standing corpus
    # ------------------------------------------------------------------
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    text_store = os.path.join(work, "minhash_store")
    shutil.rmtree(text_store, ignore_errors=True)
    build_signature_store(docs, "text", "doc_id", text_store)
    report["text_store_rows"] = spark.read.parquet(text_store).count()

    # an arriving batch: one verbatim copy, one novel doc
    first = docs.orderBy("doc_id").first()
    batch = spark.createDataFrame(
        [(900001, first["text"]), (900002, "entirely novel zebra " * 30)],
        "doc_id long, text string",
    )
    dups = near_dedup_incremental(
        spark, text_store, batch, "text", "doc_id", threshold=0.5
    )
    report["text_dups"] = [tuple(r) for r in dups.collect()]

    # ------------------------------------------------------------------
    # 2. EMBEDDING index: same lifecycle, cosine semantics
    # ------------------------------------------------------------------
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dims = len(emb.first()["embedding"])
    srp_store = os.path.join(work, "srp_store")
    shutil.rmtree(srp_store, ignore_errors=True)
    build_srp_index(emb, "embedding", "vec_id", srp_store, dims)
    v0 = emb.orderBy("vec_id").first()
    vbatch = spark.createDataFrame(
        [(900001, [float(x) for x in v0["embedding"]])],
        "vec_id long, embedding array<double>",
    )
    vdups = srp_dedup_incremental(
        spark, srp_store, vbatch, "embedding", "vec_id", dims,
        threshold=0.95, exclude_self=True,
    )
    report["srp_dups"] = [tuple(r) for r in vdups.collect()]

    # 4. replay safety: the batch's signatures are now stored; the
    # guarded re-probe reproduces the report (no cos-1.0 self-matches)
    replay = srp_dedup_incremental(
        spark, srp_store, vbatch, "embedding", "vec_id", dims,
        threshold=0.95, exclude_self=True, append=False,
    )
    report["srp_replay_matches_original"] = (
        sorted(tuple(r) for r in replay.collect()) == sorted(report["srp_dups"])
    )

    # ------------------------------------------------------------------
    # 3 + 5. bootstrap from nothing, via the CLI verb
    # ------------------------------------------------------------------
    cli_store = os.path.join(work, "cli_store")
    shutil.rmtree(cli_store, ignore_errors=True)
    b0 = os.path.join(work, "cli_batch0")
    emb.limit(5).write.mode("overwrite").parquet(b0)
    rc = cli_main([
        "-c", "srp-probe", "--store", cli_store, "--batch", b0,
        "--threshold", "0.95",
    ])
    report["cli_bootstrap_rc"] = rc
    report["cli_store_rows"] = spark.read.parquet(cli_store).count()

    print(report)
    assert report["text_dups"] and report["text_dups"][0][0] == 900001
    assert report["srp_dups"] == [(900001, v0["vec_id"], 1.0)]
    assert report["srp_replay_matches_original"] is True
    assert rc == 0 and report["cli_store_rows"] > 0


if __name__ == "__main__":
    main()
