"""SRP banding defaults (r12 verdict task 6): the persisted-index API
derives its banding from the declared cosine threshold via the advisor,
refuses the quadratic-fan-out regime below ~cos 0.7 unless the caller
opts in explicitly, and records the resolved banding in the store's
``_srp_meta`` manifest so probes can never band-mismatch the keys.
"""

import pytest

from opl_spark.operators.similarity import (
    SRP_MIN_ROWS_PER_BAND,
    _read_srp_meta,
    _resolve_srp_banding,
    srp_agreement_prob,
    srp_banding_advise,
    srp_banding_defaults,
)


def test_derived_banding_meets_recall_with_wide_keys():
    """Every derivable threshold yields a banding that (a) reaches the
    0.9 recall target on the S-curve and (b) keeps band keys at or
    above the 8-bit floor (>= 256 buckets per band)."""
    for t in (0.95, 0.9, 0.85, 0.8, 0.75, 0.7):
        n_bits, bands = srp_banding_defaults(t)
        assert n_bits % bands == 0
        rows = n_bits // bands
        assert rows >= SRP_MIN_ROWS_PER_BAND, (t, n_bits, bands)
        p = srp_agreement_prob(t)
        recall = 1 - (1 - p**rows) ** bands
        assert recall >= 0.9, (t, n_bits, bands, recall)


def test_derivation_is_deterministic_and_threshold_monotone():
    """Same threshold → same banding (stores and probes agree by
    construction); lower thresholds never get a SMALLER budget (weaker
    bits need more signature to reach the same recall)."""
    assert srp_banding_defaults(0.8) == srp_banding_defaults(0.8)
    budgets = [srp_banding_defaults(t)[0] for t in (0.95, 0.9, 0.8, 0.7)]
    assert budgets == sorted(budgets)


def test_low_threshold_refuses_with_opt_in_guidance():
    """Below ~cos 0.7 the derivation refuses instead of installing a
    flood-prone index — the message names the opt-in (explicit
    n_bits/bands) and the IVF alternative."""
    with pytest.raises(ValueError, match="n_bits=/bands="):
        srp_banding_defaults(0.3)
    with pytest.raises(ValueError, match="IVF"):
        srp_banding_defaults(0.65)
    # explicit values opt in and pass through untouched at ANY threshold
    assert _resolve_srp_banding(0.3, 24, 4) == (24, 4)


def test_explicit_budget_with_short_keys_warns():
    """n_bits given, bands derived: the caller owns the budget, so a
    short-key pick warns (hot-bucket fan-out) instead of refusing."""
    with pytest.warns(UserWarning, match="raise the budget"):
        n_bits, bands = _resolve_srp_banding(0.5, 24, None)
    assert n_bits == 24
    advised = srp_banding_advise(0.5, 24)
    rec = next(r for r in advised if r.get("recommended"))
    assert bands == rec["bands"]


def test_bands_without_bits_is_rejected():
    with pytest.raises(ValueError, match="ambiguous"):
        _resolve_srp_banding(0.8, None, 4)


@pytest.mark.slow  # r14 slow tier
def test_store_manifest_is_source_of_truth(spark, sf_dir, tmp_path):
    """A store built with derived defaults carries _srp_meta; a probe
    declaring a DIFFERENT threshold still resolves the store's banding
    (no silent key mismatch), a contradicting explicit banding raises,
    and a planted verbatim dup is found end-to-end."""
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
    meta = _read_srp_meta(spark, store)
    assert (meta["n_bits"], meta["bands"]) == srp_banding_defaults(0.8)
    assert meta["dims"] == dims
    # the manifest is invisible to the signature scan
    sig_cols = set(spark.read.parquet(store).columns)
    assert sig_cols == {"vec_id", "vec", "key", "band", "bucket_shard"}

    origin = emb.orderBy("vec_id").first()
    batch = spark.createDataFrame(
        [(900001, [float(v) for v in origin["embedding"]])],
        "vec_id long, embedding array<double>",
    )
    # probe at a different (derivable) threshold: manifest wins, the
    # verbatim copy is still found at cos 1.0
    dups = srp_dedup_incremental(
        spark, store, batch, "embedding", "vec_id", dims,
        threshold=0.95, append=False,
    ).collect()
    assert {(r["vec_id"], r["dup_of"], r["cos"]) for r in dups} == {
        (900001, origin["vec_id"], 1.0)
    }
    # a contradicting explicit banding is an error, not a wrong answer
    with pytest.raises(ValueError, match="contradicts"):
        srp_dedup_incremental(
            spark, store, batch, "embedding", "vec_id", dims,
            n_bits=24, bands=4, threshold=0.95, append=False,
        )
