"""Large-scale data-pipeline operators beyond the reference's surface
(BASELINE.json north-star): deduplication, similarity search, text
analysis, multimodal columns.

Design rule shared by every operator here: the hot path is built-in
JVM column expressions (whole-stage codegen, no Python in the loop);
Python appears only at clearly-marked Pandas-UDF boundaries
(multimodal decode) where Spark genuinely lacks the primitive.
"""

from opl_spark.operators.analytics import (  # noqa: F401
    funnel,
    new_vs_returning,
    retention_cohorts,
    rolling_active,
    scd2_intervals,
    snapshot_diff,
    zscore_outliers,
)
from opl_spark.operators.dedup import (  # noqa: F401
    bloom_contamination,
    bucket_pairs,
    containment_pairs,
    build_bloom,
    bloom_might_contain,
    contamination,
    dedup_clusters,
    keep_best_dedup,
    exact_dedup,
    incremental_dedup,
    banding_curve,
    lsh_banding_advise,
    minhash_bucket_stats,
    minhash_signatures,
    minhash_lsh_candidates,
    minhash_dedup_pairs,
    minhash_permutation,
    fuzzy_pairs,
    fuzzy_link_edges,
    mask_repeated_spans,
    ngram_jaccard_pairs,
    setsim_join,
    simhash,
    span_duplication_profile,
    triangle_count,
    shingles_col,
)
from opl_spark.operators.layout import (  # noqa: F401
    zorder_key,
    zorder_rank_quantize,
    zorder_sql,
)
from opl_spark.operators.sampling import (  # noqa: F401
    copies_col,
    budget_sample,
    curriculum_interleave,
    mix_sources,
    rendezvous_shard_col,
    stratified_sample,
)
from opl_spark.operators.evaluate import (  # noqa: F401
    chi2_independence,
    cohens_kappa,
    krippendorff_alpha,
    ece_binned,
    label_noise,
    mcnemar_test,
    mrr_eval,
    mrr_weight_micro,
    mutual_information,
    ndcg_weight_micro,
    psi_drift,
    retrieval_eval,
    roc_auc_binned,
)
from opl_spark.operators.multimodal import (  # noqa: F401
    audio_frame_energy,
    decode_images,
    media_metadata,
    resize_images,
    synthetic_bmp_media,
    vad_segments,
    with_media_column,
)
from opl_spark.operators.sketch import (  # noqa: F401
    count_min_build,
    count_min_estimate,
)
from opl_spark.operators.similarity import (  # noqa: F401
    hybrid_search_rrf,
    random_projection,
    srp_agreement_prob,
    srp_banding_advise,
    srp_banded_keys,
    srp_lsh_pairs,
    srp_plane_coeff,
    srp_probe,
    srp_dedup_incremental,
    build_srp_index,
    mmr_select,
    cosine_topk,
    ivf_assign,
    ivf_topk,
    kmeans_centroids,
    kmeans_centroids_quantized,
    assign_cells_quantized,
    ivf_topk_quantized,
    knn_join,
    ivfpq_topk_quantized,
    pq_encode_quantized,
    pq_topk_quantized,
    pq_train_quantized,
    quantize_embeddings,
    quantized_topk,
    pca_components,
    pca_project,
    pca_power_project,
    with_unit_quantized,
    seed_centroids,
    semantic_dedup,
    label_centroid_outliers,
)
from opl_spark.operators.skew import (  # noqa: F401
    salted_distinct_count,
    salted_join,
    salted_sum,
)
from opl_spark.operators.graph import (  # noqa: F401
    bfs_hops,
    bucketize_edges,
    dominant_edge_matching,
    kcore,
    label_propagation,
    pagerank,
)
from opl_spark.operators.bpe import (  # noqa: F401
    bpe_fertility,
    bpe_segment,
    learn_bpe_merges,
)
from opl_spark.operators.unigram import (  # noqa: F401
    unigram_segment,
    unigram_train,
)
from opl_spark.operators.temporal import (  # noqa: F401
    asof_join,
    interval_join,
)
from opl_spark.operators.text import (  # noqa: F401
    blocklist_filter,
    cdc_chunks,
    dedup_lines_within_doc,
    distinct_ngram_ratios,
    naive_bayes_scores,
    stupid_backoff_score,
    export_jsonl,
    fingerprint_col,
    heavy_hitters,
    lang_id_col,
    percentile_filter,
    pack_sequences,
    pii_scrub_col,
    quality_columns,
    repetition_profile,
    split_col,
    token_count_col,
    token_entropy,
    bigram_logprob,
    build_vocab,
    chunk_documents,
    gopher_rules,
    phrase_search,
    pmi_bigrams,
    positional_postings,
    quantile_buckets,
    feature_hash,
    heldout_perplexity,
    kneser_ney_logprob,
    readability_scores,
    unigram_logprob,
    zipf_slope,
)
