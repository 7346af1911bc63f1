"""Text-analysis operators over a document corpus: tokenization,
language ID, quality scoring, fingerprinting.

All pure column expressions (``pyspark.sql.functions`` only) — they
run inside whole-stage codegen and scale linearly with no shuffle; a
100 TB corpus processes as a single map stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from opl_spark.operators.dedup import widen_narrow_scan

#: BPE-ish tokenizer regex: letter runs, digit runs, or single
#: non-space symbols — the standard pre-tokenization split.
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count_col(text: Column) -> Column:
    """Number of BPE-ish tokens (regex pre-tokenization count)."""
    return F.array_size(F.regexp_extract_all(text, F.lit(TOKEN_RE), 0)).cast("long")


def whitespace_token_count_col(text: Column) -> Column:
    """Plain whitespace token count."""
    return F.array_size(F.split(F.trim(text), r"\s+")).cast("long")


#: Tiny per-language marker lexicons for the n-gram/stopword heuristic
#: language identifier. Real deployments plug in fastText/CLD3 via a
#: Pandas UDF; the heuristic itself is the built-in-function scale path.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "it": ("il", "la", "di", "che", "e"),
}


def _marker_score(words: Column, markers: tuple[str, ...]) -> Column:
    # one filter pass per language (lambda compares its element arg
    # against literals only — no captured array expressions, so the
    # tokenization is evaluated once per row, not once per element)
    return F.array_size(F.filter(words, lambda w: w.isin(*markers)))


def lang_id_col(text: Column) -> Column:
    """Heuristic language ID: argmax of per-language stopword-marker
    hits over the whitespace tokens; ``und`` (undetermined) when no
    marker hits at all.  Deterministic, shuffle-free."""
    words = F.split(F.lower(F.trim(text)), r"\s+")
    scored = [
        F.struct(_marker_score(words, m).alias("score"), F.lit(lang).alias("lang"))
        for lang, m in sorted(LANG_MARKERS.items(), reverse=True)
    ]
    # array_max over (score, lang) structs: ties break toward the
    # lexicographically LAST language tag; reverse-sorted build order
    # makes that stable and documented.
    best = F.array_max(F.array(*scored))
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def quality_columns(text: Column) -> dict[str, Column]:
    """Document quality heuristics: length, word stats, punctuation
    and stopword ratios — the standard pre-training corpus filters.

    Ratios are rounded(6) over exact integer counts so they are
    bit-identical across engines.
    """
    n_chars = F.length(text).cast("long")
    words = F.split(F.trim(text), r"\s+")
    n_words = F.array_size(words).cast("long")
    n_punct = F.array_size(F.regexp_extract_all(text, F.lit(r"[^\w\s]"), 0)).cast("long")
    stop_hits = _marker_score(F.split(F.lower(F.trim(text)), r"\s+"), LANG_MARKERS["en"])
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "avg_word_len": F.round(
            (n_chars - (n_words - F.lit(1))).cast("double") / n_words, 6
        ),
        "punct_ratio": F.round(n_punct.cast("double") / n_chars, 6),
        "stopword_ratio": F.round(stop_hits.cast("double") / n_words, 6),
    }


def clean_text_col(text: Column) -> Column:
    """Corpus cleaning: strip HTML-ish tags, drop control characters,
    collapse whitespace runs, trim — the normalize-before-dedup stage.
    Pure ``regexp_replace`` chain (whole-stage codegen; the patterns
    use only constructs shared by Java regex and RE2, so the DuckDB
    oracle is byte-identical)."""
    out = F.regexp_replace(text, r"<[^>]*>", " ")
    out = F.regexp_replace(out, r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]", "")
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def fingerprint_col(text: Column) -> Column:
    """Order-insensitive document fingerprint: md5 over the sorted
    distinct whitespace tokens — the classic "fingerprint clustering"
    key (two docs with permuted/duplicated words collide)."""
    return F.md5(
        F.array_join(F.array_sort(F.array_distinct(F.split(F.trim(text), r"\s+"))), " ")
    )


def hashed_shingles_col(text: Column, n: int = 3) -> Column:
    """md5 over each positional n-gram shingle (the winnowing input)."""
    from opl_spark.operators.dedup import shingle_seq_col

    return F.transform(shingle_seq_col(text, n), lambda s: F.md5(s))


def _winnow_minima(hs: Column, sz: Column, window: int) -> Column:
    """Distinct window minima over a hash-sequence column: a
    ``least``-chain of shifted slices (zip_with null-pads the tail;
    ``least`` ignores NULLs; the final slice drops tail windows)."""
    mins = hs
    for j in range(1, window):
        shifted = F.slice(hs, j + 1, F.greatest(sz - j, F.lit(0)))
        mins = F.zip_with(mins, shifted, lambda a, b: F.least(a, b))
    return F.array_distinct(F.slice(mins, 1, F.greatest(sz - (window - 1), F.lit(1))))


def winnow_fingerprints(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, window: int = 4
) -> DataFrame:
    """Winnowing as a two-stage plan: stage 1 materializes the hashed
    shingle sequence as a named column (evaluated once per row — the
    min-chain's four references to it would otherwise each re-run the
    split+shingle+md5 pipeline inside the interpreted HOF projection),
    stage 2 takes window minima and explodes the fingerprint set."""
    from opl_spark.operators.dedup import widen_narrow_scan

    hs_df = widen_narrow_scan(df).select(
        F.col(id_col).alias("doc"), hashed_shingles_col(F.col(text_col), n).alias("hs")
    )
    mins = _winnow_minima(F.col("hs"), F.array_size(F.col("hs")), window)
    return hs_df.select("doc", F.explode(mins).alias("fp"))


def pii_scrub_col(text: Column) -> Column:
    """PII scrubbing: redact email addresses and phone-shaped number
    runs — the privacy pass every training-data pipeline runs before
    packing.  Pure ``regexp_replace`` chain (single map stage, no
    shuffle, whole-stage codegen); the patterns use only constructs
    shared by Java regex and RE2 so the DuckDB oracle is
    byte-identical.  Real deployments extend the pattern set (names,
    addresses need NER via a Pandas UDF); the regex tier is the
    cheap first filter that handles the structured identifiers."""
    out = F.regexp_replace(
        text, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"
    )
    out = F.regexp_replace(out, r"\+?\d{1,3}[-. ]\d{3}[-. ]\d{3,4}", "<PHONE>")
    return F.regexp_replace(out, r"\d{3}[-. ]\d{4}", "<PHONE>")


def repetition_profile(
    df: DataFrame, text_col: str, id_col: str, n: int = 2
) -> DataFrame:
    """Per-document repetition profile over positional word n-grams
    (the Gopher-style repetition quality signals): total n-grams,
    distinct n-grams, the most frequent n-gram's count, and the
    ``top_ppm`` / ``distinct_ppm`` filters derived from them
    (parts-per-million integers — exact across engines).

    Shape: explode positional n-grams (hashed to 8-byte longs so the
    shuffle moves longs, not text), count per (doc, gram), then fold to
    per-doc stats — two map-side-combinable aggregations keyed by doc,
    so per-key state is O(1) and the op scales with corpus size."""
    from opl_spark.operators.dedup import shingle_seq_col, widen_narrow_scan

    grams = widen_narrow_scan(df).select(
        F.col(id_col).alias("doc"),
        F.explode(shingle_seq_col(F.col(text_col), n)).alias("g"),
    ).select("doc", F.xxhash64("g").alias("gh"))
    per_gram = grams.groupBy("doc", "gh").agg(F.count(F.lit(1)).alias("c"))
    return per_gram.groupBy("doc").agg(
        F.sum("c").alias("n_grams"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_count"),
        # parts-per-million integer ratios (positive operands, so `div`
        # == floor division == DuckDB `//`): integer-exact on the wire,
        # immune to cross-engine double formatting/rounding drift.
        F.expr("max(c) * 1000000 div sum(c)").alias("top_ppm"),
        F.expr("count(1) * 1000000 div sum(c)").alias("distinct_ppm"),
    )


def blocklist_filter(
    df: DataFrame,
    text_col: str,
    id_col: str,
    blocklist: list[str],
) -> DataFrame:
    """Keyword-blocklist gate — the banned-terms filter every
    production corpus pipeline runs (cf. Dolma / FineWeb / C4's
    word-level filters): per document, word occurrences matching the
    blocklist (case-insensitive whole-word — the same tokenization as
    every other text operator), the hit ratio in exact ppm integers,
    and the keep decision ``hit_ppm <= max_ratio_ppm`` (20 000 ppm) —
    ``(doc, n_words, n_hits, hit_ppm, kept)``.

    Scale shape: MAP-ONLY.  The blocklist is a literal array in the
    plan (driver-side constant — the degenerate broadcast), matching
    is one array HOF per row, and there is no shuffle, no join, no
    UDF; at 100 TB this runs at scan speed and pushes nothing.  For
    blocklists too large for a literal (>10⁴ terms), switch the
    membership test to a broadcast join on the exploded words — same
    output, one broadcast."""
    from opl_spark.operators.dedup import words_col

    if not blocklist:
        raise ValueError("blocklist_filter: empty blocklist")
    max_ratio_ppm = 20_000
    lits = F.array(*[F.lit(t.lower()) for t in sorted(set(blocklist))])
    words = words_col(F.col(text_col))
    staged = df.select(
        F.col(id_col).alias("doc"), words.alias("w")
    ).withColumn("hits", F.size(F.filter("w", lambda x: F.array_contains(lits, x))))
    n = F.size("w")
    return staged.select(
        "doc",
        n.cast("long").alias("n_words"),
        F.col("hits").cast("long").alias("n_hits"),
        # positive operands: `div` == floor division == DuckDB `//`
        F.expr("hits * 1000000 div greatest(size(w), 1)").alias("hit_ppm"),
        (F.expr("hits * 1000000 div greatest(size(w), 1)") <= max_ratio_ppm).alias(
            "kept"
        ),
    )


def distinct_ngram_ratios(
    df: DataFrame,
    text_col: str,
    group_col: str,
) -> DataFrame:
    """Corpus-diversity report per group: distinct-n ratios (Li et
    al. 2016, "A Diversity-Promoting Objective Function") — for each
    n, total positional n-grams, distinct n-grams, and their ratio
    (n=1 is the classic type/token ratio).  The standard diagnostic
    for template-heavy or model-generated text, where distinct-2/3
    collapse long before unigram stats move.

    Shape: ONE scan — the three gram sizes ride a single explode of a
    concatenated (n, gram) struct array (each size's shingle chain is
    a lambda ARGUMENT, built once per doc); grams cross the shuffle as
    8-byte xxhash64 longs (collision odds ~grams²/2⁶⁴, the repo-wide
    distinct-counting convention), and the distinct count is the
    two-level (group, n, gram-hash) → (group, n) fold — two map-side-
    combinable aggregates, no count_distinct Expand doubling the
    stream.  At 100 TB swap the inner level for
    ``approx_count_distinct`` (HLL++) and the shape is unchanged."""
    from opl_spark.operators.dedup import shingle_seq_col

    text = F.col(text_col)
    ns = (1, 2, 3)

    # NB: a 1-arg closure factory, NOT `lambda g, n=n: ...` — PySpark
    # reads a two-parameter HOF lambda as (element, index)
    def _tagger(size: int):
        return lambda g: F.struct(F.lit(size).alias("n"), g.alias("g"))

    tagged = F.concat(
        *[F.transform(shingle_seq_col(text, n), _tagger(n)) for n in ns]
    )
    from opl_spark.operators.dedup import widen_narrow_scan

    grams = widen_narrow_scan(df).select(
        F.col(group_col).alias("source"), F.explode(tagged).alias("t")
    ).select("source", F.col("t.n").alias("n"), F.xxhash64("t.g").alias("gh"))
    per_gram = grams.groupBy("source", "n", "gh").agg(
        F.count(F.lit(1)).alias("c")
    )
    return per_gram.groupBy("source", "n").agg(
        F.sum("c").cast("long").alias("total_ngrams"),
        F.count(F.lit(1)).cast("long").alias("distinct_ngrams"),
        F.round(F.count(F.lit(1)).cast("double") / F.sum("c"), 6).alias(
            "distinct_ratio"
        ),
    )


def split_col(id_col: Column) -> Column:
    """Deterministic 90/10 train/holdout assignment from the document id —
    the reproducible corpus split (same id ⇒ same split, every run,
    every engine; no sampling state, no shuffle).  Production pipelines
    hash a stable natural key instead of a dense id; the modulus shape
    is identical."""
    return F.when(F.pmod(id_col, F.lit(100)) < 90, "train").otherwise(
        F.lit("val")
    )


def pack_sequences(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    budget: int = 2048,
    shard_expr: Column | None = None,
) -> DataFrame:
    """Deterministic document → training-sequence assignment: within
    each ``(group, shard)`` cell, documents in id order are packed into
    consecutive sequences of ~``budget`` tokens — ``seq_id`` is where
    the document STARTS (contiguous chunking, the deterministic cousin
    of greedy bin-packing; the actual token concat happens at tokenizer
    time downstream).  Sequence identity is ``(grp, shard, seq_id)``.

    The running-sum window partitions by ``(grp, shard)``, not the
    group alone: a corpus with a handful of sources would otherwise
    serialize each source's entire token stream through ONE task —
    fine at test scale, a wall at 100 TB.  ``shard =
    pmod(xxhash64(doc), 16)`` keeps the layout deterministic
    (same corpus ⇒ same shard ⇒ same packing, any cluster, any run)
    while restoring ``groups × 16``-way parallelism.  Pass
    ``shard_expr`` to override the shard function (e.g. a portable
    ``pmod(id, n)`` when an external system must reproduce the
    layout)."""
    from pyspark.sql.window import Window

    if shard_expr is None:
        shard_expr = F.pmod(F.xxhash64(F.col(id_col)), F.lit(16))
    t = df.select(
        F.col(id_col).alias("doc"),
        F.col(group_col).alias("grp"),
        shard_expr.cast("long").alias("shard"),
        whitespace_token_count_col(F.col(text_col)).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("grp", "shard")
        .orderBy("doc")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start_offset = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return t.withColumn(
        "seq_id",
        F.floor(start_offset.cast("double") / F.lit(budget)).cast("long"),
    )


def export_jsonl(df: DataFrame, path: str, shards: int | None = None) -> None:
    """Corpus export as sharded JSON-lines — the interchange format
    training pipelines consume.  ``df.write.json`` writes one shard per
    partition in parallel (no driver involvement); ``shards`` controls
    the output file count via repartition when the natural partitioning
    is wrong (too many small files after heavy filtering, or too few
    for downstream read parallelism)."""
    out = df.repartition(shards) if shards else df
    out.write.mode("overwrite").json(path)


def tfidf_top_terms(
    df: DataFrame, text_col: str, id_col: str, k: int = 20
) -> DataFrame:
    """Corpus top-k terms by summed tf·idf (idf = ln(N/docfreq)).

    Two map-side-combinable aggregations (doc-term tf, then term
    stats) plus a broadcast of the single-row corpus count; the top-k
    is ``orderBy().limit(k)`` — Spark executes that as a distributed
    TakeOrdered (per-partition heads merged on the driver), never a
    full vocabulary sort.  Ties at the cut break by term."""
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("term"),
    )
    tf = toks.groupBy("doc", "term").agg(F.count(F.lit(1)).alias("tf"))
    stats = tf.groupBy("term").agg(
        F.sum("tf").alias("total_tf"), F.count(F.lit(1)).alias("docfreq")
    )
    n_docs = df.agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
    return (
        stats.crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            "docfreq",
            F.round(
                F.col("total_tf")
                * F.log(F.col("n_docs").cast("double") / F.col("docfreq")),
                6,
            ).alias("tfidf"),
        )
        .orderBy(F.col("tfidf").desc(), "term")
        .limit(k)
    )


def bm25_search(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: list[str],
    k: int = 10,
) -> DataFrame:
    """BM25 keyword search over the corpus: top-k documents for a bag
    of query terms (Robertson/Sparck-Jones idf, the Okapi tf
    saturation with ``k1`` = 1.2, ``b`` = 0.75) — the retrieval
    baseline every RAG/data-curation pipeline wants next to its ANN
    path.

    Scale shape: the corpus pass reduces immediately to per-doc
    lengths (combinable count) and per-(doc, matched-term) tfs — the
    term filter hits BEFORE the tf aggregation, so only query-term
    postings shuffle, not the corpus token stream.  Document frequency
    and the (N, avgdl) scalars are query-term-sized / single-row
    broadcasts.  Selection is TakeOrdered on (score desc, doc asc) —
    a deterministic total order, never a global sort.
    """
    k1, b = 1.2, 0.75
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("term"),
    ).filter(F.col("term") != "")
    dl = toks.groupBy("doc").agg(F.count(F.lit(1)).alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_dl")
    )
    tf = (
        toks.filter(F.col("term").isin(list(query_terms)))
        .groupBy("doc", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    avgdl = F.col("total_dl").cast("double") / F.col("n_docs")
    idf = F.log(
        (F.col("n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5) + 1.0
    )
    term_score = idf * (
        F.col("tf") * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl))
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc")
        .crossJoin(F.broadcast(corpus))
        .groupBy("doc")
        .agg(F.round(F.sum(term_score), 6).alias("score"))
        .orderBy(F.col("score").desc(), "doc")
        .limit(k)
    )


def unigram_logprob(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Unigram language-model quality score: average negative log
    probability of each document's tokens under the corpus's own
    unigram distribution — the cheap statistical stand-in for the
    perplexity filters used to rank pre-training text (high avg_nll =
    rare/garbled tokens, low = repetitive boilerplate).

    Emits ``(doc, n_tokens, avg_nll)``.  Two map-side-combinable
    aggregations (vocab counts, per-doc average) around one shuffle
    join of the token stream against the vocabulary on the token key.
    The corpus token total rides the plan as a 1-row broadcast
    (r13; was a driver-side ``.first()`` scalar — a serial job per
    call): ``sum(c) cast double`` is the identical IEEE divisor the
    literal was, so per-row arithmetic and the oracle hash are
    unchanged, and the whole operator is one lazy plan.
    """
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("tok"),
    )
    # vocab has two consumers (the corpus-total broadcast leg + the
    # scoring join): the lazy checkpoint pins one physical copy
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    total = vocab.agg(F.sum("c").cast("double").alias("__tt"))
    scored = toks.join(vocab, "tok").join(F.broadcast(total))
    return scored.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg(-F.log(F.col("c").cast("double") / F.col("__tt"))), 6).alias(
            "avg_nll"
        ),
    )


def percentile_filter(
    df: DataFrame,
    score_col: Column,
    group_col: str,
    id_col: str,
    keep_frac: float = 0.5,
) -> DataFrame:
    """Keep the top ``keep_frac`` of each group by score — the
    per-domain quality gate (a global threshold over-prunes weak
    domains and under-prunes strong ones; ranking WITHIN the domain
    keeps the corpus balanced).

    Selection is by ``cume_dist`` over a window PARTITIONED by the
    group (each domain's ranking stays on its own executors — no
    global sort), descending score with id tiebreak, so exactly the
    deterministic top fraction survives ties included.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(group_col).orderBy(score_col.desc(), F.col(id_col))
    return (
        df.withColumn("__cd", F.cume_dist().over(w))
        .filter(F.col("__cd") <= keep_frac)
        .drop("__cd")
    )


def heavy_hitters(
    df: DataFrame, text_col: str, id_col: str, min_doc_frac: float = 0.3
) -> DataFrame:
    """Corpus-wide heavy hitters: tokens whose DOCUMENT frequency
    exceeds ``min_doc_frac`` of the corpus — the data-driven stopword /
    boilerplate-marker miner (the exact companion to the count-min
    sketch approach; at 100 TB the same shape runs on a sampled
    partition set first, then exactly on the survivors).

    One map-side-combinable (token → distinct-doc) aggregation; the
    doc total rides the plan as a 1-row ``count_distinct`` broadcast
    (r13; was a serial ``distinct().count()`` driver action before the
    real pass — same divisor value, identical IEEE division, one lazy
    plan).  Emits ``(tok, n_docs, round(doc_frac, 6))``.

    Contract: ``id_col`` must be non-null (the house id convention —
    every registered corpus id is).  ``count_distinct`` ignores NULLs,
    so a NULL-id row's tokens would count in numerators while its doc
    fell out of the divisor (r13 advice); NULL ids are a data defect
    to surface upstream (validate_contract), not to average over.
    """
    nd = df.select(F.col(id_col).alias("__doc")).agg(
        F.count_distinct("__doc").cast("double").alias("__nd")
    )
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
        ).alias("tok"),
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        counts.join(F.broadcast(nd))
        .select(
            "tok",
            "n_docs",
            F.round(
                F.col("n_docs").cast("double") / F.col("__nd"), 6
            ).alias("doc_frac"),
        )
        .filter(F.col("doc_frac") >= min_doc_frac)
    )


def build_vocab(
    df: DataFrame, text_col: str, id_col: str, top_n: int = 100
) -> DataFrame:
    """Corpus vocabulary builder: the tokenizer-training precursor
    (count every token's corpus frequency and document frequency, keep
    the top ``top_n`` by frequency with a deterministic lexicographic
    tiebreak).

    Two map-side-combinable aggregations — (token, doc) partial counts,
    then token totals — so the shuffle carries one row per distinct
    (token, doc), never the raw token stream; the final top-N is a
    ``TakeOrderedAndProject`` (per-partition heaps, driver merges
    n·partitions rows), not a global sort.  Emits
    ``(term, corpus_freq, doc_freq)``.
    """
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("term"),
    )
    per_doc = toks.groupBy("term", "doc").agg(F.count(F.lit(1)).alias("c"))
    vocab = per_doc.groupBy("term").agg(
        F.sum("c").alias("corpus_freq"), F.count(F.lit(1)).alias("doc_freq")
    )
    return vocab.orderBy(F.col("corpus_freq").desc(), F.col("term")).limit(top_n)


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    size: int = 50,
    overlap: int = 10,
) -> DataFrame:
    """Sliding-window document chunking (the RAG / context-window prep
    stage): windows of ``size`` tokens starting every ``size - overlap``
    tokens; the final window may be shorter.

    Map-only — the token array, the start offsets
    (``sequence(0, n_words-1, step)``) and each ``slice`` are all
    higher-order-function expressions over the row itself, so chunking
    adds zero shuffles and scales embarrassingly.  Every O(words)
    expression is materialized as a named column first (no re-splitting
    per chunk — the HOF-capture pitfall measured in BENCH_NOTES.md).
    Emits ``(doc, chunk_id, chunk, n_tokens)``.
    """
    if not 0 <= overlap < size:
        raise ValueError(f"overlap ({overlap}) must be in [0, size={size})")
    step = size - overlap
    words = df.select(
        F.col(id_col).alias("doc"),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("w"),
    ).withColumn("n", F.size("w"))
    # last start: the largest grid point s with s + overlap < n, so
    # every window past the first contributes at least one NEW token —
    # a start inside the previous window's tail would re-emit a fully
    # contained duplicate window
    starts = words.select(
        "doc",
        "w",
        "n",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.col("n") - 1 - overlap, F.lit(0)),
                F.lit(step),
            )
        ).alias("s"),
    )
    return starts.select(
        "doc",
        (F.col("s") / step).cast("bigint").alias("chunk_id"),
        F.array_join(F.slice("w", F.col("s") + 1, size), " ").alias("chunk"),
        F.least(F.lit(size), F.col("n") - F.col("s")).alias("n_tokens"),
    )


def quantile_buckets(
    df: DataFrame,
    score_col: Column,
    group_col: str,
    id_col: str,
) -> DataFrame:
    """CCNet-style per-group quality bucketing: rank every row within
    its group by score (ascending — low perplexity first) and cut the
    ranking into three equal-count bands: head (best), middle, tail.

    Integer arithmetic only (``rank * n_buckets <= bucket_ix * n``), so
    band edges are exact and engine-independent — no float quantile
    estimates to drift.  The window is PARTITIONED by the group: each
    language/domain ranks on its own executors, no global sort.
    """
    from pyspark.sql.window import Window

    buckets = ("head", "middle", "tail")
    nb = len(buckets)
    w = Window.partitionBy(group_col).orderBy(score_col.asc(), F.col(id_col))
    ranked = df.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy(group_col))
    )
    bucket = F.when(F.col("__rn") * nb <= F.col("__n"), F.lit(buckets[0]))
    for i in range(1, nb):
        bucket = bucket.when(
            F.col("__rn") * nb <= F.col("__n") * (i + 1), F.lit(buckets[i])
        )
    return ranked.withColumn("bucket", bucket).drop("__rn", "__n")


def bigram_logprob(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Bigram language-model quality score: average negative log
    conditional probability ``p(w_i | w_{i-1})`` under the corpus's own
    bigram MLE — one tier sharper than :func:`unigram_logprob` at
    spotting shuffled/garbled text (which keeps plausible unigrams but
    improbable transitions).

    Emits ``(doc, n_bigrams, avg_nll2)`` for documents with ≥ 2
    tokens.  Shape: the bigram stream is a map-only HOF over a
    MATERIALIZED token-array column (no re-split per bigram — the
    HOF-capture pitfall in BENCH_NOTES.md); then two
    map-side-combinable count aggregations (bigram, preceding-token)
    and two hash joins back onto the stream, all partitioned by the
    bigram/prefix key.  No driver-side state at all — unlike the
    unigram score there is no corpus-total scalar.
    """
    words = df.select(
        F.col(id_col).alias("doc"),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("w"),
    ).filter(F.size("w") >= 2)
    bg = words.select(
        "doc",
        F.explode(
            F.expr("transform(sequence(1, size(w) - 1), i -> concat(w[i-1], ' ', w[i]))")
        ).alias("b"),
    )
    # two consumers (prefix totals + the scoring join): materialize
    # the bigram counts once instead of re-exploding the corpus per
    # branch (r13, the kneser_ney_logprob rationale)
    cb = (
        bg.groupBy("b")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    cp = cb.groupBy(F.split(F.col("b"), " ")[0].alias("p")).agg(
        F.sum("c").alias("cp")
    )
    scored = bg.join(cb, "b").join(cp, F.split(bg.b, " ")[0] == cp.p)
    return scored.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(
            F.avg(-F.log(F.col("c").cast("double") / F.col("cp").cast("double"))), 6
        ).alias("avg_nll2"),
    )


def token_entropy(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document token Shannon entropy (nats) — the repetitiveness
    signal: boilerplate and keyword-stuffed pages score near 0, diverse
    prose scores near ln(n_tokens).

    Uses the identity ``H = ln(N) - (Σ c·ln c)/N`` over per-token
    counts, so only integer counts feed the logs (stable across
    engines; rounded(6) on the wire).  Shape: one map-side-combinable
    (doc, token) count, then a doc-keyed reduce — both partial-agg
    shuffles, no window, no driver state.  Emits
    ``(doc, n_tokens, n_distinct, entropy)``.
    """
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("tok"),
    )
    counts = toks.groupBy("doc", "tok").agg(F.count(F.lit(1)).alias("c"))
    return counts.groupBy("doc").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.round(
            F.log(F.sum("c").cast("double"))
            - F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double")))
            / F.sum("c").cast("double"),
            6,
        ).alias("entropy"),
    )


def positional_postings(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Positional inverted index: one ``(doc, term, pos)`` row per
    token occurrence (0-based positions over the whitespace
    tokenization).  Persist this bucketed/partitioned BY TERM and
    phrase/proximity queries touch only their query terms' postings —
    the classic search-engine layout, here as a DataFrame transform.
    """
    return df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias(
            "pos", "term"
        ),
    )


def phrase_search(
    df: DataFrame, text_col: str, id_col: str, phrase: str
) -> DataFrame:
    """Exact phrase match via positional postings intersection: a doc
    matches when term_i of the phrase occurs at position p+i for some
    start p.  Emits ``(doc, n_hits)`` — docs containing the phrase,
    with occurrence counts.

    Scale shape: the postings stream is filtered to the phrase's k
    terms BEFORE any shuffle (on a term-bucketed postings store this
    is partition pruning — only k postings lists are read); per-doc
    position sets for each term then group on the doc key (one
    combinable aggregation, one shuffle), and the adjacency
    intersection is an array HOF over the k position arrays — no
    self-join per term pair, no O(words²) scan.
    """
    terms = phrase.lower().split()
    if not terms:
        raise ValueError("phrase_search: empty phrase")
    post = positional_postings(df, text_col, id_col).filter(
        F.col("term").isin(terms)
    )
    # per (doc, term) position arrays for ONLY the query terms
    arrays = post.groupBy("doc").agg(
        *[
            F.collect_list(
                F.when(F.col("term") == t, F.col("pos") - i)
            ).alias(f"p{i}")
            for i, t in enumerate(terms)
        ]
    )
    # a start position survives when every term's (pos - offset) set
    # contains it; count distinct surviving starts = phrase hits
    def _contains(col_name):
        return lambda p: F.array_contains(F.col(col_name), p)

    starts = F.col("p0")
    for i in range(1, len(terms)):
        starts = F.filter(starts, _contains(f"p{i}"))
    return (
        arrays.select("doc", F.array_size(F.array_distinct(starts)).alias("n_hits"))
        .filter(F.col("n_hits") > 0)
    )


def pmi_bigrams(
    df: DataFrame, text_col: str, id_col: str, min_count: int = 5, k: int = 30
) -> DataFrame:
    """Top-k adjacent word pairs by pointwise mutual information:
    ``PMI(a,b) = ln(c_ab · N / (cl_a · cr_b))`` over bigram
    occurrences, where cl/cr are left/right marginal counts and N the
    total bigram count — the collocation detector (Church & Hanks
    1990) every phrase-mining pipeline starts from.

    All counts are exact integers from THREE map-side-combinable
    aggregations over one exploded bigram stream (the marginals are
    vocabulary-sized); two hash joins put marginals back on the bigram
    table, the single-row N broadcasts, and the top-k is TakeOrdered
    with a (rounded-PMI, pair) deterministic tie-break.
    """
    w = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    docs = df.select(F.col(id_col).alias("doc"), w.alias("w")).filter(
        F.array_size("w") >= 2
    )
    bg = docs.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("w"), 1, F.array_size("w") - 1),
                F.slice(F.col("w"), 2, F.array_size("w") - 1),
                lambda a, b: F.struct(a.alias("a"), b.alias("b")),
            )
        ).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    cab = bg.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    cl = cab.groupBy("a").agg(F.sum("c_ab").alias("c_a"))
    cr = cab.groupBy("b").agg(F.sum("c_ab").alias("c_b"))
    n = cab.agg(F.sum("c_ab").alias("n_bigrams"))
    return (
        cab.filter(F.col("c_ab") >= min_count)
        .join(cl, "a")
        .join(cr, "b")
        .crossJoin(F.broadcast(n))
        .select(
            "a",
            "b",
            "c_ab",
            F.round(
                F.log(
                    F.col("c_ab").cast("double")
                    * F.col("n_bigrams").cast("double")
                    / (F.col("c_a").cast("double") * F.col("c_b").cast("double"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "a", "b")
        .limit(k)
    )


def gopher_rules(
    df: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Gopher-style repetition/shape quality rules (Rae et al. 2021
    §A1.1, re-parameterized): per-doc word count in [10, 1000], mean
    word length in [2, 10], stopword fraction ≤ 0.5 (stopwords: the,
    a, and, of, to), and a most-frequent-word concentration ≤ 0.3 —
    emitted as per-doc metrics plus the combined ``passes`` verdict so
    downstream filters stay one codegen'd predicate.

    Everything except ``top_frac`` is a pure map-only expression over
    the token array; ``top_frac`` needs a per-(doc, word) count — one
    map-side-combinable explode-aggregate pair keyed on the doc, the
    same single-shuffle shape as the repetition profile.
    """
    min_words, max_words = 10, 1000
    min_mean_len, max_mean_len = 2.0, 10.0
    max_stop_frac, max_top_frac = 0.5, 0.3
    stopwords = ("the", "a", "and", "of", "to")
    w = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = df.select(
        F.col(id_col).alias("doc"),
        w.alias("w"),
        F.array_size(w).cast("long").alias("n_words"),
    )
    stop_arr = F.array(*[F.lit(s) for s in stopwords])
    metrics = base.select(
        "doc",
        "n_words",
        F.round(
            F.aggregate(
                "w", F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
            ).cast("double")
            / F.col("n_words"),
            6,
        ).alias("mean_word_len"),
        F.round(
            F.size(F.filter("w", lambda x: F.array_contains(stop_arr, x))).cast(
                "double"
            )
            / F.col("n_words"),
            6,
        ).alias("stop_frac"),
    )
    top = (
        base.select("doc", "n_words", F.explode("w").alias("tok"))
        .groupBy("doc", "tok")
        .agg(F.count(F.lit(1)).alias("c"), F.max("n_words").alias("n_words"))
        .groupBy("doc")
        .agg(
            F.round(
                F.max("c").cast("double") / F.max("n_words"), 6
            ).alias("top_frac")
        )
    )
    out = metrics.join(top, "doc")
    passes = (
        F.col("n_words").between(min_words, max_words)
        & F.col("mean_word_len").between(min_mean_len, max_mean_len)
        & (F.col("stop_frac") <= max_stop_frac)
        & (F.col("top_frac") <= max_top_frac)
    )
    return out.select(
        "doc", "n_words", "mean_word_len", "stop_frac", "top_frac",
        passes.alias("passes"),
    )


def stupid_backoff_score(
    train: DataFrame,
    score: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Trigram Stupid Backoff language-model scoring (Brants et al.,
    EMNLP 2007) — the LM smoothing designed FOR distributed count
    tables: no discount normalization pass, every level is a plain
    count ratio, so the model IS three groupBy outputs.

        S(w|a,b) = c3(a,b,w)/c2(a,b)         if the trigram was seen
                 = α · c2(b,w)/c1(b)          else if the bigram was
                 = α² · (c1(w)+1)/(N+V)       else (Laplace unigram
                                               floor, OOV-safe)

    ``train`` provides the counts, ``score`` the docs to score —
    keeping them disjoint is what makes the backoff paths fire (a
    corpus scored on its own counts always finds its trigrams).

    Scale shape: count tables are n-gram-sized aggregates; the scored
    token stream joins them on 8-byte xxhash64 keys (three left joins,
    each combinable); (N, V) cross as a 1-row broadcast.  Per-doc
    emission is mean log-score over trigram positions, round(6).

    Emits ``(doc, n_trigrams, avg_logscore)``; α = 0.4.
    """
    from opl_spark.operators.dedup import words_col

    alpha = 0.4

    def toks(df: DataFrame) -> DataFrame:
        return (
            df.select(
                F.col(id_col).alias("doc"),
                F.posexplode(words_col(F.col(text_col))).alias("pos", "w"),
            )
            .filter(F.col("w") != "")
        )

    tr = toks(train)

    def with_next(df: DataFrame, n: int) -> DataFrame:
        from pyspark.sql import Window

        w = Window.partitionBy("doc").orderBy("pos")
        out = df
        for j in range(1, n):
            out = out.withColumn(f"w{j}", F.lead("w", j).over(w))
        return out

    # ONE tokenize + lead-window pass feeds all three count levels:
    # the sequenced stream is materialized once (it previously
    # re-executed per count table — 6 train scans in the plan), and
    # c1 counts off tr_seq's identical rows instead of a separate tr
    # branch (with_next only ADDS columns) (r13)
    tr_seq = with_next(tr, 3).localCheckpoint(eager=False)
    # each count table is read by ≥2 downstream joins — materialize
    # the model tables once (they ARE the model; n-gram-sized)
    c1 = (
        tr_seq.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
        .localCheckpoint(eager=False)
    )
    corpus = c1.agg(
        F.sum("c1").alias("n_tokens"), F.count(F.lit(1)).alias("vocab")
    )
    c2 = (
        tr_seq.filter(F.col("w1").isNotNull())
        .groupBy(F.col("w").alias("a"), F.col("w1").alias("b"))
        .agg(F.count(F.lit(1)).alias("c2"))
        .localCheckpoint(eager=False)
    )
    c3 = (
        tr_seq.filter(F.col("w2").isNotNull())
        .groupBy(
            F.col("w").alias("a"), F.col("w1").alias("b"), F.col("w2").alias("c")
        )
        .agg(F.count(F.lit(1)).alias("c3"))
    )
    sc = with_next(toks(score), 3).filter(F.col("w2").isNotNull())
    # every count join moves 8-byte xxhash64 keys, not word tuples —
    # the scored token stream shuffles fixed-width longs five times
    # instead of variable-width text (collision odds ~|ngrams|²/2⁶⁴)
    h = lambda *cols: F.xxhash64(F.concat_ws("\x1f", *cols))  # noqa: E731
    c3k = c3.select(h("a", "b", "c").alias("h3"), F.col("c3").alias("c3_"))
    c2k = c2.select(h("a", "b").alias("h2"), F.col("c2"))
    c1k = c1.select(h("w").alias("h1"), F.col("c1"))
    j = (
        sc.select(
            "doc",
            h("w", "w1", "w2").alias("h3"),
            h("w", "w1").alias("h2_ab"),
            h("w1", "w2").alias("h2_bc"),
            h("w1").alias("h1_b"),
            h("w2").alias("h1_c"),
        )
        .join(c3k, ["h3"], "left")
        .join(c2k.select(F.col("h2").alias("h2_ab"), F.col("c2").alias("c2_ab")), ["h2_ab"], "left")
        .join(c2k.select(F.col("h2").alias("h2_bc"), F.col("c2").alias("c2_bc")), ["h2_bc"], "left")
        .join(c1k.select(F.col("h1").alias("h1_b"), F.col("c1").alias("c1_b")), ["h1_b"], "left")
        .join(c1k.select(F.col("h1").alias("h1_c"), F.col("c1").alias("c1_c")), ["h1_c"], "left")
        .crossJoin(F.broadcast(corpus))
    )
    s = (
        F.when(
            F.col("c3_").isNotNull(),
            F.col("c3_").cast("double") / F.col("c2_ab"),
        )
        .when(
            F.col("c2_bc").isNotNull(),
            F.lit(alpha) * F.col("c2_bc").cast("double") / F.col("c1_b"),
        )
        .otherwise(
            F.lit(alpha * alpha)
            * (F.coalesce(F.col("c1_c"), F.lit(0)) + 1).cast("double")
            / (F.col("n_tokens") + F.col("vocab"))
        )
    )
    return (
        j.select("doc", F.log(s).alias("ls"))
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.round(F.avg("ls"), 6).alias("avg_logscore"),
        )
    )


def naive_bayes_scores(
    train: DataFrame,
    score: DataFrame,
    text_col: str,
    label_col: str,
    id_col: str,
) -> DataFrame:
    """Multinomial Naive Bayes, trained AND applied distributed: the
    classic bag-of-words classifier whose training is nothing but
    count aggregation, so the distributed form is exact — no SGD
    order-dependence, no float model state.

        log P(l | d) ∝ log(D_l / D) + Σ_w tf(w,d) · log((c_{l,w}+1) /
                                                        (T_l + V))

    ``train`` supplies the counts (class = ``label_col``), ``score``
    the docs to score.  Emits the full ``(doc, label, logpost)``
    posterior matrix (round(6)) — argmax is left to the consumer so
    no float comparison sits on the hash path.

    Scale shape: the model IS three aggregates (class-word counts,
    class totals + priors, vocab size); scoring joins the per-doc tf
    stream once against the count table on an 8-byte hash key and
    fans out only over the label set (a broadcast of |classes| rows).
    """
    from opl_spark.operators.dedup import words_col

    def toks(df: DataFrame, *extra) -> DataFrame:
        return df.select(
            F.col(id_col).alias("doc"),
            *[F.col(c) for c in extra],
            F.explode(words_col(F.col(text_col))).alias("w"),
        ).filter(F.col("w") != "")

    tr = toks(train, label_col).withColumnRenamed(label_col, "label")
    # the model table has THREE consumers (class totals, vocab size,
    # the scoring join) — materialize once or each branch re-tokenizes
    # and re-aggregates the whole train split (r13: this was 3 full
    # corpus passes in the q_pr_curve plan)
    cw = (
        tr.groupBy("label", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    totals = cw.groupBy("label").agg(F.sum("c").alias("t"))
    vocab = cw.select("w").distinct().agg(F.count(F.lit(1)).alias("v"))
    priors = (
        train.groupBy(F.col(label_col).alias("label"))
        .agg(F.count(F.lit(1)).alias("d_l"))
    )
    d_total = train.agg(F.count(F.lit(1)).alias("d"))
    classes = (
        priors.join(F.broadcast(d_total))
        .join(totals, "label")
        .join(F.broadcast(vocab))
        .select(
            "label",
            F.log(F.col("d_l").cast("double") / F.col("d")).alias("logprior"),
            (F.col("t") + F.col("v")).alias("denom"),
        )
        # |classes| rows, consumed twice below (label fan-out + the
        # denom join) — without this each use re-runs the prior/total/
        # vocab aggregates (r13)
        .localCheckpoint(eager=False)
    )
    tf = (
        toks(score)
        .groupBy("doc", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("hw", F.xxhash64("w"))
    )
    cwk = cw.select(
        "label", F.xxhash64("w").alias("hw"), F.col("c")
    )
    scored = (
        tf.join(F.broadcast(classes.select("label")), how="cross")
        .join(cwk, ["label", "hw"], "left")
        .join(F.broadcast(classes), "label")
        .select(
            "doc",
            "label",
            (
                F.col("tf")
                * F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
                    / F.col("denom")
                )
            ).alias("term"),
        )
    )
    return (
        scored.groupBy("doc", "label")
        .agg(F.sum("term").alias("s"))
        .join(F.broadcast(classes.select("label", "logprior")), "label")
        .select(
            "doc",
            "label",
            F.round(F.col("s") + F.col("logprior"), 6).alias("logpost"),
        )
    )


def dedup_lines_within_doc(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Within-document repeated-sentence removal (the C4 §2.2
    *intra*-doc rule; corpus-wide twin: ``sentence_dedup``): keep only
    the FIRST occurrence of each sentence inside a document
    (case-insensitive match), rebuild in order.  Navigation chrome and
    repeated boilerplate inside one page are the target.

    Entirely map-only — one higher-order-function expression per row,
    zero shuffles, no Python.  Sentence boundary is the same portable
    ``\\.\\s+`` as sentence_dedup.

    Emits ``(doc, clean_text, n_sents, n_removed)``.
    """
    # intermediates staged as named columns before lambdas capture
    # them (the repo HOF rule: capture attributes, never expression
    # trees — see cdc_chunks for the measured cost of violating it)
    staged = (
        df.select(
            F.col(id_col).alias("doc"),
            F.split(F.trim(F.col(text_col)), r"\.\s+").alias("sents"),
        )
        .withColumn(
            "lows", F.transform(F.col("sents"), lambda s: F.lower(F.trim(s)))
        )
        .withColumn(
            "keep_idx",
            F.filter(
                F.sequence(F.lit(0), F.array_size("sents") - 1),
                lambda i: (F.length(F.get(F.col("lows"), i)) > 0)
                & (
                    F.array_position(F.col("lows"), F.get(F.col("lows"), i))
                    == i + 1
                ),
            ),
        )
    )
    return staged.select(
        "doc",
        F.array_join(
            F.transform(F.col("keep_idx"), lambda i: F.get(F.col("sents"), i)),
            ". ",
        ).alias("clean_text"),
        F.array_size("sents").cast("long").alias("n_sents"),
        (F.array_size("sents") - F.array_size("keep_idx")).cast("long").alias(
            "n_removed"
        ),
    )


def cdc_chunks(
    df: DataFrame, text_col: str, id_col: str, mask: int = 15
) -> DataFrame:
    """Content-defined chunking over the word stream (the FastCDC /
    rsync idea at token granularity): a chunk boundary falls AFTER
    word i when the portable hash of the trailing 3-gram ≡ 0 (mod
    ``mask``+1).  Insertions/deletions only reshuffle boundaries
    locally, so shifted copies of a passage still produce identical
    interior chunks — the property fixed-width shingles lose.

    Entirely map-only (the boundary rule and chunk assembly are one
    HOF chain per row; expected chunk length = mask+1 words).  Chunk
    identity is the portable md5-prefix hash, so a SQL oracle replays
    the exact chunking.

    Emits ``(doc, chunk_idx, chunk_hash, n_words)`` — feed to a
    groupBy(chunk_hash) for shift-robust near-dup detection.
    """
    from opl_spark.operators.dedup import shingle_seq_col, widen_narrow_scan, words_col

    # every intermediate is a NAMED COLUMN before any lambda captures
    # it: Spark re-evaluates captured outer EXPRESSIONS once per
    # lambda element (no CSE inside HOFs), so capturing the raw
    # shingle/hash expression trees instead of attributes turns the
    # boundary filter O(words²·shingling) — measured 104 s at sf0.1
    # vs ~1 s in this staged form
    #
    # widen (r14): the whole operator is MAP-ONLY (no exchange at
    # all), so on a few-split input every md5-per-3-gram runs on one
    # core regardless of cluster width — the sf1 heavy leg read
    # 13.6 s for what is embarrassingly parallel compute.  Identity
    # at scale (widen_narrow_scan contract).
    staged = (
        widen_narrow_scan(df).select(
            F.col(id_col).alias("doc"),
            words_col(F.col(text_col)).alias("w"),
            shingle_seq_col(F.col(text_col), 3).alias("g"),
        )
        .withColumn(
            "gh",
            F.transform(
                F.col("g"),
                lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast(
                    "long"
                )
                % (mask + 1),
            ),
        )
        .withColumn("n", F.array_size("w"))
        # boundary AFTER position i (1-based) when the 3-gram ENDING
        # at i hashes to 0 mod (mask+1); positions 1-2 have no
        # complete trailing 3-gram
        .withColumn(
            "bounds",
            F.filter(
                F.sequence(F.lit(3), F.greatest(F.col("n"), F.lit(3))),
                lambda i: (i <= F.col("n"))
                & (F.element_at(F.col("gh"), i - 2) == 0),
            ),
        )
        .withColumn(
            "starts",
            F.concat(
                F.array(F.lit(1)),
                F.transform(F.col("bounds"), lambda b: b + 1),
            ),
        )
        .withColumn("ends", F.concat(F.col("bounds"), F.array(F.col("n"))))
        .withColumn(
            "chunks",
            F.zip_with(
                F.col("starts"),
                F.col("ends"),
                lambda s, e: F.when(
                    e >= s, F.concat_ws(" ", F.slice(F.col("w"), s, e - s + 1))
                ),
            ),
        )
    )
    out = staged.select(
        "doc",
        F.posexplode(
            F.filter(F.col("chunks"), lambda c: c.isNotNull())
        ).alias("idx", "chunk"),
    )
    return out.select(
        "doc",
        (F.col("idx") + 1).alias("chunk_idx"),
        F.substring(F.md5(F.col("chunk")), 1, 16).alias("chunk_hash"),
        F.array_size(F.split(F.col("chunk"), " ")).cast("long").alias("n_words"),
    )


def readability_scores(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document readability: Flesch reading-ease and
    Flesch-Kincaid grade level from three integer counts — sentences
    (non-empty ``[.!?]+`` segments), whitespace words, and syllables
    (vowel-group runs ``[aeiouy]+``, the standard heuristic).  A
    quality-filter signal one tier above raw length/punct ratios:
    token-soup and run-on boilerplate score far off the prose band.

    Map-only (three regex passes per row, no shuffle at all); the two
    scores are fixed-sequence float expressions over the integer
    counts — ``(206.835 - 1.015·(W/S)) - 84.6·(SY/W)`` — so the
    round(6) emissions replay bit-identically from any engine fed the
    same integers.  Docs with zero words or sentences are dropped
    (the formula is undefined; emit them from a separate length gate).
    """
    lowered = F.lower(F.col(text_col))
    out = df.select(
        F.col(id_col).alias("doc"),
        F.size(
            F.filter(
                F.split(F.col(text_col), r"[.!?]+"),
                lambda s: F.trim(s) != F.lit(""),
            )
        )
        .cast("long")
        .alias("n_sentences"),
        F.size(
            F.filter(
                F.split(F.trim(lowered), r"\s+"), lambda w: w != F.lit("")
            )
        )
        .cast("long")
        .alias("n_words"),
        F.size(F.regexp_extract_all(lowered, F.lit("[aeiouy]+"), F.lit(0)))
        .cast("long")
        .alias("n_syllables"),
    ).filter((F.col("n_words") > 0) & (F.col("n_sentences") > 0))
    wps = F.col("n_words").cast("double") / F.col("n_sentences").cast("double")
    spw = F.col("n_syllables").cast("double") / F.col("n_words").cast("double")
    return out.select(
        "doc",
        "n_sentences",
        "n_words",
        "n_syllables",
        F.round((F.lit(206.835) - F.lit(1.015) * wps) - F.lit(84.6) * spw, 6).alias(
            "fre"
        ),
        F.round((F.lit(0.39) * wps + F.lit(11.8) * spw) - F.lit(15.59), 6).alias(
            "grade"
        ),
    )


def zipf_slope(
    df: DataFrame, text_col: str, group_col: str
) -> DataFrame:
    """Zipf's-law fit per group: least-squares slope of
    ``ln(freq) ~ ln(rank)`` over each group's ``top_ranks`` most
    frequent tokens.  Natural corpora slope near −1; template spam and
    tag soup flatten or steepen it — a cheap distribution-shape
    filter signal (and a drift monitor between ingest batches).

    Exactness: ``ln(rank)`` / ``ln(freq)`` are quantized per element
    to MILLI-units (×1e3 — products then stay ≪ 2^53 across the sum,
    unlike micro-units whose squares would overflow the exact-double
    range), all five regression sums are BIGINT, and the slope is one
    final cross-multiplied division rounded(6):
    ``(n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)``.

    Shape: one combinable (group, token) count, a per-GROUP ranking
    window (partitioned — each group ranks on its own executors),
    then a group-keyed reduce of five sums.  Emits
    ``(grp, n_ranks, slope)`` for groups with ≥ 2 ranks.
    """
    from pyspark.sql.window import Window

    top_ranks = 50
    toks = df.select(
        F.col(group_col).alias("grp"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    counts = toks.groupBy("grp", "tok").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("grp").orderBy(F.col("c").desc(), "tok")
    ranked = (
        counts.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= top_ranks)
        .select(
            "grp",
            F.floor(F.log(F.col("r").cast("double")) * 1000 + 0.5)
            .cast("long")
            .alias("x"),
            F.floor(F.log(F.col("c").cast("double")) * 1000 + 0.5)
            .cast("long")
            .alias("y"),
        )
    )
    agg = ranked.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    return agg.filter(F.col("n") >= 2).select(
        "grp",
        F.col("n").cast("long").alias("n_ranks"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"),
            6,
        ).alias("slope"),
    )


def kneser_ney_logprob(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram score per document (discount
    D = 3/4) — the smoothing that made n-gram LMs competitive
    (Kneser & Ney 1995), one tier above the raw-MLE
    :func:`bigram_logprob`: rare continuations are backed off to the
    CONTINUATION unigram (how many distinct contexts a word follows)
    rather than raw frequency, so boilerplate tokens that appear often
    but in one fixed context stop looking probable.

        p(w₂|w₁) = (c₁₂ − D)/c₁ + (D·N₁₊(w₁·)/c₁) · N₁₊(·w₂)/N₁₊(··)

    Exactness contract: D = 3/4 clears to the integer form
    ``(4·c₁₂ − 3)/(4·c₁)`` and every factor is a ratio of BIGINTs
    evaluated in one FIXED float sequence (div, div-mul, add) that is
    bit-identical across engines; ``ln(p)`` is then quantized per
    element to micro-units so the per-doc sums are exact integers.

    Shape: corpus stats are three combinable aggregates over the
    bigram stream (bigram count, prefix fan-out, suffix fan-in) plus
    one 1-row bigram-type total broadcast; scoring is three hash
    joins back onto the stream.  Emits
    ``(doc, n_bigrams, sum_nll_micro, avg_nll)`` for docs with ≥ 2
    tokens.
    """
    words = df.select(
        F.col(id_col).alias("doc"),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("w"),
    ).filter(F.size("w") >= 2)
    bg = words.select(
        "doc",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1), i -> concat(w[i-1], ' ', w[i]))"
            )
        ).alias("b"),
    )
    # bigram-type-sized frame with FOUR consumers (prefix stats,
    # suffix stats, type total, the scoring join): materialize once or
    # each branch re-explodes and re-counts the whole corpus (r13:
    # 5 documents scans in the q_kneser_ney plan before this)
    cb = (
        bg.groupBy("b")
        .agg(F.count(F.lit(1)).alias("c12"))
        .localCheckpoint(eager=False)
    )
    pre = cb.groupBy(F.split(F.col("b"), " ")[0].alias("p")).agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1fw")
    )
    suf = cb.groupBy(F.split(F.col("b"), " ")[1].alias("s")).agg(
        F.count(F.lit(1)).alias("n1bw")
    )
    nb = cb.agg(F.count(F.lit(1)).alias("nb"))

    scored = (
        bg.join(cb, "b")
        .join(pre, F.split(bg["b"], " ")[0] == pre["p"])
        .join(suf, F.split(bg["b"], " ")[1] == suf["s"])
        .crossJoin(F.broadcast(nb))
    )
    # the FIXED evaluation sequence both engines replay verbatim
    term1 = (4 * F.col("c12") - 3).cast("double") / (4 * F.col("c1")).cast("double")
    term2 = (
        (3 * F.col("n1fw")).cast("double") / (4 * F.col("c1")).cast("double")
    ) * (F.col("n1bw").cast("double") / F.col("nb").cast("double"))
    q = F.floor(F.log(term1 + term2) * 1000000 + 0.5).cast("long")
    per_doc = scored.select("doc", q.alias("q")).groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_bigrams"), F.sum("q").alias("sq")
    )
    return per_doc.select(
        "doc",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        (-F.col("sq")).cast("long").alias("sum_nll_micro"),
        F.round(
            (-F.col("sq")).cast("double")
            / F.col("n_bigrams").cast("double")
            / F.lit(1000000.0),
            6,
        ).alias("avg_nll"),
    )


def feature_hash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Hashing-trick text features (Weinberger et al. 2009): each
    token hashes to one of ``dim`` = 64 buckets with a ±1 sign from an
    independent hash bit, and a document's feature value is the signed
    count sum — fixed-width model inputs with no vocabulary state at
    all (the property that matters at 100 TB: no fit step, no
    dictionary broadcast, new tokens never resize anything).

    Portable-md5 hash family (the oracle-replayable choice — xxhash64
    stays the default elsewhere for speed): bucket = h % dim, sign =
    bit 6+ of the same hash.  Map-only + one combinable (doc, bucket)
    aggregate; emits sparse ``(doc, bucket, v)`` rows.
    """
    dim = 64
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
    hashed = toks.select("doc", h.alias("h"))  # stage once (HOF/CSE rule)
    staged = hashed.select(
        "doc",
        (F.col("h") % dim).alias("bucket"),
        F.when(F.expr(f"(h DIV {dim}) % 2") == 0, F.lit(1))
        .otherwise(F.lit(-1))
        .alias("s"),
    )
    return staged.groupBy("doc", "bucket").agg(
        F.sum("s").cast("long").alias("v")
    )


def heldout_perplexity(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Held-out LM evaluation with proper train/test discipline: an
    add-one-smoothed unigram model fits on the TRAIN split
    (``id % train_mod < train_lt``, 10 and 8) and scores the VAL split — the
    corpus-self LM scores (unigram_logprob etc.) flatter themselves;
    this is the number a data-quality gate should threshold on.

        nll(tok) = −ln((c_train + 1) / (tot_train + V_train))

    with V the train vocabulary size (unseen val tokens get the c=0
    mass).  Exactness: the probability is one fixed division of
    BIGINTs, each token's nll is micro-quantized before the per-doc
    sum.  Shape: one train vocab count, a 1-row (tot, V) broadcast,
    one LEFT hash join of val tokens onto the vocab.  Emits
    ``(doc, n_tokens, n_unseen, avg_nll)`` for val docs.

    ``id_col`` must be NUMERIC (the split is ``id % train_mod``, the
    oracle-replayable gate); a non-numeric id raises loudly here
    rather than failing with an opaque cast error at analysis time —
    hash string ids to a long first (the ``curriculum_interleave``
    portable-md5 pattern) if needed.
    """
    from pyspark.sql.types import NumericType

    train_mod, train_lt = 10, 8
    if not isinstance(df.schema[id_col].dataType, NumericType):
        raise TypeError(
            f"heldout_perplexity requires a numeric id_col for the "
            f"'id % {train_mod}' train/val split; got "
            f"{df.schema[id_col].dataType.simpleString()!r} for {id_col!r} — "
            "hash string ids to a long (portable md5) before calling."
        )
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    train = toks.filter((F.col("doc") % train_mod) < train_lt)
    val = toks.filter((F.col("doc") % train_mod) >= train_lt)
    # two consumers ((tot, V) broadcast + the scoring join):
    # materialize the vocab once instead of re-tokenizing the train
    # split per branch (r13)
    vocab = (
        train.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    totals = vocab.agg(
        F.sum("c").alias("tot"), F.count(F.lit(1)).alias("v")
    )
    scored = val.join(vocab, "tok", "left").crossJoin(F.broadcast(totals))
    p = (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double") / (
        F.col("tot") + F.col("v")
    ).cast("double")
    q = F.floor(F.log(p) * 1000000 + F.lit(0.5)).cast("long")
    per_doc = scored.select(
        "doc", q.alias("q"), F.col("c").isNull().cast("long").alias("unseen")
    ).groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("unseen").alias("n_unseen"),
        F.sum("q").alias("sq"),
    )
    return per_doc.select(
        "doc",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_unseen").cast("long").alias("n_unseen"),
        F.round(
            (-F.col("sq")).cast("double")
            / F.col("n_tokens").cast("double")
            / F.lit(1000000.0),
            6,
        ).alias("avg_nll"),
    )
