"""Distributed BPE tokenizer training (Sennrich et al. 2016): the
corpus-scale recipe.

The insight that makes BPE tractable at 100 TB: merge learning only
ever needs the DISTINCT-WORD frequency table, never the token stream.
So the Spark side is exactly one job — ``explode(split(text))`` +
map-side-combinable ``groupBy(word).count()`` — whose output is
vocab-sized (millions of rows ≈ tens of MB at web scale, bounded here
by ``max_vocab_words`` as a driver-memory guard).  All ``num_merges``
merges are then learned locally over that table with the classic
incremental pair-count + lazy-deletion heap (the same shape HuggingFace
``tokenizers`` and the original subword-nmt use): per merge, only the
words that actually CONTAIN the winning pair are touched, so learning
50k merges is O(sum of touched-word lengths), not 50k Spark jobs.

The apply side (``bpe_segment``) is per-TYPE, not per-occurrence: the
corpus aggregates to ``(doc, word, count)``, each *distinct* word is
encoded once through the merge table, and token counts hash-join back —
at corpus scale that is ~100× less interpreted-Python work than
replaying merges per word occurrence.

Determinism: merge selection is count-desc with (left, right)-asc
tiebreak; nothing depends on collect order or partitioning.
"""

from __future__ import annotations

import heapq

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _word_freqs(df: DataFrame, text_col: str) -> DataFrame:
    """``(w, freq)`` per distinct whitespace-token — the only
    distributed stage of BPE training.  Map-side-combinable count."""
    words = df.select(
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    return words.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))


def _merge_word(syms: list[str], left: str, right: str) -> list[str]:
    """One left-to-right merge pass over a symbol list."""
    res: list[str] = []
    i, n = 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == left and syms[i + 1] == right:
            res.append(left + right)
            i += 2
        else:
            res.append(syms[i])
            i += 1
    return res


def _learn_merges_local(
    word_freqs: list[tuple[str, int]], num_merges: int
) -> list[tuple[int, str, str, int]]:
    """Learn merges over a ``(word, freq)`` table with incremental
    pair-count maintenance and a lazy-deletion max-heap.  Output is
    independent of the input row order: counts are sums and each word's
    update is independent."""
    words = [list(w) for w, _ in word_freqs]
    freqs = [f for _, f in word_freqs]

    pair_counts: dict[tuple[str, str], int] = {}
    pair_where: dict[tuple[str, str], set[int]] = {}
    for i, syms in enumerate(words):
        f = freqs[i]
        for p in zip(syms, syms[1:]):
            pair_counts[p] = pair_counts.get(p, 0) + f
            pair_where.setdefault(p, set()).add(i)

    # heap entry (-count, pair): pop order = count desc, pair asc.
    # Entries go stale when a count changes; every change pushes a
    # fresh entry, so the top VALID entry is always the true argmax.
    heap: list[tuple[int, tuple[str, str]]] = [
        (-c, p) for p, c in pair_counts.items()
    ]
    heapq.heapify(heap)

    merges: list[tuple[int, str, str, int]] = []
    while len(merges) < num_merges and heap:
        negc, p = heapq.heappop(heap)
        if pair_counts.get(p, 0) != -negc:
            continue  # stale entry
        if -negc < 2:
            break  # no pair repeats — nothing left to learn
        left, right = p
        merges.append((len(merges), left, right, -negc))

        touched: set[tuple[str, str]] = set()
        for i in pair_where.get(p, set()).copy():
            syms, f = words[i], freqs[i]
            for q in zip(syms, syms[1:]):
                pair_counts[q] -= f
                pair_where[q].discard(i)
                touched.add(q)
            new = _merge_word(syms, left, right)
            words[i] = new
            for q in zip(new, new[1:]):
                pair_counts[q] = pair_counts.get(q, 0) + f
                pair_where.setdefault(q, set()).add(i)
                touched.add(q)
        for q in touched:
            c = pair_counts.get(q, 0)
            if c > 0:
                heapq.heappush(heap, (-c, q))
            else:
                pair_counts.pop(q, None)
                pair_where.pop(q, None)
    return merges


def learn_bpe_merges(
    df: DataFrame,
    text_col: str,
    num_merges: int = 10,
) -> list[tuple[int, str, str, int]]:
    """Learn ``num_merges`` BPE merges over the corpus.  Returns
    ``[(rank, left, right, weighted_count), ...]`` — the merge table a
    tokenizer ships.

    ONE Spark job (the distinct-word frequency aggregation); all merges
    are then learned driver-side over the vocab-sized table.
    ``max_vocab_words`` bounds driver memory at open-web vocabulary
    sizes by keeping the most frequent types (freq-desc, word-asc —
    deterministic); rare singleton types cannot win a merge anyway
    until far beyond realistic ``num_merges``."""
    max_vocab_words = 4_000_000
    rows = (
        _word_freqs(df, text_col)
        .orderBy(F.col("freq").desc(), F.col("w"))
        .limit(max_vocab_words)
        .collect()
    )
    return _learn_merges_local(
        [(r["w"], int(r["freq"])) for r in rows], num_merges
    )


def _encode_len(word: str, ordered: list[tuple[str, str]]) -> int:
    """Token count of one word under a rank-ordered merge table."""
    syms = list(word)
    for left, right in ordered:
        if len(syms) < 2:
            break
        syms = _merge_word(syms, left, right)
    return len(syms)


def encode_vocab(
    words: DataFrame, merges: list[tuple[int, str, str, int]]
) -> DataFrame:
    """``(w, w_tokens)`` for a distinct-word table: replay the merge
    table once per TYPE (Arrow-batched).  This is the only Python-side
    work in segmentation, and it is vocab-sized."""
    from pyspark.sql.functions import pandas_udf

    ordered = [(m[1], m[2]) for m in sorted(merges)]

    # the encode loop is (re)defined INSIDE the closure so cloudpickle
    # ships it by value — executors must not need opl_spark importable
    @pandas_udf("int")
    def toklen(w: pd.Series) -> pd.Series:
        def encode_len(word: str) -> int:
            syms = list(word)
            for left, right in ordered:
                if len(syms) < 2:
                    break
                res, i, n = [], 0, len(syms)
                while i < n:
                    if i + 1 < n and syms[i] == left and syms[i + 1] == right:
                        res.append(left + right)
                        i += 2
                    else:
                        res.append(syms[i])
                        i += 1
                syms = res
            return len(syms)

        return w.map(encode_len)

    return words.select("w", toklen(F.col("w")).alias("w_tokens"))


def bpe_segment(
    df: DataFrame, text_col: str, id_col: str, merges: list[tuple[int, str, str, int]]
) -> DataFrame:
    """Apply a learned merge table: ``(doc, n_tokens, n_chars)`` — the
    compression the merge table achieves.

    Per-type encoding: aggregate to ``(doc, word, cnt)``, encode each
    DISTINCT word once (``encode_vocab``), hash-join the per-type token
    lengths back and sum ``cnt · w_tokens`` per document.  Word counts
    and the final sum are map-side combinable; the join key is the word
    string (AQE broadcasts the vocab side when it is small)."""
    words = df.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("w"),
    ).filter(F.col("w") != "")
    wc = words.groupBy("doc", "w").agg(F.count(F.lit(1)).alias("cnt"))
    encoded = encode_vocab(wc.select("w").distinct(), merges)
    doc_tokens = (
        wc.join(encoded, "w")
        .groupBy("doc")
        .agg(F.sum(F.col("cnt") * F.col("w_tokens")).alias("n_tokens"))
    )
    return (
        df.select(
            F.col(id_col).alias("doc"),
            F.length(F.col(text_col)).cast("int").alias("n_chars"),
        )
        .join(doc_tokens, "doc", "left")
        .select(
            "doc",
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("int").alias("n_tokens"),
            "n_chars",
        )
    )


def bpe_fertility(
    df: DataFrame,
    text_col: str,
    lang_col: str,
    merges: list[tuple[int, str, str, int]],
) -> DataFrame:
    """Tokenizer fertility report per language: tokens-per-word and
    characters-per-token under a learned merge table — the standard
    'is this tokenizer fair to language X' audit (fertility ≫ 1 for a
    language means its text costs disproportionately many tokens).

    Same per-TYPE discipline as :func:`bpe_segment`: the merge replay
    runs once per distinct word, never per occurrence; per-language
    totals are map-side-combinable sums over the joined counts.
    Ratios ship ×1e6 as exact integers (`tokens·1e6 div words`) plus
    a rounded float convenience column.

    Emits ``(lang, n_words, n_tokens, n_chars, fertility_x1e6,
    chars_per_token)``.
    """
    words = df.select(
        F.col(lang_col).alias("lang"),
        F.explode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("w"),
    ).filter(F.col("w") != "")
    wc = words.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("cnt"))
    encoded = encode_vocab(wc.select("w").distinct(), merges)
    per = (
        wc.join(encoded, "w")
        .groupBy("lang")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("cnt") * F.col("w_tokens")).alias("n_tokens"),
            F.sum(F.col("cnt") * F.length("w")).alias("n_chars"),
        )
    )
    return per.select(
        "lang",
        "n_words",
        "n_tokens",
        "n_chars",
        F.expr("n_tokens * 1000000L div n_words").alias("fertility_x1e6"),
        F.round(F.col("n_chars").cast("double") / F.col("n_tokens"), 6).alias(
            "chars_per_token"
        ),
    )
