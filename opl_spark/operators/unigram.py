"""Unigram-LM tokenizer training (SentencePiece's unigram model,
Kudo 2018 arXiv:1804.10959 — simplified but faithful in shape): seed a
large candidate piece inventory, hard-EM (Viterbi) re-estimate piece
probabilities, prune to the target vocabulary, and segment by Viterbi
decode.  The subword-tokenizer alternative to BPE (operators/bpe.py);
both share the same distributed discipline:

- the ONLY corpus-sized pass is one distinct-word frequency count
  (`(word, freq)` — vocabulary-sized output, map-side combinable);
- every E-step runs per distinct word TYPE, not per occurrence:
  an Arrow-batched pass over the word table with the (tiny) piece
  inventory in the task closure, piece counts re-aggregated
  distributed — ONE Spark job per EM iteration, never per piece;
- the M-step and pruning touch only the vocab-sized count table on
  the driver (the k-means-centroid/catalog rule for driver state).

Determinism: seeding, tie-breaks (higher score, then longer piece,
then lexicographic), and pruning order are pure functions of the
corpus — reruns and task retries reproduce the same vocabulary.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _distinct_words(df: DataFrame, text_col: str) -> DataFrame:
    return (
        df.select(
            F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


#: log-prob charged for a character the vocabulary has never seen —
#: far below any trained piece, so UNK single-char steps are taken
#: only when nothing else can cover the position (the SentencePiece
#: ``unk`` convention).  Without this, segmenting text whose alphabet
#: exceeds the training corpus would leave unreachable DP states.
UNK_LOGPROB = -100.0

#: DP scores are integer MICRO-UNITS stored in doubles: ln() is not an
#: IEEE correctly-rounded op, so raw libm logprobs can differ by 1 ulp
#: between engines (Python libm vs DuckDB) and flip near-tie Viterbi
#: argmax picks — the oracle replays this DP in SQL.  Quantizing each
#: logprob to floor(lp·1e6 + 0.5) makes every DP sum an exact integer
#: (< 2^53), so comparisons and tie-breaks are engine-portable; the
#: only residual sensitivity is ln landing within 1 ulp of a .5
#: micro-boundary (~1e-10 per piece vs near-certain DP near-ties).
LOG_SCALE = 1_000_000.0

#: longest piece the trainer seeds and the segmenter decodes.
MAX_PIECE_LEN = 4


def _qlog(c: int, tot: int) -> float:
    """ln(c/tot) in integer micro-units (as an exact double)."""
    return float(math.floor(math.log(c / tot) * LOG_SCALE + 0.5))


def quantize_scores(scores: dict[str, float]) -> dict[str, float]:
    """Quantize fractional logprobs to integer micro-units — the form
    every Viterbi DP consumes (see LOG_SCALE)."""
    return {
        p: float(math.floor(lp * LOG_SCALE + 0.5)) for p, lp in scores.items()
    }


def _make_viterbi(scores: dict[str, float], max_len: int, unk: float = UNK_LOGPROB):
    """Build a self-contained Viterbi decoder CLOSURE: ``viterbi(word)``
    returns ``(pieces, total_score)``, the best segmentation of ``word``
    under log-prob ``scores``.  Decoding NEVER fails: a single character
    absent from the vocabulary scores ``unk``, so every position stays
    reachable even for out-of-vocabulary alphabets (train on ASCII,
    segment accented text).  Tie-break: higher score, then LONGER last
    piece (deterministic); unreachable prefixes (-inf) never propagate
    backpointers.

    Executor closures must not reference module globals: cloudpickle
    serializes module-level functions BY REFERENCE (import path), so a
    driver running outside the repo (the external harness) would hand
    workers an unimportable reference.  A closure built here pickles
    BY VALUE — code and captured literals travel with the task, the
    same self-containment rule streaming/stateful.py documents.
    """
    import math as _math

    def viterbi(word: str):
        n = len(word)
        best = [(-_math.inf, 0)] * (n + 1)  # (score, backpointer len)
        best[0] = (0.0, 0)
        for i in range(1, n + 1):
            for plen in range(1, min(max_len, i) + 1):
                piece = word[i - plen : i]
                sc = scores.get(piece)
                if sc is None:
                    if plen == 1:
                        sc = unk  # unknown char: always coverable
                    else:
                        continue
                if best[i - plen][0] == -_math.inf:
                    continue
                cand = best[i - plen][0] + sc
                if cand > best[i][0] or (
                    cand == best[i][0] and plen > best[i][1]
                ):
                    best[i] = (cand, plen)
        pieces = []
        i = n
        while i > 0:
            plen = best[i][1]
            pieces.append(word[i - plen : i])
            i -= plen
        return pieces[::-1], best[n][0]

    return viterbi


def _estep_counts(words: DataFrame, scores: dict[str, float], max_len: int):
    """One distributed hard-EM expectation pass: Viterbi-segment every
    distinct word, emit freq-weighted piece counts + the corpus Viterbi
    loss.  One Spark job; Python work is vocab-sized (per TYPE)."""
    import pandas as pd

    viterbi = _make_viterbi(scores, max_len)  # pickles by value

    def batches(it):
        for pdf in it:
            counts: dict[str, int] = {}
            loss = 0.0
            for w, f in zip(pdf["w"], pdf["freq"]):
                pieces, sc = viterbi(w)
                loss += -sc * int(f)
                for p in pieces:
                    counts[p] = counts.get(p, 0) + int(f)
            out = pd.DataFrame(
                {"piece": list(counts), "c": list(counts.values())}
            )
            out["loss"] = 0.0
            if len(out):
                out.loc[0, "loss"] = loss
            yield out

    agg = (
        words.mapInPandas(batches, "piece string, c long, loss double")
        .groupBy("piece")
        .agg(F.sum("c").alias("c"), F.sum("loss").alias("loss"))
        .collect()
    )
    counts = {r["piece"]: r["c"] for r in agg}
    loss = sum(r["loss"] for r in agg)
    return counts, loss


def unigram_train(
    df: DataFrame,
    text_col: str,
    vocab_size: int = 64,
    iters: int = 3,
) -> tuple[list[tuple[str, float]], list[float]]:
    """Train a unigram piece vocabulary.  Returns ``(vocab, losses)``
    where ``vocab`` is ``[(piece, logprob)]`` sorted by (-logprob,
    piece) and ``losses`` the per-iteration corpus Viterbi loss in
    LOG_SCALE micro-units (non-increasing during EM — asserted in
    tests; only the scale changed when DP scores went micro-unit).

    Spark-job budget: 1 (distinct-word count) + ``iters`` E-steps +
    1 final count after pruning — independent of vocab size and corpus
    size, the same one-job-per-round shape as the BPE trainer.
    """
    words = _distinct_words(df, text_col).localCheckpoint(eager=False)
    max_piece_len, min_count = MAX_PIECE_LEN, 2

    # seed inventory: every substring up to max_piece_len with corpus
    # frequency >= min_count, plus ALL single chars (decodability)
    seed_counts: dict[str, int] = {}
    for r in words.collect():  # vocab-sized driver state
        w, f = r["w"], r["freq"]
        for i in range(len(w)):
            for L in range(1, min(max_piece_len, len(w) - i) + 1):
                p = w[i : i + L]
                seed_counts[p] = seed_counts.get(p, 0) + f
    pieces = {
        p: c for p, c in seed_counts.items() if c >= min_count or len(p) == 1
    }
    total = sum(pieces.values())
    # micro-unit DP scores (engine-portable argmax — see LOG_SCALE)
    scores = {p: _qlog(c, total) for p, c in pieces.items()}

    losses: list[float] = []
    for _ in range(iters):
        counts, loss = _estep_counts(words, scores, max_piece_len)
        losses.append(loss)
        # M-step: re-estimate from Viterbi counts; unused pieces drop
        # (except single chars, kept for decodability)
        survivors = {
            p: c for p, c in counts.items() if c > 0
        }
        for ch in {p for p in scores if len(p) == 1}:
            survivors.setdefault(ch, 1)
        tot = sum(survivors.values())
        scores = {p: _qlog(c, tot) for p, c in survivors.items()}

    # prune to vocab_size: keep all single chars + the highest-count
    # multi-char pieces (ties by piece string — deterministic)
    counts, _ = _estep_counts(words, scores, max_piece_len)
    singles = sorted(p for p in scores if len(p) == 1)
    multi = sorted(
        (p for p in scores if len(p) > 1),
        key=lambda p: (-counts.get(p, 0), p),
    )
    keep = singles + multi[: max(0, vocab_size - len(singles))]
    kept_counts = {p: max(counts.get(p, 0), 1) for p in keep}
    tot = sum(kept_counts.values())
    vocab = sorted(
        ((p, math.log(c / tot)) for p, c in kept_counts.items()),
        key=lambda t: (-t[1], t[0]),
    )
    return vocab, losses


def unigram_segment(
    df: DataFrame,
    text_col: str,
    id_col: str,
    vocab: list[tuple[str, float]],
) -> DataFrame:
    """Viterbi-segment documents under a trained vocabulary —
    ``(doc, n_words, n_pieces)``.  Same per-TYPE shape as
    ``bpe_segment``: each DISTINCT word decodes once (Arrow-batched,
    closure-broadcast vocab), per-word piece counts hash-join back to
    the document token stream — Python cost is vocabulary-sized."""
    import pandas as pd

    # decode under micro-unit scores so the apply-side DP replays
    # engine-portably too (the oracle quantizes vocabf identically)
    scores = quantize_scores(dict(vocab))
    viterbi = _make_viterbi(
        scores, MAX_PIECE_LEN, unk=UNK_LOGPROB * LOG_SCALE
    )  # pickles by value

    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("w"),
    ).filter(F.col("w") != "")
    types = toks.select("w").distinct()

    def batches(it):
        for pdf in it:
            out = []
            for w in pdf["w"]:
                pieces, _ = viterbi(w)
                out.append(len(pieces))
            yield pd.DataFrame({"w": pdf["w"], "n_p": out})

    encoded = types.mapInPandas(batches, "w string, n_p long")
    return (
        toks.join(encoded, "w")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_p").alias("n_pieces"),
        )
    )
