"""Distributed unigram-LM tokenizer training (Kudo 2018, "Subword
Regularization" — the SentencePiece ``--model_type=unigram`` family).

BPE (operators/bpe.py) learns a merge ORDER; the unigram LM learns a
piece PROBABILITY TABLE and segments by likelihood — the tokenizer the
major public LLM vocabularies actually ship. The reference engine has
no tokenizer (its nearest analog is per-batch ingest counting,
src/metadata_crawler/api/utils.py); this module is part of the
LLM-pipeline surface the engine adds for training-data work.

Everything runs on the UNIQUE-WORD table (operators/bpe.word_counts —
the one corpus-sized pass): by Heaps' law that table is 3-4 orders of
magnitude smaller than a 100 TB corpus, and every EM iteration below
touches only it, never the corpus.

Scale shape per training round:
- **E-step**: ONE ``mapInPandas`` over the word table with the current
  piece log-probs broadcast; each Arrow batch runs the forward-backward
  lattice DP per word (O(len x max_piece_len) per word) and emits
  PRE-AGGREGATED (piece, expected_count) partials — so the shuffle that
  follows moves at most |batch-vocab| rows per batch, not per-word
  occurrence rows. ONE piece-keyed groupBy sums the partials.
- **M-step**: the summed table collects to the driver — bounded by
  construction at vocab size (the IVF-centroid / train_bpe pattern:
  only model-sized data crosses the driver boundary) — normalizes, and
  rebroadcasts.
- **Pruning**: between EM rounds the vocabulary shrinks by
  ``shrink_factor`` toward ``vocab_size``, dropping the pieces with the
  lowest expected counts (the cheap, standard proxy for SentencePiece's
  likelihood-loss ranking; single-character pieces are never pruned, so
  every seed word stays segmentable).

Deliberate deviations from SentencePiece, documented for parity
readers: plain MLE M-step (no Bayesian digamma smoothing), expected-
count pruning (not per-piece likelihood-loss), and a seed vocabulary of
the top frequency-weighted substrings (SentencePiece seeds from an ESA
over the corpus). Each keeps the algorithm deterministic and
engine-checkable; none changes the fixed-point structure of EM.

``unigram_encode`` is the serving path: Viterbi segmentation under the
learned log-probs as an Arrow-batched pandas UDF with a broadcast piece
dict and a per-word memo (same memo rationale as ``bpe_encode``: web
text repeats words, hit rate ~ frequency skew). Characters outside the
vocabulary emit ``unk`` — by construction only characters absent from
the TRAINING corpus.
"""

from __future__ import annotations

import math
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NEG_INF = float("-inf")


def _logsumexp(vals: list[float]) -> float:
    m = max(vals)
    if m == _NEG_INF:
        return _NEG_INF
    return m + math.log(sum(math.exp(v - m) for v in vals))


def _forward(word: str, logp: dict[str, float], max_len: int) -> list[float]:
    n = len(word)
    alpha = [_NEG_INF] * (n + 1)
    alpha[0] = 0.0
    for j in range(1, n + 1):
        terms = []
        for l in range(1, min(max_len, j) + 1):
            lp = logp.get(word[j - l : j])
            if lp is not None and alpha[j - l] != _NEG_INF:
                terms.append(alpha[j - l] + lp)
        if terms:
            alpha[j] = _logsumexp(terms)
    return alpha


def _expected_counts(
    word: str, cnt: float, logp: dict[str, float], max_len: int
) -> tuple[dict[str, float], float]:
    """Forward-backward expected piece counts for one word (x cnt).
    Returns (counts, log Z) so the caller gets the word's likelihood
    from the same forward pass; counts is {} (and Z is -inf) for words
    the vocabulary cannot segment."""
    n = len(word)
    alpha = _forward(word, logp, max_len)
    z = alpha[n]
    if z == _NEG_INF:
        return {}, z
    beta = [_NEG_INF] * (n + 1)
    beta[n] = 0.0
    for j in range(n - 1, -1, -1):
        terms = []
        for l in range(1, min(max_len, n - j) + 1):
            lp = logp.get(word[j : j + l])
            if lp is not None and beta[j + l] != _NEG_INF:
                terms.append(lp + beta[j + l])
        if terms:
            beta[j] = _logsumexp(terms)
    out: dict[str, float] = {}
    for i in range(n):
        if alpha[i] == _NEG_INF:
            continue
        for l in range(1, min(max_len, n - i) + 1):
            piece = word[i : i + l]
            lp = logp.get(piece)
            if lp is None or beta[i + l] == _NEG_INF:
                continue
            e = math.exp(alpha[i] + lp + beta[i + l] - z) * cnt
            out[piece] = out.get(piece, 0.0) + e
    return out, z


def seed_pieces(
    words: DataFrame, max_piece_len: int = 8, max_seed: int = 20_000
) -> DataFrame:
    """Seed vocabulary from the (word, cnt) table: every substring up to
    ``max_piece_len`` scored by frequency-weighted occurrence count; the
    top ``max_seed`` multi-char pieces survive, plus ALL single
    characters (unconditionally — they guarantee segmentability).
    Substring explosion runs in ``mapInPandas`` and pre-aggregates per
    batch, so the shuffle carries (piece, freq) partials only.
    """

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            acc: dict[str, float] = {}
            for w, c in zip(pdf["word"], pdf["cnt"]):
                c = float(c)
                n = len(w)
                for i in range(n):
                    for l in range(1, min(max_piece_len, n - i) + 1):
                        p = w[i : i + l]
                        acc[p] = acc.get(p, 0.0) + c
            yield pd.DataFrame(
                {"piece": list(acc.keys()), "freq": list(acc.values())}
            )

    freqs = (
        words.mapInPandas(gen, "piece string, freq double")
        .groupBy("piece")
        .agg(F.sum("freq").alias("freq"))
    )
    chars = freqs.filter(F.length("piece") == 1)
    multi = (
        freqs.filter(F.length("piece") > 1)
        .orderBy(F.desc("freq"), "piece")
        .limit(max_seed)
    )
    return chars.unionByName(multi)


def _em_pass(
    words: DataFrame, logp: dict[str, float], max_piece_len: int
) -> tuple[dict[str, float], float]:
    """One distributed E-step + driver M-step. Returns (new logp table,
    corpus log-likelihood under the INPUT table)."""
    spark = words.sparkSession
    bc = spark.sparkContext.broadcast(logp)
    ml = max_piece_len

    def estep(batches: Iterator) -> Iterator:
        import pandas as pd

        theta = bc.value
        for pdf in batches:
            acc: dict[str, float] = {}
            ll = 0.0
            for w, c in zip(pdf["word"], pdf["cnt"]):
                c = float(c)
                ec, z = _expected_counts(w, c, theta, ml)
                for piece, e in ec.items():
                    acc[piece] = acc.get(piece, 0.0) + e
                if z != _NEG_INF:
                    ll += c * z
            out = pd.DataFrame(
                {"piece": list(acc.keys()), "e": list(acc.values())}
            )
            out["ll"] = 0.0
            if len(out):
                out.loc[0, "ll"] = ll
            else:
                out = pd.DataFrame({"piece": [None], "e": [0.0], "ll": [ll]})
            yield out

    rows = (
        words.mapInPandas(estep, "piece string, e double, ll double")
        .groupBy("piece")
        .agg(F.sum("e").alias("e"), F.sum("ll").alias("ll"))
        .collect()
    )
    bc.destroy()
    # collect() row order follows partition layout; sort before the
    # driver-side float folds so sums/dict order (and hence the last-ulp
    # bits of every logp) are identical on any cluster size
    rows.sort(key=lambda r: (r["piece"] is None, r["piece"] or ""))
    counts = {r["piece"]: r["e"] for r in rows if r["piece"] is not None}
    ll = sum(r["ll"] for r in rows)
    for p in logp:
        # single chars guarantee segmentability: floor them above zero
        # so float underflow in exp() can never prune one via the c > 0
        # filter below
        if len(p) == 1:
            counts[p] = max(counts.get(p, 0.0), 1e-12)
    total = sum(counts.values())
    new = {
        p: math.log(c) - math.log(total) for p, c in counts.items() if c > 0.0
    }
    return new, ll


def train_unigram(
    words: DataFrame,
    vocab_size: int,
    max_piece_len: int = 8,
    max_seed: int = 20_000,
    em_iters: int = 2,
    shrink_factor: float = 0.75,
    final_em_iters: int = 2,
) -> DataFrame:
    """Train a unigram-LM piece table over the (word, cnt) table.
    Returns a (piece, logp) DataFrame of at most ``vocab_size`` pieces
    (plus however many single characters the corpus needs beyond it —
    single chars are never pruned).

    Loop: seed -> [em_iters x EM -> prune by expected count] until the
    vocabulary fits, then ``final_em_iters`` more EM passes on the final
    vocabulary. The E-step computes the forward-backward lattice per
    unique word; the word table is the ONLY distributed data touched.
    """
    if not 0.0 < shrink_factor < 1.0:
        raise ValueError(f"shrink_factor in (0,1), got {shrink_factor}")
    seeds = sorted(
        seed_pieces(words, max_piece_len, max_seed).collect(),
        key=lambda r: r["piece"],
    )  # fixed fold order: same float total/logp bits on any cluster size
    total = sum(r["freq"] for r in seeds)
    logp = {r["piece"]: math.log(r["freq"] / total) for r in seeds}
    single = {p for p in logp if len(p) == 1}

    while len(logp) > max(vocab_size, len(single)):
        for _ in range(em_iters):
            logp, _ = _em_pass(words, logp, max_piece_len)
        target = max(vocab_size, int(len(logp) * shrink_factor), len(single))
        if len(logp) <= target:
            continue
        multi = sorted(
            ((p, lp) for p, lp in logp.items() if len(p) > 1),
            key=lambda kv: (-kv[1], kv[0]),
        )
        keep = dict(multi[: max(target - len(single & set(logp)), 0)])
        keep.update({p: lp for p, lp in logp.items() if len(p) == 1})
        # renormalize the survivors so the next E-step sees a distribution
        norm = _logsumexp(list(keep.values()))
        logp = {p: lp - norm for p, lp in keep.items()}
    for _ in range(final_em_iters):
        logp, _ = _em_pass(words, logp, max_piece_len)

    spark = words.sparkSession
    return spark.createDataFrame(
        sorted(logp.items()), "piece string, logp double"
    )


def corpus_loglik(
    words: DataFrame, pieces: DataFrame, max_piece_len: int = 8
) -> float:
    """Corpus log-likelihood of the word table under a (piece, logp)
    table — the tokenizer-quality number (lower magnitude per token =
    better fit). One E-step-shaped pass; unsegmentable words contribute
    nothing (they would be -inf; callers compare vocabularies that both
    cover the corpus)."""
    logp = {r["piece"]: r["logp"] for r in pieces.collect()}
    _, ll = _em_pass(words, logp, max_piece_len)
    return ll


def _viterbi(word: str, logp: dict[str, float], max_len: int) -> list[str] | None:
    n = len(word)
    best = [_NEG_INF] * (n + 1)
    back = [0] * (n + 1)
    best[0] = 0.0
    for j in range(1, n + 1):
        for l in range(1, min(max_len, j) + 1):
            lp = logp.get(word[j - l : j])
            if lp is None or best[j - l] == _NEG_INF:
                continue
            s = best[j - l] + lp
            if s > best[j]:
                best[j] = s
                back[j] = l
    if best[n] == _NEG_INF:
        return None
    out = []
    j = n
    while j > 0:
        out.append(word[j - back[j] : j])
        j -= back[j]
    return out[::-1]


def unigram_encode(
    df: DataFrame,
    pieces: DataFrame,
    text_col: str = "text",
    out_col: str = "pieces",
    max_piece_len: int = 8,
    unk: str = "<unk>",
) -> DataFrame:
    """Viterbi-encode ``text_col`` under a trained (piece, logp) table:
    whitespace pre-tokenize (the ``word_counts`` inventory), segment
    each word by max-likelihood, flatten per document. Characters the
    vocabulary lacks become ``unk`` (never silently dropped). Broadcast
    dict + Arrow batches + per-word memo — the bpe_encode serving shape.
    """
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(
        {r["piece"]: r["logp"] for r in pieces.collect()}
    )
    ml = max_piece_len

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def enc(texts: pd.Series) -> pd.Series:
        logp = bc.value
        memo: dict[str, list[str]] = {}

        def word_pieces(w: str) -> list[str]:
            got = memo.get(w)
            if got is None:
                seg = _viterbi(w, logp, ml)
                if seg is None:
                    # isolate the unknown characters, keep known runs
                    seg = []
                    run = ""
                    for ch in w:
                        if ch in logp:
                            run += ch
                        else:
                            if run:
                                seg.extend(_viterbi(run, logp, ml) or [unk])
                                run = ""
                            seg.append(unk)
                    if run:
                        seg.extend(_viterbi(run, logp, ml) or [unk])
                memo[w] = got = seg
            return got

        def doc(text) -> list[str]:
            if text is None:
                return []
            out: list[str] = []
            for w in str(text).split():
                out.extend(word_pieces(w))
            return out

        return texts.map(doc)

    return df.withColumn(out_col, enc(F.col(text_col)))
