"""Unigram language-model tokenizer (Kudo 2018, "Subword Regularization:
Improving Neural Network Translation Models with Multiple Subword
Candidates") — the OTHER production subword family (SentencePiece's
default), completing the tokenizer surface next to BPE (bpe.py).

Same Spark-first scale split as BPE, because the same fact holds:
segmentation never crosses word boundaries, so the corpus word-frequency
table is a sufficient statistic for training.  The corpus-sized work is
ONE distributed word count; EM + pruning run driver-side over that
bounded table; encoding broadcasts the learned piece table and runs a
memoized Viterbi per distinct word in a shuffle-free Arrow map.

Differences from SentencePiece, stated honestly:

- Seed vocabulary is all word substrings up to ``max_piece_len`` ranked
  by occurrence mass (SentencePiece uses a suffix-array + ESA heuristic;
  same idea, simpler construction — exact for these table sizes).
- Pruning drops the lowest-expected-count pieces per round
  (SentencePiece computes per-piece loss deltas; expected count is the
  standard cheap proxy and keeps the fixed point deterministic).
- Words are treated as independent units (no cross-word ``▁`` pieces).

Determinism end to end: fixed seed-vocab ranking with lexicographic
ties, fixed EM iteration and prune-round counts, no randomness — rerun-
and retry-stable like every hash in the engine.
"""

from __future__ import annotations

import math
from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streaming_spark.operators.bpe import bpe_word_freqs
from streaming_spark.operators.stream import stream

_NEG_INF = float("-inf")


def unigram_seed_vocab(
    word_freqs: list[tuple[str, int]],
    max_piece_len: int = 8,
    seed_size: int = 2000,
) -> dict[str, float]:
    """Seed piece inventory: every substring (length ≤ ``max_piece_len``)
    of every word, ranked by total occurrence mass (freq · count within
    word), top ``seed_size`` kept — plus ALL single characters
    unconditionally, so every word stays segmentable at every later
    pruning step (the coverage invariant).  Returns piece → log-prob,
    normalized over the seed."""
    mass: Counter = Counter()
    for word, f in word_freqs:
        n = len(word)
        for i in range(n):
            for j in range(i + 1, min(i + max_piece_len, n) + 1):
                mass[word[i:j]] += f
    singles = {p for p in mass if len(p) == 1}
    multi = sorted(
        (p for p in mass if len(p) > 1),
        key=lambda p: (-mass[p], p),
    )[: max(0, seed_size - len(singles))]
    seed = {p: float(mass[p]) for p in singles}
    seed.update({p: float(mass[p]) for p in multi})
    total = sum(seed.values())
    # log(v) - log(total), same underflow-proof form as the EM step
    return {p: math.log(v) - math.log(total) for p, v in seed.items()}


def _viterbi(word: str, logp: dict[str, float], max_len: int) -> list[str]:
    """Best segmentation of ``word`` under the piece log-probs (ties
    break toward the LONGEST last piece, deterministically)."""
    n = len(word)
    best = [0.0] + [_NEG_INF] * n
    back = [0] * (n + 1)
    for j in range(1, n + 1):
        for i in range(max(0, j - max_len), j):
            piece = word[i:j]
            lp = logp.get(piece)
            if lp is None:
                continue
            score = best[i] + lp
            if score > best[j] or (score == best[j] and i < back[j]):
                best[j], back[j] = score, i
    if best[n] == _NEG_INF:  # unreachable when all single chars present
        return list(word)
    out = []
    j = n
    while j > 0:
        i = back[j]
        out.append(word[i:j])
        j = i
    return out[::-1]


def _expected_counts(
    word: str, freq: int, logp: dict[str, float], max_len: int, out: Counter
) -> None:
    """Forward-backward expected piece counts for one word, accumulated
    into ``out`` weighted by the word's corpus frequency (the E-step)."""
    n = len(word)
    alpha = [0.0] + [_NEG_INF] * n
    for j in range(1, n + 1):
        acc = _NEG_INF
        for i in range(max(0, j - max_len), j):
            lp = logp.get(word[i:j])
            if lp is None or alpha[i] == _NEG_INF:
                continue
            s = alpha[i] + lp
            acc = s if acc == _NEG_INF else (
                max(acc, s) + math.log1p(math.exp(-abs(acc - s)))
            )
        alpha[j] = acc
    beta = [_NEG_INF] * n + [0.0]
    for i in range(n - 1, -1, -1):
        acc = _NEG_INF
        for j in range(i + 1, min(i + max_len, n) + 1):
            lp = logp.get(word[i:j])
            if lp is None or beta[j] == _NEG_INF:
                continue
            s = lp + beta[j]
            acc = s if acc == _NEG_INF else (
                max(acc, s) + math.log1p(math.exp(-abs(acc - s)))
            )
        beta[i] = acc
    z = alpha[n]
    if z == _NEG_INF:
        return
    for i in range(n):
        if alpha[i] == _NEG_INF:
            continue
        for j in range(i + 1, min(i + max_len, n) + 1):
            piece = word[i:j]
            lp = logp.get(piece)
            if lp is None or beta[j] == _NEG_INF:
                continue
            out[piece] += freq * math.exp(alpha[i] + lp + beta[j] - z)


def learn_unigram(
    word_freqs: list[tuple[str, int]],
    vocab_size: int = 512,
    max_piece_len: int = 8,
    seed_size: int = 2000,
    n_em_iters: int = 2,
    keep_frac: float = 0.75,
) -> dict[str, float]:
    """Driver-side unigram training over a word-frequency table: seed →
    (EM ×``n_em_iters`` → prune to ``keep_frac``) rounds until the
    inventory fits ``vocab_size`` → final EM.  Single characters are
    never pruned (coverage invariant: every word stays segmentable).
    Returns piece → log-prob, normalized."""
    logp = unigram_seed_vocab(word_freqs, max_piece_len, seed_size)

    def em(logp: dict[str, float]) -> dict[str, float]:
        for _ in range(n_em_iters):
            counts: Counter = Counter()
            for word, f in word_freqs:
                _expected_counts(word, f, logp, max_piece_len, counts)
            # smooth singles so the coverage invariant survives zero counts
            total = 0.0
            for p in logp:
                c = counts.get(p, 0.0)
                if len(p) == 1 and c <= 0.0:
                    c = 1e-6
                counts[p] = c
                total += c
            # log(c) - log(total), NOT log(c / total): a denormal-small
            # expected count divided by a larger total underflows to
            # exactly 0.0 and log(0.0) raises even though c > 0.0
            # (Hypothesis counterexample: word_freqs=[('fbadfeadccca', 1)]).
            logp = {
                p: math.log(c) - math.log(total)
                for p, c in counts.items()
                if c > 0.0 and p in logp
            }
        return logp

    logp = em(logp)
    while len(logp) > vocab_size:
        n_keep = max(vocab_size, int(len(logp) * keep_frac))
        singles = {p for p in logp if len(p) == 1}
        multi = sorted(
            (p for p in logp if len(p) > 1),
            key=lambda p: (-logp[p], p),
        )
        kept = set(multi[: max(0, n_keep - len(singles))]) | singles
        logp = {p: lp for p, lp in logp.items() if p in kept}
        logp = em(logp)
        if len(kept) <= len(singles):
            break
    total = math.fsum(math.exp(lp) for lp in logp.values())
    return {p: lp - math.log(total) for p, lp in logp.items()}


def unigram_train(
    docs: DataFrame,
    text_col: str = "text",
    vocab_size: int = 512,
    max_piece_len: int = 8,
    seed_size: int = 2000,
    max_words: int = 50_000,
) -> tuple[dict[str, float], float]:
    """Train a unigram piece table on a corpus: distributed word count →
    bounded driver-side EM (same contract as bpe_train).  Returns
    (piece → log-prob, coverage) where coverage is the token-mass
    fraction the ``max_words`` cap retained."""
    all_freqs = bpe_word_freqs(docs, text_col)
    total_row = all_freqs.agg(
        F.sum("freq").alias("t"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    total, n_distinct = total_row["t"] or 0, total_row["n"]
    capped = n_distinct > max_words
    kept = (
        bpe_word_freqs(docs, text_col, max_words=max_words)
        if capped
        else all_freqs
    )
    rows = kept.collect()  # bounded by max_words — the driver contract
    kept_mass = sum(r["freq"] for r in rows)
    coverage = (kept_mass / total) if total else 1.0
    pieces = learn_unigram(
        [(r["word"], r["freq"]) for r in rows],
        vocab_size=vocab_size,
        max_piece_len=max_piece_len,
        seed_size=seed_size,
    )
    return pieces, coverage


def unigram_encode_counts(
    docs: DataFrame,
    pieces: dict[str, float],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document Viterbi token counts under a trained piece table —
    the piece table ships as a broadcast side input (it is vocab-sized)
    and each Arrow batch segments its docs with a per-distinct-word memo
    (Zipf: a batch's distinct words ≪ its tokens).  Shuffle-free narrow
    map, the same 100 TB shape as bpe_encode_counts."""
    max_len = max((len(p) for p in pieces), default=1)

    def compute(pdf: pd.DataFrame, side) -> pd.DataFrame:
        logp, max_len = side
        if len(pdf) == 0:
            return None
        memo: dict[str, int] = {}
        ids, counts = [], []
        for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
            n = 0
            for word in (text or "").split():
                c = memo.get(word)
                if c is None:
                    c = len(_viterbi(word, logp, max_len))
                    memo[word] = c
                n += c
            ids.append(doc_id)
            counts.append(n)
        return pd.DataFrame(
            {
                "doc_id": pd.Series(ids, dtype="int64"),
                "n_unigram_tokens": pd.Series(counts, dtype="int64"),
            }
        )

    return stream(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias(text_col)),
        compute,
        "doc_id BIGINT, n_unigram_tokens BIGINT",
        side_input=(pieces, max_len),
    )


def unigram_save(path: str, pieces: dict[str, float], coverage: float = 1.0) -> None:
    """Persist a trained piece table as a versioned JSON artifact
    (train-once / encode-many pipeline boundary — same contract as
    bpe_save / ann_index_save, atomic write included).  Pieces stored
    sorted for a stable byte-identical artifact."""
    from streaming_spark.operators.index_commit import write_marker

    artifact = {
        "format": "streaming-spark-unigram",
        "version": 1,
        "coverage": coverage,
        "pieces": {p: pieces[p] for p in sorted(pieces)},
    }
    write_marker(path, artifact)


def unigram_load(path: str) -> dict:
    """Load a :func:`unigram_save` artifact; raises ``ValueError`` on an
    unrecognized format or version (corrupt/foreign files fail loudly)."""
    import json

    with open(path, encoding="utf-8") as f:
        artifact = json.load(f)
    if artifact.get("format") != "streaming-spark-unigram":
        raise ValueError(f"not a streaming-spark unigram artifact: {path}")
    if artifact.get("version") != 1:
        raise ValueError(
            f"unsupported unigram artifact version: {artifact.get('version')}"
        )
    return artifact


def _sample_segmentation(
    word: str,
    logp: dict[str, float],
    max_len: int,
    alpha: float,
    seed: int,
) -> list[str]:
    """Sample ONE segmentation of ``word`` ∝ P(segmentation)^alpha via
    forward-filtering / backward-sampling over the segmentation lattice
    (exact, not n-best-truncated).  ``alpha`` is the smoothing exponent
    of Kudo 2018 §3.4: alpha→∞ recovers Viterbi, smaller alpha samples
    more diverse segmentations.  Deterministic for a given seed — the
    per-position draw comes from a splitmix64-style counter hash, so
    retries replay the identical choice sequence."""
    n = len(word)
    # forward pass at temperature alpha
    alpha_f = [0.0] + [_NEG_INF] * n
    for j in range(1, n + 1):
        acc = _NEG_INF
        for i in range(max(0, j - max_len), j):
            lp = logp.get(word[i:j])
            if lp is None or alpha_f[i] == _NEG_INF:
                continue
            s = alpha_f[i] + alpha * lp
            acc = s if acc == _NEG_INF else (
                max(acc, s) + math.log1p(math.exp(-abs(acc - s)))
            )
        alpha_f[j] = acc
    if alpha_f[n] == _NEG_INF:
        return list(word)

    def unit_draw(counter: int) -> float:
        x = (seed + counter * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 31
        return (x >> 11) / float(1 << 53)

    out = []
    j = n
    step = 0
    while j > 0:
        opts, weights = [], []
        for i in range(max(0, j - max_len), j):
            lp = logp.get(word[i:j])
            if lp is None or alpha_f[i] == _NEG_INF:
                continue
            opts.append(i)
            weights.append(alpha_f[i] + alpha * lp)
        m = max(weights)
        probs = [math.exp(w - m) for w in weights]
        total = math.fsum(probs)
        r = unit_draw(step) * total
        step += 1
        pick = opts[-1]
        for i, p in zip(opts, probs):
            r -= p
            if r <= 0:
                pick = i
                break
        out.append(word[pick:j])
        j = pick
    return out[::-1]


def unigram_sample_counts(
    docs: DataFrame,
    pieces: dict[str, float],
    alpha: float = 0.2,
    seed: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document SAMPLED token counts under subword regularization
    (Kudo 2018 §3.4: training on sampled segmentations instead of the
    single Viterbi one measurably improves MT/LM robustness) next to the
    deterministic Viterbi counts — the pair a training loader needs to
    budget context windows when segmentations are resampled per epoch.

    The per-word sample seed is xxhash-style mixed from (seed, word), so
    the map stays deterministic and retry-stable WITHOUT any state:
    identical words segment identically within one epoch seed, and a new
    epoch seed redraws the whole corpus.  Same shuffle-free broadcast
    Arrow-map shape as unigram_encode_counts."""
    max_len = max((len(p) for p in pieces), default=1)

    def compute(pdf: pd.DataFrame, side) -> pd.DataFrame:
        logp, max_len, alpha, seed = side
        if len(pdf) == 0:
            return None
        memo_v: dict[str, int] = {}
        memo_s: dict[str, int] = {}
        ids, v_counts, s_counts = [], [], []
        for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
            nv = ns = 0
            for word in (text or "").split():
                cv = memo_v.get(word)
                if cv is None:
                    cv = len(_viterbi(word, logp, max_len))
                    memo_v[word] = cv
                cs = memo_s.get(word)
                if cs is None:
                    wseed = seed
                    for ch in word:
                        wseed = (
                            (wseed ^ ord(ch)) * 0x100000001B3
                        ) & 0xFFFFFFFFFFFFFFFF
                    cs = len(
                        _sample_segmentation(word, logp, max_len, alpha, wseed)
                    )
                    memo_s[word] = cs
                nv += cv
                ns += cs
            ids.append(doc_id)
            v_counts.append(nv)
            s_counts.append(ns)
        return pd.DataFrame(
            {
                "doc_id": pd.Series(ids, dtype="int64"),
                "n_viterbi_tokens": pd.Series(v_counts, dtype="int64"),
                "n_sampled_tokens": pd.Series(s_counts, dtype="int64"),
            }
        )

    return stream(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias(text_col)),
        compute,
        "doc_id BIGINT, n_viterbi_tokens BIGINT, n_sampled_tokens BIGINT",
        side_input=(pieces, max_len, alpha, seed),
    )
