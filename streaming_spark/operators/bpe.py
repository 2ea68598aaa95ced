"""Byte-pair-encoding tokenizer: distributed training + distributed
encoding.

The engine's real-BPE upgrade of ``bpe_ish_token_count`` (text.py) — an
actual learned subword vocabulary, built the way production tokenizer
pipelines build them, re-expressed Spark-first:

- **Training** (`bpe_word_freqs` + `learn_bpe_merges`): classic BPE
  (Sennrich et al. 2016, "Neural Machine Translation of Rare Words with
  Subword Units") learns merges from a WORD-FREQUENCY table, not from
  raw text — merges never cross word boundaries, so word counts are a
  sufficient statistic for the whole corpus.  That makes the scale
  split exact, not sampled: the corpus-sized work is ONE distributed
  word-count (groupBy word — distinct words grow sublinearly in corpus
  size), and merge learning runs driver-side over that bounded table.
  A ``max_words`` cap keeps the driver contract explicit; the dropped
  mass is OBSERVABLE (returned coverage fraction) rather than silent.
- **Encoding** (`bpe_encode_counts`): merge ranks broadcast to every
  partition; each Arrow batch tokenizes its docs with the standard
  greedy lowest-rank-first merge loop, memoized per distinct word
  (Zipf: a batch's distinct words ≪ its tokens).  Shuffle-free narrow
  map — the 100 TB path.

Determinism end to end: ties in pair counts break on the
lexicographically largest pair, word splitting is a fixed regex, and
the merge list is a pure function of the corpus word counts — rerun-
and retry-stable like every hash in the engine.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streaming_spark.operators.stream import stream
from streaming_spark.operators.text import tokens_col

END = "</w>"


def _to_bytes_repr(word: str) -> str:
    """UTF-8 byte-level representation: one latin-1 character per byte,
    so the char-level merge/encode machinery works unchanged on bytes
    (the GPT-2 trick, with latin-1 as the byte<->char bijection).
    Invertible: ``repr.encode("latin-1").decode("utf-8")`` restores the
    word."""
    return word.encode("utf-8").decode("latin-1")


def bpe_word_freqs(
    docs: DataFrame,
    text_col: str = "text",
    max_words: int | None = None,
) -> DataFrame:
    """Corpus word-frequency table — THE distributed step of BPE
    training (one shuffle, map-side partial agg; output is distinct
    words, sublinear in corpus size).  ``max_words`` keeps only the
    most frequent words (deterministic ties on the word itself);
    callers read the kept-mass fraction off ``bpe_train``'s coverage."""
    freqs = (
        docs.select(F.explode(tokens_col(text_col)).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    if max_words is not None:
        freqs = freqs.orderBy(F.col("freq").desc(), F.col("word")).limit(max_words)
    return freqs


def learn_bpe_merges(
    word_freqs: list[tuple[str, int]], n_merges: int, byte_level: bool = False
) -> list[tuple[str, str]]:
    """Driver-side merge learning over a word-frequency table (exact
    for the corpus those counts summarize — see module docstring).
    Returns merges in rank order; deterministic (count desc, then
    lexicographically largest pair).  ``byte_level`` learns over UTF-8
    bytes (latin-1 repr) instead of Unicode chars — the production
    tokenizer alphabet: 256 base symbols, no out-of-alphabet char can
    ever appear at apply time."""
    vocab: dict[tuple[str, ...], int] = {}
    for word, f in word_freqs:
        if byte_level:
            word = _to_bytes_repr(word)
        key = tuple(word) + (END,)
        vocab[key] = vocab.get(key, 0) + int(f)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for sym, f in vocab.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] += f
        if not pairs:
            break
        best = max(pairs.items(), key=lambda kv: (kv[1], kv[0]))[0]
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab: dict[tuple[str, ...], int] = {}
        for sym, f in vocab.items():
            out = []
            i = 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == best[0] and sym[i + 1] == best[1]:
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + f
        vocab = new_vocab
    return merges


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 200,
    max_words: int = 50_000,
    byte_level: bool = False,
) -> tuple[list[tuple[str, str]], float]:
    """Train a BPE merge list on a corpus: distributed word count →
    bounded driver-side merge learning.  Returns (merges, coverage)
    where coverage is the token-mass fraction the ``max_words`` cap
    retained (1.0 = exact whole-corpus training)."""
    all_freqs = bpe_word_freqs(docs, text_col)
    total_row = all_freqs.agg(
        F.sum("freq").alias("t"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    total, n_distinct = total_row["t"] or 0, total_row["n"]
    capped = n_distinct > max_words
    kept = bpe_word_freqs(docs, text_col, max_words=max_words) if capped else all_freqs
    rows = kept.collect()  # bounded by max_words — the driver contract
    kept_mass = sum(r["freq"] for r in rows)
    coverage = (kept_mass / total) if total else 1.0
    merges = learn_bpe_merges(
        [(r["word"], r["freq"]) for r in rows], n_merges, byte_level=byte_level
    )
    return merges, coverage


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy lowest-rank-first merge loop (the standard BPE apply)."""
    sym = list(word) + [END]
    while len(sym) > 1:
        best_rank, best_i = None, None
        for i, pair in enumerate(zip(sym, sym[1:])):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        sym[best_i : best_i + 2] = [sym[best_i] + sym[best_i + 1]]
    return sym


def bpe_encode_counts(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    byte_level: bool = False,
) -> DataFrame:
    """Per-doc token statistics under a learned merge list: real BPE
    token count, distinct pieces, chars-per-token compression.  Merge
    ranks ship as a broadcast side input; each Arrow batch memoizes
    encoding per DISTINCT word (Zipf makes the cache hit rate high),
    and nothing shuffles."""
    ranks = {pair: i for i, pair in enumerate(merges)}

    def encode(pdf: pd.DataFrame, side) -> pd.DataFrame:
        rk, as_bytes = side
        if len(pdf) == 0:
            return None
        cache: dict[str, list[str]] = {}
        n_tokens, n_pieces, n_chars = [], [], []
        for text in pdf[text_col]:
            words = (text or "").split()
            total, pieces = 0, set()
            for w in words:
                enc = cache.get(w)
                if enc is None:
                    enc = _encode_word(
                        _to_bytes_repr(w) if as_bytes else w, rk
                    )
                    cache[w] = enc
                total += len(enc)
                pieces.update(enc)
            n_tokens.append(total)
            n_pieces.append(len(pieces))
            n_chars.append(sum(len(w) for w in words))
        return pd.DataFrame(
            {
                id_col: pdf[id_col].to_numpy(),
                "n_bpe_tokens": n_tokens,
                "n_distinct_pieces": n_pieces,
                "n_word_chars": n_chars,
            }
        )

    return stream(
        docs.select(id_col, text_col),
        encode,
        f"{id_col} BIGINT, n_bpe_tokens BIGINT, n_distinct_pieces BIGINT,"
        " n_word_chars BIGINT",
        side_input=(ranks, byte_level),
    )


def bpe_encode_counts_special(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    special_tokens: tuple[str, ...] = ("<|endoftext|>", "<|pad|>"),
    text_col: str = "text",
    id_col: str = "doc_id",
    byte_level: bool = False,
) -> DataFrame:
    """Per-doc token statistics with SPECIAL-TOKEN handling: reserved
    control strings (document separators, padding markers) are matched
    before word splitting and always count as exactly ONE token —
    never split into pieces, never merged into neighbors — the contract
    every deployed tokenizer has for its control vocabulary.  A doc's
    text is segmented around special-token occurrences; each ordinary
    segment encodes through the standard merge loop.

    Same shuffle-free broadcast-rank plan as ``bpe_encode_counts``;
    the special list rides in the same side input."""
    import re

    ranks = {pair: i for i, pair in enumerate(merges)}
    pattern = "|".join(re.escape(t) for t in special_tokens)

    def encode(pdf: pd.DataFrame, side) -> pd.DataFrame:
        rk, as_bytes, pat = side
        if len(pdf) == 0:
            return None
        splitter = re.compile(f"({pat})") if pat else None
        cache: dict[str, list[str]] = {}
        n_tokens, n_special = [], []
        for text in pdf[text_col]:
            text = text or ""
            segments = splitter.split(text) if splitter else [text]
            total = special = 0
            for seg in segments:
                if not seg:
                    continue
                if splitter and splitter.fullmatch(seg):
                    total += 1
                    special += 1
                    continue
                for w in seg.split():
                    enc = cache.get(w)
                    if enc is None:
                        enc = _encode_word(
                            _to_bytes_repr(w) if as_bytes else w, rk
                        )
                        cache[w] = enc
                    total += len(enc)
            n_tokens.append(total)
            n_special.append(special)
        return pd.DataFrame(
            {
                id_col: pdf[id_col].to_numpy(),
                "n_bpe_tokens": n_tokens,
                "n_special_tokens": n_special,
            }
        )

    return stream(
        docs.select(id_col, text_col),
        encode,
        f"{id_col} BIGINT, n_bpe_tokens BIGINT, n_special_tokens BIGINT",
        side_input=(ranks, byte_level, pattern),
    )


def bpe_save(
    path: str,
    merges: list[tuple[str, str]],
    coverage: float = 1.0,
    byte_level: bool = False,
    special_tokens: tuple[str, ...] = (),
) -> None:
    """Persist a trained merge list as a versioned JSON artifact — the
    tokenizer file a deployment ships alongside its corpus (the
    session-level memo in queries/northstar.py covers one driver; this
    covers the pipeline boundary: train once, encode from any later job).
    ``ensure_ascii`` keeps byte-level latin-1 symbols print-safe; merge
    ORDER is the rank table, so it round-trips as an ordered list.  The
    write is atomic: a crash mid-save keeps the previous artifact."""
    from streaming_spark.operators.index_commit import write_marker

    artifact = {
        "format": "streaming-spark-bpe",
        "version": 1,
        "byte_level": byte_level,
        "coverage": coverage,
        "special_tokens": list(special_tokens),
        "merges": [[a, b] for a, b in merges],
    }
    write_marker(path, artifact)


def bpe_load(path: str) -> dict:
    """Load a :func:`bpe_save` artifact.  Returns a dict with ``merges``
    restored to rank-ordered (str, str) tuples plus the saved
    ``byte_level`` / ``coverage`` / ``special_tokens`` metadata; raises
    ``ValueError`` on an unrecognized format or version so a corrupt or
    foreign file fails loudly instead of encoding garbage."""
    import json

    with open(path, encoding="utf-8") as f:
        artifact = json.load(f)
    if artifact.get("format") != "streaming-spark-bpe":
        raise ValueError(f"not a streaming-spark BPE artifact: {path}")
    if artifact.get("version") != 1:
        raise ValueError(f"unsupported BPE artifact version: {artifact.get('version')}")
    artifact["merges"] = [tuple(p) for p in artifact["merges"]]
    artifact["special_tokens"] = tuple(artifact.get("special_tokens", ()))
    return artifact
