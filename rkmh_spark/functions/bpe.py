"""Byte-Pair Encoding tokenizer — real learned merges, not a regex.

Classic BPE (Sennrich et al. 2016, public algorithm): pretokenize on
whitespace, represent each word as a char sequence + end-of-word marker,
repeatedly merge the most frequent adjacent symbol pair. Deterministic:
ties break on the lexicographically smallest pair.

Deployment shape mirrors production pipelines: the merge table is trained
OFFLINE on a sample (here: a pinned doc_id slice — training is a serial
n_merges-round loop by nature), then broadcast into a vectorized
mapInPandas encoder that runs distributed over the corpus. The encoder
caches encodings per DISTINCT word within each Arrow batch, so the hot
path is a dict lookup per word, not a merge loop per occurrence.

(A fully distributed trainer is one groupBy-count per merge round —
n_merges sequential Spark jobs; for the 10^12-doc regime you train on a
sampled slice exactly as done here, so that variant is deliberately not
spelled out.)
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

EOW = "</w>"  # end-of-word marker, standard BPE


def train_bpe(texts: list[str], n_merges: int = 200) -> list[tuple[str, str]]:
    """→ ordered merge list learned from whitespace-pretokenized texts."""
    from collections import Counter

    word_freq: Counter = Counter()
    for t in texts:
        for w in (t or "").split(" "):
            if w:
                word_freq[w] += 1
    # word → list of symbols
    words = {w: list(w) + [EOW] for w in word_freq}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pair_freq: Counter = Counter()
        for w, syms in words.items():
            f = word_freq[w]
            for a, b in zip(syms, syms[1:]):
                pair_freq[(a, b)] += f
        if not pair_freq:
            break
        # deterministic: max count, ties → lexicographically SMALLEST pair
        top = max(pair_freq.values())
        pair = min(p for p, c in pair_freq.items() if c == top)
        if top < 2:
            break
        merges.append(pair)
        merged = pair[0] + pair[1]
        for w, syms in words.items():
            i, out = 0, []
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == pair[0]
                    and syms[i + 1] == pair[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = out
    return merges


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply merges by rank (lowest first) until no mergeable pair."""
    syms = list(word) + [EOW]
    while len(syms) > 1:
        best_rank, best_i = None, None
        for i, (a, b) in enumerate(zip(syms, syms[1:])):
            r = ranks.get((a, b))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def encode_text(text: str, ranks: dict[tuple[str, str], int], _cache: dict | None = None) -> list[str]:
    out: list[str] = []
    for w in (text or "").split(" "):
        if not w:
            continue
        if _cache is not None:
            enc = _cache.get(w)
            if enc is None:
                enc = encode_word(w, ranks)
                _cache[w] = enc
        else:
            enc = encode_word(w, ranks)
        out.extend(enc)
    return out


def bpe_token_counts(
    documents: DataFrame,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """→ (doc_id, n_bpe_tokens) under the learned merge table."""
    ranks = {tuple(p): i for i, p in enumerate(merges)}

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict = {}
        for pdf in batches:
            counts = [
                len(encode_text(t, ranks, cache)) for t in pdf["text"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"].values, "n_bpe_tokens": counts})

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("n_bpe_tokens", T.LongType(), False),
        ]
    )
    return documents.select("doc_id", "text").mapInPandas(kernel, schema=schema)
