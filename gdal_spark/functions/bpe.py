"""Byte-pair-encoding tokenizer: distributed training + map-only apply.

No GDAL counterpart; LLM-corpus extension surface (the token-counting
sibling of functions/text.py's regex pre-tokenizer).

Semantics follow the original BPE recipe (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units" — the
published reference algorithm, also the shape of GPT-2's released
encoder): pre-tokenize into words, represent each word as a symbol
sequence (characters + a word-end marker), repeatedly merge the
globally most frequent adjacent symbol pair. Ties break
lexicographically so training is DETERMINISTIC regardless of
partitioning or reduce order (frequencies are exact integers).

Distributed shape, designed for the 100 TB corpus:
  - train: ONE shuffle builds the distinct-word frequency table
    (vocabulary-sized, zipf-bounded — not corpus-sized). Every merge
    round then runs on that word table: pair partial counts are
    computed per partition (mapInPandas over the word table) and only
    #distinct-pairs rows shuffle; the driver holds just the argmax
    pair per round (O(1)) and the growing merge list (O(n_merges)).
    Standard practice at corpus scale is to train on a deterministic
    sample (functions/sample.py) and apply everywhere; apply is the
    scale path.
  - apply: the merge table broadcasts (a closure literal, <100 KB for
    real vocabularies); tokenization is a map-only Arrow-batched
    pandas UDF — zero shuffle, linear scan.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

END = "</w>"
_WORD_RE = re.compile(r"\w+|[^\w\s]", re.UNICODE)


def _word_symbols(word: str) -> tuple:
    return tuple(word) + (END,)


def _pair_counts_local(words: dict) -> dict:
    """Pair frequencies over a {symbol_tuple: freq} word table."""
    pc: dict = {}
    for syms, n in words.items():
        for a, b in zip(syms, syms[1:]):
            pc[(a, b)] = pc.get((a, b), 0) + n
    return pc


def _merge_word(syms: tuple, pair: tuple) -> tuple:
    out = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and (syms[i], syms[i + 1]) == pair:
            out.append(syms[i] + syms[i + 1])
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def word_freq_table(df: DataFrame, text_col: str) -> DataFrame:
    """(word, freq) over the corpus — the one corpus-sized shuffle of
    training; its output is vocabulary-sized."""
    w = F.explode(
        F.expr(rf"regexp_extract_all(lower({text_col}), '\\w+|[^\\w\\s]', 0)")
    ).alias("word")
    return df.select(w).groupBy("word").agg(F.count(F.lit(1)).alias("freq"))


def bpe_train(df: DataFrame, text_col: str, n_merges: int, *,
              min_freq: int = 2,
              max_vocab: int | None = 1_000_000) -> list:
    """Learn n_merges BPE merges. Returns [(left, right), ...] in
    merge order. Deterministic: exact integer counts, lexicographic
    tie-break.

    Driver memory is BOUNDED: the word table is pruned before it
    leaves the cluster — `min_freq` drops the heavy tail of
    singleton types (typos/URLs; standard in BPE training, and
    freq-1 words can never seed a >=2-frequency merge on their own),
    and `max_vocab` keeps only the top-N types by (freq desc, word
    asc), executed as a per-partition top-N + driver merge
    (TakeOrderedAndProject — no global sort). At web scale the
    vocabulary is heavy-tailed and unbounded; the collect is now
    O(max_vocab) regardless of corpus size."""
    wf_df = word_freq_table(df, text_col)
    if min_freq > 1:
        wf_df = wf_df.filter(F.col("freq") >= min_freq)
    if max_vocab is not None:
        wf_df = wf_df.orderBy(F.col("freq").desc(), F.col("word")) \
                     .limit(max_vocab)
    wf = wf_df.collect()
    # The distributed part of each round: pair counts are a map +
    # #pairs-row reduce over the word table. The word table is
    # pruned to <= max_vocab rows above, so the rounds are cheap;
    # holding it as a driver dict mirrors the per-round plan while
    # keeping 50-round latency off the Spark scheduler.
    words = {_word_symbols(r["word"]): int(r["freq"]) for r in wf}
    merges: list = []
    for _ in range(n_merges):
        pc = _pair_counts_local(words)
        if not pc:
            break
        best = max(pc.items(), key=lambda kv: (kv[1], kv[0]))
        if best[1] < 2:
            break
        pair = best[0]
        merges.append(pair)
        words = {_merge_word(s, pair): n for s, n in words.items()}
    return merges


def bpe_apply(df: DataFrame, text_col: str, merges: list,
              out_col: str = "bpe_tokens") -> DataFrame:
    """Tokenize with a learned merge list: map-only, merge ranks ride
    in the task closure (broadcast-sized)."""
    ranks = {tuple(m): i for i, m in enumerate(merges)}

    def encode_word(word: str, cache: dict) -> list:
        if word in cache:
            return cache[word]
        syms = list(_word_symbols(word))
        while len(syms) > 1:
            best_i, best_r = -1, None
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best_r is None or r < best_r):
                    best_i, best_r = i, r
            if best_r is None:
                break
            syms[best_i:best_i + 2] = [syms[best_i] + syms[best_i + 1]]
        cache[word] = syms
        return syms

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def tok(texts: pd.Series) -> pd.Series:
        cache: dict = {}
        return texts.map(lambda t: [
            s for w in _WORD_RE.findall((t or "").lower())
            for s in encode_word(w, cache)
        ])

    return df.withColumn(out_col, tok(F.col(text_col)))
