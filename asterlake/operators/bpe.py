"""Distributed BPE tokenizer training: learn subword merges from the
corpus itself.

textstats.py counts tokens with a fixed regex; a real training-data
pipeline also needs the LEARNED side — byte-pair-encoding merge rules
trained on the corpus (Sennrich, Haddow, Birch, "Neural Machine
Translation of Rare Words with Subword Units", ACL 2016). The classic
reduction makes this scale: BPE statistics are a function of the WORD
FREQUENCY dictionary, not the raw corpus, so training runs over the
vocabulary-sized ``(word, count)`` table (Zipf: ~1e5-1e6 distinct words
for terabytes of text) after ONE corpus-sized aggregation.

Spark shapes:

- :func:`word_counts` — the one corpus pass (split + explode + count,
  map-side combinable).
- :func:`bpe_train` — driver loop over the word table: each round
  explodes adjacent symbol pairs (weighted by word count), argmaxes the
  pair frequency in one map-side-combinable aggregate, collects EXACTLY
  ONE row (the winning pair — bounded driver state), and applies the
  merge to the symbol arrays with a pure JVM-side left-to-right
  ``aggregate`` fold (greedy leftmost-first, the reference semantics:
  merging (a,a) over "aaa" yields [aa, a]). Ties break
  lexicographically on the pair, so training is bit-reproducible on any
  partitioning. localCheckpoint every few rounds truncates the plan the
  same way graph.py's closure loop does.
- :func:`bpe_segment` — apply learned merges to documents: broadcast
  the merge ranks into an Arrow-batched pandas UDF that replays the
  standard lowest-rank-first merge loop per word. A UDF is the honest
  choice here: unrolling n_merges sequential folds into one expression
  tree explodes the plan quadratically, and the per-word loop is the
  exact algorithm real tokenizers run.

Round trip: segmenting with the trained merges and concatenating the
pieces (minus the end-of-word marker) reproduces each word exactly —
pinned, along with a bit-for-bit differential against a pure-Python
reference trainer, in tests/test_bpe.py.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# end-of-word marker: its own symbol, so merges can learn word-final
# units ("ing</w>") distinct from word-internal ones ("ing")
EOW = "</w>"


def word_counts(
    docs: DataFrame, text_col: str = "body"
) -> DataFrame:
    """The one corpus-sized pass: whitespace words -> (word, count).
    Map-side combinable; the shuffle carries distinct words only."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    return (
        docs.select(F.explode(toks).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


def _initial_symbols(word: Column) -> Column:
    # characters of the word, then the end-of-word marker as its own symbol
    return F.concat(
        F.split(word, ""),
        F.array(F.lit(EOW)),
    )


# Rounds a trainer runs between landings of its symbol state: the
# merge folds stack one per round, and a landing truncates the lineage.
_CHECKPOINT_EVERY = 8


def _merge_fold(symbols: Column, a: str, b: str, merged: str) -> Column:
    """Greedy leftmost-first merge of adjacent (a, b) into ``merged`` — a
    pure JVM-side left-to-right fold building the new symbol array."""
    return F.aggregate(
        symbols,
        F.array().cast(T.ArrayType(T.StringType())),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _adjacent_pairs(state: DataFrame) -> DataFrame:
    """Every adjacent symbol pair ``(a, b)`` of ``syms`` with its word's
    count ``n``."""
    return state.select(
        F.posexplode(F.slice("syms", 1, F.size("syms") - 1)).alias(
            "i", "a"
        ),
        F.col("syms"),
        F.col("n"),
    ).select(
        "a",
        F.element_at("syms", F.col("i") + 2).alias("b"),
        "n",
    )


def bpe_train(
    words: DataFrame,
    n_merges: int = 50,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merge rules from a ``(word, n)`` table.

    Per round: one map-side-combinable pair-count aggregate over the
    word table + a ONE-ROW collect (the argmax pair — the bounded model
    state this loop is allowed to hold), then a row-local merge fold.
    Deterministic: exact BIGINT counts, ties broken lexicographically
    on (first, second). Stops early when no adjacent pair repeats.

    Scale: the word table is vocabulary-sized (the corpus pass happened
    once in :func:`word_counts`), each round shuffles only distinct
    (pair) partial counts, and the driver holds one pair per round.
    """
    state = words.select(
        _initial_symbols(F.col("word")).alias("syms"),
        F.col("n").cast("bigint").alias("n"),
    ).localCheckpoint()
    merges: list[tuple[str, str]] = []
    for i in range(n_merges):
        top = (
            _adjacent_pairs(state)
            .groupBy("a", "b")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()  # driver-ok: ONE argmax row per round, never data
        )
        if not top or top[0].cnt < 2:
            break
        a, b = top[0].a, top[0].b
        merges.append((a, b))
        state = state.select(
            _merge_fold(F.col("syms"), a, b, a + b).alias("syms"), "n"
        )
        if (i + 1) % _CHECKPOINT_EVERY == 0:
            # truncate the fold-on-fold lineage (the graph.py discipline)
            state = state.localCheckpoint()
    return merges


def bpe_segment(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "body",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize documents with learned merges: lowest-rank-first merge
    loop per word (the standard BPE apply), as an Arrow-batched pandas
    UDF with the rank table broadcast by closure — n_merges sequential
    JVM folds would explode the plan; the per-word loop IS the reference
    algorithm. Row-local: no shuffle."""
    ranks = {pair: i for i, pair in enumerate(merges)}

    def seg_word(word: str) -> list[str]:
        syms = list(word) + [EOW]
        while len(syms) > 1:
            best_rank, best_i = None, None
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_i = r, i
            if best_i is None:
                break
            syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
        return syms

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def seg(texts: pd.Series) -> pd.Series:
        # Zipf cache: segment each DISTINCT word once per worker, not
        # once per occurrence — the corpus is tokens-sized but the
        # vocabulary is tiny (100 TB of text is ~1e5-1e6 distinct
        # words), so the merge loop runs |vocab| times and every other
        # token is a dict hit. Purely an evaluation memo: outputs are
        # byte-identical with or without it.
        memo: dict[str, list[str]] = {}
        out = []
        for t in texts:
            toks: list[str] = []
            for w in (t or "").split():
                pieces = memo.get(w)
                if pieces is None:
                    pieces = seg_word(w)
                    memo[w] = pieces
                toks.extend(pieces)
            out.append(toks)
        return pd.Series(out)

    return docs.withColumn(out_col, seg(F.col(text_col)))


def bpe_vocab(
    words: DataFrame, merges: list[tuple[str, str]]
) -> DataFrame:
    """Corpus-weighted subword vocabulary under the learned merges:
    segment the (word, n) dictionary (vocabulary-sized, not the corpus)
    and sum counts per piece — the table a tokenizer ships with."""
    segged = bpe_segment(words, merges, text_col="word", out_col="pieces")
    return (
        segged.select(F.explode("pieces").alias("piece"), "n")
        .groupBy("piece")
        .agg(F.sum("n").cast("bigint").alias("n"))
    )
