"""Distributed WordPiece tokenizer: likelihood-scored merge training and
greedy longest-match-first segmentation (Schuster & Nakajima, ICASSP 2012;
the BERT tokenizer of Wu et al. 2016).

Completes the engine's tokenizer triad: BPE (operators/bpe.py) merges the
most FREQUENT adjacent pair; unigram-LM (operators/unigram.py) prunes a
seed vocabulary by EM; WordPiece merges the pair with the highest
LIKELIHOOD GAIN ``count(ab) / (count(a) * count(b))`` — a frequent pair of
already-frequent parts loses to a rarer pair whose parts are themselves
rare, which is what separates the two trainers on real text.

Conventions (the HuggingFace/BERT shape):

- A word's initial symbols are its first character plus ``##``-prefixed
  continuations (no end-of-word marker): ``word -> [w, ##o, ##r, ##d]``.
  Merging ``(a, ##b)`` produces ``a + b`` with the LEFT side's prefix kept.
- Segmentation is NOT merge-replay: greedy longest-match-first against the
  final vocabulary, continuation pieces looked up with the ``##`` prefix;
  a word with any unmatchable remainder becomes a single ``[UNK]``.

Engine discipline: the merge score is quantized to an INTEGER —
``count(ab) * 10^12 div (count(a) * count(b))`` through DECIMAL(38,0), so
the per-round argmax is an exact integer compare with lexicographic
tie-breaks and training is bit-reproducible on any partitioning (the
micro-nat convention of the bigram/DSIR trainers, applied to a ratio).

Spark shapes (the bpe_train scale reduction): training runs over the
Zipf-bounded ``(word, count)`` dictionary after ONE corpus pass; each round
is two map-side-combinable aggregates (pair counts, symbol counts), one
broadcast-sized join of the two, and a ONE-ROW argmax collect; the merge
itself is a row-local JVM fold. Segmentation is an Arrow-batched pandas
UDF with the vocabulary broadcast by closure and a per-worker distinct-word
memo — row-local, no shuffle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from asterlake.operators.bpe import _CHECKPOINT_EVERY, _adjacent_pairs, _merge_fold

CONT = "##"
UNK = "[UNK]"
SCORE_SCALE = 10**12

__all__ = [
    "CONT",
    "UNK",
    "wordpiece_train",
    "replay_wordpiece_train",
    "wordpiece_segment",
]


def _initial_symbols(word: Column) -> Column:
    """[c1, ##c2, ##c3, ...] — first char bare, continuations prefixed."""
    chars = F.split(word, "")
    return F.concat(
        F.slice(chars, 1, 1),
        F.transform(
            F.slice(chars, 2, F.greatest(F.size(chars) - 1, F.lit(0))),
            lambda c: F.concat(F.lit(CONT), c),
        ),
    )


def _merged_symbol(a: str, b: str) -> str:
    """Merge product: left keeps its prefix, right drops its ``##``."""
    return a + (b[len(CONT):] if b.startswith(CONT) else b)


def wordpiece_train(
    words: DataFrame,
    n_merges: int = 50,
) -> tuple[list[tuple[str, str]], list[str]]:
    """Learn ``n_merges`` WordPiece merges from a ``(word, n)`` table.

    Returns ``(merges, vocab)``: the merge sequence and the final
    vocabulary — the FULL initial alphabet (bare + ``##`` continuation
    forms, kept even when every occurrence merged away: greedy
    segmentation needs the single-character fallback, the HF/BERT
    convention) plus every merge product, deterministically ordered.

    Per round: pair counts and symbol counts (two map-side-combinable
    aggregates over the dictionary-sized state), score =
    ``cnt_ab * 10^12 div (cnt_a * cnt_b)`` as an exact DECIMAL(38,0)
    integer, ONE argmax row collected (score DESC, pair ASC), then the
    row-local merge fold. Pairs seen fewer than 2 times stop training.
    """
    state = words.select(
        _initial_symbols(F.col("word")).alias("syms"),
        F.col("n").cast("bigint").alias("n"),
    ).localCheckpoint()
    alphabet_rows = (
        state.select(F.explode("syms").alias("s"))
        .distinct()
        .collect()  # driver-ok: alphabet-sized (distinct characters x2)
    )
    vocab = {r.s for r in alphabet_rows}
    merges: list[tuple[str, str]] = []
    for i in range(n_merges):
        sym_cnt = (
            state.select(F.explode("syms").alias("s"), "n")
            .groupBy("s")
            .agg(F.sum("n").alias("cnt"))
        )
        pair_cnt = _adjacent_pairs(state).groupBy("a", "b").agg(
            F.sum("n").alias("cnt_ab")
        )
        scored = (
            pair_cnt.join(
                F.broadcast(sym_cnt.withColumnRenamed("cnt", "cnt_a")),
                F.col("a") == F.col("s"),
            )
            .drop("s")
            .join(
                F.broadcast(sym_cnt.withColumnRenamed("cnt", "cnt_b")),
                F.col("b") == F.col("s"),
            )
            .drop("s")
            .select(
                "a",
                "b",
                "cnt_ab",
                # exact integral division of exact integers (the
                # mixture.py DECIMAL div discipline) — counts cubed can
                # overflow BIGINT at corpus scale, never DECIMAL(38,0)
                F.expr(
                    f"CAST(cnt_ab AS DECIMAL(38,0)) * {SCORE_SCALE}"
                    " div (CAST(cnt_a AS DECIMAL(38,0))"
                    " * CAST(cnt_b AS DECIMAL(38,0)))"
                ).alias("score"),
            )
        )
        top = (
            scored.orderBy(
                F.desc("score"), F.asc("a"), F.asc("b")
            )
            .limit(1)
            .collect()  # driver-ok: ONE argmax row per round, never data
        )
        if not top or top[0].cnt_ab < 2:
            break
        a, b = top[0].a, top[0].b
        merges.append((a, b))
        merged = _merged_symbol(a, b)
        vocab.add(merged)
        state = state.select(
            _merge_fold(F.col("syms"), a, b, merged).alias("syms"), "n"
        )
        if (i + 1) % _CHECKPOINT_EVERY == 0:
            # truncate the fold-on-fold lineage (the graph.py discipline)
            state = state.localCheckpoint()
    return merges, sorted(vocab)


def replay_wordpiece_train(
    word_counts: dict[str, int], n_merges: int = 50
) -> tuple[list[tuple[str, str]], list[str]]:
    """Pure-Python bit-for-bit replay of :func:`wordpiece_train` — the
    differential pin. Same integer score (// floor division), same
    tie-breaks, same merge fold."""
    state: list[tuple[list[str], int]] = [
        ([w[0]] + [CONT + c for c in w[1:]], n)
        for w, n in word_counts.items()
        if w
    ]
    vocab = {s for syms, _ in state for s in syms}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        sym_cnt: dict[str, int] = {}
        pair_cnt: dict[tuple[str, str], int] = {}
        for syms, n in state:
            for s in syms:
                sym_cnt[s] = sym_cnt.get(s, 0) + n
            for x, y in zip(syms, syms[1:]):
                pair_cnt[(x, y)] = pair_cnt.get((x, y), 0) + n
        if not pair_cnt:
            break

        # argmax with (score DESC, a ASC, b ASC) — score is the same
        # floor division of the same exact integers as the Spark side
        def score(pair: tuple[str, str]) -> int:
            x, y = pair
            return pair_cnt[pair] * SCORE_SCALE // (sym_cnt[x] * sym_cnt[y])

        best_score = max(score(p) for p in pair_cnt)
        a, b = min(p for p in pair_cnt if score(p) == best_score)
        if pair_cnt[(a, b)] < 2:
            break
        merges.append((a, b))
        merged = _merged_symbol(a, b)
        vocab.add(merged)
        new_state = []
        for syms, n in state:
            out: list[str] = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = merged
                else:
                    out.append(s)
            new_state.append((out, n))
        state = new_state
    return merges, sorted(vocab)


def wordpiece_segment(
    docs: DataFrame,
    vocab: list[str],
    text_col: str = "body",
    out_col: str = "wp_tokens",
) -> DataFrame:
    """Greedy longest-match-first WordPiece segmentation against the
    vocabulary (continuations looked up with the ``##`` prefix; a word
    with an unmatchable remainder becomes one ``[UNK]``). Arrow-batched
    pandas UDF, vocabulary broadcast by closure, per-worker distinct-word
    memo (the bpe_segment Zipf cache) — row-local, no shuffle."""
    vset = frozenset(vocab)

    def seg_word(word: str) -> list[str]:
        out: list[str] = []
        start = 0
        while start < len(word):
            end = len(word)
            piece = None
            while end > start:
                sub = word[start:end]
                if start > 0:
                    sub = CONT + sub
                if sub in vset:
                    piece = sub
                    break
                end -= 1
            if piece is None:
                return [UNK]
            out.append(piece)
            start = end
        return out

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def seg(texts: pd.Series) -> pd.Series:
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
