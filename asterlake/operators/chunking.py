"""Document chunking: sliding fixed-token windows over each document
(RAG / embedding-index preparation).

Retrieval pipelines embed fixed-size chunks, not whole documents; the
standard scheme is a token window of ``chunk_tokens`` advanced by
``stride`` (< chunk for overlap), with the last window clipped at the
document end. Chunk count per document is
``ceil(max(n_tokens - chunk, 0) / stride) + 1`` — chosen so the final
window always covers the tail.

Scale shape: entirely row-local — ONE tokenization per document builds
every chunk text in a single higher-order expression, then ``posexplode``
emits (chunk_id, chunk_text) rows. No shuffle, no UDF, linear in
executors. The token array is bound once inside a ``transform(array(...))``
wrapper: referencing ``split()`` from the per-chunk lambda directly would
re-tokenize once per CHUNK after CollapseProject (the measured 20x pitfall
documented at operators/dedup.py's simhash fold).

All-integer window arithmetic (`div`), so the DuckDB oracle (list
comprehension + unnest of (id, text) structs) matches exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from asterlake.operators.textstats import whitespace_tokens


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 64,
    stride: int = 48,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Explode every document into overlapping token-window chunks.

    Returns ``(id_col, chunk_id, chunk_text, n_chunk_tokens)``; chunk_id
    counts from 0 in window order. Empty documents produce one empty
    chunk (kept: downstream joins stay total over doc ids).
    """
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    chunks = F.expr(
        f"""
        element_at(transform(array(split({text_col}, ' ')), ts ->
          transform(
            sequence(0,
              (greatest(size(ts) - {chunk_tokens}, 0) + {stride} - 1)
                div {stride}),
            i -> array_join(slice(ts, i * {stride} + 1, {chunk_tokens}), ' ')
          )), 1)
        """
    )
    exploded = docs.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_id", "chunk_text")
    )
    return exploded.select(
        id_col,
        "chunk_id",
        "chunk_text",
        F.size(whitespace_tokens("chunk_text")).alias("n_chunk_tokens"),
    )


# --- content-defined chunking (LBFS/gear shape) -------------------------

CDC_MOD = 1_000_000_007
CDC_TOKEN_BASE = 31
CDC_WIN_BASE = 131


def _cdc_exprs(
    text_col: str,
    window: int,
    divisor: int,
    target: int,
    dialect: str,
) -> str:
    """The chunking expression in either dialect. Every fold is an
    explicit left-to-right aggregate over exact int64 arithmetic
    (acc < 1e9+7, so acc*131 + tok_hash < 2^38 — no overflow in either
    engine), which is what makes the boundaries and chunk hashes
    bit-identical cross-engine. Token hashes are computed ONCE into an
    int array (the transform(array()) let-binding idiom) — the window
    and chunk folds then touch integers only, not characters (the
    naive per-position re-hash was measured 3x slower at sf0.1).
    Dialect deltas: element indexing (Spark element_at / DuckDB
    1-based []), slices (Spark slice(arr, start, len) / DuckDB
    [a:b] inclusive), folds (Spark aggregate / DuckDB list_reduce over
    a prepended seed), and let-binding (transform(array(x), v -> ...)
    / a single-element list comprehension)."""
    if dialect == "spark":
        tok_hash = (
            "aggregate(transform(sequence(1, length(t)), i -> "
            "ascii(substring(t, i, 1))), 0L, "
            f"(acc, c) -> (acc * {CDC_TOKEN_BASE} + c) % {CDC_MOD})"
        )
        win_hash = (
            f"aggregate(slice(th, CAST(greatest(1, i - {window} + 1) AS INT), "
            f"CAST(i - greatest(1, i - {window} + 1) + 1 AS INT)), 0L, "
            f"(acc, hv) -> (acc * {CDC_WIN_BASE} + hv) % {CDC_MOD})"
        )
        prev = "CASE WHEN k = 1 THEN 0 ELSE element_at(bs, CAST(k - 1 AS INT)) END"
        return f"""
        transform(array(transform(split({text_col}, ' '), t -> {tok_hash})), th ->
          transform(array(filter(sequence(1, size(th)), i ->
                       i = size(th)
                       OR (i >= {window} AND {win_hash} % {divisor} = {target}))),
            bs -> transform(sequence(1, size(bs)), k ->
              named_struct(
                'h', aggregate(
                  slice(th, CAST(({prev}) + 1 AS INT),
                        CAST(element_at(bs, CAST(k AS INT)) - ({prev}) AS INT)),
                  0L, (acc, hv) -> (acc * {CDC_WIN_BASE} + hv) % {CDC_MOD}),
                'n', CAST(element_at(bs, CAST(k AS INT)) - ({prev}) AS BIGINT))))
          )[0][0]
        """
    # duckdb
    tok_hash_d = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(range(1, length(t) + 1), i -> "
        "CAST(ascii(substring(t, i, 1)) AS BIGINT))), "
        f"(acc, c) -> (acc * {CDC_TOKEN_BASE} + c) % {CDC_MOD})"
    )
    win_hash_d = (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"th[greatest(1, i - {window} + 1) : i]), "
        f"(acc, hv) -> (acc * {CDC_WIN_BASE} + hv) % {CDC_MOD})"
    )
    prev_d = "(CASE WHEN k = 1 THEN 0 ELSE bs[k - 1] END)"
    return f"""
        [[[
          {{'h': list_reduce(list_prepend(CAST(0 AS BIGINT),
                   th[{prev_d} + 1 : bs[k]]),
                 (acc, hv) -> (acc * {CDC_WIN_BASE} + hv) % {CDC_MOD}),
            'n': CAST(bs[k] - {prev_d} AS BIGINT)}}
          for k in range(1, len(bs) + 1)
        ] for bs in [
          list_filter(range(1, len(th) + 1), i ->
            i = len(th)
            OR (i >= {window} AND {win_hash_d} % {divisor} = {target}))
        ]] for th in [list_transform(string_split({text_col}, ' '),
                                     t -> CAST({tok_hash_d} AS BIGINT))]][1][1]
    """


def cdc_chunks(
    docs: DataFrame,
    window: int = 4,
    divisor: int = 8,
    target: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Content-defined chunking (the LBFS/rsync/gear shape, at token
    granularity): a chunk boundary falls after token ``i`` wherever the
    rolling hash of the trailing ``window`` tokens satisfies
    ``h % divisor == target`` (plus a forced boundary at the document
    end), so boundaries move WITH the content — an insertion early in a
    document re-chunks only its neighborhood, unlike fixed windows
    where every downstream chunk shifts (the property that makes CDC
    the dedup layout for partially-overlapping documents).

    Returns ``(id_col, chunk_idx int, chunk_hash bigint, n_tokens
    bigint)`` — the chunk fingerprint relation; group by ``chunk_hash``
    to find content shared ACROSS documents regardless of position.

    Scale shape: entirely row-local (one higher-order expression per
    document, token array bound once via the transform(array())
    idiom), no UDF, no shuffle; the only exchange is whatever the
    caller aggregates afterwards. Average chunk length is ``divisor``
    tokens; no min/max clamps (the plain content-defined form —
    deterministic and oracle-replayable; production dedup adds bounds
    for storage, not correctness)."""
    expr = _cdc_exprs(text_col, window, divisor, target, "spark")
    chunks = docs.select(
        F.col(id_col),
        F.expr(expr).alias("_chunks"),
    )
    return chunks.select(
        id_col,
        F.posexplode("_chunks").alias("chunk_idx", "_c"),
    ).select(
        id_col,
        "chunk_idx",
        F.col("_c.h").alias("chunk_hash"),
        F.col("_c.n").alias("n_tokens"),
    )


def cdc_oracle_sql(
    window: int = 4,
    divisor: int = 8,
    target: int = 3,
    text_col: str = "text",
) -> str:
    """The DuckDB restatement of :func:`cdc_chunks`'s per-document
    chunk list — same folds, same arithmetic (used by the declared
    query's oracle and the differential tests)."""
    return _cdc_exprs(text_col, window, divisor, target, "duck")
