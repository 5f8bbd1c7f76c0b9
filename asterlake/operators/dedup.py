"""Deduplication operator family (beyond-parity: LLM training-data pipeline).

Four escalating notions of "duplicate" over a document table, all implemented
as compositions of built-in, JVM-side DataFrame operators (zero Python UDFs —
every hash/shingle/signature is a codegen'd higher-order function):

- **exact**        — hash-groupBy on content digest
- **MinHash + LSH**— shingle -> k md5-minhashes -> banded buckets -> bucket
                     self-join (candidate pairs without O(n^2) comparison)
- **SimHash**      — frequency-weighted bit-vote fingerprint (Hamming-space)
- **n-gram Jaccard** — exact set-overlap on shingles via explode + self-join

Portability note: every hash bottoms out in ``md5`` (identical hex output
in Spark and DuckDB) rather than ``xxhash64`` (Spark-only), so every
operator here is oracle-checkable end-to-end. MinHash derives its k
permutations from ONE md5 per shingle via the universal family
h_j(x) = (a_j*x + b_j) mod p — exact int64 arithmetic on both engines.

Scale design (100 TB):
- Shingling/minhash/simhash are per-row projections — no shuffle, no UDF,
  no driver involvement; they scale linearly with executors.
- The only shuffles are (a) the LSH band self-join, which touches
  ``n_docs x n_bands`` short rows (not documents), and (b) the Jaccard
  explode join, whose cost is bounded by bucket/posting-list sizes, the
  standard inverted-index bound. Exact dedup groups by a 128-bit digest,
  never by the document body, so the shuffle carries ~48 bytes/row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from asterlake.operators.textstats import whitespace_tokens


def word_shingles(text_col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles, empty array when the doc is shorter
    than n tokens (guards Spark's descending sequence() on stop < start).

    The token array is bound ONCE as a lambda variable (transform over a
    1-element wrapper array): referencing split() directly three times
    re-tokenizes the document three times per row after project
    collapsing — measured ~40% of the whole shingle pass at sf0.1."""
    return F.expr(
        f"""
        flatten(transform(array(split({text_col}, ' ')), toks ->
          CASE WHEN size(toks) >= {n}
               THEN array_distinct(transform(
                      sequence(1, size(toks) - {n} + 1),
                      i -> array_join(slice(toks, i, {n}), ' ')))
               ELSE CAST(array() AS array<string>)
          END))
        """
    )


_MH_MOD = 1_000_000_007


def _mh_a(j: int) -> int:
    return (j + 1) * 1_000_003 + 17


def _mh_b(j: int) -> int:
    return (j + 1) * 999_983 + 7


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 12,
) -> DataFrame:
    """(id, _sig0.._sigK-1): k min-aggregates over universally-hashed
    shingles — the classic one-base-hash construction.

    Each shingle is hashed ONCE (md5 -> first 15 hex digits -> bigint,
    exact in int64) and the k permutations are the universal family
    h_j(x) = (a_j*x + b_j) mod 1e9+7 — integer arithmetic both Spark and
    DuckDB evaluate identically, ~k times cheaper than k independent md5
    calls (2x wall-clock at sf0.1). All intermediates fit int64:
    base < 2^30 after the mod, a_j < 2^25, so a_j*base + b_j < 2^55.

    Two plan properties matter at scale: the explode keeps a doc's
    shingles in one partition so map-side partial agg emits ONE k-int row
    per doc before the shuffle; and signatures are tiny fixed-width ints,
    not 32-char digests.

    NULL discipline: ``explode_outer`` keeps shingle-less docs (< n
    tokens); their NULL shingle propagates through md5/conv/arithmetic so
    every signature slot is NULL — same as DuckDB's
    ``list_aggregate([], 'min')`` on an empty shingle list.
    """
    sh = docs.select(
        F.col(id_col),
        F.explode_outer(word_shingles(text_col, n)).alias("_shingle"),
    )
    base = (
        F.conv(F.substring(F.md5(F.col("_shingle")), 1, 15), 16, 10).cast(
            "long"
        )
        % _MH_MOD
    )
    hashed = sh.select(F.col(id_col), base.alias("_base"))
    return hashed.groupBy(id_col).agg(
        *[
            F.min(
                (F.lit(_mh_a(j)) * F.col("_base") + F.lit(_mh_b(j))) % _MH_MOD
            ).alias(f"_sig{j}")
            for j in range(k)
        ]
    )


def minhash_band_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 12,
    bands: int = 4,
) -> DataFrame:
    """(id, band_key): each doc exploded to its LSH band keys.

    ','-joined int signatures (unambiguous); concat_ws skips NULL slots
    -> empty band body, key 'b:' — matching the oracle's array_to_string
    over an all-NULL slice. This is the persisted INDEX layout for
    incremental dedup: band keys are small strings, the index never
    stores document bodies, and new-batch lookup is an equi-join on
    band_key (see :func:`minhash_index_matches`)."""
    rows = k // bands
    sig_tbl = minhash_signatures(docs, id_col, text_col, n, k)
    band_keys = F.array(
        *[
            F.concat(
                F.lit(f"{b}:"),
                F.concat_ws(
                    ",", *[F.col(f"_sig{b * rows + r}") for r in range(rows)]
                ),
            )
            for b in range(bands)
        ]
    )
    return sig_tbl.select(
        F.col(id_col), F.explode(band_keys).alias("band_key")
    )


def minhash_index_matches(
    new_docs: DataFrame,
    index_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 12,
    bands: int = 4,
) -> DataFrame:
    """Incremental near-dup screening: which NEW documents LSH-collide
    with the existing corpus index, without ever comparing new-vs-new.

    The daily-ingest shape: at scale the index side is a persisted band
    table (``minhash_band_table`` written once, appended per batch) and
    the new batch is orders of magnitude smaller, so AQE broadcasts the
    new side into the band-key equi-join and the index is touched
    map-side only. Output per matched new doc: ``n_candidates`` (distinct
    index docs sharing >= 1 band) and ``first_match`` (min index doc id)
    — the triage row a quarantine/skip decision needs.
    """
    nb = minhash_band_table(new_docs, id_col, text_col, n, k, bands)
    ib = minhash_band_table(index_docs, id_col, text_col, n, k, bands).select(
        F.col(id_col).alias("_idx_id"), "band_key"
    )
    j = nb.join(ib, "band_key")
    return j.groupBy(id_col).agg(
        F.countDistinct("_idx_id").cast("bigint").alias("n_candidates"),
        F.min("_idx_id").alias("first_match"),
    )


def minhash_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 12,
    bands: int = 4,
) -> DataFrame:
    """LSH candidate pairs: (doc_a, doc_b, n_shared_bands), doc_a < doc_b.

    With k=12, bands=4 (rows=3): P[candidate] = 1-(1-j^3)^4 — ~1.0 at
    jaccard 0.9, ~5e-4 at jaccard 0.05; near-dups surface, noise doesn't.
    """
    band_tbl = minhash_band_table(docs, id_col, text_col, n, k, bands)
    # Intra-bucket pair expansion instead of a self-join: a self-join
    # re-executes the whole signature subtree (1M-shingle explode + md5)
    # once PER SIDE; grouping by band key runs it once and generates each
    # bucket's pairs with array expressions. LSH bands keep buckets tiny
    # (only near-dups collide on all r rows), so the per-bucket arrays are
    # bounded; a pathological corpus where one bucket holds the whole
    # dataset degenerates for the self-join form just the same (the pair
    # count itself is quadratic there).
    buckets = (
        band_tbl.groupBy("band_key")
        .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("_ids"))
        .filter(F.size("_ids") >= 2)
    )
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("_ids"),
                    lambda x, i: F.transform(
                        F.slice(
                            F.col("_ids"), i + F.lit(2), F.size("_ids")
                        ),
                        lambda y: F.struct(
                            x.alias("doc_a"), y.alias("doc_b")
                        ),
                    ),
                )
            )
        ).alias("_p")
    )
    return pairs.groupBy(
        F.col("_p.doc_a").alias("doc_a"), F.col("_p.doc_b").alias("doc_b")
    ).agg(F.count("*").alias("n_shared_bands"))


def minhash_estimate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 12,
    bands: int = 4,
) -> DataFrame:
    """LSH candidate pairs WITH their MinHash Jaccard estimate:
    (doc_a, doc_b, n_shared_bands, est_jaccard).

    est_jaccard = (equal signature slots) / k — the unbiased MinHash
    estimator, so downstream thresholds can rank candidates without
    touching the documents again (the point of carrying signatures at
    100 TB: the estimate is k int comparisons, the true Jaccard is a
    shingle-set intersection).

    Plan shape: ONE signature subtree feeds the band-bucket pair
    generation AND both sides of the estimate join — the three uses hash-
    partition on the same doc-id key, so ReuseExchange materializes the
    expensive explode+md5+partial-agg exchange once. The tiny pair set
    broadcasts into both signature joins; NULL slots (shingle-less docs)
    count as unequal, matching the oracle's NULL-dropping list_filter.
    """
    rows = k // bands
    sig_tbl = minhash_signatures(docs, id_col, text_col, n, k)
    sig_arr = sig_tbl.select(
        F.col(id_col),
        F.array(*[F.col(f"_sig{j}") for j in range(k)]).alias("_sig"),
    )
    band_keys = F.array(
        *[
            F.concat(
                F.lit(f"{b}:"),
                F.concat_ws(
                    ",",
                    *[
                        F.element_at(F.col("_sig"), b * rows + r + 1)
                        for r in range(rows)
                    ],
                ),
            )
            for b in range(bands)
        ]
    )
    band_tbl = sig_arr.select(F.col(id_col), F.explode(band_keys).alias("band_key"))
    buckets = (
        band_tbl.groupBy("band_key")
        .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("_ids"))
        .filter(F.size("_ids") >= 2)
    )
    pairs = (
        buckets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("_ids"),
                        lambda x, i: F.transform(
                            F.slice(F.col("_ids"), i + F.lit(2), F.size("_ids")),
                            lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                        ),
                    )
                )
            ).alias("_p")
        )
        .groupBy(F.col("_p.doc_a").alias("doc_a"), F.col("_p.doc_b").alias("doc_b"))
        .agg(F.count("*").alias("n_shared_bands"))
    )
    a = sig_arr.select(F.col(id_col).alias("doc_a"), F.col("_sig").alias("_sa"))
    b = sig_arr.select(F.col(id_col).alias("doc_b"), F.col("_sig").alias("_sb"))
    n_equal = F.size(
        F.filter(
            F.zip_with(F.col("_sa"), F.col("_sb"), lambda x, y: x == y),
            lambda v: v,
        )
    )
    # pairs (small) broadcast into the stream of a; the pairs-sized result
    # broadcast again into the stream of b — the corpus-wide signature
    # table is never the build side and never re-shuffles
    with_a = F.broadcast(pairs).join(a, "doc_a")
    return F.broadcast(with_a).join(b, "doc_b").select(
        "doc_a",
        "doc_b",
        "n_shared_bands",
        (n_equal.cast("double") / F.lit(float(k))).alias("est_jaccard"),
    )


def simhash_fingerprint(text_col: str, nbits: int = 32) -> Column:
    """nbits-char '0'/'1' fingerprint; bit j votes over all tokens with
    weight +-1 by the j-th hex digit of md5(token). Frequency-weighted
    (tokens, not distinct tokens). String output is engine-portable."""
    assert nbits <= 32  # md5 hex has 32 digits
    toks = f"split({text_col}, ' ')"
    return F.expr(
        f"""
        array_join(transform(sequence(1, {nbits}), j ->
          CASE WHEN aggregate({toks}, 0, (acc, t) ->
                 acc + CASE WHEN substring(md5(t), j, 1) >= '8'
                            THEN 1 ELSE -1 END) > 0
               THEN '1' ELSE '0' END), '')
        """
    )


def simhash_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    nbits: int = 32,
) -> DataFrame:
    """(id, simhash) via explode + nbits conditional-sum aggregates.

    Same fingerprint as ``simhash_fingerprint`` (the column form), but each
    token's md5 is computed ONCE — the column form's per-bit fold re-hashes
    every token nbits times (32x the md5 work; measured 5.1s -> <1s for
    5000 docs at sf0.1). Map-side partial aggregation shrinks the shuffle
    to one 32-int row per doc per partition.
    """
    assert nbits <= 32

    # One md5 per token occurrence, its 32 hex digits converted to three
    # longs (15+15+2 digits; 15 hex digits = 60 bits, the most that fits a
    # signed long). "digit >= '8'" == the digit's high bit, so each of the
    # 32 votes is a shift-AND on a precomputed long. The explode+aggregate
    # shape matters: the exploded rows stay MAP-SIDE (partial aggregation
    # collapses them to one 33-long row per doc per partition before the
    # shuffle), whereas a row-local transform()+32-fold projection looks
    # cheaper but Catalyst's project-collapsing inlines the transform into
    # every fold — 33 md5 passes per row (measured 20x slower at sf0.1).
    hashed = docs.select(
        F.col(id_col),
        F.explode(whitespace_tokens(text_col)).alias("_tok"),
    ).select(F.col(id_col), F.md5("_tok").alias("_h"))
    chunks = {  # chunk index -> (chunk column, digits in chunk, offset)
        0: (F.conv(F.substring("_h", 1, 15), 16, 10).cast("long"), 15, 0),
        1: (F.conv(F.substring("_h", 16, 15), 16, 10).cast("long"), 15, 15),
        2: (F.conv(F.substring("_h", 31, 2), 16, 10).cast("long"), 2, 30),
    }
    with_chunks = hashed.select(
        F.col(id_col),
        *[c.alias(f"_c{i}") for i, (c, _, _) in chunks.items()],
    )

    def vote_bit(j: int) -> F.Column:  # high bit of hex digit j
        for i, (_, ndig, off) in chunks.items():
            if off < j <= off + ndig:
                shift = 4 * (off + ndig - j) + 3
                return F.shiftright(F.col(f"_c{i}"), shift).bitwiseAND(
                    F.lit(1)
                )
        raise AssertionError(j)

    # Timing note: this 33-aggregate groupBy compiles a large generated
    # class, so the FIRST execution in a session pays ~2s of janino/JIT
    # on top of the ~2.9s steady state at sf0.1 (5.0s cold vs 2.9s warm,
    # measured). That is session warm-up, not a plan property; bench.py
    # re-runs a row once when it exceeds 1.3-1.5x its prior record and
    # keeps the min.
    votes = with_chunks.groupBy(id_col).agg(
        F.count("*").alias("_n"),
        *[F.sum(vote_bit(j)).alias(f"_b{j}") for j in range(1, nbits + 1)],
    )
    # sum of +-1 votes = 2*count(high bits) - n_tokens
    bits = F.concat(
        *[
            F.when(
                F.lit(2) * F.col(f"_b{j}") - F.col("_n") > 0, F.lit("1")
            ).otherwise(F.lit("0"))
            for j in range(1, nbits + 1)
        ]
    )
    return votes.select(F.col(id_col), bits.alias("simhash"))


def simhash_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    nbits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the nbits fingerprint, equi-join on
    an integer (band index, band bits) key, Hamming-filter, then dedup the
    pairs that matched in several bands.

    With max_hamming <= bands-1 the banding is LOSSLESS (pigeonhole: <
    bands bit-flips cannot dirty every band), so this returns exactly the
    brute-force hamming<=max_hamming pairs without the O(n^2) cross join.

    Scale shape: the fingerprint travels as ONE long (never the bit
    string); band keys are ints, so the shuffle is (long, long, int) rows;
    Hamming = bit_count(xor) — one JVM instruction per pair — runs BEFORE
    the pair-dedup shuffle, so only true near-dups reach dropDuplicates.
    Skewed bands (clustered fingerprints) split under AQE.

    Shape note: the band SELF-JOIN is deliberate, unlike minhash's
    intra-bucket expansion. SimHash bands are coarse (nbits/bands bits ->
    ~2^8 keys), so buckets hold n/2^blen docs and an array-expansion of
    pairs does O(bucket^2) slice-copies per bucket (measured 2.7s -> 7.2s
    at sf0.1). Both join sides canonicalize to the SAME exchange, so
    Spark's ReuseExchange computes the fingerprint subtree once anyway.
    """
    assert nbits % bands == 0
    assert nbits <= 63  # fingerprint must fit a signed long
    blen = nbits // bands
    t = simhash_table(docs, id_col, text_col, nbits)
    fp = F.conv("simhash", 2, 10).cast("long")
    banded = t.select(F.col(id_col), fp.alias("_fp")).select(
        F.col(id_col),
        "_fp",
        F.explode(
            F.array(
                *[
                    (
                        F.shiftright(F.col("_fp"), b * blen)
                        .bitwiseAND(F.lit((1 << blen) - 1))
                        + F.lit(b << blen)
                    ).cast("int")
                    for b in range(bands)
                ]
            )
        ).alias("_band_key"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(
        F.col("a._fp").bitwiseXOR(F.col("b._fp"))
    ).cast("int")
    return (
        a.join(
            b,
            (F.col("a._band_key") == F.col("b._band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def exact_duplicate_groups(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup: one row per distinct content with the deterministic
    survivor (min id) and the multiplicity. Groups by the md5 digest, NOT
    the body — the shuffle carries 32-byte keys even for megabyte docs."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("_digest"))
        .agg(
            F.min(id_col).alias("canonical_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .drop("_digest")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    method: str = "count",
) -> DataFrame:
    """Exact n-gram Jaccard similarity >= threshold for every doc pair.
    Both methods return IDENTICAL results (pinned by test); they differ
    in how candidates are generated and intersections computed:

    - ``method="count"`` — inverted-index self-join on every shingle,
      intersection = pair-count groupBy. Candidates are every pair
      sharing ANY shingle, but each candidate costs only a counted
      row, never an array. Wins when shingle overlap is dense (small
      vocabularies, templated text): measured 1.7s vs 7.7s at sf0.1 on
      the driver corpus, where prefix filtering prunes almost nothing
      (5000 docs -> 567k surviving candidates).
    - ``method="prefix"`` — LOSSLESS prefix filtering (All-Pairs/PPJoin
      family, Bayardo et al. WWW'07): under one global canonical order
      (array_sort), only each doc's first ``|x| - ceil(t*|x|) + 1``
      shingles are indexed; a pair with Jaccard >= t must share a
      prefix shingle (pigeonhole on the required overlap), so every
      qualifying pair survives while sub-threshold candidates are
      pruned BEFORE generation. Verification is row-local
      ``array_intersect`` over the two docs' sorted arrays — no
      pair-count shuffle. Wins on Zipfian web corpora where most
      shingles are rare and the full inverted join's candidate set is
      quadratic in the hot posting lists.

    jaccard = |A ∩ B| / (|A| + |B| - |A ∩ B|); the division is one double
    op over identical integers on any engine — hash-stable.
    """
    if method == "prefix":
        return _ngram_jaccard_prefix(docs, id_col, text_col, n, threshold)
    if method != "count":
        raise ValueError(f"unknown method {method!r}")
    # No size filter here, deliberately: attaching |A| to each exploded
    # row makes Catalyst defer size(word_shingles(text)) ABOVE the join
    # exchange, shuffling the full document text per shingle row and
    # re-running the shingle pipeline per exploded row (measured 1.25s ->
    # 15s at sf0.1) — and the bound the filter enforces is already implied
    # by the final jaccard predicate. The prefix path CAN afford it
    # because its sizes come off the persisted re-sorted corpus.
    sh = docs.select(
        F.col(id_col), F.explode(word_shingles(text_col, n)).alias("shingle")
    )
    # |A| is row-local (the shingle array is already distinct): a
    # groupBy-count over the exploded table would re-run the shingle
    # subtree AND shuffle docs x shingles rows for a number each doc
    # already knows. Zero-shingle docs get n_sh=0 here where the agg form
    # had no row; harmless — they can't appear in `inter`, and sizes only
    # enters through inner joins against it.
    sizes = docs.select(
        F.col(id_col), F.size(word_shingles(text_col, n)).alias("n_sh")
    )
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            # SHUFFLE_HASH: without it Spark broadcasts the exploded shingle
            # table (docs x shingles rows — unboundedly large at scale, and
            # 2.7x slower than a shuffled hash join even at sf0.1). Both
            # sides shuffle on the 'shingle' key; AQE splits skewed
            # posting lists.
            b.hint("SHUFFLE_HASH"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _ngram_jaccard_prefix(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
) -> DataFrame:
    """See :func:`ngram_jaccard_pairs` method="prefix".

    The canonical order is ascending GLOBAL document frequency (ties by
    shingle) — the detail that makes All-Pairs work: prefixes then hold
    each doc's RAREST shingles, so prefix collisions happen on rare
    co-occurrence, not on stop-shingles. Measured on the driver corpus
    at t=0.8: 220k distinct candidates lexicographic -> 119k df-ordered
    (1.9x; this synthetic corpus draws from a ~20-word vocabulary, so
    even its rare shingles are common — on a Zipfian web corpus, where
    most shingles are near-unique, the same ordering is the difference
    between quadratic and linear candidates). The frequency table is
    vocabulary-sized and computed once per call; the per-doc re-sort is
    one explode + join + collect_list, the standard All-Pairs
    preprocessing pass."""
    exploded = docs.select(
        F.col(id_col), F.explode(word_shingles(text_col, n)).alias("shingle")
    )
    sh_df = exploded.groupBy("shingle").agg(
        F.count("*").cast("bigint").alias("_df")
    )
    base = (
        # shuffle_hash: the default sort-merge would SORT the full posting
        # list by shingle string twice (measured: the whole base build
        # drops 4.5s -> 1.2s warm at sf0.1 with the hint); both sides
        # already hash-partition on shingle, the vocab side builds the map
        exploded.join(sh_df.hint("shuffle_hash"), "shingle")
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("_df", "shingle"))
            ).alias("_ord")
        )
        .select(
            F.col(id_col),
            F.transform("_ord", lambda s: s["shingle"]).alias("_sh"),
        )
        .withColumn("_n", F.size("_sh"))
        # three consumers (prefix index + both verify sides) — persist
        # the re-sorted corpus once instead of re-running the
        # explode/join/collect prep per branch
        .persist()
    )
    prefix_len = (
        F.col("_n")
        - F.ceil(F.col("_n") * F.lit(threshold)).cast("int")
        + F.lit(1)
    )
    pref = base.select(
        F.col(id_col),
        F.col("_n"),
        F.explode(F.slice("_sh", F.lit(1), prefix_len)).alias("shingle"),
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b.hint("SHUFFLE_HASH"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            # All-Pairs size filter (Bayardo et al. §3.1, lossless):
            # jaccard(A,B) >= t forces t*|A| <= |B| and t*|B| <= |A|
            # (the intersection is at most the smaller set), so size-
            # mismatched prefix collisions are pruned BEFORE the
            # distinct and the array-verify join ever see them.
            # Measured at sf0.1 t=0.8: 118,826 -> 43,543 candidates
            # (2.7x), identical surviving pairs.
            & (F.col("a._n") * F.lit(1.0) >= F.col("b._n") * F.lit(threshold))
            & (F.col("b._n") * F.lit(1.0) >= F.col("a._n") * F.lit(threshold)),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .distinct()
    )
    fa = base.select(
        F.col(id_col).alias("doc_a"),
        F.col("_sh").alias("_sha"),
        F.col("_n").alias("na"),
    )
    fb = base.select(
        F.col(id_col).alias("doc_b"),
        F.col("_sh").alias("_shb"),
        F.col("_n").alias("nb"),
    )
    inter = F.size(F.array_intersect("_sha", "_shb"))
    return (
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .select("doc_a", "doc_b", inter.alias("inter"), "na", "nb")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Asymmetric near-subset detection: max-containment
    ``|A ∩ B| / min(|A|, |B|)`` for every pair sharing >= 1 shingle,
    filtered to >= threshold.

    Jaccard misses quote-inclusion — a short document wholly contained in
    a long one has tiny |A∩B|/|A∪B| but containment 1.0; curation
    pipelines (Lee et al. "Deduplicating Training Data...", RefinedWeb)
    treat near-subsets as duplicates too. Same inverted-index
    SHUFFLE_HASH self-join scale shape as :func:`ngram_jaccard_pairs`:
    shuffles (doc, shingle) postings, never bodies; AQE splits hot
    shingle posting lists."""
    sh = docs.select(
        F.col(id_col), F.explode(word_shingles(text_col, n)).alias("shingle")
    )
    sizes = docs.select(
        F.col(id_col), F.size(word_shingles(text_col, n)).alias("n_sh")
    )
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b.hint("SHUFFLE_HASH"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter").cast("double") / F.least("na", "nb")
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def fuzzy_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_key: Column,
    max_distance: int = 2,
) -> DataFrame:
    """Blocked fuzzy-string matching: pairs whose ``text_col`` values are
    within ``max_distance`` Levenshtein edits, candidate-generated by an
    equi-join on ``block_key`` (e.g. a token, phonetic code, or length
    bucket) so the edit-distance kernel never runs on the full cross
    product.

    Scale: candidates = sum over blocks of |block|^2, controlled entirely
    by the caller's blocking key; the Levenshtein evaluation is Spark's
    built-in JVM kernel (no Python). One shuffle on the block key. Blocks
    must be sized so a single block's pairs fit an executor — the same
    contract as similarity.blocked_neighbor_pairs.
    """
    sides = df.select(
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_text"),
        block_key.alias("_block"),
    )
    a, b = sides.alias("a"), sides.alias("b")
    return (
        a.join(
            b,
            (F.col("a._block") == F.col("b._block"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .withColumn("distance", F.levenshtein(F.col("a._text"), F.col("b._text")))
        .filter(F.col("distance") <= max_distance)
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._text").alias("text_a"),
            F.col("b._text").alias("text_b"),
            "distance",
        )
    )


def span_dedup(
    docs: DataFrame,
    span_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4-style SPAN-level corpus dedup: documents segment into
    consecutive ``span_tokens``-token spans; every span that already
    occurred earlier in the corpus (first occurrence = min (doc, pos))
    is dropped, and each document's text is rebuilt from its surviving
    spans. This is the C4 pipeline's repeated-span removal (three-
    sentence spans there; fixed token windows here) — boilerplate,
    navigation chrome, and license blocks vanish corpus-wide while each
    copy's first occurrence survives.

    Shape: segmentation is row-local (slice over the token array); the
    first-occurrence decision shuffles on the span's md5 DIGEST (never
    the span text as a key; the text rides as payload to avoid a second
    corpus-wide join), and the rebuild is one doc-keyed aggregation with
    an in-group position sort. Output: ``(id, n_segments, n_kept,
    text_clean)``.
    """
    toks = whitespace_tokens(text_col)
    n_spans = F.ceil(F.size(toks) / F.lit(span_tokens)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), F.greatest(n_spans - 1, F.lit(0))),
        lambda i: F.struct(
            i.cast("int").alias("pos"),
            F.array_join(
                F.slice(toks, i * span_tokens + 1, span_tokens), " "
            ).alias("seg"),
        ),
    )
    exploded = docs.select(
        F.col(id_col), F.explode(segs).alias("_s")
    ).select(id_col, "_s.pos", "_s.seg", F.md5("_s.seg").alias("_dig"))
    w = Window.partitionBy("_dig").orderBy(id_col, "pos")
    ranked = exploded.withColumn("_rn", F.row_number().over(w))
    kept_struct = F.when(
        F.col("_rn") == 1,
        F.struct(F.col("pos"), F.col("seg")),
    )
    return (
        ranked.groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_segments"),
            F.sum(F.when(F.col("_rn") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["seg"],
                ),
                " ",
            ).alias("text_clean"),
        )
    )
