"""Deduplication operators: exact, token-set Jaccard, MinHash+LSH, SimHash.

Scale design (10^12 documents):
- **exact**: md5 hash-groupBy — one shuffle on a 32-byte key, AQE
  handles residual skew. Never shuffles document text.
- **jaccard_pairs**: exact all-pairs similarity via token inverted
  index, for oracle-sized subsets (``max_doc_id``); at scale, generate
  candidates with minhash_lsh and verify with jaccard_for_pairs.
- **jaccard_for_pairs**: exact Jaccard restricted to a candidate-pair
  table — the verification stage after LSH; joins only |candidates|
  rows against the token sets, never all-pairs.
- **minhash_lsh**: shingle -> K minhashes -> B bands; candidate pairs
  come from banded bucket joins so cost is output-bound, not O(n^2).
- **simhash**: 60-bit signature via per-token hash bit-voting,
  Hamming-ball candidates by 4x15-bit block join (any dup within
  Hamming distance <= 3 shares at least one exact block).

All hashes are md5-derived (first 15 hex digits -> 60-bit integer), so
every operator here is exactly reproducible in ANSI SQL / DuckDB for
the correctness oracles — the hash family is an implementation detail;
verifiability is the requirement. Signatures are computed ONCE per
plan side: band/block buckets come from ``posexplode`` over an array
built from the materialized signature columns, never from per-band
unions that would re-evaluate the signature. The band/block table is
hash-partitioned once on the join key (``partitioning.bucket_rows``):
both self-join sides and the hot-bucket cap read that one exchange,
so the signature runs once per query and no query leaves cached
state behind.

All built-in column expressions / higher-order functions — no Python in
the hot path.

Input contract (relied on by the round-6 explode + hash-aggregate
signature builds, and by every oracle): ``doc_id`` is a non-NULL
unique key. A NULL or duplicated doc_id would merge what the round-5
per-row array formulations computed per row.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# Fixed odd 61-bit constants for the universal hash family
# h_i(x) = ((a_i * x + b_i) mod M); deterministic across runs.
_M = (1 << 61) - 1
# 31-bit domain for coefficients and rehash inputs: a*h stays < 2^62,
# no signed-long overflow inside the JVM expression.
_M31 = (1 << 31) - 1

SIMHASH_BITS = 60          # 15 hex digits of md5 -> fits a signed long
SIMHASH_BLOCKS = 4         # 4 x 15-bit blocks; pigeonhole for dist <= 3


def _hash_coeffs(k: int):
    # Multiplicative-congruential constants from the golden-ratio family.
    a = [(2654435761 * (2 * i + 1)) % _M31 or 1 for i in range(k)]
    b = [(40503 * (i * i + i + 1)) % _M31 for i in range(k)]
    return a, b


def md5_60(col):
    """SQL-reproducible 60-bit non-negative hash: first 15 hex digits of
    md5. DuckDB equivalent: CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def exact_dups(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, text_sig, n_copies, canonical_id): hash-partitioned
    exact dedup; canonical = min doc_id per signature.

    Round 6: per-signature count/min come from window aggregates over
    one hash partitioning of the signature key instead of groupBy +
    join back on the same key — same integers, one Exchange instead of
    two and no join (guide: two operations keyed the same way share
    one exchange). The NULL-signature filter preserves the join
    shape's exact semantics (and the frozen oracle's ``JOIN USING``):
    a NULL join key matched nothing, so NULL-text rows were absent
    from the output — a window would otherwise keep the NULL
    partition."""
    from pyspark.sql import Window

    sig = df.select("doc_id", F.md5(F.col(text_col)).alias("text_sig")) \
        .filter(F.col("text_sig").isNotNull())
    w = Window.partitionBy("text_sig")
    return sig.select(
        "doc_id", "text_sig",
        F.count("*").over(w).alias("n_copies"),
        F.min("doc_id").over(w).alias("canonical_id"),
    )


def token_sets(df: DataFrame, text_col: str = "text") -> DataFrame:
    toks = F.array_distinct(F.split(F.trim(F.col(text_col)), r"\s+"))
    return df.select("doc_id", toks.alias("toks"))


def jaccard_pairs(df: DataFrame, text_col: str = "text",
                  threshold: float = 0.8,
                  max_doc_id: int | None = None,
                  ngram: int | None = None) -> DataFrame:
    """Exact Jaccard pairs >= threshold over token sets, or over word
    n-gram shingle sets when ``ngram`` is given (n-gram Jaccard —
    stricter about local word order than bag-of-tokens).

    All-pairs via token inverted index (explode + self-join on token,
    groupBy pair). ``max_doc_id`` bounds the subset for oracle-checked
    runs. Returns exact integer (intersection, union) so the result is
    bit-stable across engines.
    """
    base = df
    if max_doc_id is not None:
        base = base.filter(F.col("doc_id") < max_doc_id)
    # no spread_input here: the inverted-index explode feeds a groupBy
    # whose Exchange already parallelizes everything downstream, and
    # the tokenize map ahead of it is trivial — an A/B showed the
    # added repartition to be pure overhead on the doc_id-capped input
    if ngram is None:
        ts = token_sets(base, text_col)
    else:
        ts = shingles(base, text_col, ngram).withColumnRenamed(
            "shingles", "toks")
    sizes = ts.select("doc_id", F.size("toks").alias("sz"))
    inv = ts.select("doc_id", F.explode("toks").alias("tok"))
    pairs = (
        inv.alias("a")
        .join(inv.alias("b"), on="tok")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        pairs
        .join(sizes.withColumnRenamed("doc_id", "doc_a")
              .withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("sz", "sz_b"), "doc_b")
        .withColumn("n_union", F.col("sz_a") + F.col("sz_b") - F.col("n_inter"))
        .filter(F.col("n_inter") >= F.lit(threshold) * F.col("n_union"))
        .select("doc_a", "doc_b",
                F.col("n_inter").cast("long"),
                F.col("n_union").cast("long"))
    )


def jaccard_for_pairs(df: DataFrame, candidates: DataFrame,
                      text_col: str = "text",
                      threshold: float = 0.8,
                      ngram: int | None = None) -> DataFrame:
    """Exact token-set Jaccard over an explicit candidate-pair table —
    the verify stage of the LSH -> exact composition.

    ``candidates`` has (doc_a, doc_b). The plan joins candidates to the
    token sets twice (shuffle keyed on doc ids only — text shuffles as
    the token arrays of candidate docs, never the full corpus
    cross-product), so cost is O(|candidates|), the scale-safe shape.
    ``ngram`` switches the sets to word n-gram shingles.
    """
    from .partitioning import spread_input

    # spread: the token-array build otherwise runs at the scan's
    # (possibly single-task) parallelism, and an identical repartition
    # in both join branches lets ReusedExchange compute the token
    # arrays ONCE for the a- and b-sides (round 6)
    base = spread_input(df, ["doc_id", text_col])
    ts = (token_sets(base, text_col) if ngram is None
          else shingles(base, text_col, ngram).withColumnRenamed(
              "shingles", "toks"))
    a = ts.select(F.col("doc_id").alias("doc_a"),
                  F.col("toks").alias("_toks_a"))
    b = ts.select(F.col("doc_id").alias("doc_b"),
                  F.col("toks").alias("_toks_b"))
    inter = F.size(F.array_intersect("_toks_a", "_toks_b")).cast("long")
    return (
        candidates.select("doc_a", "doc_b")
        .join(a, "doc_a").join(b, "doc_b")
        .withColumn("n_inter", inter)
        .withColumn(
            "n_union",
            (F.size("_toks_a") + F.size("_toks_b")
             - F.col("n_inter")).cast("long"))
        .filter(F.col("n_inter") >= F.lit(threshold) * F.col("n_union"))
        .select("doc_a", "doc_b", "n_inter", "n_union")
    )


def shingles(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document (higher-order
    functions; no UDF). Documents shorter than n tokens get an empty
    shingle set (guarded: Spark's sequence(1, 0) would count down)."""
    base = df.select(
        "doc_id", F.split(F.trim(F.col(text_col)), r"\s+").alias("_toks"))
    parts = " , ' ', ".join(f"_toks[i + {j} - 1]" for j in range(n))
    sh = F.expr(
        f"if(size(_toks) >= {n},"
        f" transform(sequence(1, size(_toks) - {n - 1}),"
        f" i -> concat({parts})),"
        f" cast(array() as array<string>))")
    return base.select("doc_id", F.array_distinct(sh).alias("shingles"))


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       num_hashes: int = 32, shingle_n: int = 3) -> DataFrame:
    """K minhash values per doc: shingle -> md5-60bit -> K universal
    rehashes -> min per hash.

    Round 6: shingles are ``explode_outer``-ed and the K minima come
    from one hash-aggregate with K ``min((h*a_i + b_i) % M)`` columns.
    The prior shape — a ``transform`` materializing the md5 array plus
    K ``array_min(transform(...))`` rehash passes — ran every element
    visit through interpreted CodegenFallback lambda evaluation; the
    explode form runs md5 and all K rehashes inside WholeStageCodegen
    with map-side partial aggregation (each doc's shingles combine
    locally; the added Exchange carries one 32-long row per doc). min
    is order-independent and the per-shingle integer math is unchanged,
    so signatures are bit-identical; ``explode_outer`` keeps
    empty/null shingle sets as an all-NULL signature row, exactly what
    ``array_min`` over an empty/NULL array produced.
    """
    from .partitioning import spread_input

    a, b = _hash_coeffs(num_hashes)
    sh = shingles(spread_input(df, ["doc_id", text_col]), text_col,
                  shingle_n)
    exploded = sh.select(
        "doc_id", F.explode_outer("shingles").alias("_s"),
    ).select(
        "doc_id", (md5_60(F.col("_s")) % F.lit(_M31)).alias("_h"))
    # Each minimum as one parsed SQL expression (integer-identical to
    # the Column-API form; int literals below 2^31 parse as INT and _M
    # as BIGINT exactly as F.lit typed them) — 32 Column builds cost
    # ~0.4 s of py4j round trips per invocation, the strings ~25 ms.
    # See simhash/lsh_bucket for the construction-cost measurements.
    cols = [
        F.expr(f"min((_h * {a[i]} + {b[i]}) % {_M}) AS mh_{i}")
        for i in range(num_hashes)
    ]
    return exploded.groupBy("doc_id").agg(*cols)


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      num_hashes: int = 32, bands: int = 8,
                      shingle_n: int = 3,
                      max_bucket_size: int | None = None) -> DataFrame:
    """Candidate near-dup pairs from banded LSH over minhash signatures.

    bands * rows_per_band == num_hashes. Candidates are pairs sharing
    at least one band bucket; downstream exact verification is
    :func:`jaccard_for_pairs` on the output. Band buckets come from ONE
    posexplode over the signature row (no per-band union — the round-1
    union re-derived the shingle array on every branch of both join
    sides). ``max_bucket_size`` drops degenerate buckets (e.g. the
    empty-document bucket) whose size would make the bucket self-join
    quadratic at corpus scale.
    """
    from .partitioning import bucket_rows

    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, text_col, num_hashes, shingle_n)
    # one parsed SQL expression for the 8-band bucket array (the
    # Column-API build of 8 x md5(concat_ws(4 casts)) cost ~0.15 s of
    # py4j per invocation; same construction-cost class as the
    # signature aggregates above — identical analyzed tree, verified
    # row-identical at sf0.1)
    buckets = F.expr("array(" + ", ".join(
        "md5(concat_ws('_', " + ", ".join(
            f"CAST(mh_{band * rows_per_band + r} AS STRING)"
            for r in range(rows_per_band)) + "))"
        for band in range(bands)) + ")")
    band_rows = bucket_rows(
        sig.select("doc_id", F.posexplode(buckets).alias("band", "bucket")),
        ["band", "bucket"], max_bucket_size)
    pairs = (
        band_rows.alias("a")
        .join(band_rows.alias("b"), on=["band", "bucket"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return pairs


def simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    """60-bit SimHash over distinct tokens: per-bit majority vote of the
    token hashes; bit b is set iff strictly more than half the token
    hashes have bit b set (2*pop > n, identical to the +1/-1 vote being
    positive).

    Round 6: the per-bit popcounts come from ``explode`` + one
    hash-aggregate with 60 ``sum((h >> b) & 1)`` columns instead of 60
    ``size(filter(...))`` scans over the per-row hash array.
    Higher-order-function lambdas are CodegenFallback (interpreted,
    one virtual eval per element per pass — 60 passes made this the
    slowest query in the whole bench at 68 s / 50 k docs), while
    explode + sum runs entirely inside WholeStageCodegen with map-side
    partial aggregation: each doc's tokens combine locally, so the one
    added Exchange carries a single 61-long row per document — less
    than the document's own text. The md5 per token is likewise now a
    codegen'd per-row expression instead of an interpreted
    ``transform`` element call. Integer popcounts are order-independent,
    so the signature is bit-identical to the array formulation
    (``explode_outer`` + conditional aggregates keep the null-text
    degenerate row at signature 0, exactly as ``size(filter(NULL))``
    voted before)."""
    from .partitioning import spread_input

    exploded = token_sets(
        spread_input(df, ["doc_id", text_col]), text_col,
    ).select(
        "doc_id", F.explode_outer("toks").alias("_tok"),
    ).select("doc_id", md5_60(F.col("_tok")).alias("_h"))
    # The whole signature is ONE parsed SQL expression instead of 60
    # Column-API sum columns plus a 60-step when-chain: building those
    # cost ~1.0 s of driver-side py4j round trips PER INVOCATION
    # (measured; same construction-cost class as similarity.lsh_bucket
    # — see its docstring), against ~1 ms for the string. The analyzed
    # aggregate is the same (60 partial sums + count, combined in the
    # final projection), the arithmetic is all-integer, and the NULL
    # semantics are unchanged: a NULL-text doc's single NULL-token row
    # makes every sum NULL, each CASE falls to ELSE 0, signature 0 —
    # exactly as before. Output equality old-vs-new is pinned by
    # test_simhash_matches_hof and was verified row-identical at sf0.1.
    parts = [
        f"(CASE WHEN sum(shiftrightunsigned(_h, {bit}) & 1) * 2 "
        f"> count(_h) THEN CAST({1 << bit} AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END)"
        for bit in range(SIMHASH_BITS)
    ]
    sig = F.expr("CAST(0 AS BIGINT) + " + " + ".join(parts))
    return exploded.groupBy("doc_id").agg(sig.alias("simhash"))


def simhash_candidates(df: DataFrame, text_col: str = "text",
                       max_bucket_size: int | None = None) -> DataFrame:
    """Near-dup candidates within Hamming distance 3 of each other:
    4x15-bit block join (pigeonhole: <=3 differing bits leave one of 4
    blocks identical), then exact popcount filter. Blocks come from one
    posexplode over the computed signature — the signature expression
    is evaluated once per join side, not once per block.

    ``max_bucket_size`` drops degenerate (blk, blk_val) keys — e.g.
    thousands of near-empty documents collapsing to signature 0 —
    the same hot-bucket guard as minhash_lsh_pairs /
    embedding_near_dups / image_near_dups."""
    from .partitioning import bucket_rows

    sh = simhash(df, text_col)
    blk_vals = F.array(*[
        F.shiftrightunsigned(F.col("simhash"), blk * 15)
        .bitwiseAND(F.lit(0x7FFF)).cast("long")
        for blk in range(SIMHASH_BLOCKS)
    ])
    blocks = bucket_rows(
        sh.select("doc_id", "simhash",
                  F.posexplode(blk_vals).alias("blk", "blk_val")),
        ["blk", "blk_val"], max_bucket_size)
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    hamming = F.bit_count(xor).cast("int")
    # Hamming filter BEFORE any dedup: the popcount is a cheap
    # map-side expression, so rejecting far pairs first keeps
    # downstream work to the near-dup set instead of every
    # bucket-collision pair.
    joined = (
        blocks.alias("a").join(blocks.alias("b"), on=["blk", "blk_val"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(hamming <= 3)
    )
    if max_bucket_size is None:
        # First-matching-block dedup (round 6): a pair joins once per
        # shared block, so instead of a .distinct() over the full
        # candidate set (27.4M rows shuffled at the 50k-doc bench
        # scale), keep only the row whose blk is the pair's FIRST
        # matching block — "no earlier block of the signatures' XOR is
        # zero", a pure map-side bit test. Every surviving (doc_a,
        # doc_b, hamming) row is then provably unique: exactly the set
        # the distinct produced, without its Exchange. Only valid
        # uncapped: with max_bucket_size, an earlier matching block
        # may have been dropped from the join key, so first-match
        # can't be decided from the signatures alone and the distinct
        # stays.
        def _blk_zero(j):
            return (
                F.shiftrightunsigned(xor, j * 15)
                .bitwiseAND(F.lit(0x7FFF)) == 0)

        first_match = F.when(F.col("blk") == 0, F.lit(True))
        for b in range(1, SIMHASH_BLOCKS):
            no_earlier = F.lit(True)
            for j in range(b):
                no_earlier = no_earlier & ~_blk_zero(j)
            first_match = first_match.when(F.col("blk") == b, no_earlier)
        return (
            joined.filter(first_match)
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    hamming.alias("hamming"))
        )
    return (
        joined
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                hamming.alias("hamming"))
        .distinct()
    )
