"""Deduplication operators: exact, token-set Jaccard, MinHash+LSH, SimHash.

Scale design (10^12 documents):
- **exact**: md5 hash-groupBy — one shuffle on a 32-byte key, AQE
  handles residual skew. Never shuffles document text.
- **jaccard_pairs**: exact all-pairs similarity via token inverted
  index, for oracle-sized subsets (``max_doc_id``); at scale, generate
  candidates with minhash_lsh and verify with jaccard_for_pairs.
- **jaccard_for_pairs**: exact Jaccard restricted to a candidate-pair
  table — the verification stage after LSH; joins only |candidates|
  rows against the document texts, never all-pairs.
- **minhash_lsh**: shingle -> K minhashes -> B bands; candidate pairs
  come from banded bucket joins so cost is output-bound, not O(n^2).
- **simhash**: 60-bit signature via per-token hash bit-voting,
  Hamming-ball candidates by 4x15-bit block join (any dup within
  Hamming distance <= 3 shares at least one exact block).

All hashes are md5-derived (first 15 hex digits -> 60-bit integer), so
every operator here is exactly reproducible in ANSI SQL / DuckDB for
the correctness oracles — the hash family is an implementation detail;
verifiability is the requirement. The per-document and per-pair work
runs in numpy and Python kernels, one call per Arrow batch
(``pipeline.per_batch``), with the integer arithmetic, md5 text and
tokenisation Spark's SQL gives it: the minhash and simhash signatures,
the band and block rows the signature kernels emit (one row per
document and band or block), and the Jaccard verify over the joined
candidate texts. Catalyst keeps the joins, the Hamming filter and the
dedup of pairs. The band/block table is hash-partitioned once on the
join key (``partitioning.bucket_rows``): both self-join sides and the
hot-bucket cap read that one exchange, so the signature kernel runs
once per query and no query leaves cached state behind. With a
Python stage's fixed cost down to a fork-inherited worker and no
per-task zip re-read (``scribe_js_spark.daemon``), a kernel costs less
than the Catalyst expressions it replaced: their generated code was
mostly JIT time.

Input contract (relied on by every oracle): ``doc_id`` is a non-NULL
unique key. The signatures are computed per row, the oracles' per
doc_id; with a duplicated doc_id the two would differ.
"""

from __future__ import annotations

import functools
import hashlib
import re

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Fixed odd 61-bit constants for the universal hash family
# h_i(x) = ((a_i * x + b_i) mod M); deterministic across runs.
_M = (1 << 61) - 1
# 31-bit domain for coefficients and rehash inputs: a*h stays < 2^62,
# no signed-long overflow in int64 (nor in the oracles' BIGINT).
_M31 = (1 << 31) - 1

SIMHASH_BITS = 60          # 15 hex digits of md5 -> fits a signed long
SIMHASH_BLOCKS = 4         # 4 x 15-bit blocks; pigeonhole for dist <= 3

#: Java's ``\s``, the class Spark's ``split(..., '\\s+')`` splits on
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _hash_coeffs(k: int):
    # Multiplicative-congruential constants from the golden-ratio family.
    a = [(2654435761 * (2 * i + 1)) % _M31 or 1 for i in range(k)]
    b = [(40503 * (i * i + i + 1)) % _M31 for i in range(k)]
    return a, b


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
    (doc_id, text) rows twice (shuffle keyed on doc ids only, never the
    full corpus cross-product), so cost is O(|candidates|), the
    scale-safe shape. One kernel per Arrow batch of joined pairs
    (:func:`_jaccard_kernel`) then builds both sets, counts them and
    applies the threshold. ``ngram`` switches the sets to word n-gram
    shingles.
    """
    from ..pipeline import per_batch

    base = df.select("doc_id", text_col)
    a = base.select(F.col("doc_id").alias("doc_a"),
                    F.col(text_col).alias("_text_a"))
    b = base.select(F.col("doc_id").alias("doc_b"),
                    F.col(text_col).alias("_text_b"))
    pairs = (candidates.select("doc_a", "doc_b")
             .join(a, "doc_a").join(b, "doc_b")
             .select("doc_a", "doc_b", "_text_a", "_text_b"))
    schema = StructType([pairs.schema["doc_a"], pairs.schema["doc_b"],
                         StructField("n_inter", LongType()),
                         StructField("n_union", LongType())])
    return per_batch(
        pairs, functools.partial(_jaccard_kernel, threshold, ngram), schema)


def _jaccard_kernel(threshold: float, ngram: int | None, batch) -> list:
    """(doc_a, doc_b, text_a, text_b) batch -> (doc_a, doc_b, n_inter,
    n_union) of the pairs with ``n_inter >= threshold * n_union``.

    The sets are :func:`token_sets`' (``_tokens``, distinct) or, under
    ``ngram``, :func:`shingles`'. A NULL text has no token set, so its
    pairs are dropped (SQL's ``size(array_intersect(NULL, ...))`` is
    NULL); under ``ngram`` it has the empty shingle set, so two of them
    pass with 0 >= 0."""
    import pyarrow as pa

    def toks(text):
        if ngram is not None:
            return _shingle_set(text, ngram)
        return None if text is None else set(_tokens(text))

    keep, inters, unions = [], [], []
    pairs = zip(batch.column(2).to_pylist(), batch.column(3).to_pylist())
    for ta, tb in pairs:  # one pair's sets at a time
        sa, sb = toks(ta), toks(tb)
        inter = None if sa is None or sb is None else len(sa & sb)
        union = None if inter is None else len(sa) + len(sb) - inter
        keep.append(inter is not None and inter >= threshold * union)
        if keep[-1]:
            inters.append(inter)
            unions.append(union)
    mask = pa.array(keep, pa.bool_())
    return [batch.column(0).filter(mask), batch.column(1).filter(mask),
            pa.array(inters, pa.int64()), pa.array(unions, pa.int64())]


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


def _tokens(text: str) -> list[str]:
    """``split(trim(text), '\\s+')`` as Spark evaluates it: ``trim``
    strips ASCII spaces only, Java's ``\\s`` is ``[ \\t\\n\\x0B\\f\\r]``,
    and a leading or trailing separator leaves an empty token."""
    return _JAVA_WS.split(text.strip(" "))


def _md5_60(strings) -> np.ndarray:
    """int64 md5_60 of each string: the first 15 hex digits of its
    UTF-8 md5, i.e. the digest's top 60 bits. Spark:
    ``conv(substring(md5(x), 1, 15), 16, 10)``; DuckDB:
    ``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)``."""
    digests = b"".join(hashlib.md5(s.encode()).digest() for s in strings)
    return (np.frombuffer(digests, ">u8")[::2] >> 4).astype(np.int64)


def _hashed(docs) -> tuple[np.ndarray, np.ndarray]:
    """(md5_60 of every string of every document, documents in order;
    each document's string count). ``docs`` yields one collection of
    strings per document; only one document's strings are held at a
    time."""
    per_doc = [_md5_60(d) for d in docs]
    lens = np.fromiter(map(len, per_doc), np.int64, len(per_doc))
    return np.concatenate([np.zeros(0, np.int64), *per_doc]), lens


def _per_doc(ufunc, values: np.ndarray, lens: np.ndarray, **kw):
    """``ufunc`` reduced over each non-empty document's run of
    ``values``; documents with no values are left out (``reduceat``
    would give them the next document's first value)."""
    starts = np.cumsum(lens) - lens
    return ufunc.reduceat(values, starts[lens > 0], axis=0, **kw)


def _shingle_set(text: str | None, n: int) -> set[str]:
    """The distinct word ``n``-gram shingles of ``text``, as
    :func:`shingles` builds them: empty for NULL text and for fewer
    than ``n`` tokens."""
    toks = [] if text is None else _tokens(text)
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _minhashes(num_hashes: int, shingle_n: int, texts) -> tuple:
    """(``num_hashes`` x texts) int64 minhashes, and the mask of texts
    with a shingle: hash i of a text is the min over its distinct
    shingles s of ``(md5_60(s) % M31 * a_i + b_i) % M``. Every product
    stays below 2^62, so int64 holds it exactly. A text with no
    shingle (NULL, fewer than ``shingle_n`` tokens) is left 0."""
    h, lens = _hashed(_shingle_set(t, shingle_n) for t in texts)
    h %= _M31
    has = lens > 0
    mh = np.zeros((num_hashes, len(lens)), np.int64)
    if has.any():
        for row, a, b in zip(mh, *_hash_coeffs(num_hashes)):
            row[has] = _per_doc(np.minimum, (h * a + b) % _M, lens)
    return mh, has


def _minhash_kernel(num_hashes: int, shingle_n: int, batch) -> list:
    """(doc_id, text) batch -> doc_id and the ``num_hashes`` minhashes;
    a document with no shingle gets NULL minhashes."""
    import pyarrow as pa

    mh, has = _minhashes(num_hashes, shingle_n, batch.column(1).to_pylist())
    return [batch.column(0)] + [pa.array(row, mask=~has) for row in mh]


def _band_kernel(bands: int, rows_per_band: int, shingle_n: int,
                 batch) -> list:
    """(doc_id, text) batch -> one (doc_id, band, bucket) row per
    document and band: the bucket is the md5 hex of the band's
    minhashes joined with ``'_'`` (Spark's ``md5(concat_ws('_',
    CAST(mh AS STRING), ...))``). A document with no shingle joins
    nothing, so its bucket is ``md5('')`` in every band, as
    ``concat_ws`` over NULLs gives."""
    import pyarrow as pa

    mh, has = _minhashes(bands * rows_per_band, shingle_n,
                         batch.column(1).to_pylist())
    empty = hashlib.md5(b"").hexdigest()
    buckets = []
    for sig, ok in zip(mh.T.tolist(), has.tolist()):
        for band in range(bands):
            cells = sig[band * rows_per_band:(band + 1) * rows_per_band]
            buckets.append(hashlib.md5("_".join(map(str, cells)).encode())
                           .hexdigest() if ok else empty)
    n = len(has)
    return [batch.column(0).take(np.repeat(np.arange(n), bands)),
            pa.array(np.tile(np.arange(bands, dtype=np.int32), n)),
            pa.array(buckets, pa.string())]


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       num_hashes: int = 32, shingle_n: int = 3) -> DataFrame:
    """K minhash values per doc: word ``shingle_n``-gram shingles ->
    md5-60bit -> K universal rehashes -> min per hash, as ``mh_0`` ..
    ``mh_{K-1}``. A document with no shingle gets an all-NULL row.

    The signatures are computed per Arrow batch in numpy
    (:func:`_minhash_kernel`): a K-term Catalyst aggregate cost more
    to parse, optimise, generate and JIT than to run."""
    from ..pipeline import per_batch
    from .partitioning import spread_input

    base = spread_input(df, ["doc_id", text_col])
    schema = StructType([base.schema["doc_id"]] + [
        StructField(f"mh_{i}", LongType()) for i in range(num_hashes)])
    return per_batch(
        base, functools.partial(_minhash_kernel, num_hashes, shingle_n),
        schema)


def _band_rows(df: DataFrame, text_col: str, num_hashes: int, bands: int,
               shingle_n: int) -> DataFrame:
    """(doc_id, band, bucket) rows of the spread input, from
    :func:`_band_kernel`."""
    from ..pipeline import per_batch
    from .partitioning import spread_input

    base = spread_input(df, ["doc_id", text_col])
    schema = StructType([base.schema["doc_id"],
                         StructField("band", IntegerType(), False),
                         StructField("bucket", StringType(), False)])
    kernel = functools.partial(_band_kernel, bands, num_hashes // bands,
                               shingle_n)
    return per_batch(base, kernel, schema)


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      num_hashes: int = 32, bands: int = 8,
                      shingle_n: int = 3,
                      max_bucket_size: int | None = None) -> DataFrame:
    """Candidate near-dup pairs from banded LSH over minhash signatures.

    bands * rows_per_band == num_hashes. Candidates are pairs sharing
    at least one band bucket; downstream exact verification is
    :func:`jaccard_for_pairs` on the output. The band rows come
    straight out of the signature kernel (:func:`_band_kernel`), one
    per document and band. ``max_bucket_size`` drops degenerate
    buckets (e.g. the empty-document bucket) whose size would make the
    bucket self-join quadratic at corpus scale.
    """
    from .partitioning import bucket_rows

    band_rows = bucket_rows(
        _band_rows(df, text_col, num_hashes, bands, shingle_n),
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


def _simhashes(texts) -> np.ndarray:
    """int64 60-bit SimHash of each text's distinct tokens: bit b is
    set iff 2 * (tokens whose md5_60 has bit b) > (distinct tokens).
    NULL text has no token and signature 0."""
    h, lens = _hashed(() if text is None else set(_tokens(text))
                      for text in texts)
    bits = np.unpackbits(h.astype("<u8").view(np.uint8).reshape(-1, 8),
                         axis=1, bitorder="little")[:, :SIMHASH_BITS]
    sig = np.zeros(len(lens), np.int64)
    has = lens > 0
    if has.any():
        vote = 2 * _per_doc(np.add, bits, lens, dtype=np.int64) \
            > lens[has, None]
        sig[has] = (vote.astype(np.int64)
                    << np.arange(SIMHASH_BITS, dtype=np.int64)).sum(axis=1)
    return sig


def _simhash_kernel(batch) -> list:
    """(doc_id, text) batch -> doc_id and the SimHash."""
    import pyarrow as pa

    return [batch.column(0), pa.array(_simhashes(batch.column(1).to_pylist()))]


def _block_kernel(batch) -> list:
    """(doc_id, text) batch -> one (doc_id, simhash, blk, blk_val) row
    per document and 15-bit block: ``blk_val`` is bits
    ``15 * blk`` .. ``15 * blk + 14`` of the SimHash."""
    import pyarrow as pa

    sig = _simhashes(batch.column(1).to_pylist())
    n = len(sig)
    shifts = 15 * np.arange(SIMHASH_BLOCKS, dtype=np.int64)
    return [batch.column(0).take(np.repeat(np.arange(n), SIMHASH_BLOCKS)),
            pa.array(np.repeat(sig, SIMHASH_BLOCKS)),
            pa.array(np.tile(np.arange(SIMHASH_BLOCKS, dtype=np.int32), n)),
            pa.array(((sig[:, None] >> shifts) & 0x7FFF).ravel())]


def simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    """60-bit SimHash over distinct tokens: per-bit majority vote of the
    token hashes; bit b is set iff strictly more than half the token
    hashes have bit b set (2*pop > n, identical to the +1/-1 vote being
    positive). NULL text gets signature 0.

    Computed per Arrow batch in numpy (:func:`_simhash_kernel`), as the
    minhash signatures are. ``simhash`` is declared NOT NULL."""
    from ..pipeline import per_batch
    from .partitioning import spread_input

    base = spread_input(df, ["doc_id", text_col])
    schema = StructType([base.schema["doc_id"],
                         StructField("simhash", LongType(), False)])
    return per_batch(base, _simhash_kernel, schema)


def _block_rows(df: DataFrame, text_col: str) -> DataFrame:
    """(doc_id, simhash, blk, blk_val) rows of the spread input, from
    :func:`_block_kernel`."""
    from ..pipeline import per_batch
    from .partitioning import spread_input

    base = spread_input(df, ["doc_id", text_col])
    schema = StructType([base.schema["doc_id"],
                         StructField("simhash", LongType(), False),
                         StructField("blk", IntegerType(), False),
                         StructField("blk_val", LongType(), False)])
    return per_batch(base, _block_kernel, schema)


def simhash_candidates(df: DataFrame, text_col: str = "text",
                       max_bucket_size: int | None = None) -> DataFrame:
    """Near-dup candidates within Hamming distance 3 of each other:
    4x15-bit block join (pigeonhole: <=3 differing bits leave one of 4
    blocks identical), then exact popcount filter. The block rows come
    straight out of the signature kernel (:func:`_block_kernel`), below
    the one exchange both join sides read, so the kernel runs once per
    query.

    ``max_bucket_size`` drops degenerate (blk, blk_val) keys — e.g.
    thousands of near-empty documents collapsing to signature 0 —
    the same hot-bucket guard as minhash_lsh_pairs /
    embedding_near_dups / image_near_dups."""
    from .partitioning import bucket_rows

    blocks = bucket_rows(_block_rows(df, text_col), ["blk", "blk_val"],
                         max_bucket_size)
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
