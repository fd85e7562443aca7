"""Equivalence of the optimized formulations with the ones they
replaced, kept here as references: the round-5 higher-order-function
forms, the round-6 SQL signatures (explode + hash-aggregate
minima/popcounts) that the per-batch numpy kernels replaced, and the
SQL that followed the signatures until the kernels took it over too:
the band md5 and block shift arrays with their ``posexplode``, the
``array_intersect`` Jaccard verify and the ``_dot_sql`` cosine
verify. The bucket/norm kernel of embedding_near_dups is held to the
package's SQL folds (lsh_bucket, _norm_sql), which the ANN paths still
use. Each must be bit-identical, including the degenerate rows where
the NULL, tokenisation and NaN semantics are subtle: NULL, empty and
whitespace-only text, Java-only separators, off-length, NULL-element,
NaN, infinite and zero vectors."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Spark's trim strips ASCII space only, and Java's \s is
# [ \t\n\x0B\f\r]: NBSP, em space and \x1c are token characters
EDGE_TEXTS = [
    None, "", " ", "   ", "\t", "a", "a b", "  a b  ", "a  b c",
    "a\tb\nc\x0bd\x0ce\rf g", "\ta b c", "a b c\t", "\ta b c\t",
    "\n\na b c d\n", "a\u00a0b c d", "a\u2003b c d", "a\x1cb c d",
    "héllo wörld ünïcode straße", "日本語 の テキスト です", "😀 😃 😄 😀",
    "x y", "x y z", "x y z x y z", "x\t\ty  z",
]

EDGE_DOCS = [
    (1, "the quick brown fox the lazy dog the end"),
    (2, None),
    (3, ""),
    (4, "   \t  \n "),
    (5, "und und und"),
    (6, "der und die der und die der und die der und"),
    (7, "a b c d e f g h i j k l m n o p q r s t"),
    (8, "le et les le et les the and of"),
    (9, "x"),
    (10, "of of of of of of of of of of of of"),
]


def _docs(spark):
    return spark.createDataFrame(
        EDGE_DOCS, StructType([
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
        ])).withColumn("lang", F.lit("en"))


def _ref_md5_60(col):
    """SQL-reproducible 60-bit non-negative hash: first 15 hex digits of
    md5. DuckDB equivalent: CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _ref_minhash_signatures(df, text_col="text", num_hashes=32,
                            shingle_n=3):
    """The round-6 SQL minhash: explode_outer the shingles, then one
    hash-aggregate with K ``min((h*a_i + b_i) % M)`` columns."""
    from scribe_js_spark.textops.dedup import (
        _M, _M31, _hash_coeffs, shingles)

    a, b = _hash_coeffs(num_hashes)
    exploded = shingles(df, text_col, shingle_n).select(
        "doc_id", F.explode_outer("shingles").alias("_s"),
    ).select("doc_id", (_ref_md5_60(F.col("_s")) % F.lit(_M31)).alias("_h"))
    return exploded.groupBy("doc_id").agg(*[
        F.expr(f"min((_h * {a[i]} + {b[i]}) % {_M}) AS mh_{i}")
        for i in range(num_hashes)])


def _ref_simhash(df, text_col="text"):
    """The round-6 SQL simhash: explode_outer the distinct tokens, then
    one aggregate of a 60-term CASE sum over the bit popcounts."""
    from scribe_js_spark.textops.dedup import SIMHASH_BITS, token_sets

    exploded = token_sets(df, text_col).select(
        "doc_id", F.explode_outer("toks").alias("_tok"),
    ).select("doc_id", _ref_md5_60(F.col("_tok")).alias("_h"))
    parts = [
        f"(CASE WHEN sum(shiftrightunsigned(_h, {bit}) & 1) * 2 "
        f"> count(_h) THEN CAST({1 << bit} AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END)"
        for bit in range(SIMHASH_BITS)]
    sig = F.expr("CAST(0 AS BIGINT) + " + " + ".join(parts))
    return exploded.groupBy("doc_id").agg(sig.alias("simhash"))


def _simhash_hof(df, text_col="text"):
    """The round-5 formulation: 60 size(filter()) scans per row."""
    from scribe_js_spark.textops.dedup import SIMHASH_BITS, token_sets

    ts = token_sets(df, text_col).select(
        "doc_id", F.transform(F.col("toks"), _ref_md5_60).alias("_th"))

    def _bit_set(bit):
        return lambda h: (
            F.shiftrightunsigned(h, bit).bitwiseAND(F.lit(1)) == 1)

    n = F.size("_th")
    sig = F.lit(0).cast("long")
    for bit in range(SIMHASH_BITS):
        pop = F.size(F.filter(F.col("_th"), _bit_set(bit)))
        sig = sig + F.when(pop * 2 > n, F.lit(1 << bit).cast("long")) \
                     .otherwise(F.lit(0).cast("long"))
    return ts.select("doc_id", sig.alias("simhash"))


def _minhash_hof(df, text_col="text", num_hashes=32, shingle_n=3):
    """The round-5 formulation: transform + K array_min(transform())."""
    from scribe_js_spark.textops.dedup import (
        _M, _M31, _hash_coeffs, shingles)

    a, b = _hash_coeffs(num_hashes)
    sh = shingles(df, text_col, shingle_n)
    hashed = sh.select(
        "doc_id",
        F.transform(
            F.col("shingles"),
            lambda s: _ref_md5_60(s) % F.lit(_M31)).alias("_h"))

    def _rehash(ai, bi):
        return lambda h: (h * F.lit(ai) + F.lit(bi)) % F.lit(_M)

    cols = [
        F.array_min(F.transform(F.col("_h"), _rehash(a[i], b[i])))
        .alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return hashed.select("doc_id", *cols)


def _lang_id_hof(df, text_col="text"):
    """The round-5 formulation: 36 size(filter()) marker scans."""
    from scribe_js_spark.textops.quality import LANG_MARKERS

    langs = list(LANG_MARKERS)
    toked = df.select(
        "doc_id", "lang",
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("_toks"))

    def _is(word):
        return lambda x: x == F.lit(word)

    score_cols = []
    for l in langs:
        cnt = None
        for w in LANG_MARKERS[l]:
            c = F.size(F.filter(F.col("_toks"), _is(w)))
            cnt = c if cnt is None else cnt + c
        score_cols.append(cnt.cast("long").alias(f"score_{l}"))
    scored = toked.select("doc_id", "lang", *score_cols)
    best = F.greatest(*[F.col(f"score_{l}") for l in langs])
    pred = F.when(best == 0, F.lit("und"))
    for l in langs:
        pred = pred.when(F.col(f"score_{l}") == best, F.lit(l))
    return scored.select(
        "doc_id",
        F.col("lang").alias("lang_declared"),
        *[F.col(f"score_{l}").cast("long") for l in langs],
        pred.alias("lang_pred"),
    )


def _rows(df):
    return sorted(
        tuple(None if v is None else v for v in r)
        for r in df.collect())


def test_simhash_matches_hof(spark):
    from scribe_js_spark.textops.dedup import simhash

    docs = _docs(spark)
    assert _rows(simhash(docs)) == _rows(_simhash_hof(docs))


def test_minhash_signatures_match_hof(spark):
    from scribe_js_spark.textops.dedup import minhash_signatures

    docs = _docs(spark)
    assert _rows(minhash_signatures(docs)) == _rows(_minhash_hof(docs))


def _edge_texts(spark):
    return spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(EDGE_TEXTS)] + EDGE_DOCS,
        StructType([
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
        ]))


def test_signature_kernels_match_sql_on_edge_texts(spark):
    r"""The minhash and simhash kernels equal the round-6 SQL
    aggregates, exactly, on texts whose tokenisation is a trap: NULL,
    empty, spaces only, tab/newline/\x0b/\f/\r separators, leading
    and trailing tabs (empty tokens), non-ASCII whitespace (a token
    character for Java's \s), multibyte tokens, and fewer tokens than
    the shingle width (all-NULL signature)."""
    from scribe_js_spark.textops.dedup import minhash_signatures, simhash

    docs = _edge_texts(spark)
    got = _rows(simhash(docs))
    assert got == _rows(_ref_simhash(docs))
    assert len({r[1] for r in got}) > len(EDGE_TEXTS) // 2
    for num_hashes, shingle_n in ((32, 3), (8, 1), (4, 5)):
        got = _rows(minhash_signatures(docs, num_hashes=num_hashes,
                                       shingle_n=shingle_n))
        assert got == _rows(_ref_minhash_signatures(
            docs, num_hashes=num_hashes, shingle_n=shingle_n)), shingle_n
        assert any(r[1] is None for r in got)
        assert any(r[1] is not None for r in got)


def _ref_band_rows(df, num_hashes, bands, shingle_n):
    """The replaced band buckets: one SQL array of ``bands``
    ``md5(concat_ws('_', CAST(mh AS STRING), ...))`` over the signature
    row, and its ``posexplode``."""
    r = num_hashes // bands
    sig = _ref_minhash_signatures(df, num_hashes=num_hashes,
                                  shingle_n=shingle_n)
    buckets = F.expr("array(" + ", ".join(
        "md5(concat_ws('_', " + ", ".join(
            f"CAST(mh_{band * r + j} AS STRING)" for j in range(r)) + "))"
        for band in range(bands)) + ")")
    return sig.select("doc_id", F.posexplode(buckets).alias("band", "bucket"))


def _ref_block_rows(df):
    """The replaced simhash blocks: an array of four 15-bit
    shift-and-mask values of the signature, and its ``posexplode``."""
    from scribe_js_spark.textops.dedup import SIMHASH_BLOCKS

    blk_vals = F.array(*[
        F.shiftrightunsigned(F.col("simhash"), blk * 15)
        .bitwiseAND(F.lit(0x7FFF)).cast("long")
        for blk in range(SIMHASH_BLOCKS)])
    return _ref_simhash(df).select(
        "doc_id", "simhash", F.posexplode(blk_vals).alias("blk", "blk_val"))


def test_band_and_block_kernels_match_posexplode(spark):
    """The band and block rows of the signature kernels equal the SQL
    arrays they replaced, row for row, on the edge texts: a document
    with no shingle has bucket md5('') in every band, a NULL text
    signature 0 in every block."""
    from scribe_js_spark.textops.dedup import _band_rows, _block_rows

    docs = _edge_texts(spark)
    for num_hashes, bands, shingle_n in ((32, 8, 3), (8, 4, 1), (12, 5, 2)):
        got = _rows(_band_rows(docs, "text", num_hashes, bands, shingle_n))
        assert got == _rows(_ref_band_rows(
            docs, num_hashes, bands, shingle_n)), (num_hashes, bands)
        assert len(got) == bands * docs.count()
    got = _rows(_block_rows(docs, "text"))
    assert got == _rows(_ref_block_rows(docs))
    assert len({r[3] for r in got}) > 8


def _ref_jaccard_for_pairs(df, candidates, threshold, ngram):
    """The replaced verify: the candidates joined twice to the
    token_sets (or shingles) arrays, then ``array_intersect`` sizes and
    the threshold in SQL."""
    from scribe_js_spark.textops.dedup import shingles, token_sets

    ts = (token_sets(df) if ngram is None
          else shingles(df, "text", ngram).withColumnRenamed(
              "shingles", "toks"))
    a = ts.select(F.col("doc_id").alias("doc_a"),
                  F.col("toks").alias("_toks_a"))
    b = ts.select(F.col("doc_id").alias("doc_b"),
                  F.col("toks").alias("_toks_b"))
    inter = F.size(F.array_intersect("_toks_a", "_toks_b")).cast("long")
    return (
        candidates.join(a, "doc_a").join(b, "doc_b")
        .withColumn("n_inter", inter)
        .withColumn("n_union", (F.size("_toks_a") + F.size("_toks_b")
                                - F.col("n_inter")).cast("long"))
        .filter(F.col("n_inter") >= F.lit(threshold) * F.col("n_union"))
        .select("doc_a", "doc_b", "n_inter", "n_union"))


def test_jaccard_kernel_matches_array_intersect(spark):
    """jaccard_for_pairs equals the array_intersect verify on every
    pair of the edge texts, over token sets and 1-, 2- and 3-gram
    shingles: a NULL text's token set is NULL and drops its pairs, its
    shingle set is empty, and two empty sets pass with 0 >= 0."""
    from scribe_js_spark.textops.dedup import jaccard_for_pairs

    docs = _edge_texts(spark)
    ids = docs.select("doc_id")
    cands = (ids.alias("a").join(ids.alias("b"),
                                 F.col("a.doc_id") < F.col("b.doc_id"))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b")))
    for ngram in (None, 1, 2, 3):
        for threshold in (0.0, 0.5):
            got = _rows(jaccard_for_pairs(docs, cands, threshold=threshold,
                                          ngram=ngram))
            assert got == _rows(_ref_jaccard_for_pairs(
                docs, cands, threshold, ngram)), (ngram, threshold)
            # doc 2 and doc 100 have NULL text
            assert ((2, 100, 0, 0) in got) == (ngram is not None)
            assert any(100 in r[:2] for r in got) == (ngram is not None)


def test_lang_id_matches_hof(spark):
    from scribe_js_spark.textops.quality import lang_id

    docs = _docs(spark)
    assert _rows(lang_id(docs)) == _rows(_lang_id_hof(docs))


def _vecs(spark, rows):
    return spark.createDataFrame(
        rows, StructType([
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]))


def _cosine(a, b):
    """The round-5 Column-API cosine: left-fold dot products over
    float64 casts (zip_with + aggregate)."""
    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y,
                       lambda p, q: p.cast("double") * q.cast("double")),
            F.lit(0.0), lambda acc, v: acc + v)

    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def _ref_near_dup_rows(df, threshold, dim, n_planes,
                       max_bucket_size=None):
    """Round-5 embedding_near_dups: distinct-ful multiprobe candidates,
    then the Column-API cosine join. Under a cap only vectors whose own
    bucket holds at most ``max_bucket_size`` rows take part."""
    from scribe_js_spark.textops.similarity import with_lsh_bucket

    b = with_lsh_bucket(df, dim=dim, n_planes=n_planes)
    if max_bucket_size is not None:
        ok = (b.groupBy("lsh_bucket").count()
              .filter(F.col("count") <= max_bucket_size))
        b = b.join(ok.select("lsh_bucket"), "lsh_bucket")
    probes = b.select(
        F.col("vec_id").alias("vid"),
        F.explode(F.array(
            F.col("lsh_bucket"),
            *[F.col("lsh_bucket").bitwiseXOR(F.lit(1 << p))
              for p in range(n_planes)])).alias("probe"))
    cand = (
        probes.alias("a")
        .join(b.alias("b"), F.col("a.probe") == F.col("b.lsh_bucket"))
        .filter(F.col("a.vid") < F.col("b.vec_id"))
        .select(F.col("a.vid").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    va = b.select(F.col("vec_id").alias("vec_a"),
                  F.col("embedding").alias("va"))
    vb = b.select(F.col("vec_id").alias("vec_b"),
                  F.col("embedding").alias("vb"))
    ref = (
        cand.join(va, "vec_a").join(vb, "vec_b")
        .withColumn("sim", _cosine(F.col("va"), F.col("vb")))
        .filter(F.col("sim") >= threshold)
        .select("vec_a", "vec_b",
                F.floor(F.col("sim") * 1e6).cast("long").alias("sim_e6"))
    )
    return sorted(map(tuple, ref.collect()))


def _near_dup_rows(df, **kw):
    from scribe_js_spark.textops.similarity import embedding_near_dups

    return sorted(map(tuple, embedding_near_dups(df, **kw).collect()))


EDGE_VECS = [
    [1.0, 0.5, -0.25, 2.0, 0.75, -1.0, 0.1, 0.3],
    [float("nan")] * 8,
    [1.0, float("nan"), -0.25, 2.0, 0.75, -1.0, 0.1, 0.3],
    [0.0] * 8, [-0.0] * 8, [-0.0, 0.0] * 4,
    [float("inf"), -1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
    [float("inf"), float("-inf"), 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
    [3e38, 3e38, -3e38, 3e38, 3e38, 3e38, 3e38, 3e38],
    [1e-45, -1e-45, 1e-45, 0.0, 0.0, 0.0, 0.0, 0.0],
    [1.0, None, -0.25, 2.0, 0.75, -1.0, 0.1, 0.3],
    [1.0, 2.0], [1.0] * 9, [], None, [None] * 8,
]


def test_bucket_norm_kernel_matches_sql_on_edge_vectors(spark):
    """The bucket and norm kernel equals the SQL folds, exactly, for
    NaN and +-0 (Spark orders NaN above every number, so NaN >= 0
    sets the bit; -0.0 >= 0 too), infinities, float32 extremes,
    ragged lengths (zip_with pads with NULL: bucket 0, the norm over
    the vector's own length), NULL elements, a NULL and an empty
    vector (norm 0.0 where the SQL fold is NULL)."""
    import random

    from scribe_js_spark.textops.similarity import (
        _corpus, _norm_sql, lsh_bucket)

    rng = random.Random(3)
    rows = [(i, v) for i, v in enumerate(EDGE_VECS)]
    rows += [(100 + i, [rng.uniform(-1, 1) for _ in range(8)])
             for i in range(200)]
    df = _vecs(spark, rows)
    norm = F.coalesce(F.expr(_norm_sql("embedding")), F.lit(0.0))
    for dim, n_planes in ((8, 4), (8, 12), (2, 3), (9, 1)):
        got = _corpus(df, "vec_id", "embedding", dim, n_planes, None)
        want = df.select("vec_id", "embedding",
                         lsh_bucket("embedding", dim, n_planes), norm)
        assert repr(_rows(got)) == repr(_rows(want)), (dim, n_planes)
        assert [f.nullable for f in got.schema.fields[2:]] == [False, False]
    buckets = {r["bucket"] for r in _corpus(
        df, "vec_id", "embedding", 8, 4, None).collect()}
    assert len(buckets) == 16
    # a stored bucket: the kernel appends the norm alone
    stored = _corpus(df.withColumn("lsh_bucket", F.lit(7)), "vec_id",
                     "embedding", 8, 4, None)
    assert stored.columns == ["vid", "vec", "bucket", "nrm"]
    assert repr(_rows(stored.select("vid", "nrm"))) \
        == repr(_rows(df.select("vec_id", norm)))


def test_cosine_kernel_matches_dot_sql_on_edge_vectors(spark):
    """The verify kernel of embedding_near_dups equals the ``_dot_sql``
    verify it replaced, over every pair of the edge vectors and some
    near copies: a NaN similarity is kept with sim_e6 0; a NULL or
    ragged pair is dropped, as its NULL fold is; a zero vector's pair is
    dropped, as ``try_divide``'s NULL is (the plain ``/`` raises
    DIVIDE_BY_ZERO under ANSI)."""
    import random

    from scribe_js_spark.textops.similarity import (
        _corpus, _dot_sql, _verified)

    rng = random.Random(5)
    rows = [(i, v) for i, v in enumerate(EDGE_VECS)]
    for i in range(30):
        v = [rng.uniform(-1, 1) for _ in range(8)]
        rows += [(100 + i, v), (200 + i, [x + rng.uniform(-0.1, 0.1)
                                          for x in v])]
    base = _corpus(_vecs(spark, rows), "vec_id", "embedding", 8, 4, None)
    a = base.select(F.col("vid").alias("vec_a"), F.col("vec").alias("va"),
                    F.col("nrm").alias("na"))
    b = base.select(F.col("vid").alias("vec_b"), F.col("vec").alias("vb"),
                    F.col("nrm").alias("nb"))
    pairs = a.join(b, F.col("vec_a") < F.col("vec_b"))
    sim = F.expr(f"try_divide({_dot_sql('va', 'vb')}, na * nb)")
    for threshold in (0.9, -1.0):
        got = _rows(_verified(pairs, threshold))
        want = _rows(pairs.withColumn("sim", sim)
                     .filter(F.col("sim") >= threshold)
                     .select("vec_a", "vec_b", F.floor(F.col("sim") * 1e6)
                             .cast("long").alias("sim_e6")))
        assert got == want, threshold
        assert any(r[:2] == (0, 2) and r[2] == 0 for r in got)
        assert not {(0, 3), (3, 4), (4, 5)} & {r[:2] for r in got}
        assert all(14 not in r[:2] for r in got)
        assert len(got) >= 30


def test_bucket_norm_kernel_reads_sliced_batches():
    """A batch whose list column is a slice (offsets not starting at
    0, values beyond the slice) gives the rows of the whole column."""
    import pyarrow as pa

    from scribe_js_spark.textops.similarity import _bucket_norm_kernel

    ids = pa.array(range(6), pa.int64())
    col = pa.array([[1.0, -2.0], None, [0.5, None], [3.0, 4.0], [-1.0, 0.0],
                    [2.0]], pa.list_(pa.float32()))
    whole = _bucket_norm_kernel(
        2, 6, True, pa.RecordBatch.from_arrays([ids, col], ["vid", "vec"]))
    part = _bucket_norm_kernel(
        2, 6, True,
        pa.RecordBatch.from_arrays([ids[2:], col[2:]], ["vid", "vec"]))
    assert [a.to_pylist()[2:] for a in whole] == [a.to_pylist() for a in part]
    assert part[3].to_pylist()[:2] == [0.0, 5.0]


def test_embedding_near_dups_pairs_unique_without_distinct(spark):
    """The removed pair-.distinct() relied on the multiprobe join
    emitting each ordered pair at most once. Build a corpus with
    exact-bucket collisions, Hamming-1 and Hamming-2 bucket pairs and
    near-identical vectors, and assert (a) no duplicate pairs in the
    output, (b) output identical to the round-5 distinct-ful shape."""
    from scribe_js_spark.textops.similarity import (
        embedding_near_dups, lsh_bucket)

    dim = 8
    base = [1.0, 0.5, -0.25, 2.0, 0.75, -1.0, 0.1, 0.3]
    rows = []
    for i in range(24):
        v = list(base)
        # large per-cluster perturbations so hyperplane signs flip:
        # clusters land in different (often Hamming-1) buckets
        v[i % dim] += (i // dim) * 2.5
        v[(i + 3) % dim] -= (i % 5) * 1.5
        rows.append((i, v))
    # exact duplicates too (same bucket, sim 1.0)
    rows.append((100, list(base)))
    rows.append((101, list(base)))
    df = _vecs(spark, rows)

    got = embedding_near_dups(
        df, threshold=0.5, dim=dim, n_planes=4).collect()
    pairs = [(r["vec_a"], r["vec_b"]) for r in got]
    assert len(pairs) == len(set(pairs)), "duplicate pair emitted"
    assert all(a < b for a, b in pairs)
    have = sorted((r["vec_a"], r["vec_b"], r["sim_e6"]) for r in got)
    assert have == _ref_near_dup_rows(df, 0.5, dim, 4)
    # sanity: the fixture actually produced pairs and spread buckets
    assert len(pairs) >= 10
    nb = df.select(lsh_bucket(
        "embedding", dim, 4).alias("b")).distinct().count()
    assert nb >= 2


def test_embedding_verify_bcast_matches_jvm_fold(spark):
    """Same pairs and sim_e6 as the round-5 cosine join, including a
    NaN row, which is kept with sim_e6 = 0 (Spark orders NaN above any
    threshold and floor-casts it to 0)."""
    base = [1.0, 0.5, -0.25, 2.0, 0.75, -1.0, 0.1, 0.3]
    rows = []
    for i in range(40):
        v = list(base)
        v[i % 8] += (i // 8) * 2.5
        v[(i + 3) % 8] -= (i % 5) * 1.5
        rows.append((i, v))
    rows += [(100, list(base)), (101, list(base))]
    nanv = list(base)
    nanv[2] = float("nan")
    rows.append((200, nanv))
    df = _vecs(spark, rows)
    got = _near_dup_rows(df, threshold=0.5, dim=8, n_planes=4)
    assert got == _ref_near_dup_rows(df, 0.5, 8, 4)
    nan_rows = [r for r in got if 200 in r[:2]]
    assert nan_rows and all(r[2] == 0 for r in nan_rows)
    assert (100, 101, 1000000) in got


def test_embedding_verify_bcast_cap_membership(spark):
    """With max_bucket_size, a pair whose a-side vector sits in a
    capped bucket is dropped, as the inner join against the capped
    table drops it."""
    base = [1.0, 0.5, -0.25, 2.0, 0.75, -1.0, 0.1, 0.3]
    rows = []
    for i in range(48):
        v = list(base)
        v[i % 8] += (i // 8) * 2.5
        v[(i + 3) % 8] -= (i % 5) * 1.5
        rows.append((i, v))
    # a hot bucket: many exact copies
    rows += [(500 + j, list(base)) for j in range(9)]
    df = _vecs(spark, rows)
    capped = _near_dup_rows(
        df, threshold=0.5, dim=8, n_planes=4, max_bucket_size=4)
    assert capped == _ref_near_dup_rows(
        df, 0.5, 8, 4, max_bucket_size=4)
    uncapped = _near_dup_rows(df, threshold=0.5, dim=8, n_planes=4)
    assert len(capped) < len(uncapped)  # the cap actually bound


def test_embedding_verify_bcast_falls_back_on_ragged(spark):
    """Ragged and NULL vectors: zip_with pads with NULL, so their
    similarity is NULL and the threshold filter drops every pair with
    them, as in the round-5 cosine join."""
    base = [1.0, 0.5, -0.25, 2.0, 0.75, -1.0, 0.1, 0.3]
    rows = [(i, [x + i * 0.1 for x in base]) for i in range(12)]
    rows += [(300, [1.0, 2.0]), (301, None)]
    df = _vecs(spark, rows)
    got = _near_dup_rows(df, threshold=0.5, dim=8, n_planes=4)
    assert got == _ref_near_dup_rows(df, 0.5, 8, 4)
    assert got
    assert all(300 not in r[:2] and 301 not in r[:2] for r in got)


def test_embedding_near_dups_builds_lazily(spark, tmp_path):
    """Building the query starts no Spark job: vectors are read when
    the result is collected. 5,000 unit 64-dim vectors are large enough
    that the optimizer estimate of the verify input is in the megabytes;
    a size-gated verify that collects its input at build time fails
    here."""
    import numpy as np
    import pandas as pd

    from scribe_js_spark.textops.similarity import embedding_near_dups

    n, dim = 5000, 64
    v = np.random.default_rng(11).standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    path = str(tmp_path / "emb.parquet")
    pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64),
                  "embedding": list(v)}).to_parquet(path)
    df = spark.read.parquet(path)

    sc = spark.sparkContext
    group = "embedding_near_dups_build"
    sc.setJobGroup(group, "embedding_near_dups construction")
    try:
        res = embedding_near_dups(df, threshold=0.3)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []

    got = sorted(map(tuple, res.collect()))
    assert got == _ref_near_dup_rows(df, 0.3, dim, 8)
    assert len(got) > 100


def _ref_ann_topk_ivf(df, queries, k, dim, n_planes_coarse, nprobe):
    """ann_topk_ivf as it was before the centroids stayed in the plan:
    collect the centroids on the driver and write each one into the
    SQL text as a literal point."""
    from pyspark.sql import Window

    from scribe_js_spark.textops.similarity import (
        _double_sql, _dot_sql, _norm_sql, lsh_bucket)

    base = df.select(
        F.col("vec_id").alias("vid"), F.col("embedding").alias("vec"),
        lsh_bucket("embedding", dim, n_planes_coarse).alias("bucket"))
    cent_rows = (
        base.select("bucket", F.posexplode(
            F.transform(F.col("vec"), lambda x: x.cast("double"))))
        .groupBy("bucket", "pos").agg(F.round(F.avg("col"), 6).alias("v"))
        .groupBy("bucket")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("pv"))
        .select("bucket", F.col("pv.v").alias("centroid"))
        .collect())

    def dist2(point):
        arr = "array(" + ",".join(_double_sql(v) for v in point) + ")"
        return (f"aggregate(zip_with(vec, {arr}, "
                "(x, c) -> (cast(x as double) - c) * "
                "(cast(x as double) - c)), "
                "cast(0.0 as double), (acc, v) -> acc + v)")

    dists = "array(" + ", ".join(
        f"struct({dist2(list(r['centroid']))} AS d, {int(r['bucket'])} "
        "AS cell)" for r in cent_rows) + ")"
    assigned = base.withColumn("cell", F.expr(f"array_min({dists}).cell"))
    q_cells = (
        queries.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("vec"))
        .withColumn("probe_cells", F.expr(
            f"slice(transform(array_sort({dists}), s -> s.cell), "
            f"1, {nprobe})"))
        .select("query_id", F.col("vec").alias("q_vec"),
                F.explode("probe_cells").alias("cell")))
    scored = (
        assigned.join(F.broadcast(q_cells),
                      (assigned["cell"] == q_cells["cell"])
                      & (F.col("vid") != F.col("query_id")))
        .withColumn("sim", F.expr(
            f"{_dot_sql('q_vec', 'vec')} / "
            f"({_norm_sql('q_vec')} * {_norm_sql('vec')})"))
        .select("query_id", F.col("vid").alias("neighbor_id"), "sim")
        .distinct())
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id"))
    ref = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int"), "neighbor_id",
                F.floor(F.col("sim") * 1e6).cast("long").alias("sim_e6")))
    return sorted(map(tuple, ref.collect()))


def test_ann_topk_ivf_builds_lazily(spark, tmp_path):
    """Building the IVF query starts no Spark job: the centroids ride
    in the plan as one broadcast row. The rows equal the formulation
    that collected the centroids into literal points, for a partial
    and a full probe."""
    import numpy as np
    import pandas as pd

    from scribe_js_spark.textops.similarity import ann_topk_ivf

    n, dim = 2000, 64
    v = np.random.default_rng(5).standard_normal((n, dim))
    v = v.astype(np.float32)
    path = str(tmp_path / "ivf.parquet")
    pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64),
                  "embedding": list(v)}).to_parquet(path)
    df = spark.read.parquet(path)
    queries = df.filter(F.col("vec_id") < 12)

    sc = spark.sparkContext
    group = "ann_topk_ivf_build"
    sc.setJobGroup(group, "ann_topk_ivf construction")
    try:
        built = {nprobe: ann_topk_ivf(df, queries, k=5, nprobe=nprobe)
                 for nprobe in (2, 8)}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []

    for nprobe, res in built.items():
        got = sorted(map(tuple, res.collect()))
        assert got == _ref_ann_topk_ivf(df, queries, 5, dim, 3, nprobe)
        assert len(got) == 12 * 5


def test_exact_dups_window_matches_join_shape(spark):
    """The window rewrite must keep the groupBy+join shape's exact
    semantics, including the subtle one: a NULL text row has a NULL
    signature, and the old inner join (like the oracle's JOIN USING)
    dropped it — the window must too."""
    from scribe_js_spark.textops.dedup import exact_dups

    rows = [(1, "a"), (2, "a"), (3, "b"), (4, None), (5, "a"), (6, "")]
    df = spark.createDataFrame(rows, StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ]))
    got = _rows(exact_dups(df))

    sig = df.select("doc_id", F.md5(F.col("text")).alias("text_sig"))
    groups = sig.groupBy("text_sig").agg(
        F.count("*").alias("n_copies"),
        F.min("doc_id").alias("canonical_id"))
    want = _rows(
        sig.join(groups, "text_sig")
        .select("doc_id", "text_sig", "n_copies", "canonical_id"))
    assert got == want
    assert all(r[0] != 4 for r in got), "NULL-text row must be dropped"
    assert any(r[0] == 6 for r in got), "empty-text row must be kept"


def test_simhash_first_match_equals_distinct(spark):
    """The uncapped simhash_candidates path dedups by first-matching
    block instead of .distinct(); a huge-cap call takes the capped
    (distinct-ful) branch with no key actually dropped, i.e. the
    round-5 semantics — the two must agree exactly, including exact
    duplicates (which match on all 4 blocks)."""
    from scribe_js_spark.textops.dedup import simhash_candidates

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),      # exact dup of 1
        (3, "alpha beta gamma delta epsilon eta"),       # near dup
        (4, "totally different words entirely here now"),
        (5, "alpha beta gamma delta epsilon zeta"),      # exact dup of 1
        (6, None),
        (7, ""),
        (8, ""),                                         # dup of 7
    ]
    df = spark.createDataFrame(rows, StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ]))
    got = _rows(simhash_candidates(df))
    want = _rows(simhash_candidates(df, max_bucket_size=10**9))
    assert got == want
    keys = [(r[0], r[1]) for r in got]
    assert len(keys) == len(set(keys)), "duplicate pair emitted"
    assert (1, 2) in keys  # the fixture really exercises multi-block


def test_ann_topk_lsh_rows_unique_without_distinct(spark):
    from scribe_js_spark.textops.similarity import ann_topk_lsh

    dim = 8
    base = [1.0, 0.5, -0.25, 2.0, 0.75, -1.0, 0.1, 0.3]
    rows = []
    for i in range(30):
        v = list(base)
        v[i % dim] += (i // dim) * 0.01
        rows.append((i, v))
    df = _vecs(spark, rows)
    queries = df.filter(F.col("vec_id") < 3)
    got = ann_topk_lsh(df, queries, k=50, dim=dim, n_planes=4).collect()
    keyed = [(r["query_id"], r["neighbor_id"]) for r in got]
    assert len(keyed) == len(set(keyed)), "duplicate (query, neighbor)"


def _frame_rows(pdf):
    """Order-insensitive rows of a pandas frame, NULL (NaN) as None."""
    import pandas as pd

    cols = sorted(pdf.columns)
    rows = [tuple(None if pd.isna(v) else v for v in row)
            for row in pdf[cols].itertuples(index=False)]
    return sorted(rows, key=lambda r: [(v is None, v) for v in r])


def test_zero_vectors_match_oracle(spark, tmp_path):
    """A zero vector among the queries and the corpus: its cosine is
    NULL (DuckDB's 0/0, Spark's try_divide), never DIVIDE_BY_ZERO
    under ANSI. embedding_near_dups and the three ANN strategies of
    the ann_topk query give the rows of their oracle_sql() queries."""
    import duckdb
    import numpy as np
    import pandas as pd

    import __spark_entry__ as entry

    rng = np.random.default_rng(7)
    v = rng.standard_normal((200, 64)).astype(np.float32)
    v[100:140] = v[:40] + 0.3 * rng.standard_normal((40, 64))
    v[[2, 7, 105, 150]] = 0.0
    path = tmp_path / "embeddings.parquet"
    pd.DataFrame({"vec_id": np.arange(200, dtype=np.int64),
                  "embedding": list(v)}).to_parquet(path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{path}')")
    sql, queries = entry.oracle_sql(), entry.queries()
    for name in ("embedding_near_dups", "ann_topk"):
        got = _frame_rows(queries[name](spark, str(tmp_path)).toPandas())
        assert got == _frame_rows(con.sql(sql[name]).df()), name
        assert got
    # columns sorted: method, neighbor_id, query_id, rank, sim_e6
    assert any(r[2] == 2 and r[4] is None for r in got)
