"""Hot-bucket caps keep the LSH self-joins output-bound (VERDICT r3 #2).

A degenerate bucket — every row hashing to one key — makes an uncapped
bucket self-join quadratic on that key at corpus scale. minhash has had
``max_bucket_size`` since r2; these fixtures prove the same guard on
the embedding and image paths: with the cap the degenerate bucket's
pairs vanish while genuine near-dup pairs elsewhere survive.

Each cap is a window count over the one hash partitioning both join
sides read (``partitioning.bucket_rows``); the tests at the end hold it
equal to the groupBy + join cap it replaced, and hold the operators to
leaving no cached state behind.
"""

import random

import numpy as np
import pyspark.sql.functions as F
import pytest

# identical documents form one degenerate band bucket per band
MINHASH_DOCS = [
    (i, "the same exact document text repeated verbatim here")
    for i in range(40)] + [
    (1000, "an unrelated quick brown fox jumps over lazy dog"),
    (1001, "an unrelated quick brown fox jumps over lazy dogs")]
# near-empty docs collapse to one signature -> one degenerate block
# bucket per block
SIMHASH_DOCS = [(i, "x") for i in range(40)] + [
    (1000, "the quick brown fox jumps over the lazy dog"),
    (1001, "the quick brown fox jumps over the lazy dogs")]


def _photo(seed=0, h=64, w=96):
    """Smooth low-frequency field (same generator as test_imagehash)."""
    rng = np.random.RandomState(seed)
    base = rng.rand(6, 8)
    ys = np.linspace(0, 5, h)
    xs = np.linspace(0, 7, w)
    yi = np.clip(ys.astype(int), 0, 4)
    xi = np.clip(xs.astype(int), 0, 6)
    fy = ys - yi
    fx = xs - xi
    a = (base[yi][:, xi] * (1 - fy)[:, None] * (1 - fx)[None, :]
         + base[yi + 1][:, xi] * fy[:, None] * (1 - fx)[None, :]
         + base[yi][:, xi + 1] * (1 - fy)[:, None] * fx[None, :]
         + base[yi + 1][:, xi + 1] * fy[:, None] * fx[None, :])
    return (a * 255).astype(np.uint8)


@pytest.fixture(scope="module")
def emb_df(spark):
    # 40 identical vectors -> one degenerate LSH bucket; one genuine
    # near pair (1000, 1001) in a different region of the sphere.
    deg = [(i, [1.0, 0.5, 0.25, 0.0, 0.0, 0.0, 0.0, 0.0])
           for i in range(40)]
    near = [
        (1000, [-1.0, -0.9, 0.8, -0.7, 0.6, -0.5, 0.4, -0.3]),
        (1001, [-1.0, -0.9, 0.8, -0.7, 0.6, -0.5, 0.4, -0.31]),
    ]
    return spark.createDataFrame(deg + near, ["vec_id", "embedding"])


def test_embedding_cap_drops_degenerate_bucket(emb_df):
    from scribe_js_spark.textops.similarity import embedding_near_dups

    uncapped = embedding_near_dups(emb_df, threshold=0.99, dim=8)
    rows = uncapped.collect()
    # identical vectors: all C(40,2) pairs + the near pair
    assert len(rows) == 40 * 39 // 2 + 1

    capped = embedding_near_dups(emb_df, threshold=0.99, dim=8,
                                 max_bucket_size=10)
    got = {(r["vec_a"], r["vec_b"]) for r in capped.collect()}
    assert got == {(1000, 1001)}


def _image_rows():
    from scribe_js_spark.textops.jpeg import encode_jpeg_gray
    from scribe_js_spark.textops.multimodal import encode_png_gray

    img = _photo(2)
    mono = np.full((32, 32), 128, dtype=np.uint8)
    return [(i, encode_png_gray(mono)) for i in range(40)] + [
        (1000, encode_png_gray(img)),
        (1001, encode_jpeg_gray(img)),   # re-encoded duplicate of 1000
    ]


def test_image_cap_drops_degenerate_bucket(spark):
    from scribe_js_spark.textops.imagehash import image_near_dups

    df = spark.createDataFrame(_image_rows(), ["media_id", "data"])

    uncapped = image_near_dups(df).collect()
    assert len(uncapped) == 40 * 39 // 2 + 1

    capped = image_near_dups(df, max_bucket_size=10)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert got == {(1000, 1001)}


def test_minhash_cap_reference_behavior(spark):
    # The pre-existing text-path guard the new caps mirror: identical
    # documents form one degenerate band bucket per band.
    from scribe_js_spark.textops.dedup import minhash_lsh_pairs

    df = spark.createDataFrame(MINHASH_DOCS, ["doc_id", "text"])
    capped = minhash_lsh_pairs(df, max_bucket_size=10)
    got = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert (1000, 1001) in got
    assert not any(a < 40 and b < 40 for a, b in got)


def test_simhash_cap_drops_degenerate_block(spark):
    # near-empty docs collapse to one signature -> one degenerate
    # block bucket per block; the cap keeps the join output-bound
    from scribe_js_spark.textops.dedup import simhash_candidates

    df = spark.createDataFrame(SIMHASH_DOCS, ["doc_id", "text"])
    capped = simhash_candidates(df, max_bucket_size=10)
    got = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert not any(a < 40 and b < 40 for a, b in got)
    uncapped = simhash_candidates(df)
    assert sum(1 for r in uncapped.collect()
               if r["doc_a"] < 40 and r["doc_b"] < 40) == 40 * 39 // 2


def test_prebucketed_corpus_rides_the_scan(spark, tmp_path):
    """with_lsh_bucket materializes the hyperplane bucket; reading the
    table back, ann_topk_lsh and embedding_near_dups auto-detect the
    column, return identical results, and the corpus side reads
    lsh_bucket from parquet instead of re-projecting n_planes x dim
    per row (VERDICT r4 'What's wrong' #2)."""
    import random

    from scribe_js_spark.textops.similarity import (
        _corpus, ann_topk_lsh, embedding_near_dups, with_lsh_bucket)

    rng = random.Random(5)
    rows = []
    for i in range(60):
        base = [rng.uniform(-1, 1) for _ in range(64)]
        rows.append((i, base))
        if i < 10:  # near-dup partner
            rows.append((1000 + i,
                         [v + rng.uniform(-0.01, 0.01) for v in base]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    path = str(tmp_path / "emb_bucketed")
    with_lsh_bucket(df).write.parquet(path)
    pre = spark.read.parquet(path)
    assert "lsh_bucket" in pre.columns

    queries = df.filter("vec_id < 5")
    plain_ann = ann_topk_lsh(df, queries, k=3)
    pre_ann = ann_topk_lsh(pre, queries, k=3)
    assert sorted(map(tuple, plain_ann.collect())) \
        == sorted(map(tuple, pre_ann.collect()))

    plain_nd = embedding_near_dups(df, threshold=0.9)
    pre_nd = embedding_near_dups(pre, threshold=0.9)
    got = sorted(map(tuple, pre_nd.collect()))
    assert got == sorted(map(tuple, plain_nd.collect()))
    assert len(got) >= 10

    # the stored column reaches the scan and is the one the join uses:
    # with every stored id 0, all 70 vectors share one bucket, and a
    # threshold no pair fails returns every pair, where the computed
    # buckets keep most pairs apart
    pre_plan = pre_ann._jdf.queryExecution().executedPlan().toString()
    assert "lsh_bucket" in pre_plan
    one_bucket = pre.withColumn("lsh_bucket", F.lit(0))
    assert embedding_near_dups(one_bucket, threshold=-2.0).count() \
        == 70 * 69 // 2
    assert embedding_near_dups(df, threshold=-2.0).count() < 70 * 69 // 4

    # and the per-row hyperplane projection is off: the kernel declares
    # a bucket it computes NOT NULL, while the stored column read from
    # parquet stays nullable
    def corpus_bucket(d):
        return _corpus(d, "vec_id", "embedding", 64, 8,
                       None).schema["bucket"]

    assert corpus_bucket(pre).nullable
    assert not corpus_bucket(df).nullable


def _ref_cap(df, keys, max_bucket_size):
    """The hot-bucket cap before the window: a second groupBy over the
    table, joined back on the keys."""
    if max_bucket_size is None:
        return df
    ok = (df.groupBy(*keys).agg(F.count("*").alias("_n"))
          .filter(F.col("_n") <= max_bucket_size).drop("_n"))
    return df.join(ok, keys)


def _sorted_rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_window_cap_matches_groupby_join_cap(spark):
    """bucket_rows' window cap keeps exactly the rows the groupBy +
    join cap kept, on seeded skewed keys. A NULL key is compared as
    the self-join sees it: the join cap dropped it (a NULL key joins
    nothing) and the self-join drops it under either cap."""
    from scribe_js_spark.textops.partitioning import bucket_rows

    rng = random.Random(17)
    rows = []
    for i in range(600):
        k1 = rng.choice([0, 0, 0, 1, 2, None])
        k2 = int(rng.paretovariate(1.2)) % 40
        rows.append((i, k1, k2))
    df = spark.createDataFrame(rows, "id long, k1 int, k2 long")
    keys = ["k1", "k2"]
    sizes = {}
    for _, k1, k2 in rows:
        sizes[(k1, k2)] = sizes.get((k1, k2), 0) + 1
    for cap in (1, 3, 10, 100, None):
        got = _sorted_rows(bucket_rows(df, keys, cap).dropna(subset=keys))
        want = _sorted_rows(
            _ref_cap(df, keys, cap).select("id", *keys).dropna(subset=keys))
        assert got == want, cap
        # these caps split the fixture: some buckets kept, some dropped
        if cap in (3, 10):
            assert 0 < len(got) < sum(1 for r in rows if r[1] is not None)
    assert max(sizes.values()) > 100


def _cap_cases(spark, emb_df):
    """(name, input, build) per operator: the fixtures above, then a
    seeded random table whose buckets have many sizes (repeated
    document texts, clustered 8-dim vectors, re-encoded images)."""
    from scribe_js_spark.textops.dedup import (
        minhash_lsh_pairs, simhash_candidates)
    from scribe_js_spark.textops.imagehash import image_near_dups
    from scribe_js_spark.textops.jpeg import encode_jpeg_gray
    from scribe_js_spark.textops.multimodal import encode_png_gray
    from scribe_js_spark.textops.similarity import embedding_near_dups

    rng = random.Random(23)
    words = "alpha beta gamma delta eps zeta eta theta iota kappa".split()
    texts = [" ".join(rng.choice(words) for _ in range(rng.randint(1, 9)))
             for _ in range(12)]
    docs = spark.createDataFrame(
        [(i, rng.choice(texts)) for i in range(120)], ["doc_id", "text"])
    centers = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(6)]
    vecs = spark.createDataFrame(
        [(i, [c + rng.uniform(-0.02, 0.02)
              for c in centers[int(rng.paretovariate(1.0)) % 6]])
         for i in range(150)], ["vec_id", "embedding"])
    images = spark.createDataFrame(
        [(i, (encode_png_gray if i % 2 else encode_jpeg_gray)(
            _photo(rng.randrange(4)))) for i in range(24)]
        + [(100 + i, encode_png_gray(
            np.full((16, 16), 40 * (i % 2), np.uint8))) for i in range(9)],
        ["media_id", "data"])

    def minhash(df, cap):
        return minhash_lsh_pairs(df, max_bucket_size=cap)

    def simhash(df, cap):
        return simhash_candidates(df, max_bucket_size=cap)

    def embedding(df, cap):
        return embedding_near_dups(df, threshold=0.9, dim=8,
                                   max_bucket_size=cap)

    def image(df, cap):
        return image_near_dups(df, max_bucket_size=cap)

    return [
        ("minhash", spark.createDataFrame(
            MINHASH_DOCS, ["doc_id", "text"]), minhash),
        ("minhash", docs, minhash),
        ("simhash", spark.createDataFrame(
            SIMHASH_DOCS, ["doc_id", "text"]), simhash),
        ("simhash", docs, simhash),
        ("embedding", emb_df, embedding),
        ("embedding", vecs, embedding),
        ("image", spark.createDataFrame(
            _image_rows(), ["media_id", "data"]), image),
        ("image", images, image),
    ]


def test_operator_window_caps_match_groupby_join_caps(
        spark, emb_df, monkeypatch):
    """Each operator returns the same rows under the window cap as
    under the groupBy + join cap, swapped in for bucket_rows."""
    from scribe_js_spark.textops import partitioning

    for name, df, build in _cap_cases(spark, emb_df):
        for cap in (2, 10):
            got = _sorted_rows(build(df, cap))
            with monkeypatch.context() as m:
                m.setattr(partitioning, "bucket_rows", _ref_cap)
                want = _sorted_rows(build(df, cap))
            assert got == want, (name, cap)


def _cached_tables(spark):
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm).size()


def test_sweeps_leave_no_cached_state(spark, emb_df):
    """Building and collecting the four bucket self-join operators,
    capped and uncapped, over fresh frames leaves the persistent-RDD
    and cached-table counts where they were."""
    sc = spark.sparkContext
    before = (sc._jsc.getPersistentRDDs().size(), _cached_tables(spark))
    for sweep in range(3):
        for name, df, build in _cap_cases(spark, emb_df)[sweep % 2::2]:
            for cap in (None, 10):
                build(df, cap).collect()
        after = (sc._jsc.getPersistentRDDs().size(), _cached_tables(spark))
        assert after == before, (sweep, before, after)


def test_self_join_sides_share_one_exchange(spark, emb_df):
    """In each operator's final adaptive plan the second join side is a
    ReusedExchange of the first, nothing is read from cache, and the
    work below the exchange (the band/block signature kernel, the
    bucket/norm kernel, the pHash UDF) is planned once: no inferred
    filter on a kernel output splits the exchange and runs the kernel
    twice. The kernels emit the band and block rows themselves, so no
    posexplode is left; embedding's second MapInArrow is its pair
    verify, above the join."""
    marker = {"minhash": {"MapInArrow": 1, "posexplode": 0},
              "simhash": {"MapInArrow": 1, "posexplode": 0},
              "embedding": {"MapInArrow": 2}, "image": {"MapInArrow": 1}}
    for name, df, build in _cap_cases(spark, emb_df)[1::2]:
        for cap in (None, 10):
            res = build(df, cap)
            res.collect()
            plan = res._jdf.queryExecution().executedPlan().toString()
            final = plan.split("== Initial Plan ==")[0]
            assert "isFinalPlan=true" in final, name
            assert "ReusedExchange" in final, (name, cap)
            assert "InMemoryTableScan" not in final, (name, cap)
            for m, n in marker[name].items():
                assert final.count(m) == n, (name, cap, m)
