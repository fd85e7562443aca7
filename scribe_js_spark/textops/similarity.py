"""Similarity search over embedding columns (array<float>).

- ``ann_topk_bruteforce``: exact cosine top-k — broadcast the (small)
  query set against the full corpus; the dot product is a JVM-side
  ``aggregate(zip_with(...))`` so no Python runs per row. This is the
  correctness baseline.
- ``ann_topk_lsh``: random-hyperplane LSH bucketing as the scale path —
  hyperplanes are deterministic (hash-derived), candidates restricted to
  same-bucket (plus Hamming-1 neighbor buckets via multi-probe), then
  exact re-rank. At 10^12 rows the bucket join replaces the full cross
  product; recall tunes with bits/probes.

``embedding_near_dups`` runs its per-vector and per-pair work in
numpy, one call per Arrow batch: each vector's bucket and norm
(:func:`_bucket_norm_kernel`), in the IEEE operation order of the
:func:`lsh_bucket` and ``_norm_sql`` folds, so its bucket ids equal
the ones :func:`with_lsh_bucket` stores; then the cosine of each
candidate pair (:func:`_cosine_kernel`), in the order of the
:func:`_dot_sql` fold. The ANN query paths keep the SQL folds (see
ROADMAP, item 1, for their re-timing on the kernels). Their cosine is
``try_divide``: a zero vector has a NULL similarity, as in the DuckDB
oracles, where a plain ``/`` raises DIVIDE_BY_ZERO under ANSI.
"""

from __future__ import annotations

import functools

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.types import DoubleType, LongType, StructField, StructType


def _ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _double_sql(v: float) -> str:
    """SQL text of a double literal: repr() round-trips doubles exactly
    and the string-to-double cast constant-folds to the identical
    Literal."""
    return f"CAST('{float(v)!r}' AS DOUBLE)"


def _dot_sql(a: str, b: str) -> str:
    """SQL text of the left-fold dot product of two named array
    columns over float64 casts (zip_with + aggregate).

    Emitting the fold as ONE parsed expression instead of the
    Column-API lambda plumbing cuts ~25 ms of py4j round trips per
    fold at DataFrame-construction time for the same analyzed
    expression.

    The ANN paths run this fold per (query, candidate) pair. An
    unrolled ``a[0]*b[0] + ... + a[63]*b[63]`` was measured slower (2M
    cached pairs: 23 s against 4.4 s): its >8 KB method is never
    JIT-compiled by HotSpot (DontCompileHugeMethods) and runs in the
    bytecode interpreter (and 8 such trees in one projection, as
    :func:`lsh_bucket`, exceed janino's 64 KB method limit).
    :func:`embedding_near_dups` computes the same folds in numpy, in
    this fold's IEEE order: per vector in :func:`_bucket_norm_kernel`,
    per pair in :func:`_cosine_kernel`."""
    return (f"aggregate(zip_with({_ident(a)}, {_ident(b)}, "
            "(x, y) -> cast(x as double) * cast(y as double)), "
            "cast(0.0 as double), (acc, v) -> acc + v)")


def _norm_sql(a: str) -> str:
    """SQL text of the Euclidean norm (sqrt of the _dot_sql fold)."""
    return f"sqrt({_dot_sql(a, a)})"


def ann_topk_bruteforce(df: DataFrame, queries: DataFrame, k: int = 5,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` must be small enough to broadcast (it is, by
    construction: queries are the user's probe set, not the corpus).
    Returns (query_id, rank, neighbor_id, sim_e6) — similarity scaled
    to micro-units as int for cross-engine stability.

    Round 6: each side's norm is computed ONCE per vector below the
    broadcast join — re-deriving the corpus norm for every
    (query, corpus) pair costs |Q| times the needed work — so the
    per-pair cost drops from 3 fold evaluations to 1.
    sqrt(dot(v,v)) is the same expression either way: bit-identical.
    """
    from .partitioning import spread_input

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"),
        F.expr(_norm_sql(vec_col)).alias("q_nrm"))
    c = spread_input(df, [id_col, vec_col]).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"),
        F.expr(_norm_sql(vec_col)).alias("c_nrm"))
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "sim",
            F.expr(f"try_divide({_dot_sql('q_vec', 'c_vec')}, "
                   "q_nrm * c_nrm)"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", F.col("rank").cast("int"), "neighbor_id",
            F.floor(F.col("sim") * 1e6).cast("long").alias("sim_e6"))
    )


def ann_topk_ivf(df: DataFrame, queries: DataFrame, k: int = 5,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 dim: int = 64, n_planes_coarse: int = 3,
                 nprobe: int = 2) -> DataFrame:
    """IVF-style approximate top-k: a coarse quantizer built from
    LSH-bucket centroids (deterministic — no k-means RNG), inverted
    lists keyed by nearest centroid, queries probe the ``nprobe``
    nearest cells and exact-rerank within them.

    Scale path: the centroid table is tiny (2^n_planes_coarse rows) and
    broadcast everywhere as one row; the corpus partitions by cell, so
    a query touches ``nprobe`` cells instead of the full corpus.
    Building the query starts no Spark job: the centroids stay in the
    plan.
    """
    base = df.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"),
        lsh_bucket(vec_col, dim, n_planes_coarse).alias("bucket"))

    # Centroids: per-dimension means of each coarse LSH bucket, rounded
    # to 6 decimals so the value is reproducible across engines (the
    # raw avg's last ulp depends on summation order; the SQL oracle
    # computes round(avg(...), 6) too). They ride as ONE row, _cents:
    # the (bucket, centroid) structs sorted by bucket.
    cents = (
        base.select("bucket", F.posexplode(
            F.transform(F.col("vec"), lambda x: x.cast("double"))))
        .groupBy("bucket", "pos").agg(F.round(F.avg("col"), 6).alias("v"))
        .groupBy("bucket")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("pv"))
        .agg(F.array_sort(F.collect_list(F.struct(
            "bucket", F.col("pv.v").alias("centroid")))).alias("_cents"))
    )
    # (squared distance to the cell's centroid, cell) per cell: a left
    # fold over float64 casts, ordered by distance then cell
    dists = ("transform(_cents, c -> struct(aggregate(zip_with(vec, "
             "c.centroid, (x, y) -> (cast(x as double) - y) * "
             "(cast(x as double) - y)), cast(0.0 as double), "
             "(acc, v) -> acc + v) AS d, c.bucket AS cell))")
    assigned = (
        base.crossJoin(F.broadcast(cents))
        .withColumn("cell", F.expr(f"array_min({dists}).cell"))
        .drop("_cents"))

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("vec"))
    q_cells = (
        q.crossJoin(F.broadcast(cents))
        .withColumn(
            "probe_cells",
            F.expr(f"slice(transform(array_sort({dists}), s -> s.cell), "
                   f"1, {int(nprobe)})"))
        .select("query_id", F.col("vec").alias("q_vec"),
                F.explode("probe_cells").alias("cell"))
    )

    scored = (
        assigned.join(F.broadcast(q_cells),
                      (assigned["cell"] == q_cells["cell"])
                      & (F.col("vid") != F.col("query_id")))
        .withColumn("sim", F.expr(
            f"try_divide({_dot_sql('q_vec', 'vec')}, "
            f"{_norm_sql('q_vec')} * {_norm_sql('vec')})"))
        .select("query_id", F.col("vid").alias("neighbor_id"), "sim")
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int"), "neighbor_id",
                F.floor(F.col("sim") * 1e6).cast("long").alias("sim_e6"))
    )


_N_PLANES_DEFAULT = 8


def _plane_coeff(plane: int, dim: int) -> float:
    """Deterministic pseudo-random hyperplane coefficient in [-1, 1):
    integer hash of (plane, dim) mapped to the unit interval. No RNG —
    replays and cross-run joins stay stable."""
    h = (plane * 1_000_003 + dim * 7919 + 12345) * 2654435761 % (1 << 32)
    return (h / (1 << 31)) - 1.0


def lsh_bucket(vec_col: str, dim: int, n_planes: int = _N_PLANES_DEFAULT):
    """Sign-of-projection bucket id (0 .. 2^n_planes-1) of the named
    array column, as a column: a left fold per plane over float64
    casts, as :func:`_dot_sql`. :func:`_bucket_norm_kernel` computes the
    same ids per Arrow batch for :func:`embedding_near_dups`.

    An unrolled 8 planes x 64 terms projection exceeds janino's 64 KB
    method limit and runs interpreted, 3-6x slower (see _dot_sql). For
    corpora queried repeatedly, :func:`with_lsh_bucket` materializes
    the id once and the queries read it from the scan.

    The expression is built as ONE SQL string (1.3 ms): the Column API
    issued ~70 py4j round trips per plane (64 ``F.lit`` coefficient
    literals plus the lambda plumbing), 0.56 s of driver-side Python
    per call. Coefficient literals ride as ``CAST('<repr>' AS
    DOUBLE)`` (see _double_sql), so the ids are bit-identical to the
    Column-API formulation."""
    ident = _ident(vec_col)
    parts = []
    for p in range(n_planes):
        arr = "array(" + ",".join(
            _double_sql(_plane_coeff(p, d)) for d in range(dim)) + ")"
        proj = (f"aggregate(zip_with({ident}, {arr}, "
                "(x, w) -> cast(x as double) * w), "
                "cast(0.0 as double), (acc, v) -> acc + v)")
        parts.append(
            f"(CASE WHEN {proj} >= 0 THEN {1 << p} ELSE 0 END)")
    return F.expr("CAST(0 AS BIGINT) + " + " + ".join(parts))


def with_lsh_bucket(df: DataFrame, vec_col: str = "embedding",
                    dim: int = 64,
                    n_planes: int = _N_PLANES_DEFAULT,
                    out_col: str = "lsh_bucket") -> DataFrame:
    """Materialize the hyperplane bucket id onto the embedding table.

    The bucket expression costs O(n_planes x dim) JVM work per row;
    for a corpus queried repeatedly (ANN serving, periodic dedup
    sweeps) compute it ONCE, persist it with the embeddings
    (``pipeline.write_bucketed(..., bucket_col=out_col)`` makes the
    self-join shuffle-free too), and let :func:`ann_topk_lsh` /
    :func:`embedding_near_dups` pick the column up from the scan.
    The stored ids are only valid for the same (dim, n_planes) —
    the hyperplanes are deterministic in those parameters."""
    return df.withColumn(
        out_col, lsh_bucket(vec_col, dim, n_planes))


def _stored_bucket(df: DataFrame, bucket_col: str | None) -> str | None:
    """The pre-materialized bucket column: ``bucket_col``, or
    ``lsh_bucket`` when the input has it; None when there is none."""
    if bucket_col is None and "lsh_bucket" in df.columns:
        return "lsh_bucket"
    return bucket_col


def _corpus_bucket(df: DataFrame, vec_col: str, dim: int,
                   n_planes: int, bucket_col: str | None):
    """The corpus-side bucket column: a pre-materialized column when
    present (by name, or auto-detected as ``lsh_bucket``), else the
    inline projection."""
    bucket_col = _stored_bucket(df, bucket_col)
    if bucket_col is not None:
        return F.col(bucket_col).cast("long")
    return lsh_bucket(vec_col, dim, n_planes)


def _list_values(col) -> tuple:
    """(values, offsets, lengths, valid) of a list<float|double> Arrow
    array, possibly a slice: row i is ``values[off[i]:off[i] +
    lens[i]]``, and it is valid when neither it nor any of its elements
    is NULL. The values keep the element type; a caller casts what it
    gathers to float64, as SQL's ``cast(x as double)``."""
    off = col.offsets.to_numpy()
    vals = col.values
    x = vals.to_numpy(zero_copy_only=False)
    ok = col.is_valid().to_numpy(zero_copy_only=False)
    if vals.null_count:
        nulls = np.concatenate(
            [[0], np.cumsum(vals.is_null().to_numpy(zero_copy_only=False))])
        ok &= nulls[off[1:]] == nulls[off[:-1]]
    return x, off, np.diff(off), ok


def _bucket_norm_kernel(dim: int, n_planes: int, bucket: bool,
                        batch) -> list:
    """A (vid, vec[, bucket]) batch's columns, then (if ``bucket``) the
    hyperplane bucket and the Euclidean norm of ``vec``, an
    array<float|double>.

    Both are the left folds of ``_dot_sql`` in its IEEE order —
    ``acc = acc + cast(x as double) * w`` from ``acc = 0.0``, one
    position at a time — vectorised across rows:
    - bit p of the bucket is set when the fold against plane p is
      ``>= 0`` or NaN (Spark orders NaN above every number). A vector
      that is NULL, has a NULL element or is not ``dim`` long gets
      bucket 0: ``zip_with`` pads with NULL, the fold is NULL and the
      ``CASE`` falls to 0.
    - the norm is ``sqrt`` of the sum of squares over the vector's own
      length, and 0.0 where that fold is NULL (a NULL vector or
      element), whose dot products are NULL anyway."""
    import pyarrow as pa

    x, off, lens, ok = _list_values(batch.column(1))
    out = list(batch.columns)
    if bucket:
        rows = np.flatnonzero(ok & (lens == dim))
        cells = x[off[rows, None] + np.arange(dim)].astype(np.float64)
        w = np.array([[_plane_coeff(p, d) for d in range(dim)]
                      for p in range(n_planes)], np.float64).reshape(
                          n_planes, dim)
        acc = np.zeros((len(rows), n_planes))
        for d in range(dim):
            acc = acc + cells[:, d, None] * w[:, d]
        bits = ((acc >= 0) | np.isnan(acc)).astype(np.int64)
        ids = np.zeros(len(lens), np.int64)
        ids[rows] = (bits << np.arange(n_planes, dtype=np.int64)).sum(axis=1)
        out.append(pa.array(ids))
    acc = np.zeros(len(lens))
    for d in range(int(lens.max(initial=0))):
        rows = np.flatnonzero(lens > d)
        xd = x[off[rows] + d].astype(np.float64)
        acc[rows] = acc[rows] + xd * xd
    out.append(pa.array(np.where(ok, np.sqrt(acc), 0.0)))
    return out


def _corpus(df: DataFrame, id_col: str, vec_col: str, dim: int,
            n_planes: int, bucket_col: str | None) -> DataFrame:
    """(vid, vec, bucket, nrm) of the spread corpus: the hyperplane
    bucket and the norm from one numpy pass per Arrow batch
    (:func:`_bucket_norm_kernel`). The bucket is a pre-materialized
    column when there is one (``bucket_col``, or ``lsh_bucket`` when
    the input has it), and the kernel then computes only the norm.

    The kernel's outputs are declared NOT NULL: with a nullable key,
    Spark infers an ``isnotnull`` filter from the join and pushes it
    below one side's exchange, and the self-join loses its reused
    exchange."""
    from ..pipeline import per_batch
    from .partitioning import spread_input

    df = spread_input(df)
    bucket_col = _stored_bucket(df, bucket_col)
    cols = [F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")]
    if bucket_col is not None:
        cols.append(F.col(bucket_col).cast("long").alias("bucket"))
    df = df.select(*cols)
    fields = list(df.schema.fields)
    if bucket_col is None:
        fields.append(StructField("bucket", LongType(), False))
    fields.append(StructField("nrm", DoubleType(), False))
    kernel = functools.partial(_bucket_norm_kernel, dim, n_planes,
                               bucket_col is None)
    return per_batch(df, kernel, StructType(fields))


def embedding_near_dups(df: DataFrame, threshold: float = 0.95,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding", dim: int = 64,
                        n_planes: int = _N_PLANES_DEFAULT,
                        max_bucket_size: int | None = None,
                        bucket_col: str | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: candidates from the
    hyperplane-LSH bucket self-join (plus Hamming-1 neighbor buckets so
    a pair straddling one plane's boundary is still seen), verified by
    exact cosine >= threshold. Never all-pairs: cost is bound by bucket
    collisions, the same scale shape as the MinHash text path.

    ``max_bucket_size`` drops degenerate buckets (e.g. the all-zero
    embedding bucket at corpus scale) from the join key — same guard
    as :func:`~..dedup.minhash_lsh_pairs`. With the cap, per-probe
    match fan-out is <= cap, so output is bound by
    rows * (n_planes + 1) * cap instead of quadratic in the hottest
    bucket.

    Returns (vec_a, vec_b, sim_e6) with sim floored to micro-units for
    cross-engine stability. With a pre-materialized bucket column
    (``bucket_col``, or an ``lsh_bucket`` column auto-detected on the
    input — see :func:`with_lsh_bucket`) the per-row hyperplane
    projection is skipped and the bucket rides the scan.

    ``base`` is hash-partitioned once on the bucket, and both sides of
    the probe join read that one exchange, so the bucket/norm kernel
    runs once per query and nothing is cached. Under the cap a
    hot-bucket vector is neither a probe nor a match."""
    from .partitioning import bucket_rows

    # the corpus scan is spread before the bucket/norm kernel: its
    # parallelism is otherwise the scan's, and a single-row-group
    # parquet file would run it on one task (guide 2.5). The norm is
    # computed once per vector, below the exchange, not per pair.
    base = bucket_rows(
        _corpus(df, id_col, vec_col, dim, n_planes, bucket_col),
        ["bucket"], max_bucket_size)
    probes = base.select(
        F.col("vid").alias("vec_a"), F.col("vec").alias("va"),
        F.col("nrm").alias("na"),
        F.explode(F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << p))
              for p in range(n_planes)])).alias("probe"))
    matches = base.select(
        F.col("vid").alias("vec_b"), F.col("vec").alias("vb"),
        F.col("nrm").alias("nb"), "bucket")
    # No pair-dedup needed (round 6): the multiprobe join emits each
    # ORDERED pair at most once — a's probe list {bucket ^ m : m in
    # {0, 1<<0..1<<(n_planes-1)}} has pairwise-distinct values, so
    # bucket_b appears in it at most once (exactly when
    # bucket_a XOR bucket_b is 0 or a single probed bit), and the
    # strict vid-order filter then keeps exactly one orientation of
    # each unordered pair, so no .distinct() shuffles the candidates.
    # tests/test_r06_codegen_equiv.py asserts the no-duplicate
    # property on a Hamming-0/1/2 fixture. Both sides carry the vector
    # and its norm: they read the same columns of the one exchange
    # (column pruning would otherwise split it in two), and the verify
    # needs no join back to base.
    return _verified(
        probes.join(matches, (F.col("probe") == F.col("bucket"))
                    & (F.col("vec_a") < F.col("vec_b"))),
        threshold)


def _verified(pairs: DataFrame, threshold: float) -> DataFrame:
    """(vec_a, vec_b, sim_e6) of the candidate pairs whose cosine is at
    least ``threshold``, from :func:`_cosine_kernel`."""
    from ..pipeline import per_batch

    pairs = pairs.select("vec_a", "va", "na", "vec_b", "vb", "nb")
    schema = StructType([pairs.schema["vec_a"], pairs.schema["vec_b"],
                         StructField("sim_e6", LongType())])
    return per_batch(pairs, functools.partial(_cosine_kernel, threshold),
                     schema)


def _cosine_kernel(threshold: float, batch) -> list:
    """(vec_a, va, na, vec_b, vb, nb) batch of candidate pairs ->
    (vec_a, vec_b, sim_e6) of the pairs whose cosine
    ``dot(va, vb) / (na * nb)`` is ``>= threshold``, with ``sim_e6 =
    floor(sim * 1e6)``.

    The dot product is :func:`_dot_sql`'s left fold in its IEEE order,
    one position at a time and vectorised across pairs, as
    :func:`_bucket_norm_kernel` computes the norms. A pair whose fold
    is NULL in SQL (a NULL vector or element, or two different
    lengths, which ``zip_with`` pads with NULL) or whose denominator is
    zero (a zero vector; SQL's ``try_divide`` gives NULL) is dropped. A
    NaN similarity is kept, with ``sim_e6`` 0: Spark orders NaN above
    every threshold and casts its floor to 0."""
    import pyarrow as pa

    xa, offa, la, oka = _list_values(batch.column(1))
    xb, offb, lb, okb = _list_values(batch.column(4))
    denom = (batch.column(2).to_numpy(zero_copy_only=False)
             * batch.column(5).to_numpy(zero_copy_only=False))
    rows = np.flatnonzero(oka & okb & (la == lb) & (denom != 0))
    lens = la[rows]
    dot = np.zeros(len(rows))
    with np.errstate(invalid="ignore"):
        for d in range(int(lens.max(initial=0))):
            live = np.flatnonzero(lens > d)
            r = rows[live]
            dot[live] = dot[live] + (xa[offa[r] + d].astype(np.float64)
                                     * xb[offb[r] + d])
        sim = dot / denom[rows]
    hit = (sim >= threshold) | np.isnan(sim)
    rows, sim = rows[hit], sim[hit]
    # a non-zero denominator keeps |sim| near 1 or NaN, so the floor
    # fits a long
    e6 = np.where(np.isnan(sim), 0.0, np.floor(sim * 1e6)).astype(np.int64)
    return [batch.column(0).take(rows), batch.column(3).take(rows),
            pa.array(e6)]


def ann_topk_lsh(df: DataFrame, queries: DataFrame, k: int = 5,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 dim: int = 64, n_planes: int = _N_PLANES_DEFAULT,
                 multiprobe: bool = True,
                 bucket_col: str | None = None) -> DataFrame:
    """LSH-bucketed approximate top-k: candidates share the query's
    bucket (or any Hamming-1 neighbor bucket when ``multiprobe``), then
    exact cosine re-rank within candidates. The corpus side never
    shuffles (queries broadcast); with a pre-materialized bucket
    column (``bucket_col`` / auto-detected ``lsh_bucket`` — see
    :func:`with_lsh_bucket`) the corpus scan reads the stored id
    instead of re-projecting n_planes x dim per row on every query
    batch. Query-side buckets are always computed (the probe set is
    tiny)."""
    from .partitioning import spread_input

    df = spread_input(df)
    c = df.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"),
        _corpus_bucket(df, vec_col, dim, n_planes, bucket_col)
        .alias("bucket"),
        F.expr(_norm_sql(vec_col)).alias("c_nrm"))
    probe_buckets = F.array(
        *([F.col("q_bucket")] + [
            F.col("q_bucket").bitwiseXOR(F.lit(1 << p))
            for p in range(n_planes)
        ] if multiprobe else [F.col("q_bucket")]))
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"),
        lsh_bucket(vec_col, dim, n_planes).alias("q_bucket"),
        F.expr(_norm_sql(vec_col)).alias("q_nrm"),
    ).withColumn("probe", F.explode(probe_buckets))
    # no distinct needed (round 6): a query's probe list
    # {q_bucket ^ m} has pairwise-distinct values, so each corpus row
    # matches a given query at most once — (query_id, neighbor_id)
    # rows are already unique (same argument as embedding_near_dups)
    scored = (
        c.join(F.broadcast(q),
               (F.col("bucket") == F.col("probe"))
               & (F.col("neighbor_id") != F.col("query_id")))
        .withColumn(
            "sim",
            F.expr(f"try_divide({_dot_sql('q_vec', 'c_vec')}, "
                   "q_nrm * c_nrm)"))
        .select("query_id", "neighbor_id", "sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int"), "neighbor_id",
                F.floor(F.col("sim") * 1e6).cast("long").alias("sim_e6"))
    )
