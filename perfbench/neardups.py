"""near_dups workload: one dedup sweep over seeded sf-shaped tables and
the committed image near-dup fixture.

A sweep builds and collects, through the public ``textops`` calls:
minhash_lsh_pairs -> jaccard_for_pairs, simhash_candidates, exact_dups,
embedding_near_dups and image_near_dups over encoded media. Each result
is compared with its oracle: the DuckDB SQL of ``__spark_entry__``'s
``oracle_sql()`` over the same tables, and for images the pair set the
fixture was constructed with (the oracle ``__spark_entry__`` uses). No extraction code runs here.
"""

from __future__ import annotations

import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

import numpy as np
import pandas as pd
import pyspark.sql.functions as F

import box
import inputs
from scribe_js_spark.textops.dedup import (
    exact_dups,
    jaccard_for_pairs,
    minhash_lsh_pairs,
    simhash_candidates,
)
from scribe_js_spark.textops.imagehash import image_near_dups, phash64_pixels
from scribe_js_spark.textops.jpeg import decode_jpeg
from scribe_js_spark.textops.multimodal import decode_png
from scribe_js_spark.textops.similarity import embedding_near_dups

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 3
#: sweep query -> the ``oracle_sql()`` key that checks it
ORACLES = {
    "minhash_lsh": "minhash_lsh_pairs",
    "jaccard_verified": "jaccard_verified",
    "simhash": "simhash_candidates",
    "exact_dups": "exact_dups",
    "embedding_near_dups": "embedding_near_dups",
}
#: the warm-up batch's table sizes
WARM_DOCS, WARM_VECS = 200, 100


def _queries(docs, emb, media) -> dict:
    """Sweep query -> the public call that returns its DataFrame,
    with the thresholds ``__spark_entry__`` checks them at."""
    return {
        "minhash_lsh": lambda: minhash_lsh_pairs(docs),
        "jaccard_verified": lambda: jaccard_for_pairs(
            docs, minhash_lsh_pairs(docs), threshold=0.5),
        "simhash": lambda: simhash_candidates(docs),
        "exact_dups": lambda: exact_dups(docs).select(
            "doc_id", "text_sig", F.col("n_copies").cast("long"),
            "canonical_id"),
        "embedding_near_dups": lambda: embedding_near_dups(
            emb, threshold=0.3),
        "image_near_dups": lambda: image_near_dups(
            media, max_distance=3, max_bucket_size=8).select("id_a", "id_b"),
    }


def _rows(df: pd.DataFrame) -> list[tuple]:
    """Order-insensitive canonical form of a result."""
    def norm(v):
        if isinstance(v, (float, np.floating)):
            return round(float(v), 9)
        if isinstance(v, np.integer):
            return int(v)
        return v

    cols = sorted(df.columns)
    return sorted(tuple(norm(v) for v in row)
                  for row in df[cols].itertuples(index=False))


class Tables:
    """The seeded tables as parquet, the media fixture, and every query's
    expected rows."""

    def __init__(self, seed: int, scratch: str, n_docs: int, n_vecs: int,
                 with_oracles: bool):
        self.n_docs = n_docs
        media, pairs = inputs.images(ROOT)
        self.paths = {"media": media}
        tables = {"documents": inputs.documents(seed, n_docs),
                  "embeddings": inputs.embeddings(seed, n_vecs)}
        for name, df in tables.items():
            self.paths[name] = os.path.join(scratch, f"{name}_{n_docs}.parquet")
            df.to_parquet(self.paths[name], index=False)
        self.expected = {}
        if not with_oracles:
            return
        import duckdb

        import __spark_entry__

        sql = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        try:
            for name in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                            f"read_parquet('{self.paths[name]}')")
            for q, key in ORACLES.items():
                self.expected[q] = _rows(con.sql(sql[key]).df())
        finally:
            con.close()
        self.expected["image_near_dups"] = sorted(pairs)

    def frames(self, spark):
        return [spark.read.parquet(self.paths[n])
                for n in ("documents", "embeddings", "media")]


def sweep(spark, tables: Tables, tracer=None, groups: bool = False):
    """Build and collect every query once. Returns (wall s, results,
    per-query (build s, exec s)). Each query runs in its own job group
    when ``groups`` is set. The caches queries persist are dropped
    afterwards, so every sweep computes from the tables."""
    def span(name, trace_id):
        return nullcontext() if tracer is None else tracer.span(name, trace_id)

    results, times = {}, {}
    t_sweep = time.perf_counter()
    for q, build in _queries(*tables.frames(spark)).items():
        if groups:
            spark.sparkContext.setJobGroup(q, q)
        with span(q, q):
            t0 = time.perf_counter()
            with span("build", q):
                df = build()
            t1 = time.perf_counter()
            with span("exec", q):
                results[q] = df.toPandas()
            times[q] = (t1 - t0, time.perf_counter() - t1)
    wall = time.perf_counter() - t_sweep
    if groups:
        spark.sparkContext.setJobGroup("check", "benchmark bookkeeping")
    spark.catalog.clearCache()
    return wall, results, times


def check(tables: Tables, results: dict) -> list[str]:
    return [q for q, df in results.items()
            if _rows(df) != tables.expected[q]]


def _warm_up(spark, warm: Tables) -> None:
    """A JVM query (exact_dups) and a Python-worker query
    (image_near_dups) on small tables. A full warm-up sweep would cost
    about as much as a timed one, so the first timed sweep still pays
    the other plans' first code generation, as a user's single sweep
    does."""
    docs, _, media = warm.frames(spark)
    exact_dups(docs).toPandas()
    image_near_dups(media, max_distance=3, max_bucket_size=8).toPandas()
    spark.catalog.clearCache()


def _prepare(seed: int, scratch: str):
    t0 = time.perf_counter()
    tables = Tables(seed, scratch, inputs.DEDUP_DOCS, inputs.DEDUP_VECS, True)
    warm = Tables(seed + 1, scratch, WARM_DOCS, WARM_VECS, False)
    return tables, warm, time.perf_counter() - t0


def run(seed: int, seconds: float, scratch: str) -> dict:
    with ThreadPoolExecutor(1) as pool:
        prepared = pool.submit(_prepare, seed, scratch)
        setups, spark = box.setups(
            scratch, SETUPS, prepared,
            lambda spark, p, i: _warm_up(spark, p[1]))
    tables, _, gen_s = prepared.result()
    sweeps, timed, attempted, wrong, per_q = [], 0.0, 0, [], []
    while timed < seconds:
        (_, results, times), wall, cpu, steal = box.measured(
            lambda: sweep(spark, tables))
        per_q.append(" ".join(f"{q}={sum(t):.2f}" for q, t in times.items()))
        timed += wall
        sweeps.append((wall, cpu, steal))
        attempted += len(results)
        wrong += check(tables, results)
    rss = box.worker_peak_rss_mb()
    notes = [f"{len(sweeps)} sweeps over {tables.n_docs} documents"]
    notes += box.sample_notes("sweep", sweeps)
    notes += box.sample_notes("setup", setups)
    notes.append(f"input generation and oracles {gen_s:.2f} s, "
                 "beside the JVM launch")
    notes += [f"sweep {i + 1} s: {q}" for i, q in enumerate(per_q)]
    if wrong:
        notes.append(f"queries differing from their oracle: {wrong}")
    return {
        "attempted": attempted, "failed": len(wrong), "notes": notes,
        "metrics": {
            # the session's first sweep, the one a user's job runs after
            # set-up; later sweeps only add correctness checks
            "docs_per_cpu_s": tables.n_docs / sweeps[0][1],
            "setup_s": statistics.median(s[1] for s in setups),
            "worker_peak_rss_mb": rss,
        },
    }


def decode_pass(media: pd.DataFrame, tracer) -> tuple[dict, float]:
    """Single-process decode of every blob with the public codec calls:
    ms per blob by codec, and the seconds of the image UDF's per-blob
    work (decode + pHash)."""
    per = {"png": [], "jpeg": []}
    udf_s = 0.0
    for mid, data in zip(media["media_id"], media["data"]):
        codec = ("png" if data[:4] == b"\x89PNG"
                 else "jpeg" if data[:2] == b"\xff\xd8" else None)
        if codec is None:
            continue
        with tracer.span(f"decode.{codec}", str(mid)):
            t0 = time.perf_counter()
            px = (decode_png(data)[3] if codec == "png"
                  else decode_jpeg(data))
            t1 = time.perf_counter()
            if px.ndim == 3 and px.shape[2] == 1:
                px = px[:, :, 0]
            phash64_pixels(px)
            t2 = time.perf_counter()
        per[codec].append((t1 - t0) * 1e3)
        udf_s += t2 - t0
    return {f"multimodal.decode.{c}.ms": statistics.mean(v)
            for c, v in per.items()}, udf_s


def run_traced(seed: int, scratch: str, tracer) -> dict:
    tables, warm, _ = _prepare(seed, scratch)
    decode, udf_s = decode_pass(pd.read_parquet(tables.paths["media"]),
                                tracer)
    with tracer.span("setup", "near_dups"):
        spark = box.start_session(scratch, ui=True)
        _warm_up(spark, warm)
    rest = box.Rest(spark.sparkContext)
    wall, results, times = sweep(spark, tables, tracer, groups=True)
    stats = {q: rest.group([q]) for q in results}
    total = rest.group(list(results))
    wrong = check(tables, results)
    m = dict(decode)
    for q, (build_s, exec_s) in times.items():
        m[f"textops.{q}.build_ms"] = build_s * 1e3
        m[f"textops.{q}.exec_s"] = exec_s
        m[f"textops.{q}.shuffle_mb"] = stats[q]["shuffle_mb"]
        m[f"textops.{q}.spill_mb"] = stats[q]["spill_mb"]
    m["textops.lsh.verified_per_candidate"] = (
        len(results["jaccard_verified"]) / len(results["minhash_lsh"]))
    m.update({
        "pipeline.docs_per_s": tables.n_docs / wall,
        "pipeline.tasks": total["tasks"],
        "pipeline.task_s.p50": total["task_s.p50"],
        "pipeline.task_s.max": total["task_s.max"],
        "pipeline.busy_frac": total["run_s"] / (wall * box.cores()),
        "pipeline.python_frac": udf_s / total["run_s"],
        "pipeline.output_mb": total["output_mb"],
        "pipeline.gc_s": total["gc_s"],
    })
    notes = [f"verified {len(results['jaccard_verified'])} of "
             f"{len(results['minhash_lsh'])} LSH candidates"]
    if wrong:
        notes.append(f"queries differing from their oracle: {wrong}")
    return {"attempted": len(results), "failed": len(wrong),
            "metrics": m, "notes": notes}
