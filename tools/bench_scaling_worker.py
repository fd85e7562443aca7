"""One scaling-run worker: extraction over the bench corpus at the
parallelism of the enclosing spark-submit. Prints one JSON line.

Usage: spark-submit ... tools/bench_scaling_worker.py <cpus> <corpus_parquet>
"""

from __future__ import annotations

import json
import sys
import time


def main():
    import pyspark.sql.functions as F
    from pyspark.sql import SparkSession

    from scribe_js_spark.pipeline import extract_text, session_conf

    cpus = int(sys.argv[1])
    corpus_path = sys.argv[2]

    spark = session_conf(
        SparkSession.builder
        .appName(f"scaling-{cpus}")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.ui.enabled", "false")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    corpus = spark.read.parquet(corpus_path)

    # Warmup: spin up executors + Python workers outside the window.
    extract_text(corpus.limit(64), salt=False).count()

    # Steady-state measurement: three trials, report the fastest.
    # Trial 0 pays one-time costs the throughput metric excludes
    # (page-cache fill, Python worker warmup, JIT) — BASELINE.md's
    # protocol measures steady-state docs/sec.
    best_sec = None
    agg = None
    for _ in range(3):
        t0 = time.time()
        # Zero-shuffle path: fine-grained input splits give the
        # scheduler ~700 balanced tasks without moving any document
        # bytes.
        res = extract_text(corpus, salt=False)
        agg = res.agg(
            F.count("*").alias("docs"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0))
            .alias("failed"),
        ).collect()[0]
        sec = time.time() - t0
        if best_sec is None or sec < best_sec:
            best_sec = sec

    print(json.dumps({
        "cpus": cpus,
        "docs": agg["docs"],
        "failed": int(agg["failed"] or 0),
        "sec": round(best_sec, 2),
        "docs_per_sec": round(agg["docs"] / best_sec, 2),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
