"""Same-day hardware floor for the scaling protocol (VERDICT r2 item 1).

Runs the IDENTICAL per-document extraction function
(scribe_js_spark.extract.extract_document) over the IDENTICAL bench
corpus with a Spark-free multiprocessing.Pool at N and 4N workers,
each pinned to exactly that many hardware threads — the same pinning
the Spark levels use (tools/bench_scaling.py). The resulting parallel
efficiency is what the box itself can deliver that day with zero
job-framework overhead; the Spark job's efficiency is judged against
it ("within X of the same-session floor").

Usage: python tools/bench_floor.py [n_docs] [N]
Prints one JSON line {"floor_n": .., "floor_4n": .., "efficiency": ..};
to record a run, redirect it to BENCH/floor_<N>_<4N>.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _work(data: bytes):
    from scribe_js_spark.extract import extract_document

    r = extract_document(data)
    # Return the extracted text, not just a flag: the Spark job moves
    # every output text Python->JVM (inherent to any UDF pipeline), so
    # transfer parity requires the Pool to move it through its result
    # pipe too. A flag-only floor would credit the hardware with work
    # the Spark job cannot skip.
    return r.text if r.error is None else None


def run_pool(docs: list[bytes], workers: int) -> dict:
    import multiprocessing as mp

    # Pin before fork so children inherit the affinity mask — mirrors
    # the taskset pinning of the Spark levels.
    os.sched_setaffinity(0, range(workers))
    try:
        best = None
        failed = 0
        with mp.get_context("fork").Pool(workers) as pool:
            pool.map(_work, docs[:64], chunksize=4)  # warmup
            for _ in range(3):
                t0 = time.time()
                failed = sum(
                    1 for t in pool.map(_work, docs, chunksize=8)
                    if t is None)
                sec = time.time() - t0
                if best is None or sec < best:
                    best = sec
        return {
            "workers": workers,
            "docs": len(docs),
            "failed": failed,
            "sec": round(best, 2),
            "docs_per_sec": round(len(docs) / best, 2),
        }
    finally:
        os.sched_setaffinity(0, range(os.cpu_count()))


def main():
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 6000
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 8

    from scribe_js_spark.fixtures import ensure_bench_corpus

    corpus_path = ensure_bench_corpus("/tmp/scribe_bench", n_docs)
    import pyarrow.parquet as pq

    tbl = pq.read_table(corpus_path, columns=["html"])
    docs = [d.as_py() for d in tbl.column("html")]

    rn = run_pool(docs, n)
    r4n = run_pool(docs, 4 * n)
    eff = (r4n["docs_per_sec"] / rn["docs_per_sec"]) / 4
    out = {"n": rn, "n4": r4n, "efficiency": round(eff, 4),
           "pinned": True}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
