"""Per-thread CPU attribution of one cold ``near_dups`` sweep.

Runs the ``near_dups`` benchmark queries once over its generated
tables (``perfbench/inputs.py``), after the benchmark's warm-up, on a
fresh local session, and splits each query's CPU seconds by thread:
JIT compiler (C1/C2), executor task, GC, other JVM threads and Python
workers. The session is the benchmark's (``perfbench/box.py``, on
every core this process may use). Run on demand; it is not part of
``bench.py`` or ``bench_extra.py``. Linux only (it samples
``/proc/<pid>/task/*/stat``).

Usage: python tools/jvm_threads.py [seed]
Prints one JSON line {"textops_jvm_threads": {query: {part: s}, ...}}.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _ticks(stat_path: str, children: bool = False) -> int:
    """utime + stime (+ cutime + cstime) clock ticks of a /proc stat."""
    with open(stat_path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return sum(int(v) for v in fields[11:15 if children else 13])


def _thread_part(comm: str) -> str:
    if comm.startswith(("C1 CompilerThre", "C2 CompilerThre")):
        return "jit"
    if comm.startswith("Executor task l"):
        return "tasks"
    if comm.startswith(("GC Thread", "G1 ")):
        return "gc"
    return "jvm_other"


def _processes() -> tuple[list[int], list[int]]:
    """(JVM pids, other pids) of the processes this one started,
    transitively: the JVM and the Python workers."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            kids.setdefault(ppid, []).append(int(name))
    jvms, others, todo = [], [], list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/comm") as f:
                (jvms if f.read().strip() == "java" else others).append(pid)
        except OSError:
            continue
    return jvms, others


def _jvm_threads(jvms: list[int]) -> dict:
    """(pid, tid) -> (part, clock ticks so far) of each live JVM thread."""
    out = {}
    for pid in jvms:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    part = _thread_part(f.read())
                out[pid, tid] = (part, _ticks(f"/proc/{pid}/task/{tid}/stat"))
            except OSError:
                continue
    return out


def _tree_ticks(pids: list[int], children: bool) -> int:
    total = 0
    for pid in pids:
        try:
            total += _ticks(f"/proc/{pid}/stat", children)
        except OSError:
            continue
    return total


def cpu_split(fn, period: float = 0.05) -> dict[str, int]:
    """Run ``fn()``; the clock ticks this process tree used meanwhile,
    by part. JVM threads are sampled every ``period`` s, so one that
    exits mid-run (C1/C2 compiler threads come and go) still counts in
    its part up to its last sample; ``jvm_unsampled`` is the rest of
    the JVM's total. ``python`` is the Python workers with their reaped
    children."""
    jvms, others = _processes()
    base = _jvm_threads(jvms)
    jvm0, py0 = _tree_ticks(jvms, False), _tree_ticks(others, True)
    last = dict(base)
    stop = threading.Event()

    def poll():
        while not stop.wait(period):
            last.update(_jvm_threads(jvms))

    poller = threading.Thread(target=poll, daemon=True)
    poller.start()
    try:
        fn()
    finally:
        stop.set()
        poller.join()
    last.update(_jvm_threads(jvms))
    parts = dict.fromkeys(("jit", "tasks", "gc", "jvm_other"), 0)
    for key, (part, ticks) in last.items():
        parts[part] += ticks - base.get(key, (part, 0))[1]
    parts["jvm_unsampled"] = \
        _tree_ticks(jvms, False) - jvm0 - sum(parts.values())
    # workers forked during fn() are new processes: list them again
    parts["python"] = _tree_ticks(_processes()[1], True) - py0
    return parts


def textops_jvm_threads(spark, seed: int = 1) -> dict:
    """Per query of one cold ``near_dups`` sweep: CPU seconds by part
    (see :func:`cpu_split`) and wall seconds."""
    import tempfile

    import pyspark.sql.functions as F

    sys.path.insert(0, os.path.join(REPO, "perfbench"))
    import inputs

    from scribe_js_spark.textops.dedup import (
        exact_dups,
        jaccard_for_pairs,
        minhash_lsh_pairs,
        simhash_candidates,
    )
    from scribe_js_spark.textops.imagehash import image_near_dups
    from scribe_js_spark.textops.similarity import embedding_near_dups

    def tables(n_docs, n_vecs, seed):
        """(documents, embeddings) frames of the benchmark's shape."""
        frames = []
        for name, df in (("docs", inputs.documents(seed, n_docs)),
                         ("emb", inputs.embeddings(seed, n_vecs))):
            path = os.path.join(tmp, f"{name}_{n_docs}.parquet")
            df.to_parquet(path, index=False)
            frames.append(spark.read.parquet(path))
        return frames

    with tempfile.TemporaryDirectory() as tmp:
        media = spark.read.parquet(inputs.images(REPO)[0])
        # the benchmark's warm-up: one JVM and one Python-worker query
        exact_dups(tables(200, 100, seed + 1)[0]).toPandas()
        image_near_dups(media, max_distance=3,
                        max_bucket_size=8).toPandas()
        docs, emb = tables(inputs.DEDUP_DOCS, inputs.DEDUP_VECS, seed)
        queries = {
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
                media, max_distance=3, max_bucket_size=8),
        }
        hz = os.sysconf("SC_CLK_TCK")
        out = {}
        for q, build in queries.items():
            t0 = time.perf_counter()
            ticks = cpu_split(lambda: build().toPandas())
            out[q] = {k: round(v / hz, 2) for k, v in ticks.items()}
            out[q]["wall_s"] = round(time.perf_counter() - t0, 2)
        out["sweep"] = {k: round(sum(v[k] for v in out.values()), 2)
                        for k in out["minhash_lsh"]}
    return out


def main():
    import tempfile

    sys.path.insert(0, os.path.join(REPO, "perfbench"))
    import box

    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 1
    with tempfile.TemporaryDirectory() as scratch:
        spark = box.start_session(scratch, ui=False)
        try:
            print(json.dumps(
                {"textops_jvm_threads": textops_jvm_threads(spark, seed)}))
        finally:
            spark.stop()


if __name__ == "__main__":
    main()
