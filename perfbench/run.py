"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload ocr_mixed --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout of the repository. ``--trace 0``
prints the end-to-end metrics of BENCHMARK.json, ``--trace 1`` the
per-layer ones and writes the run's trace spans to
``.bench_out/trace-<workload>-seed<seed>.json``. Human-readable notes
come first; the last line of standard output is the JSON result. The
exit code is 0 only when every output matched its golden.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ocr_mixed", "near_dups")


def _args():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _isolate(scratch: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write under
    ``scratch``; let the workers import the program from ROOT."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    # the launcher JVM spark-submit starts before the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT, HERE]


def _run(args, scratch: str, out_dir: str) -> dict:
    import importlib

    from tracing import Tracer

    module = importlib.import_module(
        "extraction" if args.workload == "ocr_mixed" else "neardups")
    if not args.trace:
        return module.run(args.seed, args.seconds, scratch)
    tracer = Tracer()
    res = module.run_traced(args.seed, scratch, tracer)
    path = os.path.join(out_dir,
                        f"trace-{args.workload}-seed{args.seed}.json")
    tracer.write(path)
    res["notes"].append(f"{len(tracer.spans)} trace spans in {path}")
    return res


def main() -> int:
    args = _args()
    if not os.path.isfile(os.path.join(ROOT, "scribe_js_spark", "__init__.py")):
        print("perfbench: no scribe_js_spark package beside perfbench/; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    out_dir = os.path.join(ROOT, ".bench_out")
    scratch = os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    _isolate(scratch)
    import box

    try:
        res = _run(args, scratch, out_dir)
    finally:
        box.shutdown_jvm()  # also on failure: stop the JVM and its workers
        shutil.rmtree(scratch, ignore_errors=True)

    # Per-layer metrics a workload does not exercise read 0 (no such
    # work in this run); a metric the benchmark does not declare is a bug.
    unknown = set(res["metrics"]) - {m["name"] for m in declared}
    if unknown:
        raise RuntimeError(f"undeclared metrics: {sorted(unknown)}")
    if not args.trace:
        missing = {m["name"] for m in declared} - set(res["metrics"])
        if missing:
            raise RuntimeError(f"end-to-end metrics missing: {sorted(missing)}")
    metrics = {m["name"]: {"value": res["metrics"].get(m["name"], 0),
                           "unit": m["unit"]} for m in declared}
    for note in res["notes"]:
        print(f"# {note}")
    print(f"# fail_frac {res['failed'] / res['attempted']:.6f} "
          f"({res['failed']} wrong of {res['attempted']} attempted)")
    correct = res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
