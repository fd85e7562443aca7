"""ocr_mixed workload: the text extraction job over the mixed OCR corpus.

End to end, each job is the user-facing ``pipeline.run_extraction_job``
(read -> extract -> commit output -> ``extraction_metrics`` sidecar),
timed from outside and checked per url against the goldens.

The traced run adds a single-process pass that calls the layers one by
one (detect -> convert -> write_text, then collect_spans) under trace
spans, and a composition guard: the chained text must equal
``extract.extract_document(data).text`` for every document. The
converter dispatch below mirrors ``extract._convert_pages`` for the
formats the corpus holds; the guard fails the run if the two drift
apart. The pass also runs a few web pages the job does not, so the
webhtml converter is measured as well. The job is text-only, so
collect_spans runs outside the per-document span that mirrors the job's
work; its rows are checked against the generator's document model
(``inputs.span_goldens``).
"""

from __future__ import annotations

import gzip
import json
import os
import shutil
import statistics
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq

import box
import inputs
from scribe_js_spark.export.text import write_text
from scribe_js_spark.extract import collect_spans, extract_document
from scribe_js_spark.operators.abbyy import convert_page_abbyy
from scribe_js_spark.operators.alto import convert_page_alto
from scribe_js_spark.operators.azure_docintel import convert_doc_azure_docintel
from scribe_js_spark.operators.detect import detect_document_format, split_pages
from scribe_js_spark.operators.docx import convert_doc_docx
from scribe_js_spark.operators.google_docai import convert_doc_google_docai
from scribe_js_spark.operators.google_vision import convert_page_google_vision
from scribe_js_spark.operators.hocr import convert_page_hocr
from scribe_js_spark.operators.pdf import parse_pdf_document
from scribe_js_spark.operators.plaintext import convert_doc_text
from scribe_js_spark.operators.stext import convert_page_stext
from scribe_js_spark.operators.textract import convert_doc_textract
from scribe_js_spark.operators.webhtml import convert_doc_webhtml
from scribe_js_spark.pipeline import run_extraction_job

SETUPS = 3
ERROR_CODES = ("parse_failure", "unsupported_format")

BYTES_CONVERTERS = {"pdf": parse_pdf_document, "docx": convert_doc_docx}
DOC_CONVERTERS = {
    "text": convert_doc_text,
    "webhtml": convert_doc_webhtml,
    "textract": convert_doc_textract,
    "google_doc_ai": convert_doc_google_docai,
    "azure_doc_intel": convert_doc_azure_docintel,
}
PAGE_CONVERTERS = {
    "hocr": convert_page_hocr,
    "abbyy": convert_page_abbyy,
    "alto": convert_page_alto,
    "stext": convert_page_stext,
}
#: Every format the traced pass holds; each gets its per-layer metrics.
FORMATS = (*BYTES_CONVERTERS, *DOC_CONVERTERS, "google_vision",
           *PAGE_CONVERTERS)


def _convert(data: bytes, fmt: str, tracer, url: str) -> list:
    if fmt in BYTES_CONVERTERS:
        return BYTES_CONVERTERS[fmt](data)
    s = data.decode("utf-8", errors="replace")
    if fmt in DOC_CONVERTERS:
        return DOC_CONVERTERS[fmt](s)
    if fmt == "google_vision":
        if '"responses"' not in s[:500]:
            return [convert_page_google_vision(s, 0)[0]]
        responses = sorted(
            json.loads(s)["responses"],
            key=lambda r: (r.get("context") or {}).get("pageNumber", 0))
        return [convert_page_google_vision(json.dumps(r), i)[0]
                for i, r in enumerate(responses)]
    with tracer.span("split_pages", url):
        page_strs = split_pages(s, fmt)
    conv = PAGE_CONVERTERS[fmt]
    return [conv(p, i)[0] for i, p in enumerate(page_strs)]


def _chained(data: bytes, url: str, tracer):
    """detect -> convert -> write_text under one "doc" span, one child
    span per layer call. Returns (fmt, pages, text)."""
    fmt = None
    try:
        with tracer.span("doc", url):
            with tracer.span("detect", url):
                if data[:2] == b"\x1f\x8b":
                    data = gzip.decompress(data)
                fmt = detect_document_format(data)
            if fmt is None:
                return None, None, None
            with tracer.span(f"convert.{fmt}", url):
                pages = _convert(data, fmt, tracer, url)
            with tracer.span("write_text", url):
                text = write_text(pages, reflow_text=True)
            return fmt, pages, text
    except Exception:  # noqa: BLE001 -- mirrors the never-fatal contract
        return fmt, None, None


def _reference(data: bytes):
    """The job's per-document work, untraced: (seconds, text, error)."""
    t0 = time.perf_counter()
    res = extract_document(data)
    return time.perf_counter() - t0, res.text, res.error


def _spans_ok(rows: list[dict], golden: tuple | None) -> bool:
    """As many span rows as the golden model has words, and equal to the
    golden rows where those are known (``inputs.span_goldens``)."""
    if golden is None:
        return True
    n_words, spans = golden
    return len(rows) == n_words and (spans is None or rows == spans)


def _traced(data: bytes, url: str, golden: tuple | None, tracer):
    """The chained calls, then collect_spans under its own top-level
    span and the spans check: (fmt, text, span rows, spans ok)."""
    fmt, pages, text = _chained(data, url, tracer)
    if pages is None:
        return fmt, text, 0, True
    with tracer.span("spans", url):
        rows = collect_spans(pages)
    return fmt, text, len(rows), _spans_ok(rows, golden)


def layer_pass(rows: list[dict], span_gold: dict, tracer) -> dict:
    """Single-process pass: chained layer calls under trace spans, the
    composition guard, the golden text and spans checks, and the
    untraced reference (seconds per url, for the tracing overhead and
    ``pipeline.python_frac``). Reference and chain take turns going
    first and keep no page model alive while the other runs, so neither
    pays for the other's caches or heap."""
    ref_s, guard_miss, text_miss, span_miss, docs = {}, [], [], [], []
    errors = dict.fromkeys(ERROR_CODES + ("other",), 0)
    for i, r in enumerate(rows):
        url, data = r["url"], r["html"]
        if i % 2:
            dt, ref_text, err = _reference(data)
        first = len(tracer.spans)
        fmt, text, n_spans, spans_ok = _traced(
            data, url, span_gold.get(url), tracer)
        if not i % 2:
            dt, ref_text, err = _reference(data)
        ref_s[url] = dt
        if text != ref_text:
            guard_miss.append(url)
        if r["text"] is not None and text != r["text"]:
            text_miss.append(url)
        if not spans_ok:
            span_miss.append(url)
        if err is not None:
            code = err.split(":", 1)[0]
            errors[code if code in errors else "other"] += 1
        docs.append((url, fmt, len(data), n_spans, first, dt))
    m, notes = _layer_metrics(docs, tracer.spans)
    for code, k in errors.items():
        m[f"errors.{code}"] = k
    for what, miss in (("composition guard", guard_miss),
                       ("golden text", text_miss),
                       ("span rows", span_miss)):
        if miss:
            notes.append(f"{what}: {len(miss)} mismatches, first {miss[:3]}")
    return {"metrics": m, "ref_s": ref_s, "notes": notes,
            "failed": len(set(guard_miss + text_miss + span_miss))}


def _layer_metrics(docs: list[tuple], spans: list):
    by_fmt = {f: [0, 0, 0.0] for f in FORMATS}  # docs, bytes, convert s
    stage = {"detect": 0.0, "write_text": 0.0, "spans": 0.0}
    span_rows, doc_ms, slowest = 0, [], (0.0, None, None)
    overhead = []
    for url, fmt, nbytes, n_spans, first, ref in docs:
        total = spans[first][2] - spans[first][1]
        doc_ms.append(total * 1e3)
        overhead.append((total - ref) / ref)
        span_rows += n_spans
        worst = ("doc", 0.0)
        for name, t0, t1, parent, tid in spans[first + 1:]:
            if tid != url:
                break
            if name == "spans":
                stage["spans"] += t1 - t0
                continue
            if parent != first:
                continue
            if name.startswith("convert."):
                by_fmt[fmt][2] += t1 - t0
            else:
                stage[name] += t1 - t0
            if t1 - t0 > worst[1]:
                worst = (name, t1 - t0)
        if fmt is not None:
            by_fmt[fmt][0] += 1
            by_fmt[fmt][1] += nbytes
        if total > slowest[0]:
            slowest = (total, url, worst[0])
    n = len(docs)
    traced_s = sum(doc_ms) / 1e3
    m = {
        "detect.ms_per_doc": stage["detect"] * 1e3 / n,
        "write_text.ms_per_doc": stage["write_text"] * 1e3 / n,
        "spans.ms_per_doc": stage["spans"] * 1e3 / n,
        "spans.rows": span_rows,
        "convert.share": sum(v[2] for v in by_fmt.values()) / traced_s,
        "doc.p50_ms": statistics.median(doc_ms),
        "doc.p99_ms": statistics.quantiles(doc_ms, n=100)[98],
        "doc.max_ms": max(doc_ms),
        "trace.overhead_frac": statistics.median(overhead),
    }
    for f, (d, b, s) in by_fmt.items():
        m[f"docs.{f}"] = d
        m[f"bytes.{f}"] = b
        m[f"convert.{f}.s"] = s
        m[f"convert.{f}.s_per_mb"] = s / (b / 1e6) if b else 0.0
    notes = [f"slowest document: {slowest[1]} "
             f"({slowest[0] * 1e3:.0f} ms, stalled in {slowest[2]})"]
    return m, notes


def check_output(rows: list[dict], out_dir: str) -> list[str]:
    """Urls with a wrong outcome in one committed job output: missing,
    repeated or unexpected; golden text not byte-identical; an error
    row where a golden text exists; a corrupt input without one."""
    t = pq.read_table(out_dir, columns=["url", "text", "error"])
    urls = t.column("url").to_pylist()
    got = dict(zip(urls, zip(t.column("text").to_pylist(),
                             t.column("error").to_pylist())))
    want = {r["url"]: r["text"] for r in rows}
    wrong = [u for u, k in Counter(urls).items() if k > 1]
    wrong += [u for u in got if u not in want]
    for url, text in want.items():
        if url not in got:
            wrong.append(url)
        elif text is None:
            if got[url][1] is None:
                wrong.append(url)
        elif got[url] != (text, None):
            wrong.append(url)
    return wrong


def _job(spark, corpus: str, out: str, run_id: str):
    t0 = time.perf_counter()
    m = run_extraction_job(spark, corpus, out, run_id=run_id)
    return time.perf_counter() - t0, m


def _discard(out: str) -> None:
    """Delete a job's committed output and its metrics sidecar."""
    shutil.rmtree(out)
    shutil.rmtree(out + "_metrics")


def _warm_up(spark, scratch: str, warm: str, i: int) -> None:
    """One job over one small file per core, so every Python worker
    starts and the commit path has run once."""
    out = os.path.join(scratch, f"warm{i}")
    run_extraction_job(spark, warm, out, run_id=f"warm{i}")
    _discard(out)


def _prepare(seed: int, scratch: str):
    t0 = time.perf_counter()
    rows = inputs.ocr_rows(seed)
    corpus = os.path.join(scratch, "corpus.parquet")
    inputs.write_corpus(rows, corpus)
    warm = os.path.join(scratch, "warm")
    inputs.write_warmup(rows, warm, box.cores())
    return rows, corpus, warm, time.perf_counter() - t0


def run(seed: int, seconds: float, scratch: str) -> dict:
    with ThreadPoolExecutor(1) as pool:
        prepared = pool.submit(_prepare, seed, scratch)
        setups, spark = box.setups(
            scratch, SETUPS, prepared,
            lambda spark, p, i: _warm_up(spark, scratch, p[2], i))
    rows, corpus, _, gen_s = prepared.result()
    jobs, timed, wrong = [], 0.0, []
    while timed < seconds or not jobs:
        out = os.path.join(scratch, f"job{len(jobs)}")
        _, wall, cpu, steal = box.measured(
            lambda: _job(spark, corpus, out, f"job{len(jobs)}"))
        timed += wall
        jobs.append((wall, cpu, steal))
        wrong += check_output(rows, out)
        _discard(out)
    rss = box.worker_peak_rss_mb()
    notes = [f"{len(jobs)} jobs of {len(rows)} documents"]
    notes += box.sample_notes("job", jobs)
    notes += box.sample_notes("setup", setups)
    notes.append(f"input generation {gen_s:.2f} s, beside the JVM launch")
    if wrong:
        notes.append(f"wrong outcomes: {len(wrong)}, first {wrong[:3]}")
    return {
        "attempted": len(rows) * len(jobs), "failed": len(wrong),
        "notes": notes,
        "metrics": {
            # the session's first job, the one a user's job runs after
            # set-up; later jobs only add correctness checks
            "docs_per_cpu_s": len(rows) / jobs[0][1],
            "setup_s": statistics.median(s[1] for s in setups),
            "worker_peak_rss_mb": rss,
        },
    }


def run_traced(seed: int, scratch: str, tracer) -> dict:
    rows, corpus, warm, _ = _prepare(seed, scratch)
    web = inputs.web_pages(seed, inputs.WEB_PAGES)
    layers = layer_pass(rows + web, inputs.span_goldens(rows, seed), tracer)
    with tracer.span("setup", "ocr_mixed"):
        spark = box.start_session(scratch, ui=True)
        _warm_up(spark, scratch, warm, 0)
    sc = spark.sparkContext
    sc.setJobGroup("job", "extraction job")
    out = os.path.join(scratch, "job")
    with tracer.span("job", "ocr_mixed"):
        wall, m = _job(spark, corpus, out, "job")
    sc.setJobGroup("check", "benchmark bookkeeping")
    stages = box.Rest(sc).group(["job"])
    wrong = check_output(rows, out)
    metrics = layers["metrics"]
    metrics.update({
        "pipeline.docs_per_s": len(rows) / wall,
        "pipeline.tasks": stages["tasks"],
        "pipeline.task_s.p50": stages["task_s.p50"],
        "pipeline.task_s.max": stages["task_s.max"],
        "pipeline.busy_frac": stages["run_s"] / (wall * box.cores()),
        "pipeline.python_frac": (sum(layers["ref_s"][r["url"]] for r in rows)
                                 / stages["run_s"]),
        "pipeline.output_mb": stages["output_mb"],
        "pipeline.gc_s": stages["gc_s"],
        "pipeline.sidecar_s": wall - m["elapsed_sec"],
    })
    notes = layers["notes"]
    if wrong:
        notes.append(f"wrong outcomes: {len(wrong)}, first {wrong[:3]}")
    return {"attempted": 2 * len(rows) + len(web),
            "failed": len(wrong) + layers["failed"],
            "metrics": metrics, "notes": notes}
