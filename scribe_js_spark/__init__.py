"""scribe_js_spark — a PySpark-native document text-extraction engine.

A from-scratch rebuild of the data-processing capabilities of
scribeocr/scribe.js (reference at /root/reference) on Apache Spark:

- per-document parsing of OCR dialects (hOCR, ABBYY XML, ALTO, stext,
  plain text) and PDF text layers into one hierarchical
  page -> paragraph -> line -> word -> char model,
- shared normalization passes (smart quotes, dash widths, ligatures,
  line metrics, page angle),
- paragraph assignment (reading-order heuristics),
- multi-layer OCR comparison / consensus,
- deterministic text + span exports,

all executed as vectorized Arrow UDFs over a DataFrame of
Common-Crawl-style rows ``(url, warc_ts, html, text, lang)``, with
explicit salting for skewed document sizes, per-partition
checkpoint/resume, and extraction metrics.

The heavy per-document operators are pure-Python functions (unit
testable without Spark); ``pipeline.per_document`` maps them over a
DataFrame through ``pipeline.per_batch``, the one Python map.
Parallelism is across documents, matching the reference's worker-pool
design (/root/reference/js/extractTextDir.js).
"""

__version__ = "0.1.0"
