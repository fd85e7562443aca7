"""Per-document extraction driver: raw bytes -> pages -> text + spans.

Pure Python (no Spark imports) so every operator is unit-testable; the
Spark wrapper lives in ``pipeline.py``. Mirrors the reference's
document lifecycle (/root/reference/js/extractTextDir.js per-file worker:
detect -> split pages -> convert -> paragraphs -> writeText), including
the never-fatal per-document error contract
(/root/reference/scribe.js:291-293): a malformed document yields an
``error`` string, never an exception.
"""

from __future__ import annotations

import gc
import traceback
from contextlib import contextmanager

from .export.text import write_text
from .model import OcrPage
from .operators.abbyy import convert_page_abbyy
from .operators.alto import convert_page_alto
from .operators.detect import detect_document_format, split_pages
from .operators.hocr import convert_page_hocr
from .operators.plaintext import convert_doc_text
from .operators.stext import convert_page_stext

#: Page converters by format: the one dispatch for formats that split
#: into per-page strings. Custom-recognition-model analog of the
#: reference's pluggable ``convertPage`` registry
#: (recognizeConvert.js:786-817).
PAGE_CONVERTERS = {
    "hocr": convert_page_hocr,
    "abbyy": convert_page_abbyy,
    "alto": convert_page_alto,
    "stext": convert_page_stext,
}


def register_converter(fmt: str, fn) -> None:
    """Register ``fn(page_str, n) -> (OcrPage, lang_set)`` for ``fmt``.
    A built-in format name (hocr, abbyy, alto, stext) replaces the
    built-in converter."""
    PAGE_CONVERTERS[fmt] = fn


def _convert_pages(s: str, fmt: str) -> list[OcrPage]:
    if fmt == "text":
        return convert_doc_text(s)
    if fmt == "webhtml":
        from .operators.webhtml import convert_doc_webhtml
        return convert_doc_webhtml(s)
    if fmt == "textract":
        from .operators.textract import convert_doc_textract
        return convert_doc_textract(s)
    if fmt == "google_doc_ai":
        from .operators.google_docai import convert_doc_google_docai
        return convert_doc_google_docai(s)
    if fmt == "azure_doc_intel":
        from .operators.azure_docintel import convert_doc_azure_docintel
        return convert_doc_azure_docintel(s)
    if fmt == "google_vision":
        import json as _json

        from .operators.google_vision import convert_page_google_vision

        # Multi-page Vision output: one response per page, sorted by
        # context.pageNumber (importOCR.js:126-133).
        if '"responses"' in s[:500]:
            responses = sorted(
                _json.loads(s)["responses"],
                key=lambda r: (r.get("context") or {}).get("pageNumber", 0))
            pages = []
            for i, resp in enumerate(responses):
                page, _ = convert_page_google_vision(_json.dumps(resp), i)
                pages.append(page)
            return pages
        page, _ = convert_page_google_vision(s, 0)
        return [page]
    convert = PAGE_CONVERTERS.get(fmt)
    if convert is None:
        raise ValueError(f"unsupported format: {fmt}")
    return [convert(page_str, i)[0]
            for i, page_str in enumerate(split_pages(s, fmt))]


class DocResult:
    __slots__ = ("pages", "text", "fmt", "error")

    def __init__(self, pages, text, fmt, error):
        self.pages = pages
        self.text = text
        self.fmt = fmt
        self.error = error


def extract_document(data: bytes) -> DocResult:
    """bytes -> extracted reflowed text + page model; never raises."""
    try:
        if data[:2] == b"\x1f\x8b":
            # gzip-wrapped document (crawl archives commonly store the
            # fetched body compressed); transparently unwrap, then
            # detect the inner format as usual
            import gzip as _gzip

            try:
                data = _gzip.decompress(data)
            except Exception:
                return DocResult([], None, None,
                                 "parse_failure: bad gzip wrapper")
        fmt = detect_document_format(data)
        if fmt is None:
            return DocResult([], None, None, "unsupported_format")
        if fmt == "pdf":
            from .operators.pdf import parse_pdf_document
            pages = parse_pdf_document(data)
        elif fmt == "docx":
            from .operators.docx import convert_doc_docx
            pages = convert_doc_docx(data)
        elif fmt == "epub":
            from .operators.epub import convert_doc_epub
            pages = convert_doc_epub(data)
        else:
            s = data.decode("utf-8", errors="replace")
            pages = _convert_pages(s, fmt)
        # Paragraphs: formats that ship paragraph structure (abbyy, alto,
        # text) keep it; others are assigned by the reflow heuristics —
        # exactly writeText's lazy assignParagraphs (writeText.js:48).
        text = write_text(pages, reflow_text=True)
        return DocResult(pages, text, fmt, None)
    except Exception:
        tb = traceback.format_exc(limit=3)
        return DocResult([], None, None, f"parse_failure: {tb.splitlines()[-1][:200]}")


def collect_spans(pages: list[OcrPage]) -> list[dict]:
    """Flatten pages into ordered word/line span rows (FIXTURES.md §4)."""
    rows = []
    for page in pages:
        par_index = {}
        for pi, par in enumerate(page.pars):
            par_index[id(par)] = pi
        for line_n, line in enumerate(page.lines):
            par_n = par_index.get(id(line.par), -1)
            par_type = line.par.type if line.par is not None else "body"
            for word_n, word in enumerate(line.words):
                rows.append({
                    "page_n": page.n,
                    "line_n": line_n,
                    "word_n": word_n,
                    "word_id": word.id,
                    "text": word.text,
                    "left": float(word.bbox.left),
                    "top": float(word.bbox.top),
                    "right": float(word.bbox.right),
                    "bottom": float(word.bbox.bottom),
                    "conf": float(word.conf),
                    "sup": bool(word.style.sup),
                    "bold": bool(word.style.bold),
                    "italic": bool(word.style.italic),
                    "smallCaps": bool(word.style.smallCaps),
                    "dropcap": bool(word.style.dropcap),
                    "baseline_slope": float(line.baseline[0]),
                    "baseline_offset": float(line.baseline[1]),
                    "par_n": par_n,
                    "par_type": par_type,
                })
    return rows


@contextmanager
def document_gc_scope():
    """Cyclic-collector policy for one document's extraction.

    The page model is cyclic (``word.line`` <-> ``line.words``,
    ``line.par`` <-> ``par.lines``), so only the cyclic collector frees
    it, and an automatic generation-2 pass walks the whole imported heap
    as well as the model still being built. Inside the scope automatic
    collection is off, so nothing is promoted; on exit one
    young-generation pass walks what the document allocated, which
    frees its model once the caller no longer holds it, and
    ``gc.isenabled()`` is restored. Thresholds are left as they are."""
    enabled = gc.isenabled()
    gc.disable()
    try:
        yield
    finally:
        gc.collect(0)
        if enabled:
            gc.enable()


def extract_with_spans(data: bytes, with_spans: bool = True) -> dict:
    """Full extraction record for one document (pipeline row shape).
    The page model is built and dropped inside ``document_gc_scope``."""
    with document_gc_scope():
        return _extraction_record(data, with_spans)


def _extraction_record(data: bytes, with_spans: bool) -> dict:
    res = extract_document(data)
    spans = (collect_spans(res.pages)
             if (with_spans and res.error is None) else [])
    n_words = sum(
        len(line.words) for page in res.pages for line in page.lines)
    return {
        "text": res.text,
        "format": res.fmt,
        "error": res.error,
        "page_count": len(res.pages),
        "word_count": n_words if res.error is None else 0,
        "spans": spans,
    }
