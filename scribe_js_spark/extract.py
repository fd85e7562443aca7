"""Per-document extraction: stored bytes -> page model -> text + spans.

Pure Python (no Spark imports) so every operator is unit-testable; the
Spark adapters live in ``pipeline.py``. The one road from a stored
document to its page model, as in the reference's dispatcher convertOCR
(js/recognizeConvert.js:428-457, 545-642) and per-file worker
(js/extractTextDir.js): ``CONVERTERS`` is the whole format dispatch;
``extract_document`` unwraps gzip, detects, converts and folds the
text, and never raises (scribe.js:291-293: a malformed document yields
an ``error`` string); ``extracted`` is the one place a document's gc
scope is entered, and every Spark row function that extracts uses it.
"""

from __future__ import annotations

import gc
import traceback
from contextlib import contextmanager

from .export.text import write_text
from .model import OcrPage
from .operators.abbyy import convert_page_abbyy
from .operators.alto import convert_page_alto
from .operators.archive import gunzip
from .operators.azure_docintel import convert_doc_azure_docintel
from .operators.detect import detect_document_format, split_pages
from .operators.docx import convert_doc_docx
from .operators.epub import convert_doc_epub
from .operators.google_docai import convert_doc_google_docai
from .operators.google_vision import convert_doc_google_vision
from .operators.hocr import convert_page_hocr
from .operators.pdf import parse_pdf_document
from .operators.plaintext import convert_doc_text
from .operators.stext import convert_page_stext
from .operators.textract import convert_doc_textract
from .operators.webhtml import convert_doc_webhtml


def _decoded(convert):
    """A converter of the whole document string, over the bytes."""
    return lambda data: convert(data.decode("utf-8", errors="replace"))


def _paged(fmt: str, convert):
    """A page converter ``convert(page_str, n) -> (OcrPage, langs)``,
    over the pages ``split_pages`` cuts from the document string."""

    def pages(data: bytes):
        s = data.decode("utf-8", errors="replace")
        return [convert(page, i)[0]
                for i, page in enumerate(split_pages(s, fmt))]

    return pages


#: ``bytes -> list[OcrPage]`` converter of every format
#: ``detect_document_format`` returns.
CONVERTERS = {
    "pdf": parse_pdf_document,
    "docx": convert_doc_docx,
    "epub": convert_doc_epub,
    "hocr": _paged("hocr", convert_page_hocr),
    "abbyy": _paged("abbyy", convert_page_abbyy),
    "alto": _paged("alto", convert_page_alto),
    "stext": _paged("stext", convert_page_stext),
    "google_vision": _decoded(convert_doc_google_vision),
    "textract": _decoded(convert_doc_textract),
    "google_doc_ai": _decoded(convert_doc_google_docai),
    "azure_doc_intel": _decoded(convert_doc_azure_docintel),
    "webhtml": _decoded(convert_doc_webhtml),
    "text": _decoded(convert_doc_text),
}


class DocResult:
    """One document's extraction; ``data`` is the stored bytes, for
    consumers that also parse them (a PDF's outline, say)."""

    __slots__ = ("pages", "text", "fmt", "error", "data")

    def __init__(self, pages, text, fmt, error, data):
        self.pages = pages
        self.text = text
        self.fmt = fmt
        self.error = error
        self.data = data


def unwrapped(data: bytes) -> tuple[bytes, str | None]:
    """(body, format) of a stored document, gzip unwrapped first as
    crawl archives store it; a failed unwrap raises ValueError."""
    body = gunzip(data) if data[:2] == b"\x1f\x8b" else data
    return body, detect_document_format(body)


def extract_document(data: bytes) -> DocResult:
    """bytes -> extracted reflowed text + page model; never raises,
    not even on a NULL cell (``None``)."""
    try:
        data = bytes(data)
        body, fmt = unwrapped(data)
        if fmt is None:
            return DocResult([], None, None, "unsupported_format", data)
        pages = CONVERTERS[fmt](body)
        # Paragraphs: formats that ship paragraph structure (abbyy, alto,
        # text) keep it; others are assigned by the reflow heuristics —
        # exactly writeText's lazy assignParagraphs (writeText.js:48).
        text = write_text(pages, reflow_text=True)
        return DocResult(pages, text, fmt, None, data)
    except Exception:
        tb = traceback.format_exc(limit=3).splitlines()[-1][:200]
        return DocResult([], None, None, f"parse_failure: {tb}", data)


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


#: Open ``document_gc_scope``s: a nested one (a consumer re-extracting
#: what it wrote) leaves the collection to the outermost.
_open_scopes = 0


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
    global _open_scopes
    enabled = gc.isenabled()
    gc.disable()
    _open_scopes += 1
    try:
        yield
    finally:
        _open_scopes -= 1
        if not _open_scopes:
            gc.collect(0)
        if enabled:
            gc.enable()


@contextmanager
def extracted(*blobs):
    """Yield the ``DocResult`` of each blob, in order, inside
    ``document_gc_scope``: the extractions, and whatever the caller
    builds from their page models, are cyclic garbage of this one
    document, and the scope's exit frees them. On exit each result lets
    go of its page model (``pages`` becomes empty), so a caller must be
    done with the pages, and materialise what it derives from them,
    before the block ends."""
    with document_gc_scope():
        results = [extract_document(b) for b in blobs]
        try:
            yield results
        finally:
            for res in results:
                res.pages = []


def extract_with_spans(data: bytes, with_spans: bool = True) -> dict:
    """Full extraction record for one document (pipeline row shape)."""
    with extracted(data) as (res,):
        ok = res.error is None
        return {
            "text": res.text,
            "format": res.fmt,
            "error": res.error,
            "page_count": len(res.pages),
            "word_count": sum(len(line.words) for page in res.pages
                              for line in page.lines) if ok else 0,
            "spans": collect_spans(res.pages) if with_spans and ok else [],
        }
