"""Input format sniffing and multi-page splitting.

Mirrors /root/reference/js/import/importOCR.js:5-79 (detectOcrFormat,
splitHOCRStr, per-format page splitting at :138-161) plus PDF magic-byte
detection (the reference routes PDFs by extension in import.js:77-142;
we sniff ``%PDF`` since our input is a bytes column with no filename).
"""

from __future__ import annotations

import re

_ALTO_RE = re.compile(r"<alto[\s>]", re.I)
_ALTO_NS_RE = re.compile(r'xmlns="http://www\.loc\.gov/standards/alto', re.I)
_NODE2_RE = re.compile(r">([^>]+)")
_OCR_PAGE_RE = re.compile(r"class=['\"]ocr_page['\"]", re.I)
_XML_DECL_RE = re.compile(r"<\?xml version", re.I)
_HTML_DOC_RE = re.compile(r"<!doctype\s+html|<html[\s>]", re.I)


def detect_ocr_format(ocr_str: str, ext: str | None = None) -> str | None:
    """Sniff the OCR dialect of a document string
    (importOCR.js:17-79, same precedence order)."""
    if ext:
        ext = ext.lstrip(".").lower()
        if ext == "hocr":
            return "hocr"
        if ext == "stext":
            return "stext"

    if _ALTO_RE.search(ocr_str) and _ALTO_NS_RE.search(ocr_str):
        return "alto"

    m = _NODE2_RE.search(ocr_str[:500])
    node2 = m.group(1) if m else None

    if node2 and re.search(r"abbyy", node2, re.I):
        return "abbyy"
    if node2 and re.search(r"<document name", node2):
        return "stext"
    if not node2 and '"DetectDocumentTextModelVersion"' in ocr_str:
        return "textract"
    if not node2 and '"AnalyzeDocumentModelVersion"' in ocr_str:
        return "textract"
    if not node2 and re.search(r'"pages"', ocr_str, re.I) and re.search(
            r'"fullTextAnnotation"', ocr_str, re.I):
        return "google_vision"
    if not node2 and re.search(r'"pages"', ocr_str, re.I) and re.search(
            r'"textAnchor"', ocr_str, re.I) and re.search(r'"tokens"', ocr_str, re.I):
        return "google_doc_ai"
    if (re.search(r'"createdDateTime"', ocr_str, re.I)
            and re.search(r'"analyzeResult"', ocr_str, re.I)
            and re.search(r'"modelId"', ocr_str, re.I)):
        return "azure_doc_intel"
    if (node2 and _OCR_PAGE_RE.search(ocr_str)) or _XML_DECL_RE.search(ocr_str):
        return "hocr"
    if ext == "txt":
        return "text"
    if ext == "docx":
        return "docx"
    return None


def detect_document_format(data: bytes) -> str | None:
    """Full-document sniff over raw bytes: PDF magic first, then text
    dialect detection; plain text as the fallback for decodable input."""
    if data[:5] == b"%PDF-" or b"%PDF-" in data[:1024]:
        return "pdf"
    if data[:2] == b"PK" and b"word/document.xml" in data:
        return "docx"
    if data[:2] == b"PK" and (
            b"mimetypeapplication/epub+zip" in data[:256]
            or b"META-INF/container.xml" in data):
        return "epub"
    try:
        s = data.decode("utf-8")
    except UnicodeDecodeError:
        try:
            s = data.decode("latin-1")
        except Exception:
            return None
    fmt = detect_ocr_format(s)
    if fmt:
        return fmt
    # Raw web HTML (no hOCR page markers, no XML declaration): the
    # Common-Crawl-style main-content extraction path.
    if _HTML_DOC_RE.search(s[:2048]):
        return "webhtml"
    if s.strip():
        # Plain-text fallback only for predominantly printable content;
        # binary garbage must surface as a parse failure, not silently
        # extract as text.
        sample = s[:4096]
        n_ctrl = sum(
            1 for ch in sample if ord(ch) < 32 and ch not in "\t\n\r")
        if n_ctrl <= len(sample) * 0.05:
            return "text"
    return None


_BODY_START_RE = re.compile(r"[\s\S]*?<body>")
_BODY_END_RE = re.compile(r"</body>[\s\S]*$")
_HOCR_PAGE_SPLIT_RE = re.compile(r"(?=<div class=['\"]ocr_page['\"])")
_STYLES_RE = re.compile(r"<Styles>[\s\S]*?</Styles>", re.I)


def split_hocr_str(hocr_all: str) -> list[str]:
    """Split a multi-page hOCR blob into per-page strings
    (importOCR.js:5-9)."""
    s = _BODY_START_RE.sub("", hocr_all, count=1)
    s = _BODY_END_RE.sub("", s, count=1)
    s = s.strip()
    # Python re.split emits a leading '' when the lookahead matches at
    # position 0; JS String.split does not — drop it for parity.
    parts = _HOCR_PAGE_SPLIT_RE.split(s)
    if parts and parts[0] == "":
        parts = parts[1:]
    return parts


_PAGE_RE = re.compile(r"<page")
_ALTO_PAGE_RE = re.compile(r"<Page\s")


def _split_before(pattern: re.Pattern, s: str) -> list[str]:
    """``re.split("(?=pattern)", s)[1:]``: the pieces starting at each
    (non-overlapping) match. A literal-led pattern finds its matches by
    fast search, where a split on a bare lookahead tests every
    position."""
    starts = [m.start() for m in pattern.finditer(s)]
    return [s[a:b] for a, b in zip(starts, starts[1:] + [len(s)])]


def split_pages(ocr_str: str, fmt: str) -> list[str]:
    """Split a document string into per-page strings per format
    (importOCR.js:138-161)."""
    if fmt == "hocr":
        return split_hocr_str(ocr_str)
    if fmt == "alto":
        styles = _STYLES_RE.search(ocr_str)
        styles_section = styles.group(0) if styles else ""
        return [styles_section + p
                for p in _split_before(_ALTO_PAGE_RE, ocr_str)]
    if fmt in ("abbyy", "stext"):
        return _split_before(_PAGE_RE, ocr_str)
    # textract / google_vision / azure / text / docx: whole document
    return [ocr_str]
