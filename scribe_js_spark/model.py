"""Hierarchical per-page text model.

Mirrors the reference data model (OcrPage/OcrPar/OcrLine/OcrWord/OcrChar,
/root/reference/js/objects/ocrObjects.js:11-230) with two deliberate
departures for a distributed engine:

- **Deterministic ids.** The reference assigns random 8-alnum ids
  (ocrObjects.js:81) but falls back to positional ``word_{page+1}_{line+1}_{word+1}``
  ids whenever input lacks them (convertPageHocr.js:170, convertPageAbbyy.js:386).
  We always use the positional scheme — determinism is required for
  byte-identical replay across cluster runs.
- **No circular backrefs in serialized form.** ``word.line`` / ``line.page``
  exist in-memory for the converters (as in the reference) but rows written
  to Spark carry keys ``(url, page_n, line_n, word_n)`` instead, mirroring
  removeCircularRefsOcr (ocrObjects.js:1033).

Those backrefs (``word.line`` <-> ``line.words``, ``line.par`` <->
``par.lines``, ``line.page`` <-> ``page.lines``) make a document's model
cyclic, so reference counting never frees it. In every Spark row
function it is released at the end of each document: the row function
extracts through ``extract.extracted`` (directly or through
``pipeline.per_extracted``), which builds the model, and runs the
consumer, inside ``extract.document_gc_scope``; the scope's exit runs
one young-generation collection over what the document allocated. A
model returned by ``extract_document`` outside that scope lives until
the cyclic collector finds it.
"""

from __future__ import annotations

from typing import Optional


class Bbox:
    __slots__ = ("left", "top", "right", "bottom")

    def __init__(self, left: float, top: float, right: float, bottom: float):
        self.left = left
        self.top = top
        self.right = right
        self.bottom = bottom

    def copy(self) -> "Bbox":
        return Bbox(self.left, self.top, self.right, self.bottom)

    def __repr__(self):  # pragma: no cover - debug aid
        return f"Bbox({self.left}, {self.top}, {self.right}, {self.bottom})"

    def __eq__(self, other):
        return (
            isinstance(other, Bbox)
            and self.left == other.left
            and self.top == other.top
            and self.right == other.right
            and self.bottom == other.bottom
        )


def bbox_union(boxes) -> Bbox:
    """Union of bboxes (reference calcBboxUnion, miscUtils.js:15)."""
    return Bbox(
        min(b.left for b in boxes),
        min(b.top for b in boxes),
        max(b.right for b in boxes),
        max(b.bottom for b in boxes),
    )


class Style:
    """Word style (reference Style struct, ocrObjects.js:167-178)."""

    __slots__ = (
        "font", "size", "bold", "italic", "underline", "smallCaps",
        "sup", "dropcap", "color", "opacity", "link",
    )

    def __init__(self):
        self.font: Optional[str] = None
        self.size: Optional[float] = None
        self.bold = False
        self.italic = False
        self.underline = False
        self.smallCaps = False
        self.sup = False
        self.dropcap = False
        self.color = "#000000"
        self.opacity = 1.0
        # URI of the /Link annotation the word sits under
        # (parsePdfDoc.js:1055-1063)
        self.link: Optional[str] = None


class OcrChar:
    __slots__ = ("text", "bbox")

    def __init__(self, text: str, bbox: Bbox):
        self.text = text
        self.bbox = bbox


class OcrWord:
    __slots__ = (
        "text", "style", "lang", "conf", "bbox", "id", "line", "chars",
        "visualCoords", "lineNum", "textAlt", "styleRuns",
        "renderMode", "strokeWidth", "mcid", "footnoteParId",
    )

    def __init__(self, line: "OcrLine", wid: str, text: str, bbox: Bbox):
        self.text = text
        self.style = Style()
        self.lang = "eng"
        self.conf = 0.0
        self.bbox = bbox
        self.id = wid
        self.line = line
        self.chars: Optional[list[OcrChar]] = None
        self.visualCoords = True
        self.lineNum = False
        # Top raw-classifier choice when the engine applied a dictionary
        # correction (Tesseract Legacy textAlt; compareOCRModule.js:858)
        self.textAlt: Optional[str] = None
        # Per-char style deltas within the word:
        # [{'i': offset, 'style': {...}}] (parsePdfDoc.js:3223-3242)
        self.styleRuns: Optional[list] = None
        # Faux-bold state (text render modes 1/2 stroke the outlines;
        # the reference keeps these on its NativeTextWord entry,
        # parsePdfDoc.js:3092-3096)
        self.renderMode = 0
        self.strokeWidth = 0.0
        # marked-content id of the word's chars (tagged PDFs; the
        # reference's per-word signal map, parsePdfDoc.js:3073-3079)
        self.mcid = None
        # footnote linkage: the id of the footnote paragraph this
        # reference-marker word points at (convertDocDocx.js:928)
        self.footnoteParId = None

    def clone(self) -> "OcrWord":
        w = OcrWord(self.line, self.id, self.text, self.bbox.copy())
        for attr in Style.__slots__:
            setattr(w.style, attr, getattr(self.style, attr))
        w.lang = self.lang
        w.conf = self.conf
        w.visualCoords = self.visualCoords
        w.lineNum = self.lineNum
        w.textAlt = self.textAlt
        w.styleRuns = ([dict(r) for r in self.styleRuns]
                       if self.styleRuns else None)
        w.renderMode = self.renderMode
        w.strokeWidth = self.strokeWidth
        w.mcid = self.mcid
        w.footnoteParId = self.footnoteParId
        if self.chars is not None:
            w.chars = [OcrChar(c.text, c.bbox.copy()) for c in self.chars]
        return w


class OcrLine:
    __slots__ = (
        "bbox", "baseline", "ascHeight", "xHeight", "words", "page", "par",
        "orientation",
    )

    def __init__(self, page: "OcrPage", bbox: Bbox, baseline: list,
                 asc_height: Optional[float] = None,
                 x_height: Optional[float] = None):
        self.bbox = bbox
        self.baseline = list(baseline)  # [slope, offset-from-bbox-bottom]
        self.ascHeight = asc_height
        self.xHeight = x_height
        self.words: list[OcrWord] = []
        self.page = page
        self.par: Optional["OcrPar"] = None
        self.orientation = 0


class OcrPar:
    """Paragraph (reference OcrPar, ocrObjects.js:72-104)."""

    __slots__ = ("page", "bbox", "lines", "reason", "type", "parNum",
                 "id", "footnoteRefId")

    def __init__(self, page: "OcrPage", bbox: Bbox):
        self.page = page
        self.bbox = bbox
        self.lines: list[OcrLine] = []
        self.reason = ""
        self.type = "body"
        self.parNum: Optional[str] = None
        self.id: Optional[str] = None
        # footnote linkage: id of the in-body reference-marker word
        # (convertDocDocx.js:927)
        self.footnoteRefId: Optional[str] = None


class OcrPage:
    __slots__ = ("n", "dims", "angle", "pars", "lines", "textSource",
                 "rules", "tables")

    def __init__(self, n: int, dims: dict):
        self.n = n
        self.dims = dims  # {'width': w, 'height': h}
        self.angle = 0.0
        self.pars: list[OcrPar] = []
        self.lines: list[OcrLine] = []
        self.textSource: Optional[str] = None
        # Thin horizontal drawn rules (PDF paths not consumed as text
        # underlines): [{'y', 'left', 'right'}] — paragraph separators
        # for layout analysis (parsePdfDoc.js:1013)
        self.rules: list[dict] = []
        # PDF-side detected table regions: [{'bbox', 'col_separators',
        # 'method'}] (detectPdfTables minimal core)
        self.tables: list[dict] = []


def update_line_bbox(line: OcrLine, adjust_baseline: bool = True) -> None:
    """Recompute line bbox as union of word boxes (reference
    updateLineBbox, ocrObjects.js:609-617)."""
    if not line.words:
        return
    orig_bottom = line.bbox.bottom
    line.bbox = bbox_union([w.bbox for w in line.words])
    if adjust_baseline:
        line.baseline[1] += orig_bottom - line.bbox.bottom


def calc_word_bbox(word: OcrWord) -> None:
    """Recompute word bbox from char boxes (reference calcWordBbox,
    ocrObjects.js:623-629)."""
    if not word.chars:
        return
    word.bbox = bbox_union([c.bbox for c in word.chars])


def get_line_text(line: OcrLine) -> str:
    """Words joined by ' ' (reference getLineText, ocrObjects.js:402)."""
    return " ".join(w.text for w in line.words)


def get_page_text(page: OcrPage) -> str:
    """Lines joined by newline (reference getPageText, ocrObjects.js:471)."""
    return "\n".join(get_line_text(line) for line in page.lines)
