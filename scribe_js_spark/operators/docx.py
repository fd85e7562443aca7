"""DOCX converter (core path of the reference's convertDocDocx,
/root/reference/js/import/convertDocDocx.js:124-730): unzip
``word/document.xml``, extract ``<w:p>`` paragraphs and their
``<w:r>/<w:t>`` run texts, then synthesize geometry with the same
Times-New-Roman layout model as plain text (one reflow paragraph per
DOCX paragraph). Numbering definitions (word/numbering.xml abstract
levels with start/numFmt/lvlText, numId indirection, and the
pStyle-linked level path through word/styles.xml) are lifted to
``par.parNum`` strings exactly as generateParNum does: per-numId level
counters, deeper levels reset on increment, ``%n`` placeholders filled
per level format, trailing period stripped. Footnotes
(word/footnotes.xml) are lifted too: reference-marker runs become
inline index words, footnote paragraphs append after the body in
first-reference order with parNum = index, and the marker word and
footnote paragraph link bidirectionally
(footnoteParId/footnoteRefId — convertDocDocx.js:495-595, 925-929).
"""

from __future__ import annotations

import io
import re
import zipfile

from ..functions.textnorm import unescape_xml
from ..model import OcrPage
from .archive import read_member
from .plaintext import convert_doc_text

_PAR_RE = re.compile(r"<w:p[ >](.*?)</w:p>", re.S)
_PAR_EMPTY_RE = re.compile(r"<w:p[^>]*/>")
_TEXT_RE = re.compile(r"<w:t[^>]*>([^<]*)</w:t>")
_TAB_RE = re.compile(r"<w:tab\s*/>")
_BR_RE = re.compile(r"<w:br\s*/>")


_ABSTRACT_RE = re.compile(
    r'<w:abstractNum\s+w:abstractNumId="([^"]+)"[^>]*>(.*?)'
    r"</w:abstractNum>", re.S)
_LVL_RE = re.compile(r'<w:lvl\s+w:ilvl="(\d+)"[^>]*>(.*?)</w:lvl>', re.S)
_START_RE = re.compile(r'<w:start\s+w:val="(\d+)"')
_NUMFMT_RE = re.compile(r'<w:numFmt\s+w:val="([^"]+)"')
_LVLTEXT_RE = re.compile(r'<w:lvlText\s+w:val="([^"]*)"')
_LVL_PSTYLE_RE = re.compile(r'<w:pStyle\s+w:val="([^"]+)"')
_NUM_RE = re.compile(
    r'<w:num\s+w:numId="([^"]+)"[^>]*>.*?'
    r'<w:abstractNumId\s+w:val="([^"]+)".*?</w:num>', re.S)
_NUMPR_RE = re.compile(r"<w:numPr>(.*?)</w:numPr>", re.S)
_ILVL_RE = re.compile(r'<w:ilvl\s+w:val="(\d+)"')
_NUMID_RE = re.compile(r'<w:numId\s+w:val="([^"]+)"')
_PSTYLE_RE = re.compile(r'<w:pStyle\s+w:val="([^"]+)"')
_STYLE_RE = re.compile(
    r'<w:style\s+[^>]*w:styleId="([^"]+)"[^>]*>(.*?)</w:style>', re.S)

_ROMAN_PAIRS = (
    ("M", 1000), ("CM", 900), ("D", 500), ("CD", 400), ("C", 100),
    ("XC", 90), ("L", 50), ("XL", 40), ("X", 10), ("IX", 9),
    ("V", 5), ("IV", 4), ("I", 1))


def _to_roman(num: int) -> str:
    out = []
    for letter, value in _ROMAN_PAIRS:
        while num >= value:
            out.append(letter)
            num -= value
    return "".join(out)


def _format_number(num: int, num_fmt: str) -> str:
    if num_fmt == "decimal":
        return str(num)
    if num_fmt == "upperLetter":
        return chr(64 + ((num - 1) % 26) + 1)
    if num_fmt == "lowerLetter":
        return chr(96 + ((num - 1) % 26) + 1)
    if num_fmt == "upperRoman":
        return _to_roman(num)
    if num_fmt == "lowerRoman":
        return _to_roman(num).lower()
    if num_fmt == "bullet":
        return "•"
    return str(num)


def parse_numbering(numbering_xml: str) -> dict:
    """Numbering definitions (convertDocDocx.js parseNumbering)."""
    abstract_nums: dict = {}
    style_to_numbering: dict = {}
    for m in _ABSTRACT_RE.finditer(numbering_xml):
        abstract_id, content = m.group(1), m.group(2)
        levels: dict = {}
        for lm in _LVL_RE.finditer(content):
            ilvl = int(lm.group(1))
            lvl = lm.group(2)
            sm = _START_RE.search(lvl)
            fm = _NUMFMT_RE.search(lvl)
            tm = _LVLTEXT_RE.search(lvl)
            pm = _LVL_PSTYLE_RE.search(lvl)
            levels[ilvl] = {
                "start": int(sm.group(1)) if sm else 1,
                "numFmt": fm.group(1) if fm else "decimal",
                "lvlText": tm.group(1) if tm else "",
                "pStyle": pm.group(1) if pm else None,
            }
            if pm:
                style_to_numbering[pm.group(1)] = {"numId": "",
                                                   "ilvl": ilvl}
        abstract_nums[abstract_id] = levels
    num_to_abstract: dict = {}
    for m in _NUM_RE.finditer(numbering_xml):
        num_id, abstract_id = m.group(1), m.group(2)
        num_to_abstract[num_id] = abstract_id
        for ilvl, level in (abstract_nums.get(abstract_id) or {}).items():
            if level["pStyle"] and level["pStyle"] in style_to_numbering:
                style_to_numbering[level["pStyle"]] = {
                    "numId": num_id, "ilvl": ilvl}
    return {"abstract_nums": abstract_nums,
            "num_to_abstract": num_to_abstract,
            "style_to_numbering": style_to_numbering}


def parse_style_numbering(styles_xml: str) -> dict:
    """styleId -> {numId, ilvl} for styles carrying their own numPr."""
    out: dict = {}
    for m in _STYLE_RE.finditer(styles_xml):
        style_id, content = m.group(1), m.group(2)
        npr = _NUMPR_RE.search(content)
        if not npr:
            continue
        nid = _NUMID_RE.search(npr.group(1))
        ilvl = _ILVL_RE.search(npr.group(1))
        if nid:
            out[style_id] = {"numId": nid.group(1),
                             "ilvl": int(ilvl.group(1)) if ilvl else 0}
    return out


def generate_par_num(num_id: str, ilvl: int, numbering: dict,
                     counters: dict) -> str | None:
    """The paragraph's formatted number (generateParNum,
    convertDocDocx.js:244-284)."""
    abstract_id = numbering["num_to_abstract"].get(num_id)
    if abstract_id is None:
        return None
    levels = numbering["abstract_nums"].get(abstract_id)
    if not levels:
        return None
    level = levels.get(ilvl)
    if not level or level["numFmt"] == "bullet":
        return None

    def start_value(i):
        return (levels.get(i, {}).get("start", 1)) - 1

    if num_id not in counters:
        counters[num_id] = [start_value(i) for i in range(10)]
    level_counters = counters[num_id]
    level_counters[ilvl] += 1
    for i in range(ilvl + 1, len(level_counters)):
        level_counters[i] = start_value(i)
    result = level["lvlText"]
    for i in range(ilvl + 1):
        lvl = levels.get(i)
        if lvl:
            result = result.replace(
                f"%{i + 1}",
                _format_number(level_counters[i], lvl["numFmt"]))
    result = re.sub(r"%\d+", "", result)
    result = re.sub(r"\.$", "", result)
    return result or None


def parse_docx_paragraphs(data: bytes) -> list[str]:
    """DOCX bytes -> ordered paragraph texts."""
    with zipfile.ZipFile(io.BytesIO(data)) as zf:
        try:
            doc_xml = read_member(zf, "word/document.xml").decode("utf-8")
        except KeyError:
            raise ValueError("No word/document.xml found in docx file")
    paragraphs = []
    for m in _PAR_RE.finditer(doc_xml):
        content = m.group(1)
        content = _TAB_RE.sub(" ", content)
        content = _BR_RE.sub(" ", content)
        text = "".join(
            unescape_xml(t) for t in _TEXT_RE.findall(content))
        text = re.sub(r"\s+", " ", text).strip()
        if text:
            paragraphs.append(text)
    return paragraphs


_RUN_RE = re.compile(r"<w:r(?:\s[^>]*)?>(.*?)</w:r>", re.S)
_FOOTNOTE_RE = re.compile(
    r'<w:footnote\s+[^>]*w:id="([^"]+)"[^>]*>(.*?)</w:footnote>', re.S)
_FOOTNOTE_REF_RE = re.compile(
    r'<w:footnoteReference\s+[^>]*w:id="([^"]+)"')
_FOOTNOTE_MARK_RE = re.compile(r"<w:footnoteRef\s*/>")


def parse_footnotes(footnotes_xml: str) -> dict[str, str]:
    """word/footnotes.xml -> {id: text}; separator footnotes (ids -1
    and 0) and <w:footnoteRef/> marker runs are skipped
    (convertDocDocx.js parseFootnotes, :398-440)."""
    out: dict[str, str] = {}
    for m in _FOOTNOTE_RE.finditer(footnotes_xml):
        fid, content = m.group(1), m.group(2)
        if fid in ("-1", "0"):
            continue
        texts = []
        for rm in _RUN_RE.finditer(content):
            rc = rm.group(1)
            if _FOOTNOTE_MARK_RE.search(rc):
                continue
            rc = _TAB_RE.sub(" ", rc)
            rc = _BR_RE.sub(" ", rc)
            texts.append(" ".join(
                unescape_xml(t) for t in _TEXT_RE.findall(rc)))
        text = re.sub(r"\s+", " ", " ".join(texts)).strip()
        if text:
            out[fid] = text
    return out


def parse_docx_paragraphs_numbered(data: bytes):
    """Per-paragraph records: {text, par_num, par_type, footnote_id,
    footnote_ref_ids}. Body paragraphs carry superscript footnote
    markers inline (the 1-based first-reference index, as its own
    word); footnote paragraphs are appended after the body in
    first-reference order with parNum = str(index)
    (convertDocDocx.js:495-595)."""
    with zipfile.ZipFile(io.BytesIO(data)) as zf:
        doc_xml = read_member(zf, "word/document.xml").decode("utf-8")
        try:
            numbering_xml = read_member(
                zf, "word/numbering.xml").decode("utf-8")
        except KeyError:
            numbering_xml = ""
        try:
            styles_xml = read_member(zf, "word/styles.xml").decode("utf-8")
        except KeyError:
            styles_xml = ""
        try:
            footnotes_xml = read_member(
                zf, "word/footnotes.xml").decode("utf-8")
        except KeyError:
            footnotes_xml = ""
    numbering = parse_numbering(numbering_xml) if numbering_xml else None
    style_nums = (parse_style_numbering(styles_xml)
                  if styles_xml else {})
    footnotes = parse_footnotes(footnotes_xml) if footnotes_xml else {}
    footnote_order: list[str] = []
    counters: dict = {}
    pars: list[dict] = []
    for m in _PAR_RE.finditer(doc_xml):
        content = m.group(1)
        pieces: list[str] = []
        ref_ids: list[str] = []
        for rm in _RUN_RE.finditer(content):
            rc = rm.group(1)
            ref = _FOOTNOTE_REF_RE.search(rc)
            if ref:
                fid = ref.group(1)
                if fid not in footnotes:
                    continue
                if fid not in footnote_order:
                    footnote_order.append(fid)
                pieces.append(str(footnote_order.index(fid) + 1))
                ref_ids.append(fid)
                continue
            rc = _TAB_RE.sub(" ", rc)
            rc = _BR_RE.sub(" ", rc)
            pieces.append(" ".join(
                unescape_xml(t) for t in _TEXT_RE.findall(rc)))
        text = re.sub(r"\s+", " ", " ".join(pieces)).strip()
        if not text:
            continue
        par_num = None
        if numbering:
            npr = _NUMPR_RE.search(content)
            num_id = ilvl = None
            if npr:
                nid = _NUMID_RE.search(npr.group(1))
                il = _ILVL_RE.search(npr.group(1))
                if nid:
                    num_id = nid.group(1)
                    ilvl = int(il.group(1)) if il else 0
            if num_id is None:
                ps = _PSTYLE_RE.search(content)
                if ps:
                    sn = (style_nums.get(ps.group(1))
                          or numbering["style_to_numbering"]
                          .get(ps.group(1)))
                    if sn and sn["numId"]:
                        num_id, ilvl = sn["numId"], sn["ilvl"]
            if num_id is not None:
                par_num = generate_par_num(
                    num_id, ilvl, numbering, counters)
        pars.append({"text": text, "par_num": par_num,
                     "par_type": "body", "footnote_id": None,
                     "footnote_ref_ids": ref_ids})
    for i, fid in enumerate(footnote_order):
        pars.append({"text": footnotes[fid],
                     "par_num": str(i + 1), "par_type": "footnote",
                     "footnote_id": fid, "footnote_ref_ids": []})
    return pars


def convert_doc_docx(data: bytes) -> list[OcrPage]:
    par_recs = parse_docx_paragraphs_numbered(data)
    pages = convert_doc_text("\n\n".join(p["text"] for p in par_recs))
    # Attach lifted numbering/types to the synthesized paragraph
    # objects (1:1 when pagination didn't split; guarded otherwise).
    all_pars = [par for page in pages for par in page.pars]
    if len(all_pars) == len(par_recs):
        marker_words: dict[str, object] = {}
        footnote_pars: dict[str, object] = {}
        for pi, (par, rec) in enumerate(zip(all_pars, par_recs)):
            if rec["par_num"] is not None:
                par.parNum = rec["par_num"]
            par.type = rec["par_type"]
            par.id = f"par_docx_{pi + 1}"
            # reference-marker words: the renderer emits markers after
            # the body text, so scan from the paragraph end and take
            # the last word matching the footnote's index string
            for fid in rec["footnote_ref_ids"]:
                marker = rec_marker(fid, par_recs)
                for line in reversed(par.lines):
                    found = next(
                        (w for w in reversed(line.words)
                         if w.text == marker), None)
                    if found is not None:
                        marker_words.setdefault(fid, found)
                        break
            if rec["footnote_id"] is not None:
                footnote_pars[rec["footnote_id"]] = par
        # bidirectional linkage (convertDocDocx.js:925-929)
        for fid, par in footnote_pars.items():
            w = marker_words.get(fid)
            if w is not None:
                par.footnoteRefId = w.id
                w.footnoteParId = par.id
    for page in pages:
        page.textSource = "docx"
    return pages


def rec_marker(fid: str, par_recs: list[dict]) -> str:
    """The marker text for a footnote id = str(1-based position of its
    footnote paragraph)."""
    for rec in par_recs:
        if rec["footnote_id"] == fid:
            return rec["par_num"] or ""
    return ""
