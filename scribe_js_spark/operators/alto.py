"""ALTO XML page converter.

Semantics of /root/reference/js/import/convertPageAlto.js:25-255:
``<Page>`` dims, ``<TextBlock>`` -> paragraph, ``<TextLine>`` ->
line, ``<String CONTENT HPOS VPOS WIDTH HEIGHT WC STYLE STYLEREFS>`` ->
word; baseline offset from the median bottom of descender-free words,
xHeight from words made only of x-height chars; ``<Styles>`` font lookup;
then shared pass2 + pass3.
"""

from __future__ import annotations

import math
import re
from operator import itemgetter

from ..functions.textnorm import ASC_CHARS, DESC_CHARS, X_CHARS, unescape_xml
from ..model import Bbox, OcrLine, OcrPage, OcrPar, OcrWord, bbox_union
from .shared import pass2, pass3

# Element bodies up to the first closing tag. Same matches as the lazy
# ``([\s\S]*?)</TextLine>``, unrolled so the body is consumed a run of
# non-"<" chars at a time instead of testing for the closing tag at
# every position.
_TEXTLINE_RE = re.compile(
    r"<TextLine[^>]*>([^<]*(?:<(?!/TextLine>)[^<]*)*)</TextLine>", re.I)
_TEXTBLOCK_RE = re.compile(
    r"<TextBlock[^>]*>([^<]*(?:<(?!/TextBlock>)[^<]*)*)</TextBlock>", re.I)
_STRING_RE = re.compile(r"<(?:String)\s+[^>]+/?>", re.I)


_ATTR_RES: dict = {}
_STYLE_WORD_RES = {
    "bold": re.compile("bold", re.I),
    "italic": re.compile("italic", re.I),
    "underline": re.compile("underline", re.I),
    "superscript": re.compile("superscript", re.I),
    "smallcaps": re.compile("smallcaps", re.I),
}
_TEXTLINE_TAG_RE = re.compile(r"<TextLine[^>]+>", re.I)
_TEXTBLOCK_TAG_RE = re.compile(r"<TextBlock[^>]+>", re.I)


def _get_attr(elem: str, name: str) -> str | None:
    pat = _ATTR_RES.get(name)
    if pat is None:
        pat = _ATTR_RES[name] = re.compile(
            rf"{name}=[\"']([^\"']+)[\"']", re.I)
    m = pat.search(elem)
    return m.group(1) if m else None


_ATTR_TOKEN_RE = re.compile(r"([^\s\"'=<>/]+)=[\"']([^\"']*)[\"']")
_NO_VALUE = ("",)
_WORD_KEYS = ("CONTENT", "HPOS", "VPOS", "HEIGHT", "WIDTH", "WC", "STYLE",
              "STYLEREFS")
_LINE_KEYS = ("HPOS", "VPOS", "HEIGHT", "WIDTH")
# Attribute plans memoized by (keys, attribute names of the element):
# a document repeats a handful of element shapes.
_plans: dict = {}


def _plan(keys: tuple, names: tuple):
    """Resolver from an element's attribute values (in the order of
    ``names``) to the values of ``keys``.

    A key resolves like a search for ``KEY=`` anywhere in the element
    (case-insensitive, first occurrence, non-empty value): to the first
    non-empty value of an attribute whose uppercased name ends with the
    key, so a query for STYLE also hits FONTSTYLE, and an empty value
    falls through to a later match. A missing key resolves to ""."""
    upper = [name.upper() for name in names]
    cands = [tuple(j for j, name in enumerate(upper) if name.endswith(key))
             for key in keys]
    if all(len(c) <= 1 for c in cands):
        # One candidate per key: an empty value resolves to "" either
        # way; index len(names) picks the "" appended to the values.
        get = itemgetter(*(c[0] if c else len(names) for c in cands))
        return lambda vals: get(vals + _NO_VALUE)

    def resolve(vals):
        return tuple(next((vals[j] for j in c if vals[j]), "")
                     for c in cands)
    return resolve


def _attrs(elem: str, keys: tuple) -> tuple:
    """The values of ``keys`` in one element ("" when absent)."""
    pairs = _ATTR_TOKEN_RE.findall(elem)
    if not pairs:
        return ("",) * len(keys)
    names, vals = zip(*pairs)
    plan = _plans.get((keys, names))
    if plan is None:
        if len(_plans) > 4096:
            _plans.clear()
        plan = _plans[keys, names] = _plan(keys, names)
    return plan(vals)


def _convert_line(match: str, block_style_refs: str | None,
                  page_obj: OcrPage, n: int, style_font) -> None:
    """One ``<TextLine>``: append its OcrLine to the page when it has a
    word."""
    tag = _TEXTLINE_TAG_RE.search(match)
    if not tag:
        return
    hpos, vpos, height, width = _attrs(tag.group(0), _LINE_KEYS)
    if not vpos or not hpos or not height or not width:
        return

    left, top = int(hpos), int(vpos)
    linebox = Bbox(left, top, left + int(width), top + int(height))
    line_obj = OcrLine(page_obj, linebox, [0, 0], None, None)
    words = line_obj.words
    id_prefix = f"word_{n + 1}_{len(page_obj.lines) + 1}_"

    for elem in _STRING_RE.findall(match):
        (content, s_hpos, s_vpos, s_height, s_width, wc, style_attr,
         style_refs) = _attrs(elem, _WORD_KEYS)
        if not content:
            continue
        text = unescape_xml(content)
        if not s_hpos or not s_vpos or not s_height or not s_width:
            continue
        left, top = int(s_hpos), int(s_vpos)
        word_box = Bbox(left, top, left + int(s_width), top + int(s_height))
        word_obj = OcrWord(line_obj, id_prefix + str(len(words) + 1), text,
                           word_box)

        if wc:
            word_obj.conf = math.floor(float(wc) * 100 + 0.5)

        if style_attr:
            style = word_obj.style
            if _STYLE_WORD_RES["bold"].search(style_attr):
                style.bold = True
            if _STYLE_WORD_RES["italic"].search(style_attr):
                style.italic = True
            if _STYLE_WORD_RES["underline"].search(style_attr):
                style.underline = True
            if _STYLE_WORD_RES["superscript"].search(style_attr):
                style.sup = True
            if _STYLE_WORD_RES["smallcaps"].search(style_attr):
                style.smallCaps = True

        style_refs = style_refs or block_style_refs
        if style_refs:
            font_family = style_font(style_refs)
            if font_family:
                word_obj.style.font = font_family

        words.append(word_obj)

    if not words:
        return

    bottoms = sorted(w.bbox.bottom for w in words
                     if DESC_CHARS.isdisjoint(w.text))
    if bottoms:
        median_bottom = bottoms[math.floor(len(bottoms) / 2)]
        line_obj.baseline[1] = median_bottom - line_obj.bbox.bottom
    else:
        line_height = line_obj.bbox.bottom - line_obj.bbox.top
        line_obj.baseline[1] = -math.floor(line_height * 0.25 + 0.5)

    heights = sorted(w.bbox.bottom - w.bbox.top for w in words
                     if w.text and X_CHARS.issuperset(w.text))
    if heights:
        line_obj.xHeight = heights[math.floor(len(heights) / 2)]
    else:
        baseline_y = line_obj.bbox.bottom + line_obj.baseline[1]
        top_to_baseline = baseline_y - line_obj.bbox.top
        if all(ASC_CHARS.isdisjoint(w.text) for w in words):
            line_obj.xHeight = math.floor(top_to_baseline + 0.5)
        else:
            line_obj.xHeight = math.floor(top_to_baseline * 0.67 + 0.5)

    page_obj.lines.append(line_obj)


def convert_page_alto(ocr_str: str, n: int):
    page_elem = re.search(r"<Page[^>]+>", ocr_str, re.I)
    if not page_elem:
        raise ValueError("Failed to parse ALTO page element.")
    height_str = _get_attr(page_elem.group(0), "HEIGHT")
    width_str = _get_attr(page_elem.group(0), "WIDTH")
    if not height_str or not width_str:
        raise ValueError("Failed to parse page dimensions.")

    page_obj = OcrPage(n, {"height": int(height_str), "width": int(width_str)})
    page_obj.textSource = "alto"

    # TextStyle lookups memoized per page: the reference re-scans the
    # document per word (convertPageAlto.js), which is O(doc) per word;
    # one id resolves to the same family every time.
    style_font_memo: dict = {}

    def style_font(style_refs: str) -> str | None:
        if style_refs in style_font_memo:
            return style_font_memo[style_refs]
        sm2 = re.search(
            rf"<TextStyle\s*ID=[\"']{re.escape(style_refs)}[\"'][^>]*>",
            ocr_str, re.I)
        font_family = (_get_attr(sm2.group(0), "FONTFAMILY")
                       if sm2 else None)
        style_font_memo[style_refs] = font_family
        return font_family

    for bm in _TEXTBLOCK_RE.finditer(ocr_str):
        tag = _TEXTBLOCK_TAG_RE.search(bm.group(0))
        block_style_refs = _get_attr(tag.group(0), "STYLEREFS") if tag else None
        par_lines = []
        for lm in _TEXTLINE_RE.finditer(bm.group(1)):
            before = len(page_obj.lines)
            _convert_line(lm.group(0), block_style_refs, page_obj, n,
                          style_font)
            if len(page_obj.lines) > before:
                par_lines.append(page_obj.lines[-1])
        if par_lines:
            par_obj = OcrPar(page_obj, bbox_union([l.bbox for l in par_lines]))
            for l in par_lines:
                l.par = par_obj
            par_obj.lines = par_lines
            page_obj.pars.append(par_obj)

    pass2(page_obj, 0)
    lang_set = pass3(page_obj)
    return page_obj, lang_set
