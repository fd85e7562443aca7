"""ABBYY FineReader XML page converter.

Port-fresh implementation of the semantics in
/root/reference/js/import/convertPageAbbyy.js:30-474:

- page ``rotation`` -> page orientation (:40-49; note ABBYY defines page
  rotation as applied to the *image*, so it is inverted vs text),
- ``<charParams>`` char boxes, orientation-transformed (:252-280),
- line split into words on space chars / formatting changes
  (``abbyySplitRegex``, :19 — with the tab / blank-char / lone-period
  fixups :129-165),
- per-word italic/bold/underline/sup/smallcaps/dropcap from
  ``<formatting>`` (:194-234),
- baseline slope re-fit from char bottoms (:299-311 — ABBYY's own
  baseline attribute is untrusted :96-98),
- line bbox recomputed as the union of char boxes > 0 (:322-330),
- conf = 0 when any char ``suspicious`` else 100 (:390),

then the shared ``pass3``.

Each word piece of a line is one ``findall`` over ``_CHAR_RE``, one
tuple per char. A single scan over those tuples applies the orientation
transform and keeps the word and line box unions, so a character costs
one tuple, one ``Bbox`` and one ``OcrChar``. Coordinates are integers,
so the reference's per-char ``Math.round`` is the identity and is not
applied.
"""

from __future__ import annotations

import math
import re

from ..functions.stats import js_round, mean50, quantile, round6
from ..functions.textnorm import ASC_CHARS, X_CHARS, unescape_xml
from ..model import Bbox, OcrChar, OcrLine, OcrPage, OcrPar, OcrWord, bbox_union
from .shared import pass3

_TEXT_TAG_RE = re.compile(r"<text[^>]*>")
_ORIENT_ATTR_RE = re.compile(r"orientation=['\"](\w+)['\"]")
_PRE_CHARPARAMS_RE = re.compile(r"[\s\S]*?(?=<charParams)")
_FORMATTING_TAG_RE = re.compile(r"<formatting[^>]+")
_FF_ATTR_RE = re.compile(r"ff=['\"]([^'\"]*)")
_ISTAB_RE = re.compile(r"isTab=['\"](?:1|true)['\"][^>]*>[^<]+", re.I)
_BLANK_AFTER_FMT_RE = re.compile(
    r"(</formatting><formatting[^>]*>\s*)<charParams[^>]*>\s*</charParams>",
    re.I)
_BLANK_BEFORE_FMT_RE = re.compile(
    r"<charParams[^>]*>\s*</charParams>(\s*</formatting><formatting[^>]*>\s*)",
    re.I)
_DROPCAP_RE = re.compile(r"<par dropCapCharsCount=['\"](\d*)", re.I)
_LINEBOX_RE = re.compile(
    r"<line baseline=['\"](\d*)['\"] l=['\"](\d*)['\"] t=['\"](\d*)['\"]"
    r" r=['\"](\d*)['\"] b=['\"](\d*)['\"]>",
    re.I,
)
_SPLIT_RE = re.compile(
    r"(?:<charParams[^>]*>\s*</charParams>)|(?:</formatting>\s*(?=<formatting))",
    re.I,
)
_WORD_CONTENT_RE = re.compile(r">([^<>]+?)(?=</charParams>)")
_LEADING_FMT_RE = re.compile(r"(<formatting[^>]+>\s*)", re.I)
# One tuple per char: leading <formatting> tag or "", l, t, r, b,
# suspicious, content.
_CHAR_RE = re.compile(
    r"(<formatting[^>]+>\s*)?<charParams l=['\"](\d*)['\"] t=['\"](\d*)['\"]"
    r" r=['\"](\d*)['\"] b=['\"](\d*)['\"](?: suspicious=['\"](\w*)['\"])?[^>]*>"
    r"([^<]*)</charParams>",
    re.I,
)
_SUP_ATTR_RE = re.compile(r"superscript=['\"](1|true)", re.I)
_ITALIC_ATTR_RE = re.compile(r"italic=['\"](1|true)", re.I)
_BOLD_ATTR_RE = re.compile(r"bold=['\"](1|true)", re.I)
_UNDERLINE_ATTR_RE = re.compile(r"underline=['\"](1|true)", re.I)
_SMALLCAPS_ATTR_RE = re.compile(r"smallcaps=['\"](1|true)", re.I)

_ASC_X_CHARS = ASC_CHARS | X_CHARS

# Formatting-attr verdicts memoized by the leading formatting string —
# a document reuses a handful of formatting shapes but the converter
# re-tested five regexes per word.
_fmt_memo: dict = {}


def _fmt_flags(fmt: str) -> tuple:
    v = _fmt_memo.get(fmt)
    if v is None:
        if len(_fmt_memo) > 4096:
            _fmt_memo.clear()
        v = _fmt_memo[fmt] = (
            bool(_SUP_ATTR_RE.search(fmt)),
            bool(_ITALIC_ATTR_RE.search(fmt)),
            bool(_BOLD_ATTR_RE.search(fmt)),
            bool(_UNDERLINE_ATTR_RE.search(fmt)),
            bool(_SMALLCAPS_ATTR_RE.search(fmt)),
        )
    return v


def _line_words(xml_line: str) -> list:
    """The line's words, each the ``_CHAR_RE`` tuples of its chars.

    Words split on space chars and formatting changes; a piece without
    char content is dropped, and a lone ``.`` joins the previous word
    unless that word is superscript (:129-165)."""
    word_strs: list = []
    for piece in _SPLIT_RE.split(xml_line):
        matches = _WORD_CONTENT_RE.findall(piece)
        if not matches:
            continue
        if (len(matches) == 1 and matches[0] == "." and word_strs
                and not _SUP_ATTR_RE.search(word_strs[-1])):
            word_strs[-1] += _LEADING_FMT_RE.sub("", piece, count=1)
            continue
        word_strs.append(piece)
    return [_CHAR_RE.findall(word_str) for word_str in word_strs]


_TABLE_BLOCK_RE = re.compile(
    r"<block blockType=[\"']Table[\s\S]+?(?:</block>\s*)", re.I)
_TABLE_COORDS_RE = re.compile(
    r"<block blockType=['\"]Table['\"][^>]*?l=['\"](\d+)['\"]"
    r" t=['\"](\d+)['\"] r=['\"](\d+)['\"] b=['\"](\d+)['\"]", re.I)
_ROW_RE = re.compile(r"<row[\s\S]+?(?:</row>\s*)")
_CELL_RE = re.compile(r"<cell[\s\S]+?(?:</cell>\s*)", re.I)
_CELL_WIDTH_RE = re.compile(r"width=['\"](\d+)['\"]")
_COORDS4_RE = re.compile(
    r"l=['\"](\d+)['\"] t=['\"](\d+)['\"] r=['\"](\d+)['\"]"
    r" b=['\"](\d+)['\"]", re.I)


def convert_table_layout_abbyy(ocr_str: str) -> list[dict]:
    """Table layout from ABBYY ``blockType="Table"`` blocks
    (convertTableLayoutAbbyy, convertPageAbbyy.js:480-632): column
    boxes from the first non-colSpan row's cell widths; when the widths
    don't sum to the table width (ABBYY sometimes emits bad widths),
    columns are rebuilt from the cells' content coordinates (min left /
    max right per column, midpoints between neighbors, row-spanning
    observations filtered). Row bounds are each row's max content
    bottom."""
    tables = []
    for table_str in _TABLE_BLOCK_RE.findall(ocr_str):
        m = _TABLE_COORDS_RE.search(table_str)
        if not m:
            continue
        tl, tt, tr, tb = (int(v) for v in m.groups())
        rows = _ROW_RE.findall(table_str)
        if not rows:
            continue
        first_row = (rows[1] if len(rows) > 1 and "colSpan" in rows[0]
                     else rows[0])
        first_cells = _CELL_RE.findall(first_row)
        if not first_cells:
            continue
        left_last = tl
        boxes = []
        for cell in first_cells:
            wm = _CELL_WIDTH_RE.search(cell)
            width = int(wm.group(1)) if wm else 0
            boxes.append((left_last, tt, left_last + width, tb))
            left_last += width
        if abs(left_last - tr) > 10:
            col_left: list[list[int]] = []
            col_right: list[list[int]] = []
            for row_str in rows:
                for k, cell in enumerate(_CELL_RE.findall(row_str)):
                    coords = [tuple(int(x) for x in g)
                              for g in _COORDS4_RE.findall(cell)]
                    if not coords:
                        continue
                    while len(col_left) <= k:
                        col_left.append([])
                        col_right.append([])
                    col_left[k].append(min(c[0] for c in coords))
                    col_right[k].append(max(c[2] for c in coords))
            col_left = [c for c in col_left if c]
            col_right = [c for c in col_right if c]
            col_left_min = [min(c) for c in col_left]
            col_right_max = []
            for j in range(len(col_right)):
                vals = (col_right[j] if j + 1 == len(col_right)
                        else [x for x in col_right[j]
                              if x < col_left_min[j + 1]])
                col_right_max.append(max(vals) if vals
                                     else float("-inf"))
            boxes = []
            for j in range(len(col_left)):
                if j == 0:
                    cell_left = tl
                elif not math.isfinite(col_right_max[j - 1]):
                    cell_left = js_round(col_left_min[j])
                else:
                    cell_left = js_round(
                        (col_left_min[j] + col_right_max[j - 1]) / 2)
                if j + 1 == len(col_left):
                    cell_right = tr
                elif not math.isfinite(col_right_max[j]):
                    cell_right = col_left_min[j + 1]
                else:
                    cell_right = js_round(
                        (col_left_min[j + 1] + col_right_max[j]) / 2)
                boxes.append((cell_left, tt, cell_right, tb))
        row_bounds = []
        for row_str in rows:
            max_bottom = 0
            for g in _COORDS4_RE.findall(row_str):
                b = int(g[3])
                if b > max_bottom:
                    max_bottom = b
            row_bounds.append(max_bottom)
        tables.append({
            "bbox": Bbox(tl, tt, tr, tb),
            "columns": boxes,
            "row_bounds": row_bounds,
            "method": "abbyy",
        })
    return tables


def _convert_line(xml_line: str, page_obj: OcrPage, n: int,
                  orientation: int, page_w: int, page_h: int):
    """One ``<line>`` -> (OcrLine appended to the page, raw baseline
    slope), or None when it yields no word."""
    pre_char = _PRE_CHARPARAMS_RE.match(xml_line)
    fmt_tag = (
        _FORMATTING_TAG_RE.search(pre_char.group(0))
        if pre_char else None
    )
    font_name = None
    if fmt_tag:
        fm = _FF_ATTR_RE.search(fmt_tag.group(0))
        if fm:
            font_name = fm.group(1)

    drop_cap = False
    dc = _DROPCAP_RE.search(xml_line)
    if dc and dc.group(1) and int(dc.group(1)) > 0:
        drop_cap = True

    lb = _LINEBOX_RE.search(xml_line)
    if not lb:
        return None
    line_box_attr = [int(g) for g in lb.groups()]

    # Tab chars become spaces so they split into separate words
    # (:129). Gated on containment: each re.sub copies the line
    # string, and most lines carry neither tabs nor mid-line
    # formatting switches.
    if "isTab" in xml_line:
        xml_line = _ISTAB_RE.sub("> ", xml_line)
    # Blank chars adjacent to formatting changes (:134-135).
    if "</formatting><formatting" in xml_line:
        xml_line = _BLANK_AFTER_FMT_RE.sub(r"\1", xml_line)
        xml_line = _BLANK_BEFORE_FMT_RE.sub(r"\1", xml_line)

    words = _line_words(xml_line)
    if not words:
        return None

    unescape = "&" in xml_line or "\u00ad" in xml_line
    line_obj = OcrLine(page_obj, None, ())
    line_words = line_obj.words
    id_prefix = f"word_{n + 1}_{len(page_obj.lines) + 1}_"
    inf = math.inf
    slopes: list = []
    first_x = first_y = None  # first baseline char: left, bottom
    # line union of the char edges > 0; 0 on the right/bottom means none
    line_l = line_t = inf
    line_r = line_b = 0
    # style of the previous word, inherited by a word without formatting
    p_it = p_bd = p_ul = p_sup = p_sc = p_dc = False
    for i, letters in enumerate(words):
        if not letters:
            p_it = p_bd = p_ul = p_sup = p_sc = p_dc = False
            continue
        it = bd = ul = sup = sc = dcap = False
        fmt = letters[0][0]
        if fmt:
            sup_f, it_f, bd_f, ul_f, sc = _fmt_flags(fmt)
            if drop_cap and i == 0:
                dcap = True
            elif sup_f:
                sup = True
            else:
                it, bd, ul = it_f, bd_f, ul_f
        elif i > 0 and not p_dc:
            it, bd, ul, sup, sc = p_it, p_bd, p_ul, p_sup, p_sc
        drop_cap_fix = drop_cap and i == 1 and sc
        if drop_cap_fix:
            sc = False
        p_it, p_bd, p_ul, p_sup, p_sc, p_dc = it, bd, ul, sup, sc, dcap
        fits_baseline = not drop_cap_fix and not (drop_cap and i == 0)

        word_susp = False
        word_l = word_t = inf
        word_r = word_b = 0
        parts: list = []
        chars: list = []
        for _, sl, st, sr, sb, susp, ch in letters:
            # Skip letters placed at coordinate 0 (:242).
            if sl == "0":
                continue
            left, top, right, bottom = int(sl), int(st), int(sr), int(sb)
            if orientation:
                if orientation == 1:
                    left, top, right, bottom = (
                        top, page_w - max(right, left), bottom, page_w - left)
                elif orientation == 2:
                    left, top, right, bottom = (
                        page_w - right, page_h - bottom,
                        page_w - left, page_h - top)
                else:
                    left, top, right, bottom = (
                        page_h - bottom, left, page_h - top, right)
            if 0 < left < word_l:
                word_l = left
            if 0 < top < word_t:
                word_t = top
            if right > word_r:
                word_r = right
            if bottom > word_b:
                word_b = bottom

            letter_susp = susp == "1" or susp == "true"
            if letter_susp:
                word_susp = True
            if drop_cap_fix:
                ch = ch.upper()
            if unescape:
                ch = unescape_xml(ch)
            if fits_baseline and not letter_susp and ch in _ASC_X_CHARS:
                if first_x is None:
                    first_x, first_y = left, bottom
                elif left != first_x:
                    slopes.append((bottom - first_y) / (left - first_x))
            parts.append(ch)
            chars.append(OcrChar(ch, Bbox(left, top, right, bottom)))

        if word_l < line_l:
            line_l = word_l
        if word_t < line_t:
            line_t = word_t
        if word_r > line_r:
            line_r = word_r
        if word_b > line_b:
            line_b = word_b
        text = "".join(parts)
        if not text.strip() or word_l == inf or word_t == inf \
                or not word_r or not word_b:
            continue
        word_obj = OcrWord(line_obj, id_prefix + str(i + 1), text,
                           Bbox(word_l, word_t, word_r, word_b))
        word_obj.chars = chars
        word_obj.conf = 0 if word_susp else 100
        style = word_obj.style
        if it:
            style.italic = True
        if bd:
            style.bold = True
        if ul:
            style.underline = True
        style.smallCaps = sc
        if font_name:
            style.font = font_name
        if sup:
            style.sup = True
        elif dcap:
            style.dropcap = True
        line_words.append(word_obj)

    if not line_words:
        return None

    baseline_slope = quantile(slopes, 0.5) or 0
    if first_x is not None:
        baseline_point = first_y - (line_b or line_box_attr[4])
        if baseline_slope < 0:
            baseline_point -= baseline_slope * (
                first_x - (line_l if line_l != inf else line_box_attr[1]))
    else:
        baseline_point = 0
    baseline_point = baseline_point or 0

    if line_l != inf and line_t != inf and line_r and line_b:
        line_obj.bbox = Bbox(line_l, line_t, line_r, line_b)
    else:
        line_obj.bbox = Bbox(*line_box_attr[1:])
    line_obj.baseline = [round6(baseline_slope), js_round(baseline_point)]
    line_obj.orientation = orientation
    page_obj.lines.append(line_obj)
    return line_obj, baseline_slope


def convert_page_abbyy(ocr_str: str, n: int):
    page_attr = re.search(r"<page[^>]*>", ocr_str)
    width_m = re.search(r"width=['\"](\d+)['\"]", page_attr.group(0)) if page_attr else None
    height_m = re.search(r"height=['\"](\d+)['\"]", page_attr.group(0)) if page_attr else None
    rotation_m = re.search(r"rotation=['\"](\w+)['\"]", page_attr.group(0)) if page_attr else None

    if not width_m or not height_m:
        raise ValueError("Failed to parse page dimensions.")

    rotation = rotation_m.group(1) if rotation_m else None
    page_orientation = {"RotatedClockwise": 3, "RotatedUpsidedown": 2,
                        "RotatedCounterclockwise": 1}.get(rotation, 0)

    page_w, page_h = int(width_m.group(1)), int(height_m.group(1))
    page_obj = OcrPage(n, {"height": page_h, "width": page_w})
    page_obj.textSource = "abbyy"
    page_obj.tables = convert_table_layout_abbyy(ocr_str)

    if not re.search(r"<charParams", ocr_str, re.I):
        return page_obj, set()

    angle_rise_page = []
    for xml_text in ocr_str.split("</text>"):
        text_attr = _TEXT_TAG_RE.search(xml_text)
        orient_m = (
            _ORIENT_ATTR_RE.search(text_attr.group(0))
            if text_attr else None
        )
        text_orientation = {"RotatedClockwise": 1, "RotatedUpsidedown": 2,
                            "RotatedCounterclockwise": 3}.get(
            orient_m.group(1) if orient_m else None, 0)
        orientation = (page_orientation + text_orientation) % 4

        for xml_par in xml_text.split("</par>"):
            par_lines = []
            for xml_line in xml_par.split("</line>"):
                converted = _convert_line(xml_line, page_obj, n, orientation,
                                          page_w, page_h)
                if converted is not None:
                    par_lines.append(converted[0])
                    angle_rise_page.append(converted[1])
            if not par_lines:
                continue
            par_obj = OcrPar(page_obj, bbox_union([l.bbox for l in par_lines]))
            for l in par_lines:
                l.par = par_obj
            par_obj.lines = par_lines
            page_obj.pars.append(par_obj)

    rise_median = mean50(angle_rise_page) or 0
    page_obj.angle = math.asin(rise_median) * (180 / math.pi)

    lang_set = pass3(page_obj)
    return page_obj, lang_set
