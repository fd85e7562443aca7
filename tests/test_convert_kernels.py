"""Equivalence of the ABBYY/ALTO line kernels and ``shared.pass3``
with the formulation they replaced, plus the document-scoped collector
policy of ``extract.extract_with_spans``.

The reference converters at the bottom of this file are the earlier
char-at-a-time formulation: ABBYY split a line into word strings first
and matched each word's chars with ``finditer``, building one Bbox per
char through ``_orient_bbox`` and re-scanning each word's boxes; ALTO
built a suffix-key dict of every element's attributes; ``pass3`` walked
every char of every word. Both sides convert the same pages and must
agree on every field the model carries."""

import gc
import math
import random
import re

import pytest

from scribe_js_spark import extract, fixtures
from scribe_js_spark.functions.stats import js_round, mean50, quantile, round6
from scribe_js_spark.functions.textnorm import (
    ASC_CHARS,
    DESC_CHARS,
    X_CHARS,
    escape_xml,
    replace_ligatures,
    unescape_xml,
)
from scribe_js_spark.model import (
    Bbox,
    OcrChar,
    OcrLine,
    OcrPage,
    OcrPar,
    OcrWord,
    Style,
    bbox_union,
)
from scribe_js_spark.operators.abbyy import (
    convert_page_abbyy,
    convert_table_layout_abbyy,
)
from scribe_js_spark.operators.alto import convert_page_alto
from scribe_js_spark.operators.detect import split_pages
from scribe_js_spark.operators.shared import pass2


def _box(b):
    return None if b is None else (b.left, b.top, b.right, b.bottom)


def _fingerprint(converted):
    """Every field a converted page carries, as plain values."""
    page, lang_set = converted
    lines = []
    for line in page.lines:
        words = []
        for w in line.words:
            chars = (None if w.chars is None
                     else [(c.text, _box(c.bbox)) for c in w.chars])
            style = tuple(getattr(w.style, a) for a in Style.__slots__)
            words.append((w.id, w.text, _box(w.bbox), w.conf, style,
                          w.lang, chars))
        lines.append((_box(line.bbox), list(line.baseline), line.ascHeight,
                      line.xHeight, line.orientation, words))
    pars = [(_box(p.bbox), [page.lines.index(l) for l in p.lines])
            for p in page.pars]
    return (page.n, page.angle, page.dims, page.textSource, page.tables,
            lines, pars, lang_set)


def _outcome(convert, page_str, n):
    try:
        return _fingerprint(convert(page_str, n))
    except Exception as e:  # both sides must fail alike
        return ("raised", type(e).__name__)


def _assert_same(ref, new, pages):
    checked = 0
    for n, page_str in enumerate(pages):
        want = _outcome(ref, page_str, n)
        got = _outcome(new, page_str, n)
        assert got == want, page_str[:400]
        checked += want[0] != "raised"
    return checked


# ---------------------------------------------------------------- ABBYY

_ROTATIONS = (None, "Normal", "RotatedClockwise", "RotatedUpsidedown",
              "RotatedCounterclockwise")
_ABBYY_CHARS = ("a", "c", "e", "x", "g", "y", "b", "d", "T", "H", "0", "7",
                ",", "'", '"', "-", "\u2013", "\u00ac", "\ufb01", "&amp;",
                "&lt;", "&#x41;", "\u00ad", "q", "Q")


def _formatting(rng):
    attrs = ['lang="EnglishUnitedStates"', 'ff="Times New Roman"', 'fs="10."']
    for name in ("bold", "italic", "underline", "superscript", "smallcaps"):
        if rng.random() < 0.2:
            attrs.append(f'{name}="{rng.choice(["1", "true", "0"])}"')
    rng.shuffle(attrs)
    return f"<formatting {' '.join(attrs)}>"


def _char(rng, x, top, bottom, text):
    left = 0 if rng.random() < 0.03 else x
    susp = (f' suspicious="{rng.choice(["1", "true", "0"])}"'
            if rng.random() < 0.1 else "")
    return (f'<charParams l="{left}" t="{top}" r="{x + 9}" b="{bottom}"'
            f'{susp} charConfidence="90">{text}</charParams>')


def _abbyy_line(rng, y):
    x = rng.randint(40, 400)
    out = [f'<line baseline="{y}" l="{x}" t="{y - 30}" r="{x + 800}" '
           f'b="{y + 8}">', _formatting(rng)]
    for w in range(rng.randint(1, 7)):
        if w:
            kind = rng.random()
            if kind < 0.5:  # blank char
                out.append(f'<charParams l="{x}" t="{y - 30}" r="{x + 9}" '
                           f'b="{y}"> </charParams>')
            elif kind < 0.7:  # mid-line formatting switch
                out.append("</formatting>" + _formatting(rng))
            elif kind < 0.8:  # blank char next to a switch
                out.append(f'<charParams l="{x}" t="{y - 30}" r="{x + 9}" '
                           f'b="{y}"></charParams></formatting>'
                           + _formatting(rng))
            else:  # tab char
                out.append(f'<charParams l="{x}" t="{y - 30}" r="{x + 9}" '
                           f'b="{y}" isTab="1">x</charParams>')
            x += 12
        if rng.random() < 0.15:  # lone period piece
            out.append(_char(rng, x, y - 19, y, "."))
            x += 10
            continue
        for _ in range(rng.randint(1, 8)):
            ch = rng.choice(_ABBYY_CHARS)
            top = y - (19 if ch in "acex" else 28)
            out.append(_char(rng, x, top, y + (7 if ch in "gyq" else 0), ch))
            x += 10
    out.append("</formatting></line>")
    return "".join(out)


def _abbyy_page(rng):
    rotation = rng.choice(_ROTATIONS)
    rot = f' rotation="{rotation}"' if rotation else ""
    out = [f'<page width="2550" height="3300" resolution="300"{rot}>']
    y = 200
    for _ in range(rng.randint(1, 3)):
        orient = rng.choice(_ROTATIONS)
        orient = f' orientation="{orient}"' if orient else ""
        out.append(f'<block blockType="Text"><text{orient}>')
        for _ in range(rng.randint(1, 3)):
            out.append('<par dropCapCharsCount="1">' if rng.random() < 0.3
                       else "<par>")
            for _ in range(rng.randint(1, 4)):
                out.append(_abbyy_line(rng, y))
                y += 45
            out.append("</par>")
        out.append("</text></block>")
    out.append("</page>")
    return "".join(out)


def test_abbyy_generated_edge_pages_match_reference():
    rng = random.Random(20261017)
    pages = [_abbyy_page(rng) for _ in range(150)]
    # Vertical text under some rotation pairs gives a page angle outside
    # asin's domain, and both sides raise on those pages alike.
    assert _assert_same(ref_convert_page_abbyy, convert_page_abbyy,
                        pages) >= 100


def test_abbyy_fixture_pages_match_reference():
    pages = []
    for doc_id in range(6):
        model = fixtures.build_doc_model(doc_id, n_pages=2)
        for render in (fixtures.render_abbyy, fixtures.render_abbyy_rotated):
            pages += split_pages(render(model), "abbyy")
    for doc_id in range(3):
        model = fixtures.build_abbyy_table_models(doc_id)["model"]
        pages += split_pages(fixtures.render_abbyy(model), "abbyy")
    assert _assert_same(ref_convert_page_abbyy, convert_page_abbyy,
                        pages) == len(pages)


_FRAGMENTS = (
    '<charParams l="5" t="6" r="7" b="8">', "</charParams>", "</CHARPARAMS>",
    '<formatting superscript="1">', "</formatting>", " ", ".", ">", "<",
    '"', '<charParams l="0" t="1" r="2" b="3">.</charParams>',
    '<charParams l="1" t="2" r="3" b="4"> </charParams>', "&amp;",
    'isTab="1"', 'suspicious="1" ', '<CharParams L="9" T="9" R="9" B="9">x',
    "</line>", '<line baseline="1" l="2" t="3" r="4" b="5">',
    '<par dropCapCharsCount="2">', '<String CONTENT="x" HPOS="1"/>',
    "</TextLine>", "<TextBlock>", 'STYLE="bold" ', 'CONTENT="" ',
)


def _mutated(rng, page):
    """Byte-level damage: dropped, duplicated, upper-cased slices and
    inserted markup fragments."""
    for _ in range(rng.randint(1, 6)):
        i = rng.randrange(len(page))
        j = i + rng.randint(1, 80)
        kind = rng.random()
        if kind < 0.25:
            page = page[:i] + page[j:]
        elif kind < 0.45:
            page = page[:i] + page[i:j] + page[i:]
        elif kind < 0.6:
            page = page[:i] + page[i:j].upper() + page[j:]
        else:
            page = page[:i] + rng.choice(_FRAGMENTS) + page[i:]
    return page


def test_abbyy_mutated_pages_match_reference():
    """Damaged pages still convert, or fail, exactly as the reference
    does."""
    rng = random.Random(7)
    pages = [_mutated(rng, _abbyy_page(rng)) for _ in range(300)]
    assert _assert_same(ref_convert_page_abbyy, convert_page_abbyy,
                        pages) >= 150


# ---------------------------------------------------------------- ALTO

_ALTO_WORDS = ("word", "gypsy", "axe", "Tall", "it's", '"quoted"', "a-b",
               "\ufb01ne", "x&amp;y", "MAX", "\u00e9t\u00e9", "q")


def _string(rng, x, y):
    text = rng.choice(_ALTO_WORDS)
    attrs = [("CONTENT", escape_xml(text) if "&" not in text else text),
             ("HPOS", str(x)), ("VPOS", str(y)), ("WIDTH", str(60)),
             ("HEIGHT", str(rng.choice([20, 28, 35]))),
             ("WC", f"{rng.random():.2f}")]
    if rng.random() < 0.3:
        attrs.append(("STYLE", rng.choice(
            ["bold", "italic underline", "superscript", "smallCaps",
             "bold italic", ""])))
    if rng.random() < 0.2:
        attrs.append(("FONTSTYLE", rng.choice(["italic", "bold", ""])))
    if rng.random() < 0.2:
        attrs.append(("SUBS_CONTENT", rng.choice(["subst", ""])))
    if rng.random() < 0.3:
        attrs.append(("STYLEREFS", rng.choice(["TS1", "TS2", "", "TS9"])))
    if rng.random() < 0.2:
        attrs.append(("ID", f"S{x}"))
    if rng.random() < 0.1:
        attrs = [a for a in attrs if a[0] != rng.choice(
            ["HPOS", "WIDTH", "CONTENT", "WC"])]
    if rng.random() < 0.1:
        attrs = [(k, "" if rng.random() < 0.3 else v) for k, v in attrs]
    rng.shuffle(attrs)
    q = rng.choice(['"', "'"])
    return "<String " + " ".join(f"{k}={q}{v}{q}" for k, v in attrs) + "/>"


def _alto_page(rng, n):
    out = ['<alto><Styles>'
           '<TextStyle ID="TS1" FONTFAMILY="Times New Roman"/>'
           '<TextStyle ID="TS2" FONTFAMILY="Arial"/></Styles><Layout>',
           f'<Page ID="P{n}" WIDTH="2550" HEIGHT="3300"><PrintSpace>']
    y = 100
    for b in range(rng.randint(1, 4)):
        refs = rng.choice(['', ' STYLEREFS="TS1"', ' STYLEREFS="TS2"'])
        out.append(f'<TextBlock ID="B{b}"{refs}>')
        for _ in range(rng.randint(1, 4)):
            x = rng.randint(50, 300)
            out.append(f'<TextLine HPOS="{x}" VPOS="{y}" WIDTH="900" '
                       f'HEIGHT="40">')
            for _ in range(rng.randint(0, 7)):
                out.append(_string(rng, x, y + rng.randint(0, 8)))
                if rng.random() < 0.5:
                    out.append(f'<SP WIDTH="10" HPOS="{x + 60}"/>')
                x += 75
            out.append("</TextLine>")
            y += 50
        out.append("</TextBlock>")
    out.append("</PrintSpace></Page></Layout></alto>")
    return "".join(out)


def test_alto_generated_edge_pages_match_reference():
    rng = random.Random(20261017)
    pages = [_alto_page(rng, n) for n in range(200)]
    assert _assert_same(ref_convert_page_alto, convert_page_alto,
                        pages) == 200


def test_alto_attribute_precedence():
    """SUBS_CONTENT before CONTENT and FONTSTYLE before STYLE win, as a
    search for ``CONTENT=`` / ``STYLE=`` would find them; an empty value
    falls through to the next match; a String without STYLEREFS takes
    its block's."""
    page = ('<Styles><TextStyle ID="TS1" FONTFAMILY="Serif"/></Styles>'
            '<Page WIDTH="100" HEIGHT="100"><TextBlock STYLEREFS="TS1">'
            '<TextLine HPOS="1" VPOS="1" WIDTH="50" HEIGHT="9">'
            '<String SUBS_CONTENT="whole" CONTENT="who-" HPOS="1" VPOS="1"'
            ' WIDTH="9" HEIGHT="9" FONTSTYLE="bold" STYLE="italic"/>'
            '<String CONTENT="" SUBS_CONTENT="sub" HPOS="20" VPOS="1"'
            ' WIDTH="9" HEIGHT="9" FONTSTYLE="" STYLE="italic"/>'
            '</TextLine></TextBlock></Page>')
    page_obj, _ = convert_page_alto(page, 0)
    w1, w2 = page_obj.lines[0].words
    assert (w1.text, w1.style.bold, w1.style.italic) == ("whole", True, False)
    assert (w2.text, w2.style.bold, w2.style.italic) == ("sub", False, True)
    assert w1.style.font == w2.style.font == "Serif"
    assert _outcome(convert_page_alto, page, 0) == _outcome(
        ref_convert_page_alto, page, 0)


def test_alto_mutated_pages_match_reference():
    rng = random.Random(7)
    pages = [_mutated(rng, _alto_page(rng, n)) for n in range(300)]
    assert _assert_same(ref_convert_page_alto, convert_page_alto,
                        pages) >= 150


def test_alto_fixture_pages_match_reference():
    pages = []
    for doc_id in range(6):
        model = fixtures.build_doc_model(doc_id, n_pages=2)
        pages += split_pages(fixtures.render_alto(model), "alto")
    assert _assert_same(ref_convert_page_alto, convert_page_alto,
                        pages) == len(pages)


# ------------------------------------------------- document-scoped GC


def _count_pages():
    return sum(1 for o in gc.get_objects() if type(o) is OcrPage)


def _set_gc(enabled):
    if enabled:
        gc.enable()
    else:
        gc.disable()


@pytest.mark.parametrize("enabled", [True, False])
def test_document_gc_scope_restores_state(enabled, monkeypatch):
    """extract_with_spans restores the caller's collector state after a
    good document, a corrupt one and one whose extraction raises, and
    leaves no page model of its own behind."""
    model = fixtures.build_doc_model(1, n_pages=2)
    good = fixtures.render_abbyy(model).encode()
    bad = fixtures.make_corrupt_rows(1)[0]["html"]
    thresholds = gc.get_threshold()
    was = gc.isenabled()
    try:
        _set_gc(enabled)
        gc.collect()
        before = _count_pages()
        rec = extract.extract_with_spans(good)
        assert rec["error"] is None and rec["word_count"] > 0
        assert gc.isenabled() is enabled
        assert gc.get_threshold() == thresholds
        assert _count_pages() == before
        assert extract.extract_with_spans(bad)["error"] is not None
        assert gc.isenabled() is enabled

        def boom(data):
            raise RuntimeError("converter bug")

        monkeypatch.setattr(extract, "extract_document", boom)
        with pytest.raises(RuntimeError):
            extract.extract_with_spans(good)
        assert gc.isenabled() is enabled
        assert gc.get_threshold() == thresholds
    finally:
        _set_gc(was)


# ------------------------------------------- reference formulation
# The formulation replaced by the line kernels, kept verbatim apart from
# the ref_ names.

# ---- ABBYY
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
_LEADING_FMT_RE = re.compile(r"(<formatting[^>]+>\s*)", re.I)
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
_WORD_CONTENT_RE = re.compile(r">([^<>]+?)(?=</charParams>)")

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


def _orient_bbox(raw_l, raw_t, raw_r, raw_b, orientation, page_w, page_h,
                 _f=math.floor):
    # js_round inlined (Math.round = floor(x + 0.5)); once per charParams.
    if orientation == 0:
        return Bbox(_f(raw_l + 0.5), _f(raw_t + 0.5),
                    _f(raw_r + 0.5), _f(raw_b + 0.5))
    if orientation == 1:
        return Bbox(
            _f(raw_t + 0.5),
            _f(page_w - max(raw_r, raw_l) + 0.5),
            _f(raw_b + 0.5),
            _f(page_w - raw_l + 0.5),
        )
    if orientation == 2:
        return Bbox(
            _f(page_w - raw_r + 0.5),
            _f(page_h - raw_b + 0.5),
            _f(page_w - raw_l + 0.5),
            _f(page_h - raw_t + 0.5),
        )
    if orientation == 3:
        return Bbox(
            _f(page_h - raw_b + 0.5),
            _f(raw_l + 0.5),
            _f(page_h - raw_t + 0.5),
            _f(max(raw_r, raw_r) + 0.5),
        )
    return Bbox(_f(raw_l + 0.5), _f(raw_t + 0.5),
                _f(raw_r + 0.5), _f(raw_b + 0.5))


def ref_convert_page_abbyy(ocr_str: str, n: int):
    page_attr = re.search(r"<page[^>]*>", ocr_str)
    width_m = re.search(r"width=['\"](\d+)['\"]", page_attr.group(0)) if page_attr else None
    height_m = re.search(r"height=['\"](\d+)['\"]", page_attr.group(0)) if page_attr else None
    rotation_m = re.search(r"rotation=['\"](\w+)['\"]", page_attr.group(0)) if page_attr else None

    if not width_m or not height_m:
        raise ValueError("Failed to parse page dimensions.")

    rotation = rotation_m.group(1) if rotation_m else None
    page_orientation = {"RotatedClockwise": 3, "RotatedUpsidedown": 2,
                        "RotatedCounterclockwise": 1}.get(rotation, 0)

    page_dims = {"height": int(height_m.group(1)), "width": int(width_m.group(1))}
    page_obj = OcrPage(n, page_dims)
    page_obj.textSource = "abbyy"
    page_obj.tables = convert_table_layout_abbyy(ocr_str)

    if not re.search(r"<charParams", ocr_str, re.I):
        return page_obj, set()

    angle_rise_page = []

    def convert_text(xml_text: str) -> None:
        text_attr = _TEXT_TAG_RE.search(xml_text)
        orient_m = (
            _ORIENT_ATTR_RE.search(text_attr.group(0))
            if text_attr else None
        )
        text_orientation = {"RotatedClockwise": 1, "RotatedUpsidedown": 2,
                            "RotatedCounterclockwise": 3}.get(
            orient_m.group(1) if orient_m else None, 0)
        orientation_final = (page_orientation + text_orientation) % 4

        def convert_line(xml_line: str):
            baseline_slopes = []
            baseline_first = []

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

            word_str_arr1 = _SPLIT_RE.split(xml_line)

            word_str_arr = []
            for piece in word_str_arr1:
                matches = _WORD_CONTENT_RE.findall(piece)
                if not matches:
                    continue
                if len(matches) == 1 and matches[0] == ".":
                    if word_str_arr and not _SUP_ATTR_RE.search(word_str_arr[-1]):
                        word_str_arr[-1] = word_str_arr[-1] + _LEADING_FMT_RE.sub(
                            "", piece, count=1)
                        continue
                word_str_arr.append(piece)

            if not word_str_arr:
                return None

            n_words = len(word_str_arr)
            bboxes: list[list[Bbox]] = [[] for _ in range(n_words)]
            texts = [""] * n_words
            char_objs: list[list[OcrChar]] = [[] for _ in range(n_words)]
            italic_arr = [False] * n_words
            bold_arr = [False] * n_words
            underline_arr = [False] * n_words
            sup_arr = [False] * n_words
            dropcap_arr = [False] * n_words
            smallcaps_arr = [False] * n_words
            word_susp = [False] * n_words

            for i, word_str in enumerate(word_str_arr):
                letter_arr = [m.groups() for m in _CHAR_RE.finditer(word_str)]
                if not letter_arr:
                    continue
                fmt = letter_arr[0][0]
                if fmt is not None:
                    sup_f, it_f, bd_f, ul_f, sc_f = _fmt_flags(fmt)
                    if drop_cap and i == 0:
                        dropcap_arr[i] = True
                    elif sup_f:
                        sup_arr[i] = True
                    else:
                        if it_f:
                            italic_arr[i] = True
                        if bd_f:
                            bold_arr[i] = True
                        if ul_f:
                            underline_arr[i] = True
                    if sc_f:
                        smallcaps_arr[i] = True
                elif i > 0 and not dropcap_arr[i - 1]:
                    italic_arr[i] = italic_arr[i - 1]
                    bold_arr[i] = bold_arr[i - 1]
                    underline_arr[i] = underline_arr[i - 1]
                    sup_arr[i] = sup_arr[i - 1]
                    smallcaps_arr[i] = smallcaps_arr[i - 1]

                drop_cap_fix = False
                if drop_cap and i == 1 and smallcaps_arr[i]:
                    smallcaps_arr[i] = False
                    drop_cap_fix = True

                for letter in letter_arr:
                    # Skip letters placed at coordinate 0 (:242).
                    if letter[1] == "0":
                        continue
                    raw_l, raw_t = int(letter[1]), int(letter[2])
                    raw_r, raw_b = int(letter[3]), int(letter[4])
                    bbox = _orient_bbox(
                        raw_l, raw_t, raw_r, raw_b, orientation_final,
                        page_dims["width"], page_dims["height"])
                    bboxes[i].append(bbox)

                    letter_susp = False
                    if letter[5] in ("1", "true"):
                        word_susp[i] = True
                        letter_susp = True

                    ch = letter[6]
                    if drop_cap_fix:
                        ch = ch.upper()
                    ch = unescape_xml(ch)

                    asc_char = ch in ASC_CHARS
                    x_char = ch in X_CHARS
                    if (asc_char or x_char) and not letter_susp and not drop_cap_fix \
                            and not (drop_cap and i == 0):
                        if not baseline_first:
                            baseline_first.extend([bbox.left, bbox.bottom])
                        else:
                            dx = bbox.left - baseline_first[0]
                            if dx != 0:
                                slope = (bbox.bottom - baseline_first[1]) / dx
                                if math.isfinite(slope):
                                    baseline_slopes.append(slope)

                    texts[i] += ch
                    char_objs[i].append(OcrChar(ch, bbox))

            all_boxes = [b for word_boxes in bboxes for b in word_boxes]
            calc_l = min((b.left for b in all_boxes if b.left > 0), default=math.inf)
            calc_t = min((b.top for b in all_boxes if b.top > 0), default=math.inf)
            calc_r = max((b.right for b in all_boxes if b.right > 0), default=-math.inf)
            calc_b = max((b.bottom for b in all_boxes if b.bottom > 0), default=-math.inf)

            baseline_slope = quantile(baseline_slopes, 0.5) or 0

            if baseline_first:
                baseline_point = baseline_first[1] - (
                    calc_b if math.isfinite(calc_b) else line_box_attr[4])
                if baseline_slope < 0:
                    baseline_point -= baseline_slope * (
                        baseline_first[0]
                        - (calc_l if math.isfinite(calc_l) else line_box_attr[1]))
            else:
                baseline_point = 0
            baseline_point = baseline_point or 0

            if all(math.isfinite(v) for v in (calc_l, calc_t, calc_r, calc_b)):
                line_bbox = Bbox(calc_l, calc_t, calc_r, calc_b)
            else:
                line_bbox = Bbox(
                    line_box_attr[1], line_box_attr[2],
                    line_box_attr[3], line_box_attr[4])

            baseline_out = [round6(baseline_slope), js_round(baseline_point)]
            line_obj = OcrLine(page_obj, line_bbox, baseline_out)
            line_obj.orientation = orientation_final

            letters_kept = 0
            for i in range(n_words):
                if texts[i].strip() == "":
                    continue
                lefts = [b.left for b in bboxes[i] if b.left > 0]
                rights = [b.right for b in bboxes[i] if b.right > 0]
                tops = [b.top for b in bboxes[i] if b.top > 0]
                bottoms = [b.bottom for b in bboxes[i] if b.bottom > 0]
                if not lefts or not rights or not tops or not bottoms:
                    continue
                bbox_word = Bbox(min(lefts), min(tops), max(rights), max(bottoms))
                wid = f"word_{n + 1}_{len(page_obj.lines) + 1}_{i + 1}"
                word_obj = OcrWord(line_obj, wid, texts[i], bbox_word)
                word_obj.chars = char_objs[i]
                word_obj.conf = 0 if word_susp[i] else 100
                if italic_arr[i]:
                    word_obj.style.italic = True
                if bold_arr[i]:
                    word_obj.style.bold = True
                if underline_arr[i]:
                    word_obj.style.underline = True
                word_obj.style.smallCaps = smallcaps_arr[i]
                if font_name:
                    word_obj.style.font = font_name
                if sup_arr[i]:
                    word_obj.style.sup = True
                elif dropcap_arr[i]:
                    word_obj.style.dropcap = True
                line_obj.words.append(word_obj)
                letters_kept += 1

            if letters_kept == 0:
                return None

            page_obj.lines.append(line_obj)
            par_line_arr.append(line_obj)
            return baseline_slope

        def convert_par(xml_par: str) -> None:
            nonlocal par_line_arr
            par_line_arr = []
            for line_str in xml_par.split("</line>"):
                angle = convert_line(line_str)
                if isinstance(angle, (int, float)) and not math.isnan(angle):
                    angle_rise_page.append(angle)
            if not par_line_arr:
                return
            par_bbox = bbox_union([l.bbox for l in par_line_arr])
            par_obj = OcrPar(page_obj, par_bbox)
            for l in par_line_arr:
                l.par = par_obj
            par_obj.lines = list(par_line_arr)
            page_obj.pars.append(par_obj)

        par_line_arr: list = []
        for par_str in xml_text.split("</par>"):
            convert_par(par_str)

    for text_str in ocr_str.split("</text>"):
        convert_text(text_str)

    rise_median = mean50(angle_rise_page) or 0
    page_obj.angle = math.asin(rise_median) * (180 / math.pi)

    lang_set = ref_pass3(page_obj)
    return page_obj, lang_set


# ---- ALTO
_TEXTLINE_RE = re.compile(r"<TextLine[^>]*>([\s\S]*?)</TextLine>", re.I)
_TEXTBLOCK_RE = re.compile(r"<TextBlock[^>]*>([\s\S]*?)</TextBlock>", re.I)
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


def _get_attr(elem: str, name: str) -> str | None:
    pat = _ATTR_RES.get(name)
    if pat is None:
        pat = _ATTR_RES[name] = re.compile(
            rf"{name}=[\"']([^\"']+)[\"']", re.I)
    m = pat.search(elem)
    return m.group(1) if m else None


_ATTR_TOKEN_RE = re.compile(r"([^\s\"'=<>/]+)=[\"']([^\"']*)[\"']")


def _attr_map(elem: str) -> dict:
    """All attributes of one element in a single pass.

    Lookup-compatible with ``_get_attr``'s per-name regex, which
    matches ``name=`` anywhere in the element (case-insensitive, first
    occurrence, non-empty value): keys are stored uppercased for every
    *suffix* of each attribute name so e.g. a query for STYLE would hit
    FONTSTYLE exactly as the search regex does, first writer wins, and
    empty values are skipped (the regex's ``[^\"']+`` cannot match
    them, so a later occurrence supplies the value)."""
    out: dict = {}
    for m in _ATTR_TOKEN_RE.finditer(elem):
        val = m.group(2)
        if not val:
            continue
        name = m.group(1).upper()
        for i in range(len(name)):
            key = name[i:]
            if key not in out:
                out[key] = val
    return out


def ref_convert_page_alto(ocr_str: str, n: int):
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

    def _style_font(style_refs: str) -> str | None:
        if style_refs in style_font_memo:
            return style_font_memo[style_refs]
        sm2 = re.search(
            rf"<TextStyle\s*ID=[\"']{re.escape(style_refs)}[\"'][^>]*>",
            ocr_str, re.I)
        font_family = (_get_attr(sm2.group(0), "FONTFAMILY")
                       if sm2 else None)
        style_font_memo[style_refs] = font_family
        return font_family

    def convert_line(match: str, block_style_refs: str | None) -> None:
        tag = _TEXTLINE_TAG_RE.search(match)
        if not tag:
            return
        attrs = _attr_map(tag.group(0))
        vpos = attrs.get("VPOS")
        hpos = attrs.get("HPOS")
        height = attrs.get("HEIGHT")
        width = attrs.get("WIDTH")
        if not vpos or not hpos or not height or not width:
            return

        linebox = Bbox(
            int(hpos), int(vpos),
            int(hpos) + int(width), int(vpos) + int(height))
        line_obj = OcrLine(page_obj, linebox, [0, 0], None, None)

        for sm in _STRING_RE.finditer(match):
            attrs = _attr_map(sm.group(0))
            content = attrs.get("CONTENT")
            if not content:
                continue
            text = unescape_xml(content)
            s_hpos = attrs.get("HPOS")
            s_vpos = attrs.get("VPOS")
            s_height = attrs.get("HEIGHT")
            s_width = attrs.get("WIDTH")
            if not s_hpos or not s_vpos or not s_height or not s_width:
                continue
            word_box = Bbox(
                int(s_hpos), int(s_vpos),
                int(s_hpos) + int(s_width), int(s_vpos) + int(s_height))
            wid = f"word_{n + 1}_{len(page_obj.lines) + 1}_{len(line_obj.words) + 1}"
            word_obj = OcrWord(line_obj, wid, text, word_box)

            wc = attrs.get("WC")
            if wc:
                word_obj.conf = math.floor(float(wc) * 100 + 0.5)

            style_attr = attrs.get("STYLE")
            if style_attr:
                if _STYLE_WORD_RES["bold"].search(style_attr):
                    word_obj.style.bold = True
                if _STYLE_WORD_RES["italic"].search(style_attr):
                    word_obj.style.italic = True
                if _STYLE_WORD_RES["underline"].search(style_attr):
                    word_obj.style.underline = True
                if _STYLE_WORD_RES["superscript"].search(style_attr):
                    word_obj.style.sup = True
                if _STYLE_WORD_RES["smallcaps"].search(style_attr):
                    word_obj.style.smallCaps = True

            style_refs = attrs.get("STYLEREFS") or block_style_refs
            if style_refs:
                font_family = _style_font(style_refs)
                if font_family:
                    word_obj.style.font = font_family

            line_obj.words.append(word_obj)

        if not line_obj.words:
            return

        with_desc = []
        without_desc = []
        for word in line_obj.words:
            if any(ch in DESC_CHARS for ch in word.text):
                with_desc.append(word)
            else:
                without_desc.append(word)

        if without_desc:
            bottoms = sorted(w.bbox.bottom for w in without_desc)
            median_bottom = bottoms[math.floor(len(bottoms) / 2)]
            line_obj.baseline[1] = median_bottom - line_obj.bbox.bottom
        elif with_desc:
            line_height = line_obj.bbox.bottom - line_obj.bbox.top
            line_obj.baseline[1] = -math.floor(line_height * 0.25 + 0.5)

        x_only_words = [
            w for w in line_obj.words
            if w.text and all(ch in X_CHARS for ch in w.text)
        ]
        has_ascenders = any(
            any(ch in ASC_CHARS for ch in w.text) for w in line_obj.words)

        if x_only_words:
            heights = sorted(w.bbox.bottom - w.bbox.top for w in x_only_words)
            line_obj.xHeight = heights[math.floor(len(heights) / 2)]
        else:
            baseline_y = line_obj.bbox.bottom + line_obj.baseline[1]
            top_to_baseline = baseline_y - line_obj.bbox.top
            if not has_ascenders:
                line_obj.xHeight = math.floor(top_to_baseline + 0.5)
            else:
                line_obj.xHeight = math.floor(top_to_baseline * 0.67 + 0.5)

        page_obj.lines.append(line_obj)

    for bm in _TEXTBLOCK_RE.finditer(ocr_str):
        tag = re.search(r"<TextBlock[^>]+>", bm.group(0), re.I)
        block_style_refs = _get_attr(tag.group(0), "STYLEREFS") if tag else None
        par_lines = []
        for lm in _TEXTLINE_RE.finditer(bm.group(1)):
            before = len(page_obj.lines)
            convert_line(lm.group(0), block_style_refs)
            if len(page_obj.lines) > before:
                par_lines.append(page_obj.lines[-1])
        if par_lines:
            par_obj = OcrPar(page_obj, bbox_union([l.bbox for l in par_lines]))
            for l in par_lines:
                l.par = par_obj
            par_obj.lines = par_lines
            page_obj.pars.append(par_obj)

    pass2(page_obj, 0)
    lang_set = ref_pass3(page_obj)
    return page_obj, lang_set


# ---- pass3
_ALNUM_RE = re.compile(r"[a-zA-Z\d]")
_CLOSE_QUOTE_RE = re.compile(r"[a-zA-Z\d][.,!?;]?['\"]$")


def ref_pass3(page_obj):
    """Statistics + corrections for every format
    (convertPageShared.js:342-517). Returns the detected language set."""
    lang_set = set()

    if not page_obj.angle:
        angle_rise = [
            line.baseline[0]
            for line in page_obj.lines
            if (line.bbox.right - line.bbox.left) >= 200
        ]
        rise_median = mean50(angle_rise) or 0.0
        page_obj.angle = math.asin(rise_median) * (180 / math.pi)

    for line_obj in page_obj.lines:
        line_asc_heights = []
        line_x_heights = []
        line_all_heights = []

        for word_obj in line_obj.words:
            letters = list(word_obj.text)
            chars = word_obj.chars
            lang_set.add(word_obj.lang)

            if chars is not None and len(chars) != len(word_obj.text):
                continue

            # Opening quotes (:382-390).
            if (
                letters
                and letters[0] in ('"', "'")
                and len(letters) > 1
                and _ALNUM_RE.match(letters[1])
            ):
                repl = "“" if letters[0] == '"' else "‘"
                letters[0] = repl
                if chars:
                    chars[0].text = repl

            # Closing quotes (:393-401).
            if (
                letters
                and letters[-1] in ('"', "'")
                and _CLOSE_QUOTE_RE.search(word_obj.text)
            ):
                repl = "”" if letters[-1] == '"' else "’"
                letters[-1] = repl
                if chars:
                    chars[len(letters) - 1].text = repl

            # Apostrophes between letters (:404-409).
            for k in range(1, len(letters) - 1):
                if (
                    letters[k] == "'"
                    and _ALNUM_RE.match(letters[k + 1])
                    and _ALNUM_RE.match(letters[k - 1])
                ):
                    letters[k] = "’"
                    if chars:
                        chars[k].text = "’"

            # Char statistics (:412-434).
            if chars is not None:
                for k in range(len(letters)):
                    if word_obj.style.sup or word_obj.style.dropcap:
                        continue
                    ch = letters[k]
                    char_height = chars[k].bbox.bottom - chars[k].bbox.top
                    if word_obj.style.smallCaps:
                        asc_char = bool(re.match(r"[A-Z0-9]", ch))
                        x_char = bool(re.match(r"[a-z]", ch))
                    else:
                        asc_char = ch in ASC_CHARS
                        x_char = ch in X_CHARS
                    line_all_heights.append(char_height)
                    if asc_char:
                        line_asc_heights.append(char_height)
                    elif x_char:
                        line_x_heights.append(char_height)

            word_obj.text = "".join(letters)

        line_all_height = max(line_all_heights) if line_all_heights else None
        line_asc_height = quantile(line_asc_heights, 0.5)
        line_x_height = quantile(line_x_heights, 0.5)

        if line_asc_height:
            line_obj.ascHeight = line_asc_height
        if line_x_height:
            line_obj.xHeight = line_x_height

        if (
            line_obj.ascHeight
            and line_obj.xHeight
            and line_obj.xHeight >= line_obj.ascHeight * 0.9
        ):
            if len(line_asc_heights) > len(line_x_heights):
                line_obj.xHeight = None
            else:
                line_obj.ascHeight = None

        if (
            not line_asc_height
            and not line_x_height
            and line_all_height
            and math.isfinite(line_all_height)
        ):
            line_obj.ascHeight = line_all_height

        # Dash-width normalization + ligatures (:463-513).
        for word_obj in line_obj.words:
            if word_obj.chars is not None and len(word_obj.chars) != len(word_obj.text):
                continue
            letters = list(word_obj.text)
            chars = word_obj.chars
            if not chars or not line_obj.xHeight:
                continue
            for k in range(len(letters)):
                enough_info = len(letters) > 2 or len(line_obj.words) > 2
                if letters[k] in ("-", "–", "—", "¬") and enough_info:
                    char_width = chars[k].bbox.right - chars[k].bbox.left
                    if k - 1 >= 0:
                        right_bound = (
                            chars[k + 1].bbox.left
                            if k + 1 < len(chars)
                            else chars[k].bbox.right
                        )
                        char_width2 = right_bound - chars[k - 1].bbox.right
                        char_width = min(char_width, char_width2)
                    norm = char_width / line_obj.xHeight
                    if norm > 1.5:
                        repl = "—"
                    elif norm > 0.9:
                        repl = "–"
                    else:
                        repl = "-"
                    letters[k] = repl
                    chars[k].text = repl
            word_obj.text = replace_ligatures("".join(letters))

    return lang_set
