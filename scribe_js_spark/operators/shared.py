"""Shared normalization passes applied to every imported page.

Semantics follow /root/reference/js/import/convertPageShared.js:
- ``pass2`` (:146-333): Tesseract-only fixes — line bbox recompute,
  small-caps misrecognition fix, trailing-superscript split.
- ``pass3`` (:342-517): all formats — page angle, quote smartening,
  line asc/x-height statistics, dash-width normalization, ligatures.
- ``split_unicode_superscripts`` (:19-138).
"""

from __future__ import annotations

import math
import re
import string

from ..functions.stats import js_round, mean50, quantile
from ..functions.textnorm import (
    ASC_CHARS,
    SUPERSCRIPT_SEG_RE,
    X_CHARS,
    remove_superscript,
    replace_ligatures,
)
from ..model import (
    Bbox,
    OcrChar,
    OcrPage,
    OcrWord,
    calc_word_bbox,
    update_line_bbox,
)

_LOWER_RE = re.compile(r"[a-z]")
_MULTI_CAP_RE = re.compile(r"[A-Z].?[A-Z]")
_LETTER_RE = re.compile(r"[a-zA-Z]")
_ASC_LETTER_RE = re.compile(r"[a-pr-zA-PR-Z]")
_TRAILING_NUM_RE = re.compile(r"\d+$")
_ALNUM_RE = re.compile(r"[a-zA-Z\d]")
_CLOSE_QUOTE_RE = re.compile(r"[a-zA-Z\d][.,!?;]?['\"]$")
_QUOTES = frozenset("'\"")
_DASHES = frozenset("-\u2013\u2014\u00ac")
_SMALLCAPS_ASC_CHARS = frozenset(string.ascii_uppercase + string.digits)
_SMALLCAPS_X_CHARS = frozenset(string.ascii_lowercase)


def split_unicode_superscripts(line_obj) -> None:
    """Split words containing unicode superscript codepoints into
    sup/base segments with proportional bboxes
    (convertPageShared.js:19-138)."""
    new_words = []
    for word_obj in line_obj.words:
        text = word_obj.text
        segments = []
        last = 0
        for m in SUPERSCRIPT_SEG_RE.finditer(text):
            if m.start() > last:
                segments.append((text[last : m.start()], False))
            segments.append((m.group(0), True))
            last = m.end()
        if not segments:
            new_words.append(word_obj)
            continue
        if last < len(text):
            segments.append((text[last:], False))

        if len(segments) == 1:
            word_obj.text = remove_superscript(word_obj.text)
            word_obj.style.sup = segments[0][1]
            new_words.append(word_obj)
            continue

        word_width = word_obj.bbox.right - word_obj.bbox.left
        total_chars = len(text)
        char_offset = 0
        for j, (seg_text, is_sup) in enumerate(segments):
            seg_chars = len(seg_text)
            start_ratio = char_offset / total_chars
            end_ratio = (char_offset + seg_chars) / total_chars
            word_height = word_obj.bbox.bottom - word_obj.bbox.top
            sup_bottom_offset = word_height * 0.42
            seg_bbox = Bbox(
                js_round(word_obj.bbox.left + word_width * start_ratio),
                word_obj.bbox.top,
                js_round(word_obj.bbox.left + word_width * end_ratio),
                js_round(word_obj.bbox.top + sup_bottom_offset)
                if is_sup
                else word_obj.bbox.bottom,
            )
            seg_id = word_obj.id if j == 0 else f"{word_obj.id}_{j}"
            seg_word = OcrWord(
                line_obj, seg_id,
                remove_superscript(seg_text) if is_sup else seg_text,
                seg_bbox,
            )
            seg_word.conf = word_obj.conf
            seg_word.lang = word_obj.lang
            if is_sup:
                seg_word.style.sup = True
            new_words.append(seg_word)
            char_offset += seg_chars
    line_obj.words = new_words


def pass2(page_obj: OcrPage, rotate_angle: float = 0.0) -> None:
    """Tesseract-format corrections (convertPageShared.js:146-333)."""
    for line_obj in page_obj.lines:
        update_line_bbox(line_obj)

    # (Rotation transform for pre-rotated input intentionally omitted:
    # our pipeline never pre-rotates images before recognition.)

    # Small-caps misrecognition fix (:167-249).
    for line_obj in page_obj.lines:
        first_word = False
        small_caps_words = []
        title_case = {}
        for j, word_obj in enumerate(line_obj.words):
            if word_obj.style.smallCaps:
                small_caps_words.append(word_obj)
                first_word = True
                continue
            if (
                not _LOWER_RE.search(word_obj.text)
                and _MULTI_CAP_RE.search(word_obj.text)
                and word_obj.chars
            ):
                letter_chars = [c for c in word_obj.chars if _LETTER_RE.search(c.text)]
                if not letter_chars:
                    continue
                first_h = letter_chars[0].bbox.bottom - letter_chars[0].bbox.top
                others = [c for c in letter_chars[1:] if c.text.lower() != "q"]
                if not others:
                    continue
                other_h = [c.bbox.bottom - c.bbox.top for c in others]
                h_max, h_min = max(other_h), min(other_h)
                first_thresh = 1.3 if letter_chars[0].text in ("q", "Q") else 1.1
                if first_h > h_max * first_thresh:
                    if h_min > 0 and (h_max / h_min) < 1.15:
                        small_caps_words.append(word_obj)
                        if j == 0:
                            first_word = True
                        title_case[len(small_caps_words) - 1] = True
                else:
                    asc_chars = [
                        c for c in word_obj.chars if _ASC_LETTER_RE.search(c.text)
                    ]
                    if len(asc_chars) < 2:
                        continue
                    all_h = [c.bbox.bottom - c.bbox.top for c in asc_chars]
                    if min(all_h) > 0 and (max(all_h) / min(all_h)) < 1.15:
                        small_caps_words.append(word_obj)
                        if j == 0:
                            first_word = True
                        title_case[len(small_caps_words) - 1] = False

        if first_word or len(small_caps_words) >= 2:
            title_case_total = sum(1 for v in title_case.values() if v)
            for k, word_obj in enumerate(small_caps_words):
                word_obj.style.smallCaps = True
                if not word_obj.chars or not title_case_total:
                    continue
                if title_case.get(k):
                    for c in word_obj.chars[1:]:
                        c.text = c.text.lower()
                else:
                    for c in word_obj.chars:
                        c.text = c.text.lower()
                word_obj.text = "".join(c.text for c in word_obj.chars)

    # Trailing-superscript split (:253-332).
    for line_obj in page_obj.lines:
        i = 0
        while i < len(line_obj.words):
            word_obj = line_obj.words[i]
            if (
                word_obj.lang in ("chi_sim", "chi_tra")
                or not word_obj.chars
            ):
                i += 1
                continue
            m = _TRAILING_NUM_RE.search(word_obj.text)
            if not m:
                i += 1
                continue

            line = line_obj
            adj_top = line.bbox.top
            adj_bottom = line.bbox.bottom
            if line.baseline[0] < 0:
                adj_top -= (line.bbox.right - line.bbox.left) * line.baseline[0]
            else:
                adj_bottom -= (line.bbox.right - line.bbox.left) * line.baseline[0]
            baseline_point_adj = (
                line.baseline[1]
                if line.baseline[0] < 0
                else line.baseline[1] + (line.bbox.bottom - adj_bottom)
            )
            expected_baseline = (
                (word_obj.bbox.left + (word_obj.bbox.right - word_obj.bbox.left) / 2
                 - line.bbox.left) * line.baseline[0]
                + baseline_point_adj + adj_bottom
            )
            line_asc_height = expected_baseline - adj_top

            base_n = 0
            for j in range(len(word_obj.chars) - 1, -1, -1):
                if word_obj.chars[j].bbox.bottom < expected_baseline - line_asc_height / 4:
                    base_n += 1
                else:
                    break
            super_n = min(len(m.group(0)), base_n)
            if super_n == 0:
                i += 1
                continue
            if super_n == len(word_obj.text):
                word_obj.style.sup = True
                word_obj.style.bold = False
                word_obj.style.italic = False
                word_obj.style.underline = False
                i += 1
                continue

            word_sup = word_obj.clone()
            n_core = len(word_obj.chars) - super_n
            char_core = word_obj.chars[:n_core]
            char_super = word_sup.chars[n_core:]
            word_sup.text = "".join(c.text for c in char_super)
            word_sup.chars = char_super
            word_sup.style.bold = False
            word_sup.style.italic = False
            word_sup.style.underline = False
            word_sup.style.sup = True
            word_sup.id = f"{word_obj.id}a"
            calc_word_bbox(word_sup)

            word_obj.text = "".join(c.text for c in char_core)
            word_obj.chars = char_core
            calc_word_bbox(word_obj)

            line_obj.words.insert(i + 1, word_sup)
            i += 2


def _smarten_quotes(text: str, chars) -> str:
    """Directional quotes and apostrophes (:382-409); ``text`` holds a
    straight quote and ``chars``, when present, matches it 1:1."""
    letters = list(text)

    # Opening quotes (:382-390).
    if (
        letters[0] in ('"', "'")
        and len(letters) > 1
        and _ALNUM_RE.match(letters[1])
    ):
        repl = "“" if letters[0] == '"' else "‘"
        letters[0] = repl
        if chars:
            chars[0].text = repl

    # Closing quotes (:393-401).
    if letters[-1] in ('"', "'") and _CLOSE_QUOTE_RE.search(text):
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
    return "".join(letters)


def _normalize_dashes(text: str, chars, x_height) -> str:
    """Dash glyph from its width relative to the line's x-height
    (:463-507); ``chars`` matches ``text`` 1:1."""
    letters = list(text)
    for k, ch in enumerate(text):
        if ch not in _DASHES:
            continue
        char_width = chars[k].bbox.right - chars[k].bbox.left
        if k - 1 >= 0:
            right_bound = (
                chars[k + 1].bbox.left
                if k + 1 < len(chars)
                else chars[k].bbox.right
            )
            char_width2 = right_bound - chars[k - 1].bbox.right
            char_width = min(char_width, char_width2)
        norm = char_width / x_height
        if norm > 1.5:
            repl = "—"
        elif norm > 0.9:
            repl = "–"
        else:
            repl = "-"
        letters[k] = repl
        chars[k].text = repl
    return "".join(letters)


def pass3(page_obj: OcrPage) -> set:
    """Statistics + corrections for every format
    (convertPageShared.js:342-517). Returns the detected language set.

    Words whose text holds no straight quote, dash or ligature skip
    those rewrites; the char statistics are one pass over the chars."""
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
            text = word_obj.text
            chars = word_obj.chars
            lang_set.add(word_obj.lang)

            if chars is not None and len(chars) != len(text):
                continue
            if not _QUOTES.isdisjoint(text):
                text = word_obj.text = _smarten_quotes(text, chars)

            # Char statistics (:412-434).
            style = word_obj.style
            if chars is None or style.sup or style.dropcap:
                continue
            if style.smallCaps:
                asc_set, x_set = _SMALLCAPS_ASC_CHARS, _SMALLCAPS_X_CHARS
            else:
                asc_set, x_set = ASC_CHARS, X_CHARS
            heights = [c.bbox.bottom - c.bbox.top for c in chars]
            line_all_heights += heights
            for ch, char_height in zip(text, heights):
                if ch in asc_set:
                    line_asc_heights.append(char_height)
                elif ch in x_set:
                    line_x_heights.append(char_height)

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
        x_height = line_obj.xHeight
        if not x_height:
            continue
        enough_words = len(line_obj.words) > 2
        for word_obj in line_obj.words:
            chars = word_obj.chars
            text = word_obj.text
            if not chars or len(chars) != len(text):
                continue
            if ((len(text) > 2 or enough_words)
                    and not _DASHES.isdisjoint(text)):
                text = _normalize_dashes(text, chars, x_height)
            word_obj.text = replace_ligatures(text)

    return lang_set
