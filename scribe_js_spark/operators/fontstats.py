"""Document/corpus font-metric statistics.

The classic partial+final aggregation from the reference
(/root/reference/js/fontStatistics.js:19-166): per-page char
observations (width/height/kerning normalized by line x-height, digits
by asc-height) -> union across pages -> per (family, style, char)
exact medians (``quantile(v, 0.5)``, round6).

Spark mapping (SURVEY.md §2.7): the map stage emits observation rows
from inside the extraction UDF; the reduce is a native
``groupBy(family, style, kind, key)`` with the exact median computed
JVM-side as ``element_at(array_sort(collect_list(v)), floor(n/2)+1)`` —
matching the reference's sorted-index quantile without
``percentile_approx``.
"""

from __future__ import annotations

import re

from ..functions.stats import quantile, round6
from ..model import OcrPage

_SERIF_FONTS = (
    "SerifDefault|Archer|Baskerville|Bembo|Bodoni|Bookman|C059|Calibri|"
    "Cambria|Century|Cheltenham|Courier|Garamond|Georgia|LucidaBright|"
    "Minion|NimbusMono|Optima|P052|Palatino|Times")
_SANS_FONTS = (
    "SansDefault|Amplitude|Avenir|Arial|Calibri|Candara|Carlito|Clarika|"
    "Comic|Franklin|Frutiger|Futura|Gotham|Gothic|Halvorsen|Helvetica|"
    "Impact|Interstate|Kievit|Lato|Myriad|Segoe|Tahoma|Trebuchet|Univers|"
    "Verdana")
_SYMBOL_FONTS = (
    "SymbolDefault|Dingbats|Wingdings|Webdings|ZapfDingbats|Symbol|"
    "SymbolMT|Quivira")
_SERIF_RE = re.compile(_SERIF_FONTS, re.I)
_SANS_RE = re.compile(_SANS_FONTS, re.I)
_SYMBOL_RE = re.compile(_SYMBOL_FONTS, re.I)


def determine_sans_serif(font_name: str | None) -> str:
    """Font family bucket (miscUtils.js determineSansSerif)."""
    if not font_name:
        return "Default"
    name = re.sub(r"[_\s]", "", font_name)
    if not name or name in ("Default", "GlyphLessFont", "HiddenHorzOCR"):
        return "Default"
    if _SYMBOL_RE.search(name):
        return "SymbolDefault"
    if re.search(r"(^|\W|_)sans($|\W|_)", name, re.I):
        return "SansDefault"
    if re.search(r"(^|\W|_)serif($|\W|_)", name, re.I):
        return "SerifDefault"
    if _SERIF_RE.search(name):
        return "SerifDefault"
    if _SANS_RE.search(name):
        return "SansDefault"
    if name != "DefaultMetricsFont":
        if re.search(r"serif|rom", name, re.I) and not re.search(r"sans", name, re.I):
            return "SerifDefault"
        if re.search(r"san", name, re.I):
            return "SansDefault"
    return "Default"


def style_lookup(style) -> str:
    if style.bold and style.italic:
        return "boldItalic"
    if style.bold:
        return "bold"
    if style.italic:
        return "italic"
    return "normal"


def char_observations(pages: list[OcrPage]) -> list[dict]:
    """Raw observation rows for one document
    (calcCharMetricsPage semantics, fontStatistics.js:242-333)."""
    rows = []
    for page in pages:
        for line in page.lines:
            for word in line.words:
                family = determine_sans_serif(word.style.font) or "Default"
                if word.chars is not None and len(word.chars) != len(word.text):
                    continue
                if (word.conf < 80 or word.lang == "chi_sim"
                        or word.style.sup or word.style.smallCaps):
                    continue
                style = style_lookup(word.style)
                if style not in ("normal", "italic", "bold"):
                    continue
                if not word.chars:
                    continue
                chars = word.chars
                for k, char_obj in enumerate(chars):
                    h = char_obj.bbox.bottom - char_obj.bbox.top
                    w = char_obj.bbox.right - char_obj.bbox.left
                    norm = (line.ascHeight
                            if re.search(r"\d", char_obj.text)
                            else line.xHeight)
                    if not norm:
                        continue
                    code = str(ord(char_obj.text[0])) if char_obj.text else "0"
                    rows.append({"family": family, "style": style,
                                 "kind": "width", "key": code,
                                 "value": w / norm})
                    rows.append({"family": family, "style": style,
                                 "kind": "height", "key": code,
                                 "value": h / norm})
                    if k + 1 < len(chars):
                        nxt = chars[k + 1]
                        trailing = nxt.bbox.left - char_obj.bbox.right
                        w_next = nxt.bbox.right - nxt.bbox.left
                        if trailing + w_next > 0:
                            bigram = f"{code},{ord(nxt.text[0]) if nxt.text else 0}"
                            rows.append({
                                "family": family, "style": style,
                                "kind": "kerning", "key": bigram,
                                "value": trailing / norm})
                            rows.append({
                                "family": family, "style": style,
                                "kind": "kerning2", "key": bigram,
                                "value": (trailing + w_next) / norm})
    return rows


def calc_char_metrics(rows: list[dict]) -> dict:
    """Final metrics from observation rows (calculateCharMetrics):
    exact medians, caps height, digit renormalization, kerning2 -
    width-of-second adjustment."""
    grouped: dict = {}
    for r in rows:
        grouped.setdefault(
            (r["family"], r["style"], r["kind"], r["key"]), []).append(r["value"])

    out: dict = {}
    for (family, style, kind, key), values in grouped.items():
        fam = out.setdefault(family, {})
        st = fam.setdefault(style, {
            "width": {}, "height": {}, "kerning": {}, "kerning2": {},
            "widthObs": {}, "obs": 0, "heightCaps": None, "obsCaps": 0})
        st[kind][key] = round6(quantile(values, 0.5))
        if kind == "width":
            st["widthObs"][key] = len(values)
            st["obs"] += len(values)

    for family, fam in out.items():
        for style, st in fam.items():
            caps_values = []
            for (f2, s2, kind, key), values in grouped.items():
                if f2 == family and s2 == style and kind == "height" \
                        and re.match(r"[A-Z]", chr(int(key.split(",")[0]))):
                    caps_values.extend(values)
            if caps_values:
                st["heightCaps"] = round6(quantile(caps_values, 0.5))
                st["obsCaps"] = len(caps_values)
            # Digits were normalized by ascHeight; rescale to x-height
            # units via heightCaps (fontStatistics.js:141-149).
            if st["heightCaps"]:
                for kind in ("width", "height", "kerning", "kerning2"):
                    for key in list(st[kind]):
                        first = chr(int(re.match(r"\w+", key).group(0)))
                        if first.isdigit():
                            st[kind][key] = st[kind][key] * st["heightCaps"]
            # kerning2 holds end-of-char1 -> end-of-char2; subtract the
            # second char's width (fontStatistics.js:151-163).
            for key in list(st["kerning2"]):
                second = re.search(r"\w+$", key).group(0)
                w2 = st["width"].get(second)
                if w2 is not None:
                    st["kerning2"][key] = st["kerning2"][key] - w2
    return out


# ----------------------------------------------------------------- Spark


def font_observations_df(df, spark=None):
    """Spark map stage: corpus -> observation rows (url, family, style,
    kind, key, value)."""
    from pyspark.sql.types import (
        DoubleType, StringType, StructField, StructType)

    from ..pipeline import per_extracted

    schema = StructType([
        StructField("url", StringType()),
        StructField("family", StringType()),
        StructField("style", StringType()),
        StructField("kind", StringType()),
        StructField("key", StringType()),
        StructField("value", DoubleType()),
    ])
    keys = schema.names[1:]

    def rows(url, res):
        return [(url, *(r[k] for k in keys))
                for r in char_observations(res.pages)]

    return per_extracted(df.select("url", "html"), rows, schema)


def font_metrics_df(df):
    """Spark reduce stage: exact median per (family, style, kind, key) —
    JVM-side sorted-index median, no Python and no percentile_approx."""
    import pyspark.sql.functions as F

    return (
        df.groupBy("family", "style", "kind", "key")
        .agg(
            F.expr(
                "round(element_at(array_sort(collect_list(value)),"
                " cast(floor(count(value) / 2) as int) + 1) * 1e6) / 1e6"
            ).alias("median"),
            F.count("value").alias("obs"),
        )
    )
