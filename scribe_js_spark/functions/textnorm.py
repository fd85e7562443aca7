"""String normalization primitives shared by all format converters.

Semantics match the reference (file:line cited per function); all tables
are public-knowledge Unicode facts.
"""

from __future__ import annotations

import re

# Character classes used for line-metric statistics
# (/root/reference/js/utils/miscUtils.js:5-8).
ASC_CHARS = frozenset(
    "ABCDEFGHIKLMNOPRSTUVWXYZbdhklt0123456789"
)
X_CHARS = frozenset("acemnorsuvwxz")
DESC_CHARS = frozenset("gjpqy")

# Ligature decomposition map (/root/reference/js/objects/ocrObjects.js:541-573).
LIGATURE_MAP = {
    "\u0132": "IJ", "\u0133": "ij", "\u0149": "\u02bcn",
    "\u01f1": "DZ", "\u01f2": "Dz", "\u01f3": "dz",
    "\u01c4": "D\u017d", "\u01c5": "D\u017e", "\u01c6": "d\u017e",
    "\u01c7": "LJ", "\u01c8": "Lj", "\u01c9": "lj",
    "\u01ca": "NJ", "\u01cb": "Nj", "\u01cc": "nj",
    "\ufb00": "ff", "\ufb01": "fi", "\ufb02": "fl",
    "\ufb03": "ffi", "\ufb04": "ffl",
    "\ufb05": "\u017ft", "\ufb06": "st",
}
_LIGATURE_RE = re.compile("[" + "".join(LIGATURE_MAP) + "]")


def replace_ligatures(text: str) -> str:
    """Replace stylistic ligatures with component letters
    (ocrObjects.js:569-573)."""
    # Every ligature codepoint is non-ASCII; isascii() is O(1).
    if text.isascii() or not _LIGATURE_RE.search(text):
        return text
    return _LIGATURE_RE.sub(lambda m: LIGATURE_MAP[m.group(0)], text)


_HEX_ENT_RE = re.compile(r"&#x([0-9a-f]+);")


def unescape_xml(s: str) -> str:
    """XML unescape + soft-hyphen normalization
    (/root/reference/js/utils/miscUtils.js:157-171).

    Applied replacement-by-replacement in the reference's order so edge
    cases (double-escaped entities) behave identically.
    """
    if "&" not in s:
        # No entities: only the soft-hyphen normalization can apply.
        if "\u00ad" in s:
            return s.replace("\u00ad", "-")
        return s
    s = s.replace("&amp;", "&")
    s = s.replace("&quot;", '"')
    s = s.replace("&apos;", "'")
    s = s.replace("&lt;", "<")
    s = s.replace("&gt;", ">")
    s = s.replace("&#39;", "'")
    s = s.replace("&#34;", '"')
    s = _HEX_ENT_RE.sub(lambda m: chr(int(m.group(1), 16)), s)
    s = s.replace("\u00ad", "-")
    return s


def escape_xml(s: str) -> str:
    """XML escape (ocrObjects.js:592)."""
    return (
        s.replace("&", "&amp;")
        .replace('"', "&quot;")
        .replace("'", "&apos;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
    )


# CJK / Cyrillic codepoint ranges (miscUtils.js:180-204).
_CJK_RANGES = (
    (0x4E00, 0x9FFF), (0x3400, 0x4DBF), (0x20000, 0x2A6DF),
    (0x2A700, 0x2B73F), (0x2B740, 0x2B81F), (0x2B820, 0x2CEAF),
    (0xF900, 0xFAFF), (0x2F800, 0x2FA1F),
)
_CYR_RANGES = ((0x0400, 0x04FF), (0x0500, 0x052F))


def calc_lang(s: str) -> str:
    """'chi_sim' / 'rus' / 'eng' from codepoint ranges
    (miscUtils.js:180-204)."""
    if s.isascii():
        return "eng"
    for ch in s:
        code = ord(ch)
        if code <= 127:
            continue
        for lo, hi in _CJK_RANGES:
            if lo <= code <= hi:
                return "chi_sim"
        for lo, hi in _CYR_RANGES:
            if lo <= code <= hi:
                return "rus"
        if code in (0x1C80, 0x1C81):
            return "rus"
    return "eng"


_HAN_RE = re.compile(r"\p{Han}") if hasattr(re, "Pattern") and False else None


def get_text_script(text) -> dict:
    """Count Han vs Latin characters (miscUtils.js:463-472)."""
    han = 0
    latin = 0
    chars = text if isinstance(text, list) else list(text)
    for ch in chars:
        code = ord(ch[0]) if ch else 0
        for lo, hi in _CJK_RANGES:
            if lo <= code <= hi:
                han += 1
                break
        if ("a" <= ch <= "z") or ("A" <= ch <= "Z") or (0x00C0 <= code <= 0x024F):
            latin += 1
    return {"han": han, "latin": latin}


# Superscript codepoint -> normal map (miscUtils.js:465-553).
SUPERSCRIPT_MAP = {
    "\u2070": "0", "\u00b9": "1", "\u00b2": "2", "\u00b3": "3",
    "\u2074": "4", "\u2075": "5", "\u2076": "6", "\u2077": "7",
    "\u2078": "8", "\u2079": "9",
    "\u1d43": "a", "\u1d47": "b", "\u1d9c": "c", "\u1d48": "d",
    "\u1d49": "e", "\u1da0": "f", "\u1d4d": "g", "\u02b0": "h",
    "\u2071": "i", "\u02b2": "j", "\u1d4f": "k", "\u02e1": "l",
    "\u1d50": "m", "\u207f": "n", "\u1d52": "o", "\u1d56": "p",
    "\u02b3": "r", "\u02e2": "s", "\u1d57": "t", "\u1d58": "u",
    "\u1d5b": "v", "\u02b7": "w", "\u02e3": "x", "\u02b8": "y",
    "\u1dbb": "z",
    "\u1d2c": "A", "\u1d2e": "B", "\u1d30": "D", "\u1d31": "E",
    "\u1d33": "G", "\u1d34": "H", "\u1d35": "I", "\u1d36": "J",
    "\u1d37": "K", "\u1d38": "L", "\u1d39": "M", "\u1d3a": "N",
    "\u1d3c": "O", "\u1d3e": "P", "\u1d3f": "R", "\u1d40": "T",
    "\u1d41": "U", "\u2c7d": "V", "\u1d42": "W",
    "\u207a": "+", "\u207b": "-", "\u207c": "=",
    "\u207d": "(", "\u207e": ")",
}
SUPERSCRIPT_CHARS = (
    "\u2070\u00b9\u00b2\u00b3\u2074\u2075\u2076\u2077\u2078\u2079"
    "\u1d43\u1d47\u1d9c\u1d48\u1d49\u1da0\u1d4d\u02b0\u2071\u02b2"
    "\u1d4f\u02e1\u1d50\u207f\u1d52\u1d56\u02b3\u02e2\u1d57\u1d58"
    "\u1d5b\u02b7\u02e3\u02b8\u1dbb"
    "\u1d2c\u1d2e\u1d30\u1d31\u1d33\u1d34\u1d35\u1d36\u1d37\u1d38"
    "\u1d39\u1d3a\u1d3c\u1d3e\u1d3f\u1d40\u1d41\u2c7d\u1d42"
    "\u207a\u207b\u207c\u207d\u207e"
)
_SUPERSCRIPT_STRIP_RE = re.compile(
    "[" + SUPERSCRIPT_CHARS + "\u1d45\u1d5d\u1d5e\u1d5f\u1d4b\u1dbf\u1db2\u1d60\u1d61]"
)
SUPERSCRIPT_SEG_RE = re.compile("[" + SUPERSCRIPT_CHARS + "]+")


def remove_superscript(text: str) -> str:
    """Map unicode superscript chars to normal forms (miscUtils.js:559)."""
    return _SUPERSCRIPT_STRIP_RE.sub(
        lambda m: SUPERSCRIPT_MAP.get(m.group(0), m.group(0)), text
    )


def replace_smart_quotes(text: str) -> str:
    """Directional-quote smartening (miscUtils.js:475-482)."""
    if "'" not in text and '"' not in text:
        return text
    text = re.sub(r"(^|[-\u2013\u2014])'", "\\1\u2018", text, count=1)
    text = re.sub(r'(^|[-\u2013\u2014])"', "\\1\u201c", text, count=1)
    text = re.sub(r"'(?=$|[-\u2013\u2014])", "\u2019", text, count=1)
    text = re.sub(r'"(?=$|[-\u2013\u2014])', "\u201d", text, count=1)
    text = re.sub(r"([a-zA-Z])'(?=[a-zA-Z]$)", "\\1\u2019", text, count=1)
    return text
