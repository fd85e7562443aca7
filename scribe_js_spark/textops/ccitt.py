"""CCITT Group 3/4 (ITU-T T.4 / T.6) bilevel fax codec, from scratch.

The run-length Huffman tables below are the published T.4 code tables
(terminating codes 0-63 per color, make-up codes 64-1728 per color,
extended make-ups 1792-2560 shared), transcribed from the spec. The
2-D coder implements T.6 (Group 4) coding: vertical modes V(0)/VR(x)/
VL(x), horizontal mode (two 1-D-coded runs), and pass mode, against a
reference line that starts imaginary all-white. Group 3 1-D (MH) and
the EOL-less TIFF "CCITT RLE" variant share the same run tables.

Consumers: ``textops.tiff`` (compressions 2 = Modified Huffman
without EOLs, 3 = G3 1-D with EOLs, 4 = G4) and, by extension, the
media_decode pipeline — fax-compressed scans are a real crawled-corpus
modality (the reference keeps its CCITT decoder in
js/pdf/codecs/ccitt.js; this is an independent implementation from
the ITU tables, not a port).

Encoding (for fixtures and round-trips) emits G4 or MH with the same
tables, so every code path is exercised bidirectionally.
"""

from __future__ import annotations

from ..budget import check_budget

# --------------------------------------------------------- code tables

_WHITE_TERM = [
    "00110101", "000111", "0111", "1000", "1011", "1100", "1110",
    "1111", "10011", "10100", "00111", "01000", "001000", "000011",
    "110100", "110101", "101010", "101011", "0100111", "0001100",
    "0001000", "0010111", "0000011", "0000100", "0101000", "0101011",
    "0010011", "0100100", "0011000", "00000010", "00000011",
    "00011010", "00011011", "00010010", "00010011", "00010100",
    "00010101", "00010110", "00010111", "00101000", "00101001",
    "00101010", "00101011", "00101100", "00101101", "00000100",
    "00000101", "00001010", "00001011", "01010010", "01010011",
    "01010100", "01010101", "00100100", "00100101", "01011000",
    "01011001", "01011010", "01011011", "01001010", "01001011",
    "00110010", "00110011", "00110100",
]

_WHITE_MAKEUP = {
    64: "11011", 128: "10010", 192: "010111", 256: "0110111",
    320: "00110110", 384: "00110111", 448: "01100100",
    512: "01100101", 576: "01101000", 640: "01100111",
    704: "011001100", 768: "011001101", 832: "011010010",
    896: "011010011", 960: "011010100", 1024: "011010101",
    1088: "011010110", 1152: "011010111", 1216: "011011000",
    1280: "011011001", 1344: "011011010", 1408: "011011011",
    1472: "010011000", 1536: "010011001", 1600: "010011010",
    1664: "011000", 1728: "010011011",
}

_BLACK_TERM = [
    "0000110111", "010", "11", "10", "011", "0011", "0010", "00011",
    "000101", "000100", "0000100", "0000101", "0000111", "00000100",
    "00000111", "000011000", "0000010111", "0000011000", "0000001000",
    "00001100111", "00001101000", "00001101100", "00000110111",
    "00000101000", "00000010111", "00000011000", "000011001010",
    "000011001011", "000011001100", "000011001101", "000001101000",
    "000001101001", "000001101010", "000001101011", "000011010010",
    "000011010011", "000011010100", "000011010101", "000011010110",
    "000011010111", "000001101100", "000001101101", "000011011010",
    "000011011011", "000001010100", "000001010101", "000001010110",
    "000001010111", "000001100100", "000001100101", "000001010010",
    "000001010011", "000000100100", "000000110111", "000000111000",
    "000000100111", "000000101000", "000001011000", "000001011001",
    "000000101011", "000000101100", "000001011010", "000001100110",
    "000001100111",
]

_BLACK_MAKEUP = {
    64: "0000001111", 128: "000011001000", 192: "000011001001",
    256: "000001011011", 320: "000000110011", 384: "000000110100",
    448: "000000110101", 512: "0000001101100", 576: "0000001101101",
    640: "0000001001010", 704: "0000001001011", 768: "0000001001100",
    832: "0000001001101", 896: "0000001110010", 960: "0000001110011",
    1024: "0000001110100", 1088: "0000001110101", 1152: "0000001110110",
    1216: "0000001110111", 1280: "0000001010010", 1344: "0000001010011",
    1408: "0000001010100", 1472: "0000001010101", 1536: "0000001011010",
    1600: "0000001011011", 1664: "0000001100100", 1728: "0000001100101",
}

_EXT_MAKEUP = {
    1792: "00000001000", 1856: "00000001100", 1920: "00000001101",
    1984: "000000010010", 2048: "000000010011", 2112: "000000010100",
    2176: "000000010101", 2240: "000000010110", 2304: "000000010111",
    2368: "000000011100", 2432: "000000011101", 2496: "000000011110",
    2560: "000000011111",
}

# 2-D mode codes (T.4 §4.2.1.3.7 / T.6)
_MODE_P = "0001"
_MODE_H = "001"
_MODE_V = {0: "1", 1: "011", -1: "010", 2: "000011", -2: "000010",
           3: "0000011", -3: "0000010"}
_EOL = "000000000001"


def _build_decode_table(color: str) -> dict:
    term = _WHITE_TERM if color == "white" else _BLACK_TERM
    makeup = _WHITE_MAKEUP if color == "white" else _BLACK_MAKEUP
    out: dict[str, int] = {}
    for run, code in enumerate(term):
        out[code] = run
    for run, code in makeup.items():
        out[code] = run
    for run, code in _EXT_MAKEUP.items():
        out[code] = run
    return out

_DEC_WHITE = _build_decode_table("white")
_DEC_BLACK = _build_decode_table("black")
_MAX_CODE_LEN = 13


class _BitReader:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position, MSB-first

    def peek(self, n: int) -> str:
        out = []
        for i in range(n):
            p = self.pos + i
            if p >= len(self.data) * 8:
                break
            out.append("1" if self.data[p >> 3] & (0x80 >> (p & 7))
                       else "0")
        return "".join(out)

    def skip(self, n: int) -> None:
        self.pos += n

    def eof(self) -> bool:
        return self.pos >= len(self.data) * 8


def _read_run(br: _BitReader, white: bool) -> int:
    """One (possibly make-up-extended) run length for a color."""
    table = _DEC_WHITE if white else _DEC_BLACK
    total = 0
    while True:
        window = br.peek(_MAX_CODE_LEN)
        for ln in range(2, _MAX_CODE_LEN + 1):
            code = window[:ln]
            if code in table:
                run = table[code]
                br.skip(ln)
                total += run
                if run < 64:      # terminating code ends the run
                    return total
                break             # make-up: read another code
        else:
            raise ValueError("ccitt: bad run code")


def _changes(row: list[int], width: int) -> list[int]:
    """Positions of color changes in a row (0 = white, 1 = black),
    terminated by two sentinels at ``width``."""
    out = []
    prev = 0
    for i, v in enumerate(row):
        if v != prev:
            out.append(i)
            prev = v
    out.append(width)
    out.append(width)
    return out


def _decode_2d_line(br: "_BitReader", ref: list[int],
                    width: int) -> list[int]:
    """Decode one 2-D-coded line against the reference line
    (shared by T.6 / G4 and the 2-D lines of T.4 K>0)."""
    ref_changes = _changes(ref, width)
    cur = [0] * width
    a0 = -1
    color = 0
    guard = 0
    while a0 < width:
        guard += 1
        if guard > 2 * width + 16:
            # malicious/corrupt input where a0 stops advancing
            # (e.g. VL modes walking backward) must raise, not hang
            raise ValueError("ccitt: no forward progress")
        # b1: first changing element on the reference line right
        # of a0 whose run color is opposite the current color
        b1 = _b1_of(ref_changes, a0, color)
        b2 = _next_change(ref_changes, b1)

        window = br.peek(7)
        if window.startswith(_MODE_V[0]):
            br.skip(1)
            a1 = b1
            _fill(cur, max(a0, 0), a1, color)
            a0, color = a1, 1 - color
        elif window.startswith(_MODE_H):
            br.skip(3)
            r1 = _read_run(br, color == 0)
            r2 = _read_run(br, color != 0)
            start = max(a0, 0)
            a1 = start + r1
            a2 = a1 + r2
            _fill(cur, start, a1, color)
            _fill(cur, a1, min(a2, width), 1 - color)
            a0 = a2
        elif window.startswith(_MODE_P):
            br.skip(4)
            _fill(cur, max(a0, 0), b2, color)
            a0 = b2
        else:
            for d in (1, -1, 2, -2, 3, -3):
                if window.startswith(_MODE_V[d]):
                    br.skip(len(_MODE_V[d]))
                    a1 = b1 + d
                    _fill(cur, max(a0, 0), a1, color)
                    a0, color = a1, 1 - color
                    break
            else:
                raise ValueError("ccitt: bad 2-D mode code")
    return cur


def _decode_1d_line(br: "_BitReader", width: int) -> list[int]:
    """Decode one 1-D (Modified Huffman) line."""
    row = [0] * width
    pos = 0
    white = True
    guard = 0
    while pos < width:
        guard += 1
        if guard > 2 * width + 16:
            raise ValueError("ccitt: no forward progress")
        run = _read_run(br, white)
        if not white:
            for i in range(pos, min(pos + run, width)):
                row[i] = 1
        pos += run
        white = not white
    return row


def decode_g4(data: bytes, width: int, height: int,
              byte_align: bool = False) -> list[list[int]]:
    """T.6 (Group 4) decode -> rows of 0 (white) / 1 (black).

    ``byte_align`` is PDF /EncodedByteAlign: each coded line begins on
    a byte boundary (decodeCCITT.js:477 honors the same flag)."""
    check_budget(width * height, f"ccitt: {width}x{height}")
    br = _BitReader(data)
    ref = [0] * width
    rows = []
    for _y in range(height):
        if byte_align and br.pos % 8:
            br.skip(8 - br.pos % 8)
        cur = _decode_2d_line(br, ref, width)
        rows.append(cur)
        ref = cur
    return rows


def _skip_to_eol(br: "_BitReader") -> None:
    # T.4 permits arbitrary-length zero fill before an EOL (minimum
    # scan-line-time padding), so the scan is bounded only by the
    # remaining bits in the stream, not a fixed budget.
    while br.peek(12) != _EOL:
        if br.eof():
            raise ValueError("ccitt: missing EOL")
        br.skip(1)
    br.skip(12)


def decode_g3_2d(data: bytes, width: int, height: int,
                 byte_align: bool = False) -> list[list[int]]:
    """T.4 mixed 2-D (K > 1) decode: every line starts with an EOL
    followed by one tag bit — 1 selects a 1-D line, 0 a 2-D line
    coded against the previous line. ``byte_align`` (/EncodedByteAlign)
    realigns to a byte boundary before each EOL scan."""
    check_budget(width * height, f"ccitt: {width}x{height}")
    br = _BitReader(data)
    ref = [0] * width
    rows = []
    for _y in range(height):
        if byte_align and br.pos % 8:
            br.skip(8 - br.pos % 8)
        _skip_to_eol(br)
        tag = br.peek(1)
        br.skip(1)
        if tag == "1":
            cur = _decode_1d_line(br, width)
        else:
            cur = _decode_2d_line(br, ref, width)
        rows.append(cur)
        ref = cur
    return rows


def _b1_of(ref_changes: list[int], a0: int, color: int) -> int:
    """First changing element on the reference line to the right of a0
    whose color (the color of the run STARTING there) is opposite to
    ``color``. Changes alternate white->black, black->white, ... so the
    i-th change starts a run of color (i % 2 == 0 ? black : white)."""
    for i, c in enumerate(ref_changes):
        if c <= (a0 if a0 >= 0 else -1):
            continue
        starts = 1 if i % 2 == 0 else 0
        if starts == 1 - color:
            return c
    return ref_changes[-1]


def _next_change(ref_changes: list[int], pos: int) -> int:
    for c in ref_changes:
        if c > pos:
            return c
    return ref_changes[-1]


def _fill(row: list[int], start: int, end: int, color: int) -> None:
    if color:
        for i in range(max(start, 0), min(end, len(row))):
            row[i] = 1


class _BitWriter:
    __slots__ = ("bits",)

    def __init__(self):
        self.bits: list[str] = []

    def write(self, code: str) -> None:
        self.bits.append(code)

    def bytes(self) -> bytes:
        s = "".join(self.bits)
        s += "0" * (-len(s) % 8)
        return bytes(int(s[i:i + 8], 2) for i in range(0, len(s), 8))


def _write_run(bw: _BitWriter, run: int, white: bool) -> None:
    term = _WHITE_TERM if white else _BLACK_TERM
    makeup = _WHITE_MAKEUP if white else _BLACK_MAKEUP
    while run >= 2624:
        bw.write(_EXT_MAKEUP[2560])
        run -= 2560
    if run >= 64:
        mk = (run // 64) * 64
        if mk > 1728:
            bw.write(_EXT_MAKEUP[mk])
        else:
            bw.write(makeup[mk])
        run -= mk
    bw.write(term[run])


def encode_g4(rows: list[list[int]], width: int) -> bytes:
    """T.6 (Group 4) encode from rows of 0/1."""
    bw = _BitWriter()
    ref = [0] * width
    for cur in rows:
        ref_changes = _changes(ref, width)
        cur_changes = _changes(cur, width)
        a0 = -1
        color = 0
        while a0 < width:
            a1 = _a1_of(cur_changes, a0, color)
            b1 = _b1_of(ref_changes, a0, color)
            b2 = _next_change(ref_changes, b1)
            if b2 < a1:
                bw.write(_MODE_P)
                a0 = b2
            elif abs(a1 - b1) <= 3:
                bw.write(_MODE_V[a1 - b1])
                a0, color = a1, 1 - color
            else:
                a2 = _a1_of(cur_changes, a1, 1 - color)
                bw.write(_MODE_H)
                start = max(a0, 0)
                _write_run(bw, a1 - start, color == 0)
                _write_run(bw, a2 - a1, color != 0)
                a0 = a2
        ref = cur
    bw.write(_EOL + _EOL)  # EOFB
    return bw.bytes()


def _a1_of(cur_changes: list[int], a0: int, color: int) -> int:
    """First changing element on the coding line right of a0 that
    starts a run of the opposite color."""
    for i, c in enumerate(cur_changes):
        if c <= (a0 if a0 >= 0 else -1):
            continue
        starts = 1 if i % 2 == 0 else 0
        if starts == 1 - color:
            return c
    return cur_changes[-1]


def decode_mh(data: bytes, width: int, height: int,
              eols: bool = False,
              byte_align: bool | None = None) -> list[list[int]]:
    """1-D Modified Huffman decode (TIFF compression 2; with
    ``eols`` the G3/compression-3 1-D variant that prefixes each line
    with an EOL).

    ``byte_align`` distinguishes the two EOL-less dialects: TIFF
    compression 2 byte-aligns every row (the default when ``eols`` is
    false, preserving the historical behavior), while PDF
    CCITTFaxDecode K=0 is a continuous bitstream unless
    /EncodedByteAlign is set (decodeCCITT.js:477 default false)."""
    check_budget(width * height, f"ccitt: {width}x{height}")
    br = _BitReader(data)
    if byte_align is None:
        byte_align = not eols
    rows = []
    for _y in range(height):
        if eols:
            if byte_align and br.pos % 8:
                br.skip(8 - br.pos % 8)
            _skip_to_eol(br)
        elif byte_align and br.pos % 8:
            br.skip(8 - br.pos % 8)
        rows.append(_decode_1d_line(br, width))
    return rows


def encode_mh(rows: list[list[int]], width: int,
              eols: bool = False,
              byte_align: bool | None = None) -> bytes:
    """1-D Modified Huffman encode (inverse of :func:`decode_mh`).
    ``byte_align=False`` emits the PDF K=0 continuous-bitstream
    dialect (no per-row padding)."""
    bw = _BitWriter()
    if byte_align is None:
        byte_align = not eols
    for cur in rows:
        if eols:
            bw.write(_EOL)
        elif byte_align:
            pad = -sum(len(b) for b in bw.bits) % 8
            if pad:
                bw.write("0" * pad)
        pos = 0
        white = True
        while pos < width:
            run = 0
            while pos + run < width and \
                    (cur[pos + run] == 0) == white:
                run += 1
            _write_run(bw, run, white)
            pos += run
            white = not white
    return bw.bytes()


def _encode_1d_line(bw: "_BitWriter", cur: list[int],
                    width: int) -> None:
    pos = 0
    white = True
    while pos < width:
        run = 0
        while pos + run < width and (cur[pos + run] == 0) == white:
            run += 1
        _write_run(bw, run, white)
        pos += run
        white = not white


def _encode_2d_line(bw: "_BitWriter", cur: list[int], ref: list[int],
                    width: int) -> None:
    ref_changes = _changes(ref, width)
    cur_changes = _changes(cur, width)
    a0 = -1
    color = 0
    while a0 < width:
        a1 = _a1_of(cur_changes, a0, color)
        b1 = _b1_of(ref_changes, a0, color)
        b2 = _next_change(ref_changes, b1)
        if b2 < a1:
            bw.write(_MODE_P)
            a0 = b2
        elif abs(a1 - b1) <= 3:
            bw.write(_MODE_V[a1 - b1])
            a0, color = a1, 1 - color
        else:
            a2 = _a1_of(cur_changes, a1, 1 - color)
            bw.write(_MODE_H)
            start = max(a0, 0)
            _write_run(bw, a1 - start, color == 0)
            _write_run(bw, a2 - a1, color != 0)
            a0 = a2


def encode_g3_2d(rows: list[list[int]], width: int,
                 k: int = 4) -> bytes:
    """T.4 mixed 2-D encode: every K-th line is 1-D (tag bit 1), the
    lines between are 2-D against the previous line (tag bit 0)."""
    bw = _BitWriter()
    ref = None
    for y, cur in enumerate(rows):
        bw.write(_EOL)
        if y % k == 0 or ref is None:
            bw.write("1")
            _encode_1d_line(bw, cur, width)
        else:
            bw.write("0")
            _encode_2d_line(bw, cur, ref, width)
        ref = cur
    return bw.bytes()
