"""From-scratch GIF codec (GIF87a/GIF89a).

Decoder: header + logical screen descriptor, global/local color
tables, image descriptors with interlace support, the GIF flavor of
variable-width LZW (LSB-first bit packing, per-image minimum code
size, clear/EOI codes, deferred width growth at 4096), multiple
frames with graphic-control delays captured (other extensions
skipped). Returns indexed frames resolved through their palettes to
RGB.

Encoder (fixture side): the exact inverse — palette, LSB-first LZW
with clear/EOI, optional interlace rows, multi-frame animations with
per-frame delays.

Note the bit order is the OPPOSITE of PDF/TIFF LZW
(operators/pdf/document.py): GIF packs codes least-significant-bit
first and grows widths at 2^n (no early change).
"""

from __future__ import annotations

import struct

from ..budget import check_budget

GIF_MAGICS = (b"GIF87a", b"GIF89a")

# Interlace pass row offsets/strides (GIF89a spec appendix E).
_INTERLACE = [(0, 8), (4, 8), (2, 4), (1, 2)]


def _lzw_decode_lsb(data: bytes, min_code_size: int, limit: int) -> bytes:
    """GIF LZW: LSB-first packing, clear = 2^n, EOI = 2^n + 1. Stops
    once ``limit`` bytes are out: LZW expands up to about 2,700 times,
    so a small stream could otherwise inflate to gigabytes."""
    clear = 1 << min_code_size
    eoi = clear + 1
    base = {i: bytes([i]) for i in range(clear)}
    table = dict(base)
    next_code = eoi + 1
    width = min_code_size + 1
    out = bytearray()
    prev = None
    acc = 0
    nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table = dict(base)
                next_code = eoi + 1
                width = min_code_size + 1
                prev = None
                continue
            if code == eoi:
                return bytes(out)
            if prev is None:
                entry = table.get(code)
                if entry is None:
                    raise ValueError("gif: bad initial LZW code")
            else:
                if code in table:
                    entry = table[code]
                elif code == next_code:
                    entry = prev + prev[:1]
                else:
                    raise ValueError("gif: LZW code out of range")
                if next_code < 4096:
                    table[next_code] = prev + entry[:1]
                    next_code += 1
                    if next_code == (1 << width) and width < 12:
                        width += 1
            out += entry
            if len(out) >= limit:
                return bytes(out)
            prev = entry
    return bytes(out)


def _lzw_encode_lsb(data: bytes, min_code_size: int) -> bytes:
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0
    width = min_code_size + 1

    def put(code: int):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    put(clear)
    seq = b""
    for byte in data:
        cand = seq + bytes([byte])
        if cand in table:
            seq = cand
            continue
        put(table[seq])
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            # decoder grows after ADDING its (one-behind) entry, so the
            # encoder widens as soon as the next emitted code could
            # need the extra bit
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:
            put(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        seq = bytes([byte])
    if seq:
        put(table[seq])
    put(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def decode_gif(data: bytes):
    """GIF -> (width, height, frames, delays_cs) where frames is a
    list of (h, w, 3) uint8 RGB ndarrays (palette-resolved;
    transparency index resolved through the palette like any other
    entry — extraction statistics, not compositing) and delays_cs the
    graphic-control frame delays in centiseconds."""
    import numpy as np

    if data[:6] not in GIF_MAGICS:
        raise ValueError("not a GIF")
    if len(data) < 13:
        raise ValueError("gif: truncated header")
    width, height, flags, _bg, _aspect = struct.unpack_from("<HHBBB", data, 6)
    # the screen and each frame, as RGB, are refused past the shared
    # decode budget before anything is allocated for them
    check_budget(width * height * 3, f"gif: {width}x{height}")
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(
            data, dtype=np.uint8, count=3 * n, offset=pos).reshape(n, 3)
        pos += 3 * n
    frames = []
    delays_cs = []
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks
            label = data[pos]
            pos += 1
            if label == 0xF9 and pos + 4 < len(data) and data[pos] >= 4:
                delays_cs.append(struct.unpack_from("<H", data, pos + 2)[0])
            while pos < len(data) and data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"gif: unexpected block 0x{block:02x}")
        fx, fy, fw, fh, iflags = struct.unpack_from("<HHHHB", data, pos)
        check_budget(fw * fh * 3, f"gif: {fw}x{fh}")
        pos += 9
        pal = gct
        if iflags & 0x80:
            n = 2 << (iflags & 0x07)
            pal = np.frombuffer(
                data, dtype=np.uint8, count=3 * n, offset=pos).reshape(n, 3)
            pos += 3 * n
        if pal is None:
            raise ValueError("gif: no color table")
        min_code = data[pos]
        pos += 1
        lzw = bytearray()
        while pos < len(data) and data[pos] != 0:
            sz = data[pos]
            lzw += data[pos + 1 : pos + 1 + sz]
            pos += 1 + sz
        pos += 1  # block terminator
        idx = np.frombuffer(
            _lzw_decode_lsb(bytes(lzw), min_code, fw * fh), dtype=np.uint8)
        if len(idx) < fw * fh:
            raise ValueError("gif: truncated image data")
        idx = idx[: fw * fh].reshape(fh, fw)
        if iflags & 0x40:  # interlaced
            ordered = np.zeros_like(idx)
            src = 0
            for off, step in _INTERLACE:
                rows = range(off, fh, step)
                for r in rows:
                    ordered[r] = idx[src]
                    src += 1
            idx = ordered
        if (idx >= len(pal)).any():
            raise ValueError("gif: palette index out of range")
        frame = pal[idx]
        if (fw, fh) != (width, height) or fx or fy:
            # sub-rectangle frame: place on a canvas of the screen size
            import numpy as _np

            canvas = _np.zeros((height, width, 3), dtype=_np.uint8)
            canvas[fy : fy + fh, fx : fx + fw] = frame
            frame = canvas
        frames.append(frame)
    if not frames:
        raise ValueError("gif: no image data")
    return width, height, frames, delays_cs


def encode_gif(index_frames, palette, interlace: bool = False,
               delay_cs: int = 4) -> bytes:
    """Fixture GIF writer: list of (h, w) uint8 index arrays + one
    global palette (n, 3). Multi-frame input emits a GIF89a animation
    with graphic-control extensions; ``interlace`` writes the four-pass
    row order."""
    import numpy as np

    pal = np.asarray(palette, dtype=np.uint8)
    n = len(pal)
    bits = max(1, (n - 1).bit_length())
    size = 1 << bits
    first = np.asarray(index_frames[0], dtype=np.uint8)
    h, w = first.shape
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
    out += pal.tobytes() + b"\x00" * (3 * (size - n))
    animated = len(index_frames) > 1
    for fr in index_frames:
        fr = np.asarray(fr, dtype=np.uint8)
        if animated:
            out += b"\x21\xf9\x04\x00" + struct.pack("<H", delay_cs) \
                + b"\x00\x00"
        fh, fw = fr.shape
        out += b"\x2c" + struct.pack(
            "<HHHHB", 0, 0, fw, fh, 0x40 if interlace else 0)
        if interlace:
            rows = []
            for off, step in _INTERLACE:
                rows.extend(range(off, fh, step))
            fr = fr[rows]
        min_code = max(2, bits)
        out.append(min_code)
        lzw = _lzw_encode_lsb(fr.tobytes(), min_code)
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
    out.append(0x3B)
    return bytes(out)
