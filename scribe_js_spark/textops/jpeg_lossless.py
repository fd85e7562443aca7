"""Lossless (SOF3) JPEG — T.81 Annex H, Huffman entropy coding.

BEYOND the reference: decodeJPEG.js is baseline-only (its docstring at
decodeJPEG.js:365-376 returns null for non-baseline frames), and our
decode_jpeg previously surfaced SOF3 as an honest NotImplementedError.
Old flatbed-scanner and DICOM-derived PDFs embed this mode.

Scope: precision 2-8 bits (uint8 output), 1 or 3 components with 1x1
sampling (the only shapes lossless producers emit), predictors 1-7,
point transform, DRI/RSTn restart intervals. Differential/hierarchical
lossless (SOF7/15) stays an honest error upstream.

Decode rules (T.81 H.1-H.2):
- per sample, a DC-style SSSS Huffman code gives the difference's
  magnitude category; SSSS=16 means diff = 32768 with no extra bits
- prediction: first sample of the first line = 2^(P-1-Pt); the rest
  of the first line predicts from a (left); the first sample of later
  lines predicts from b (above); elsewhere the scan's selected
  predictor Ss in 1..7 over a/b/c
- sample = (prediction + diff) mod 2^16, output shifted left by the
  point transform Pt
- a restart marker resets prediction to the initial state
"""

from __future__ import annotations

import struct

import numpy as np

from ..budget import check_budget
from .jpeg import (_BitReader, _BitWriter, _build_decode_table,
                   _build_encode_table, _encode_magnitude, _extend, _seg)


def _predict(out, c, x, y, sel, default):
    if y == 0:
        return out[0, x - 1, c] if x else default
    if x == 0:
        return out[y - 1, 0, c]
    a = int(out[y, x - 1, c])
    b = int(out[y - 1, x, c])
    cc = int(out[y - 1, x - 1, c])
    if sel == 1:
        return a
    if sel == 2:
        return b
    if sel == 3:
        return cc
    if sel == 4:
        return a + b - cc
    if sel == 5:
        return a + ((b - cc) >> 1)
    if sel == 6:
        return b + ((a - cc) >> 1)
    return (a + b) >> 1  # sel 7


def decode_jpeg_lossless(data: bytes) -> np.ndarray:
    """SOF3 lossless JPEG -> uint8 array, (h, w) gray or (h, w, 3)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("jpeg: missing SOI")
    pos = 2
    htables: dict[int, dict] = {}
    w = h = None
    precision = 8
    comps: list[dict] = []
    restart_interval = 0
    out = None
    pt = 0
    while pos + 1 < len(data):
        if data[pos] != 0xFF:
            raise ValueError("jpeg: bad marker alignment")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue
        seg_len = struct.unpack_from(">H", data, pos)[0]
        seg = data[pos + 2:pos + seg_len]
        if marker == 0xC3:
            precision, h, w, ncomp = struct.unpack_from(">BHHB", seg, 0)
            if not 2 <= precision <= 8:
                raise NotImplementedError(
                    f"jpeg: lossless precision {precision}")
            if ncomp not in (1, 3):
                raise NotImplementedError(
                    f"jpeg: lossless {ncomp}-component image")
            for ci in range(ncomp):
                cid, hv, _qid = seg[6 + 3 * ci:9 + 3 * ci]
                if hv != 0x11:
                    raise NotImplementedError(
                        "jpeg: lossless subsampling")
                comps.append({"id": cid, "idx": ci})
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc_th = seg[p]
                bits = list(seg[p + 1:p + 17])
                nv = sum(bits)
                vals = list(seg[p + 17:p + 17 + nv])
                if tc_th >> 4 == 0:  # DC-class tables drive lossless
                    htables[tc_th & 0xF] = _build_decode_table(bits, vals)
                p += 17 + nv
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack_from(">H", seg, 0)[0]
        elif marker == 0xDA:  # SOS
            if not comps or w is None:
                raise ValueError("jpeg: SOS before SOF3")
            ns = seg[0]
            scomps = []
            for si in range(ns):
                cs, tables = seg[1 + 2 * si], seg[2 + 2 * si]
                comp = next(c for c in comps if c["id"] == cs)
                scomps.append((comp["idx"], htables[tables >> 4]))
            sel = seg[1 + 2 * ns]           # Ss = predictor
            pt = seg[3 + 2 * ns] & 0xF      # Al = point transform
            if not 1 <= sel <= 7:
                raise ValueError(f"jpeg: lossless predictor {sel}")
            if ns != len(comps):
                raise NotImplementedError(
                    "jpeg: non-interleaved lossless scan")
            reader = _BitReader(data, pos + seg_len)
            nc = len(comps)
            # the SOF3 header alone sizes the image: refuse its
            # uint16 samples past the decode budget before
            # allocating them
            check_budget(h * w * nc * 2, f"jpeg lossless: {w}x{h}")
            out = np.zeros((h, w, nc), dtype=np.uint16)
            default = 1 << (precision - 1 - pt)
            mcu = 0
            mask = 0xFFFF
            for y in range(h):
                for x in range(w):
                    if restart_interval and mcu \
                            and mcu % restart_interval == 0:
                        reader.sync_restart()
                        # restart resets prediction to the initial
                        # state: the next sample of every component
                        # predicts from the default (T.81 H.2.4)
                        yy, xx = y, x
                        for ci, tab in scomps:
                            t = reader.read_code(tab)
                            diff = (32768 if t == 16
                                    else _extend(reader.read_bits(t), t))
                            out[yy, xx, ci] = (default + diff) & mask
                        mcu += 1
                        continue
                    for ci, tab in scomps:
                        t = reader.read_code(tab)
                        diff = (32768 if t == 16
                                else _extend(reader.read_bits(t), t))
                        pred = (default if (y == 0 and x == 0)
                                else _predict(out, ci, x, y, sel, default))
                        out[y, x, ci] = (pred + diff) & mask
                    mcu += 1
            pos = reader.marker_pos if reader.marker_pos is not None \
                else reader.pos
            continue
        pos += seg_len
    if out is None:
        raise ValueError("jpeg: no lossless scan")
    px = np.clip(out.astype(np.int32) << pt, 0, 255).astype(np.uint8)
    return px[:, :, 0] if px.shape[2] == 1 else px


# --------------------------------------------------------- encoder

#: canonical SSSS table covering categories 0-16: three 2-bit codes
#: then one code per length 3..16 (Kraft sum just under 1, so the
#: all-ones 16-bit code stays reserved per T.81 convention).
_LOSSLESS_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1]
_LOSSLESS_VALS = list(range(17))


def encode_jpeg_lossless(pixels, predictor: int = 1,
                         restart_interval: int = 0) -> bytes:
    """uint8 (h, w) or (h, w, 3) -> SOF3 lossless JPEG (fixtures)."""
    px = np.asarray(pixels, dtype=np.uint8)
    gray = px.ndim == 2
    if gray:
        px = px[:, :, None]
    h, w, nc = px.shape
    enc_tab = _build_encode_table(_LOSSLESS_BITS, _LOSSLESS_VALS)

    out = bytearray(b"\xff\xd8")
    dht = bytes([0x00]) + bytes(_LOSSLESS_BITS) + bytes(_LOSSLESS_VALS)
    out += _seg(0xC4, dht)
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for ci in range(nc):
        sof += bytes([ci + 1, 0x11, 0])
    out += _seg(0xC3, sof)
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([nc])
    for ci in range(nc):
        sos += bytes([ci + 1, 0x00])
    sos += bytes([predictor, 0, 0])
    out += _seg(0xDA, sos)

    writer = _BitWriter()
    samples = px.astype(np.int32)
    work = np.zeros((h, w, nc), dtype=np.uint16)
    default = 1 << 7
    mcu = 0
    rst = 0
    for y in range(h):
        for x in range(w):
            after_restart = False
            if restart_interval and mcu and mcu % restart_interval == 0:
                writer.flush()
                out += bytes(writer.out)
                writer = _BitWriter()
                out += bytes([0xFF, 0xD0 + (rst & 7)])
                rst += 1
                after_restart = True
            for ci in range(nc):
                v = int(samples[y, x, ci])
                if after_restart or (y == 0 and x == 0):
                    pred = default
                else:
                    pred = _predict(work, ci, x, y, predictor, default)
                diff = (v - pred) & 0xFFFF
                if diff >= 0x8000:
                    diff -= 0x10000
                if diff == -32768:
                    # category 16: the decoder adds 32768, and
                    # (pred + 32768) == (pred - 32768) mod 2^16
                    writer.write(*enc_tab[16])
                else:
                    t, bits = _encode_magnitude(diff)
                    writer.write(*enc_tab[t])
                    if t:
                        writer.write(t, bits)
                work[y, x, ci] = v
            mcu += 1
    writer.flush()
    out += bytes(writer.out)
    out += b"\xff\xd9"
    return bytes(out)
