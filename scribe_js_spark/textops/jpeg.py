"""From-scratch JPEG codec (ITU-T T.81 sequential + progressive).

Decoder: SOI marker walk, DQT (8-bit tables), SOF0/SOF1 sequential
and SOF2 progressive frames with 1 (grayscale) or 3 (YCbCr)
components including chroma subsampling (any integer Hi/Vi ratio:
4:4:4, 4:2:2, 4:2:0), DHT canonical Huffman tables, DRI/RSTn restart
intervals, interleaved and single-component scans (byte-stuffing-aware
bit reader, per-component DC differential + AC run/length with ZRL and
EOB), full progressive support — spectral selection AND successive
approximation (DC/AC first + refinement passes with EOB runs) —
dequantize, 2-D IDCT (separable 8x8 DCT-III matrix), chroma upsample
by replication, JFIF YCbCr->RGB, level shift + clamp, MCU edge-padding
trim. Arithmetic coding and hierarchical modes raise
NotImplementedError — surfaced as an error column upstream, never a
crash (decode_media contract).

Encoder (fixture side): the exact inverse pipeline with the standard
Annex K luminance Huffman tables. Blockwise-CONSTANT images with a DC
quantization step that divides 8 round-trip losslessly (the only
nonzero coefficient is DC = 8*(v-128), and (v-128)*8/q*q/8 == v-128
when q | 8), which is what makes an exact SQL oracle possible; general
images round-trip within quantization error (exercised in pytest).

All table values below are published in ITU-T T.81 Annex K.
"""

from __future__ import annotations

import struct

import numpy as np

from ..budget import check_budget

# Zigzag order: index i of the scan -> (row, col) flattened offset.
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int32)

# Annex K.3.1 luminance DC: BITS (codes per length 1..16) + HUFFVAL.
DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_VALS = list(range(12))

# Annex K.3.2 luminance AC.
AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# Fixture quantization: DC step 8 (divides the 8x block-mean scale ->
# constant blocks are lossless); AC step 16 everywhere.
QTABLE_FIXTURE = np.full(64, 16, dtype=np.int32)
QTABLE_FIXTURE[0] = 8


def _dct_matrix() -> np.ndarray:
    n = 8
    m = np.zeros((n, n))
    for k in range(n):
        for i in range(n):
            m[k, i] = np.cos((2 * i + 1) * k * np.pi / (2 * n))
    m *= np.sqrt(2.0 / n)
    m[0, :] *= 1.0 / np.sqrt(2.0)
    return m


_DCT = _dct_matrix()          # forward: C @ block @ C.T
_IDCT = _DCT.T                # inverse: C.T @ coef @ C


def _build_decode_table(bits, vals):
    """Canonical Huffman: (code, length) -> value map."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _build_encode_table(bits, vals):
    dec = _build_decode_table(bits, vals)
    return {v: (length, code) for (length, code), v in dec.items()}


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    stuffing. A non-stuffing, non-restart marker ends the scan's
    entropy data: its position is recorded in ``marker_pos`` and
    further reads return zero padding (T.81 allows the pad)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0
        self.marker_pos = None

    def read_bit(self) -> int:
        if self.n == 0:
            if self.marker_pos is not None:
                return 0  # zero padding past end of scan
            if self.pos >= len(self.data):
                raise ValueError("jpeg: truncated entropy stream")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos] if self.pos < len(self.data) else 0xD9
                if nxt == 0x00:
                    self.pos += 1
                else:  # marker — end of this scan's entropy data
                    self.marker_pos = self.pos - 1
                    self.pos -= 1
                    return 0
            self.acc = b
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def read_bits(self, count: int) -> int:
        v = 0
        for _ in range(count):
            v = (v << 1) | self.read_bit()
        return v

    def read_code(self, table) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            if (length, code) in table:
                return table[(length, code)]
        raise ValueError("jpeg: invalid Huffman code")

    def sync_restart(self) -> None:
        """Byte-align and consume an RSTn marker (T.81 F.2.1.3.1).
        Called exactly at restart-interval MCU boundaries."""
        self.n = 0  # drop pad bits
        if self.marker_pos is not None:
            self.pos = self.marker_pos
            self.marker_pos = None
        if (self.pos + 1 < len(self.data)
                and self.data[self.pos] == 0xFF
                and 0xD0 <= self.data[self.pos + 1] <= 0xD7):
            self.pos += 2
        else:
            raise ValueError("jpeg: missing restart marker")


def _extend(v: int, t: int) -> int:
    """DC/AC magnitude decode (T.81 F.2.2.1 EXTEND)."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _decode_block_zz(reader: _BitReader, dc_tab, ac_tab,
                     pred: int, zz) -> int:
    """Sequential entropy decode of one block's zigzag coefficients
    into ``zz`` (int array view); returns the updated DC predictor."""
    t = reader.read_code(dc_tab)
    if t > 16:
        # a corrupt DHT can define magnitude categories > 16; real
        # streams cap at 16 (T.81 F.1.2.1.1) and anything larger
        # would overflow the int32 coefficient store
        raise ValueError(f"jpeg: DC magnitude category {t}")
    pred += _extend(reader.read_bits(t), t)
    if not -(1 << 31) < pred < (1 << 31):
        raise ValueError("jpeg: DC predictor overflow")
    zz[0] = pred
    k = 1
    while k < 64:
        rs = reader.read_code(ac_tab)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("jpeg: AC index overflow")
        zz[k] = _extend(reader.read_bits(s), s)
        k += 1
    return pred


def _dc_scan_block(reader, dc_tab, zz, pred: int, ah: int, al: int) -> int:
    """Progressive DC: first pass codes diffs of DC >> al; refinement
    adds one raw bit (T.81 G.1.2.1)."""
    if ah == 0:
        t = reader.read_code(dc_tab)
        if t > 16:
            raise ValueError(f"jpeg: DC magnitude category {t}")
        pred += _extend(reader.read_bits(t), t)
        if not -(1 << 31) < (pred << al) < (1 << 31):
            raise ValueError("jpeg: DC predictor overflow")
        zz[0] = pred << al
    else:
        if reader.read_bit():
            zz[0] |= 1 << al
    return pred


def _ac_first_block(reader, ac_tab, zz, ss: int, se: int, al: int,
                    eobrun: list) -> None:
    """Progressive AC first pass (T.81 G.1.2.2): run/size with EOBn
    end-of-band runs, values scaled by << al."""
    if eobrun[0] > 0:
        eobrun[0] -= 1
        return
    k = ss
    while k <= se:
        rs = reader.read_code(ac_tab)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r != 15:
                eobrun[0] = (1 << r) - 1 + (reader.read_bits(r) if r else 0)
                return
            k += 16  # ZRL
            continue
        k += r
        if k > se:
            raise ValueError("jpeg: AC index past band")
        zz[k] = _extend(reader.read_bits(s), s) << al
        k += 1


def _ac_refine_block(reader, ac_tab, zz, ss: int, se: int, al: int,
                     eobrun: list) -> None:
    """Progressive AC refinement (T.81 G.1.2.3, libjpeg
    decode_mcu_AC_refine structure): correction bits for
    already-nonzero coefficients, newly-significant +-1<<al values
    placed after a counted run of zero-history positions."""
    p1 = 1 << al
    k = ss
    if eobrun[0] == 0:
        while k <= se:
            rs = reader.read_code(ac_tab)
            r, s = rs >> 4, rs & 0xF
            newval = 0
            if s:
                if s != 1:
                    raise ValueError("jpeg: bad refinement magnitude")
                newval = p1 if reader.read_bit() else -p1
            elif r != 15:
                eobrun[0] = (1 << r) + (reader.read_bits(r) if r else 0)
                break
            while k <= se:
                if zz[k] != 0:
                    if reader.read_bit() and (zz[k] & p1) == 0:
                        zz[k] += p1 if zz[k] >= 0 else -p1
                else:
                    r -= 1
                    if r < 0:
                        break
                k += 1
            if s and k <= se:
                zz[k] = newval
            k += 1
    if eobrun[0] > 0:
        while k <= se:
            if zz[k] != 0:
                if reader.read_bit() and (zz[k] & p1) == 0:
                    zz[k] += p1 if zz[k] >= 0 else -p1
            k += 1
        eobrun[0] -= 1


def _decode_scan(reader, scomps, coefs, geom, htables,
                 restart_interval, progressive, ss, se, ah, al):
    """One SOS scan's entropy data into the coefficient arrays.
    Interleaved (multi-component) scans walk the MCU grid; single-
    component scans walk the component's own block grid (T.81 A.2.2)."""
    hmax, vmax, mcux, mcuy = geom
    preds = {c["idx"]: 0 for c in scomps}
    eobrun = [0]

    def tbl(kind, tid):
        t = htables.get((kind, tid))
        if t is None:
            raise ValueError(f"jpeg: missing huffman table {kind}/{tid}")
        return t

    def block(c, by, bx, zz):
        if not progressive:
            preds[c["idx"]] = _decode_block_zz(
                reader, tbl(0, c["dc"]), tbl(1, c["ac"]),
                preds[c["idx"]], zz)
        elif ss == 0:
            preds[c["idx"]] = _dc_scan_block(
                reader, htables.get((0, c["dc"])), zz,
                preds[c["idx"]], ah, al)
        elif ah == 0:
            _ac_first_block(reader, tbl(1, c["ac"]), zz,
                            ss, se, al, eobrun)
        else:
            _ac_refine_block(reader, tbl(1, c["ac"]), zz,
                             ss, se, al, eobrun)

    def restart(count):
        if restart_interval and count and count % restart_interval == 0:
            reader.sync_restart()
            for key in preds:
                preds[key] = 0
            eobrun[0] = 0

    if len(scomps) == 1:
        c = scomps[0]
        cz = coefs[c["idx"]]
        for bi in range(c["cbh"] * c["cbw"]):
            restart(bi)
            by, bx = divmod(bi, c["cbw"])
            block(c, by, bx, cz[by, bx])
    else:
        n = 0
        for my in range(mcuy):
            for mx in range(mcux):
                restart(n)
                for c in scomps:
                    for v in range(c["vs"]):
                        for u in range(c["hs"]):
                            block(c, my * c["vs"] + v, mx * c["hs"] + u,
                                  coefs[c["idx"]][my * c["vs"] + v,
                                                  mx * c["hs"] + u])
                n += 1


def decode_jpeg(data: bytes, decode_invert: bool = False) -> np.ndarray:
    """Huffman JPEG -> uint8 array: (h, w) for grayscale, (h, w, 3)
    RGB for 3-component YCbCr (JFIF conversion, chroma upsampled by
    replication) and for 4-component CMYK/YCCK (Adobe APP14 transform,
    chroma upsampled bilinearly, SWOP-polynomial CMYK->RGB — the
    reference's decodeCMYKJpegToRGB, decodeJPEG.js:767-935, which in
    turn matches pdf.js). ``decode_invert`` mirrors the reference's
    decodeInvert (a PDF /Decode [1 0 ...] array) and is consumed by
    the 4-component path only, as in the reference. Supports
    baseline/extended sequential (SOF0/SOF1) and progressive (SOF2)
    with spectral selection + successive approximation, interleaved
    and single-component scans, any integer subsampling ratio,
    8/16-bit quant tables, and DRI/RSTn restart intervals. Sequential
    (SOF9) and progressive (SOF10) arithmetic QM coding, with DAC
    conditioning, decode through textops/jpeg_arith.py — beyond the
    reference, whose decodeJPEG.js handles SOF0/1/2 only; lossless
    (SOF3) delegates to textops/jpeg_lossless.py and hierarchical
    streams (DHP, Annex J) to textops/jpeg_hier.py; the remaining
    exotics (e.g. 12-bit precision) raise NotImplementedError."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("jpeg: missing SOI")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}
    w = h = None
    comps: list[dict] = []       # SOF order: id, hs, vs, qid, idx
    progressive = False
    arithmetic = False
    restart_interval = 0
    adobe_transform = None       # APP14 color-transform flag
    dc_cond: dict[int, tuple] = {}   # DAC conditioning (L, U) per table
    ac_cond: dict[int, int] = {}     # DAC conditioning Kx per table
    coefs = None                 # per-comp (bh, bw, 64) int32
    geom = None                  # (hmax, vmax, mcux, mcuy)
    saw_scan = False
    while pos + 1 < len(data):
        if data[pos] != 0xFF:
            raise ValueError("jpeg: bad marker alignment")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue  # standalone
        seg_len = struct.unpack_from(">H", data, pos)[0]
        seg = data[pos + 2 : pos + seg_len]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0xF
                p += 1
                if pq:  # 16-bit table entries
                    qtables[tq] = np.frombuffer(
                        seg[p : p + 128], dtype=">u2").astype(np.int32)
                    p += 128
                else:
                    qtables[tq] = np.frombuffer(
                        seg[p : p + 64], dtype=np.uint8).astype(np.int32)
                    p += 64
        elif marker in (0xC0, 0xC1, 0xC2, 0xC9, 0xCA):
            # SOF0/1 sequential, SOF2 progressive, SOF9/10 arithmetic
            progressive = marker in (0xC2, 0xCA)
            arithmetic = marker in (0xC9, 0xCA)
            _prec, h, w, ncomp = struct.unpack_from(">BHHB", seg, 0)
            if comps:
                raise ValueError("jpeg: duplicate SOF")
            if ncomp not in (1, 3, 4):
                raise NotImplementedError(f"jpeg: {ncomp}-component image")
            for ci in range(ncomp):
                cid, hv, qid = seg[6 + 3 * ci : 9 + 3 * ci]
                comps.append({"id": cid, "hs": hv >> 4, "vs": hv & 0xF,
                              "qid": qid, "idx": ci})
        elif marker == 0xC3:
            # lossless sequential Huffman (T.81 Annex H): whole-stream
            # delegate, textops/jpeg_lossless.py — beyond the
            # reference, which is baseline-only
            from .jpeg_lossless import decode_jpeg_lossless

            # same return contract: (h, w) gray / (h, w, 3) RGB
            return decode_jpeg_lossless(data)
        elif marker == 0xDE:
            # hierarchical mode (T.81 Annex J): DHP precedes every
            # frame, so dispatch the whole stream —
            # textops/jpeg_hier.py (beyond the reference)
            from .jpeg_hier import decode_jpeg_hierarchical

            return decode_jpeg_hierarchical(data)
        elif marker in (0xC5, 0xC6, 0xC7,
                        0xCB, 0xCD, 0xCE, 0xCF):
            # differential SOF without a preceding DHP is malformed;
            # the hierarchical shapes route through 0xDE above
            raise NotImplementedError("jpeg: unsupported SOF mode")
        elif marker == 0xCC:  # DAC: arithmetic conditioning
            p = 0
            while p + 1 < len(seg):
                cs, val = seg[p], seg[p + 1]
                p += 2
                if cs >> 4 == 0:
                    dc_cond[cs & 0xF] = (val & 0xF, val >> 4)
                else:
                    ac_cond[cs & 0xF] = val
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0xF
                bits = list(seg[p + 1 : p + 17])
                n = sum(bits)
                vals = list(seg[p + 17 : p + 17 + n])
                htables[(tc, th)] = _build_decode_table(bits, vals)
                p += 17 + n
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack_from(">H", seg, 0)[0]
        elif marker == 0xEE:  # APP14 (Adobe: version/flags/transform)
            if seg[:5] == b"Adobe" and len(seg) >= 12:
                adobe_transform = seg[11]
        elif marker == 0xDA:  # SOS
            if not comps:
                raise ValueError("jpeg: SOS before SOF")
            if coefs is None:
                hmax = max(c["hs"] for c in comps)
                vmax = max(c["vs"] for c in comps)
                mcux = (w + 8 * hmax - 1) // (8 * hmax)
                mcuy = (h + 8 * vmax - 1) // (8 * vmax)
                geom = (hmax, vmax, mcux, mcuy)
                for c in comps:
                    cw = (w * c["hs"] + hmax - 1) // hmax
                    ch = (h * c["vs"] + vmax - 1) // vmax
                    c["cbw"] = (cw + 7) // 8
                    c["cbh"] = (ch + 7) // 8
                # the SOF header alone sizes these buffers: refuse
                # them past the decode budget, counted in coefficient
                # samples, before allocating
                check_budget(
                    sum(mcuy * c["vs"] * mcux * c["hs"] * 64
                        for c in comps), f"jpeg: {w}x{h}")
                coefs = [np.zeros((mcuy * c["vs"], mcux * c["hs"], 64),
                                  dtype=np.int32) for c in comps]
            ns = seg[0]
            by_id = {c["id"]: c for c in comps}
            scomps = []
            p = 1
            for _ in range(ns):
                cid, tbl = seg[p], seg[p + 1]
                p += 2
                if cid not in by_id:
                    raise ValueError(f"jpeg: scan component {cid}")
                scomps.append({**by_id[cid], "dc": tbl >> 4,
                               "ac": tbl & 0xF})
            ss, se, ahal = seg[p], seg[p + 1], seg[p + 2]
            ah, al = ahal >> 4, ahal & 0xF
            if arithmetic:
                from .jpeg_arith import decode_scan_arith

                if progressive:
                    if ss == 0 and se != 0:
                        raise ValueError(
                            "jpeg: invalid progressive DC band")
                    if len(scomps) > 1 and ss != 0:
                        raise ValueError(
                            "jpeg: interleaved progressive AC scan")
                pos = decode_scan_arith(
                    data, pos + seg_len, scomps, coefs, geom,
                    restart_interval, (dc_cond, ac_cond),
                    progressive=progressive, ss=ss, se=se, ah=ah,
                    al=al)
                saw_scan = True
                continue
            if progressive and ss == 0 and se != 0:
                raise ValueError("jpeg: invalid progressive DC band")
            if len(scomps) > 1 and progressive and ss != 0:
                raise ValueError("jpeg: interleaved progressive AC scan")
            reader = _BitReader(data, pos + seg_len)
            _decode_scan(reader, scomps, coefs, geom, htables,
                         restart_interval, progressive, ss, se, ah, al)
            saw_scan = True
            pos = (reader.marker_pos if reader.marker_pos is not None
                   else reader.pos)
            continue
        pos += seg_len
    if w is None or h is None or not saw_scan:
        raise ValueError("jpeg: missing SOF/SOS")

    hmax, vmax, mcux, mcuy = geom
    planes = []
    for c in comps:
        cz = coefs[c["idx"]]
        bh, bw = cz.shape[:2]
        q = qtables.get(c["qid"])
        if q is None:
            raise ValueError(f"jpeg: missing quant table {c['qid']}")
        deq = np.zeros((bh, bw, 64), dtype=np.float64)
        deq[:, :, ZIGZAG] = cz * q
        blocks = np.einsum("ki,mnij,lj->mnkl", _IDCT,
                           deq.reshape(bh, bw, 8, 8), _IDCT)
        plane = blocks.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
        planes.append(plane)

    if len(comps) == 1:
        px = np.clip(np.round(planes[0] + 128.0), 0, 255).astype(np.uint8)
        return px[:h, :w]
    if len(comps) == 4:
        full = [_upsample_component(planes[ci] + 128.0, comps[ci],
                                    h, w, hmax, vmax)
                for ci in range(4)]
        return _cmyk_to_rgb(full, adobe_transform, decode_invert)
    full = []
    for ci, c in enumerate(comps):
        p = planes[ci] + 128.0
        p = np.repeat(np.repeat(p, vmax // c["vs"], axis=0),
                      hmax // c["hs"], axis=1)
        full.append(p[: mcuy * vmax * 8, : mcux * hmax * 8])
    if adobe_transform == 0:
        # APP14 transform 0 on a 3-component image: stored samples are
        # already RGB — no color transform.
        rgb = np.stack(full, axis=-1)
        px = np.clip(np.round(rgb), 0, 255).astype(np.uint8)
        return px[:h, :w]
    y, cb, cr = full
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    px = np.clip(np.round(rgb), 0, 255).astype(np.uint8)
    return px[:h, :w]


def _upsample_component(plane, c, h, w, hmax, vmax) -> np.ndarray:
    """One MCU-padded component plane -> uint8 (h, w) full-resolution
    samples. Full-resolution components are cropped; subsampled ones
    are bilinearly interpolated on the output grid with edge clamping
    (the reference's per-pixel loop, decodeJPEG.js:833-855)."""
    cw = (w * c["hs"] + hmax - 1) // hmax
    ch = (h * c["vs"] + vmax - 1) // vmax
    samples = np.clip(np.round(plane), 0, 255).astype(np.uint8)[:ch, :cw]
    if c["hs"] == hmax and c["vs"] == vmax:
        return samples
    fx = np.arange(w) * (c["hs"] / hmax)
    fy = np.arange(h) * (c["vs"] / vmax)
    x0 = np.floor(fx).astype(np.int64)
    y0 = np.floor(fy).astype(np.int64)
    x1 = np.minimum(x0 + 1, cw - 1)
    y1 = np.minimum(y0 + 1, ch - 1)
    dx = fx - x0
    dy = (fy - y0)[:, None]
    s = samples.astype(np.float64)
    v00 = s[y0[:, None], x0[None, :]]
    v10 = s[y0[:, None], x1[None, :]]
    v01 = s[y1[:, None], x0[None, :]]
    v11 = s[y1[:, None], x1[None, :]]
    v = (v00 * (1 - dx) + v10 * dx) * (1 - dy) \
        + (v01 * (1 - dx) + v11 * dx) * dy
    return np.floor(v + 0.5).astype(np.uint8)  # | 0 truncation after +0.5


def _cmyk_to_rgb(full, adobe_transform, decode_invert) -> np.ndarray:
    """Four full-resolution uint8 sample planes -> uint8 (h, w, 3) RGB.
    APP14 transform 2 first undoes the YCCK encoding (YCbCr inversion
    with clamping, then complement); ``decode_invert`` complements all
    four inks; the CMYK->RGB step is the polynomial approximation of
    the US Web Coated (SWOP) v2 ICC profile that pdf.js published and
    the reference adopted (decodeJPEG.js:885-948)."""
    c, m, y, k = (p.astype(np.float64) for p in full)
    if adobe_transform == 2:  # YCCK: stored comps are Y/Cb/Cr/K
        r = np.clip(c + 1.402 * (y - 128.0), 0, 255)
        g = np.clip(c - 0.344136 * (m - 128.0) - 0.714136 * (y - 128.0),
                    0, 255)
        b = np.clip(c + 1.772 * (m - 128.0), 0, 255)
        c, m, y = 255.0 - r, 255.0 - g, 255.0 - b
    if decode_invert:
        c, m, y, k = 255.0 - c, 255.0 - m, 255.0 - y, 255.0 - k
    cn, mn, yn, kn = c / 255.0, m / 255.0, y / 255.0, k / 255.0
    ri = 255.0 \
        + cn * (-4.387332384609988 * cn + 54.48615194189176 * mn
                + 18.82290502165302 * yn + 212.25662451639585 * kn
                - 285.2331026137004) \
        + mn * (1.7149763477362134 * mn - 5.6096736904047315 * yn
                - 17.873870861415444 * kn - 5.497006427196366) \
        + yn * (-2.5217340131683033 * yn - 21.248923337353073 * kn
                + 17.5119270841813) \
        + kn * (-21.86122147463605 * kn - 189.48180835922747)
    gi = 255.0 \
        + cn * (8.841041422036149 * cn + 60.118027045597366 * mn
                + 6.871425592049007 * yn + 31.159100130055922 * kn
                - 79.2970844816548) \
        + mn * (-15.310361306967817 * mn + 17.575251261109482 * yn
                + 131.35250912493976 * kn - 190.9453302588951) \
        + yn * (4.444339102852739 * yn + 9.8632861493405 * kn
                - 24.86741582555878) \
        + kn * (-20.737325471181034 * kn - 187.80453709719578)
    bi = 255.0 \
        + cn * (0.8842522430003296 * cn + 8.078677503112928 * mn
                + 30.89978309703729 * yn - 0.23883238689178934 * kn
                - 14.183576799673286) \
        + mn * (10.49593273432072 * mn + 63.02378494754052 * yn
                + 50.606957656360734 * kn - 112.23884253719248) \
        + yn * (0.03296041114873217 * yn + 115.60384449646641 * kn
                - 193.58209356861505) \
        + kn * (-22.33816807309886 * kn - 180.12613974708367)
    rgb = np.stack([ri, gi, bi], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def decode_jpeg_gray(data: bytes) -> np.ndarray:
    """Baseline grayscale JPEG -> uint8 array (h, w). (Compatibility
    wrapper; rejects color input so callers that assume 2-D stay safe.)"""
    px = decode_jpeg(data)
    if px.ndim != 2:
        raise ValueError("jpeg: not grayscale")
    return px


# ------------------------------------------------------------- encoder

def _encode_magnitude(v: int) -> tuple[int, int]:
    """value -> (size category, raw bits)."""
    t = 0
    a = abs(v)
    while a:
        t += 1
        a >>= 1
    bits = v if v >= 0 else v + (1 << t) - 1
    return t, bits


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, length: int, code: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc = 0
                self.n = 0

    def flush(self) -> None:
        while self.n:
            self.write(1, 1)  # pad with 1-bits per spec


def _pad_to_blocks(px: np.ndarray, bh8: int, bw8: int) -> np.ndarray:
    """Edge-replication pad a plane to (bh8, bw8)."""
    h, w = px.shape
    padded = np.zeros((bh8, bw8), dtype=np.float64)
    padded[:h, :w] = px
    if bw8 > w:
        padded[:h, w:] = px[:, -1:]
    if bh8 > h:
        padded[h:, :] = padded[h - 1 : h, :]
    return padded


def _encode_block(writer: "_BitWriter", block: np.ndarray, q: np.ndarray,
                  pred: int, dc_enc, ac_enc) -> int:
    """Forward DCT + quantize + Huffman one 8x8 block; returns the new
    DC predictor."""
    coef = _DCT @ (block - 128.0) @ _DCT.T
    zz = np.round(coef.reshape(64)[ZIGZAG] / q).astype(np.int64)
    diff = int(zz[0]) - pred
    pred = int(zz[0])
    t, bits = _encode_magnitude(diff)
    length, code = dc_enc[t]
    writer.write(length, code)
    if t:
        writer.write(t, bits)
    run = 0
    last_nz = 0
    for k in range(1, 64):
        if zz[k] != 0:
            last_nz = k
    for k in range(1, last_nz + 1):
        if zz[k] == 0:
            run += 1
            continue
        while run > 15:
            length, code = ac_enc[0xF0]  # ZRL
            writer.write(length, code)
            run -= 16
        t, bits = _encode_magnitude(int(zz[k]))
        length, code = ac_enc[(run << 4) | t]
        writer.write(length, code)
        writer.write(t, bits)
        run = 0
    if last_nz < 63:
        length, code = ac_enc[0x00]  # EOB
        writer.write(length, code)
    return pred


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def encode_jpeg_gray(pixels, qtable=None) -> bytes:
    """uint8 (h, w) -> baseline grayscale JPEG with Annex K Huffman
    tables. Edge-replication padding to 8x8 MCUs."""
    px = np.asarray(pixels, dtype=np.uint8)
    h, w = px.shape
    q = (QTABLE_FIXTURE if qtable is None
         else np.asarray(qtable, dtype=np.int32).reshape(64))
    bw = (w + 7) // 8
    bh = (h + 7) // 8
    padded = _pad_to_blocks(px, bh * 8, bw * 8)

    dc_enc = _build_encode_table(DC_BITS, DC_VALS)
    ac_enc = _build_encode_table(AC_BITS, AC_VALS)
    writer = _BitWriter()
    pred = 0
    for by in range(bh):
        for bx in range(bw):
            pred = _encode_block(
                writer, padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8],
                q, pred, dc_enc, ac_enc)
    writer.flush()

    dqt = _seg(0xDB, bytes([0x00]) + bytes(int(v) for v in q))
    sof = _seg(0xC0, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
    dht = _seg(0xC4, bytes([0x00]) + bytes(DC_BITS) + bytes(DC_VALS)) \
        + _seg(0xC4, bytes([0x10]) + bytes(AC_BITS) + bytes(AC_VALS))
    sos = _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    return (b"\xff\xd8" + dqt + sof + dht + sos
            + bytes(writer.out) + b"\xff\xd9")


def _quantized_coefs(planes, samp, q):
    """Forward DCT + quantize full planes -> per-component
    (bh, bw, 64) zigzag coefficient arrays."""
    out = []
    for plane, (hs, vs) in zip(planes, samp):
        ph, pw = plane.shape
        bh, bw = ph // 8, pw // 8
        coefs = np.zeros((bh, bw, 64), dtype=np.int64)
        for by in range(bh):
            for bx in range(bw):
                block = plane[by * 8 : by * 8 + 8,
                              bx * 8 : bx * 8 + 8] - 128.0
                c = _DCT @ block @ _DCT.T
                coefs[by, bx] = np.round(c.reshape(64)[ZIGZAG] / q)
        out.append(coefs)
    return out


def encode_jpeg_progressive(y, cb=None, cr=None, sampling=(2, 2),
                            qtable=None, al: int = 1) -> bytes:
    """Progressive (SOF2) fixture encoder: an interleaved DC-first scan
    at successive-approximation ``Al=al``, per-component AC-first scans
    over spectral bands 1-5 and 6-63 at the same precision, then the
    DC and AC refinement passes down to full precision. Exercises the
    decoder's spectral-selection AND successive-approximation paths;
    output pixels equal the baseline encoding of the same coefficients
    (tested bit-for-bit)."""
    y = np.asarray(y, dtype=np.uint8)
    h, w = y.shape
    q = (QTABLE_FIXTURE if qtable is None
         else np.asarray(qtable, dtype=np.int32).reshape(64))
    color = cb is not None
    if color:
        hs, vs = sampling
        mcux = (w + 8 * hs - 1) // (8 * hs)
        mcuy = (h + 8 * vs - 1) // (8 * vs)
        ypad = _pad_to_blocks(y, mcuy * vs * 8, mcux * hs * 8)
        planes = [ypad]
        for c in (cb, cr):
            cpad = _pad_to_blocks(np.asarray(c, dtype=np.uint8),
                                  mcuy * vs * 8, mcux * hs * 8)
            planes.append(np.round(cpad.reshape(
                mcuy * 8, vs, mcux * 8, hs).mean(axis=(1, 3))))
        samp = [(hs, vs), (1, 1), (1, 1)]
    else:
        mcux = (w + 7) // 8
        mcuy = (h + 7) // 8
        planes = [_pad_to_blocks(y, mcuy * 8, mcux * 8)]
        samp = [(1, 1)]
    coefs = _quantized_coefs(planes, samp, q)

    dc_enc = _build_encode_table(DC_BITS, DC_VALS)
    ac_enc = _build_encode_table(AC_BITS, AC_VALS)

    def scan_seg(comp_specs, ss, se, ah, al_):
        body = bytes([len(comp_specs)])
        for cid in comp_specs:
            body += bytes([cid, 0x00])
        return _seg(0xDA, body + bytes([ss, se, (ah << 4) | al_]))

    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, bytes([0x00]) + bytes(int(v) for v in q))
    if color:
        sof_comps = bytes([1, (samp[0][0] << 4) | samp[0][1], 0,
                           2, 0x11, 0, 3, 0x11, 0])
        out += _seg(0xC2, struct.pack(">BHHB", 8, h, w, 3) + sof_comps)
    else:
        out += _seg(0xC2, struct.pack(">BHHB", 8, h, w, 1)
                    + bytes([1, 0x11, 0]))
    out += _seg(0xC4, bytes([0x00]) + bytes(DC_BITS) + bytes(DC_VALS))
    out += _seg(0xC4, bytes([0x10]) + bytes(AC_BITS) + bytes(AC_VALS))

    ncomp = len(coefs)

    def mcu_blocks():
        """(comp_idx, by, bx) in interleaved MCU order."""
        for my in range(mcuy):
            for mx in range(mcux):
                for ci in range(ncomp):
                    chs, cvs = samp[ci]
                    for v in range(cvs):
                        for u in range(chs):
                            yield ci, my * cvs + v, mx * chs + u

    # ---- DC first scan (interleaved, Al=al)
    wtr = _BitWriter()
    preds = [0] * ncomp
    for ci, by, bx in mcu_blocks():
        v = int(coefs[ci][by, bx, 0]) >> al   # arithmetic point transform
        t, bits = _encode_magnitude(v - preds[ci])
        preds[ci] = v
        length, code = dc_enc[t]
        wtr.write(length, code)
        if t:
            wtr.write(t, bits)
    wtr.flush()
    out += scan_seg(list(range(1, ncomp + 1)), 0, 0, 0, al)
    out += bytes(wtr.out)

    # Single-component scans cover the component's true block grid
    # (T.81 A.2.2), which is smaller than the MCU-padded grid when the
    # image is not MCU-aligned.
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    cdims = []
    for chs, cvs in samp:
        cw = (w * chs + hmax - 1) // hmax
        ch = (h * cvs + vmax - 1) // vmax
        cdims.append(((ch + 7) // 8, (cw + 7) // 8))

    # ---- AC first scans per component, two spectral bands
    bands = [(1, 5), (6, 63)]
    for ci in range(ncomp):
        for ss, se in bands:
            wtr = _BitWriter()
            cz = coefs[ci]
            for by in range(cdims[ci][0]):
                for bx in range(cdims[ci][1]):
                    zz = cz[by, bx]
                    # AC point transform: magnitude shift toward zero
                    vals = [((int(zz[k]) >> al) if zz[k] >= 0
                             else -((-int(zz[k])) >> al))
                            for k in range(ss, se + 1)]
                    last = -1
                    for i, v in enumerate(vals):
                        if v:
                            last = i
                    run = 0
                    for i in range(last + 1):
                        v = vals[i]
                        if v == 0:
                            run += 1
                            continue
                        while run > 15:
                            length, code = ac_enc[0xF0]
                            wtr.write(length, code)
                            run -= 16
                        t, bits = _encode_magnitude(v)
                        length, code = ac_enc[(run << 4) | t]
                        wtr.write(length, code)
                        wtr.write(t, bits)
                        run = 0
                    if last < se - ss:
                        length, code = ac_enc[0x00]  # EOB (run 1)
                        wtr.write(length, code)
            wtr.flush()
            out += scan_seg([ci + 1], ss, se, 0, al)
            out += bytes(wtr.out)

    # ---- DC refinement (Ah=al -> Al=al-1 ... 0); al is 1 in fixtures
    for lvl in range(al - 1, -1, -1):
        wtr = _BitWriter()
        for ci, by, bx in mcu_blocks():
            wtr.write(1, (int(coefs[ci][by, bx, 0]) >> lvl) & 1)
        wtr.flush()
        out += scan_seg(list(range(1, ncomp + 1)), 0, 0, lvl + 1, lvl)
        out += bytes(wtr.out)

    # ---- AC refinement per component per band (Ah=al -> Al=al-1 ...)
    for lvl in range(al - 1, -1, -1):
        for ci in range(ncomp):
            for ss, se in bands:
                wtr = _BitWriter()
                cz = coefs[ci]
                for by in range(cdims[ci][0]):
                    for bx in range(cdims[ci][1]):
                        zz = cz[by, bx]
                        absv = [abs(int(zz[k])) >> lvl
                                for k in range(ss, se + 1)]
                        eob = -1
                        for i, t in enumerate(absv):
                            if t == 1:
                                eob = i
                        run = 0
                        br: list[int] = []
                        for i, t in enumerate(absv):
                            if t == 0:
                                run += 1
                                continue
                            while run > 15 and i <= eob:
                                length, code = ac_enc[0xF0]
                                wtr.write(length, code)
                                for bit in br:
                                    wtr.write(1, bit)
                                br = []
                                run -= 16
                            if t > 1:  # already significant: buffer bit
                                br.append(t & 1)
                                continue
                            # newly significant: (run, 1) + sign + bits
                            length, code = ac_enc[(run << 4) | 1]
                            wtr.write(length, code)
                            wtr.write(1, 1 if zz[ss + i] > 0 else 0)
                            for bit in br:
                                wtr.write(1, bit)
                            br = []
                            run = 0
                        if run > 0 or br:
                            length, code = ac_enc[0x00]  # EOB, run 1
                            wtr.write(length, code)
                            for bit in br:
                                wtr.write(1, bit)
                wtr.flush()
                out += scan_seg([ci + 1], ss, se, lvl + 1, lvl)
                out += bytes(wtr.out)

    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_cmyk(planes4, sampling=(1, 1), transform=0,
                     qtable=None) -> bytes:
    """Four full-resolution uint8 stored-sample planes (h, w) ->
    baseline 4-component JPEG with an Adobe APP14 marker carrying
    ``transform`` (0 = stored CMYK, 2 = stored YCCK). The first
    component gets the ``sampling`` (Hi, Vi); components 2-4 are
    (1, 1), box-averaged down from full resolution when subsampled —
    so a (2, 2) fixture exercises the decoder's bilinear upsampling.
    The caller supplies samples already in the stored color space;
    the transform flag only drives the decoder's interpretation."""
    planes4 = [np.asarray(p, dtype=np.uint8) for p in planes4]
    h, w = planes4[0].shape
    hs, vs = sampling
    q = (QTABLE_FIXTURE if qtable is None
         else np.asarray(qtable, dtype=np.int32).reshape(64))
    mcux = (w + 8 * hs - 1) // (8 * hs)
    mcuy = (h + 8 * vs - 1) // (8 * vs)
    planes = [_pad_to_blocks(planes4[0], mcuy * vs * 8, mcux * hs * 8)]
    for p in planes4[1:]:
        cpad = _pad_to_blocks(p, mcuy * vs * 8, mcux * hs * 8)
        pooled = cpad.reshape(mcuy * 8, vs, mcux * 8, hs).mean(axis=(1, 3))
        planes.append(np.round(pooled))
    samp = [(hs, vs), (1, 1), (1, 1), (1, 1)]

    dc_enc = _build_encode_table(DC_BITS, DC_VALS)
    ac_enc = _build_encode_table(AC_BITS, AC_VALS)
    writer = _BitWriter()
    preds = [0, 0, 0, 0]
    for my in range(mcuy):
        for mx in range(mcux):
            for ci in range(4):
                chs, cvs = samp[ci]
                for v in range(cvs):
                    for u in range(chs):
                        y0 = (my * cvs + v) * 8
                        x0 = (mx * chs + u) * 8
                        preds[ci] = _encode_block(
                            writer,
                            planes[ci][y0 : y0 + 8, x0 : x0 + 8],
                            q, preds[ci], dc_enc, ac_enc)
    writer.flush()

    app14 = _seg(0xEE, b"Adobe" + struct.pack(">HHHB", 100, 0, 0,
                                              transform))
    dqt = _seg(0xDB, bytes([0x00]) + bytes(int(v) for v in q))
    sof_comps = b"".join(
        bytes([ci + 1, (samp[ci][0] << 4) | samp[ci][1], 0])
        for ci in range(4))
    sof = _seg(0xC0, struct.pack(">BHHB", 8, h, w, 4) + sof_comps)
    dht = _seg(0xC4, bytes([0x00]) + bytes(DC_BITS) + bytes(DC_VALS)) \
        + _seg(0xC4, bytes([0x10]) + bytes(AC_BITS) + bytes(AC_VALS))
    sos = _seg(0xDA, bytes([4, 1, 0x00, 2, 0x00, 3, 0x00, 4, 0x00,
                            0, 63, 0]))
    return (b"\xff\xd8" + app14 + dqt + sof + dht + sos
            + bytes(writer.out) + b"\xff\xd9")


def encode_jpeg_ycbcr(y, cb, cr, sampling=(2, 2), restart_interval=0,
                      qtable=None) -> bytes:
    """Full-resolution Y/Cb/Cr uint8 planes (h, w) -> baseline 3-component
    JPEG. ``sampling`` is the luma (Hi, Vi) — (2, 2) gives 4:2:0,
    (2, 1) 4:2:2, (1, 1) 4:4:4; chroma is always (1, 1) and is
    subsampled from the full-res planes by box averaging. All
    components share quant table 0 and the Annex K luminance Huffman
    tables (legal baseline). ``restart_interval`` > 0 emits DRI + RSTn
    markers every that many MCUs."""
    y = np.asarray(y, dtype=np.uint8)
    hs, vs = sampling
    h, w = y.shape
    q = (QTABLE_FIXTURE if qtable is None
         else np.asarray(qtable, dtype=np.int32).reshape(64))
    mcux = (w + 8 * hs - 1) // (8 * hs)
    mcuy = (h + 8 * vs - 1) // (8 * vs)

    # Luma plane at full res; chroma planes box-averaged down by the
    # sampling ratio (pad full-res planes to MCU-aligned first so the
    # pooling windows are complete).
    ypad = _pad_to_blocks(y, mcuy * vs * 8, mcux * hs * 8)
    planes = [ypad]
    for c in (cb, cr):
        cpad = _pad_to_blocks(np.asarray(c, dtype=np.uint8),
                              mcuy * vs * 8, mcux * hs * 8)
        pooled = cpad.reshape(mcuy * 8, vs, mcux * 8, hs).mean(axis=(1, 3))
        planes.append(np.round(pooled))
    samp = [(hs, vs), (1, 1), (1, 1)]

    dc_enc = _build_encode_table(DC_BITS, DC_VALS)
    ac_enc = _build_encode_table(AC_BITS, AC_VALS)
    writer = _BitWriter()
    preds = [0, 0, 0]
    rst = 0
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count \
                    and mcu_count % restart_interval == 0:
                writer.flush()
                writer.out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                preds = [0, 0, 0]
            for ci in range(3):
                chs, cvs = samp[ci]
                for v in range(cvs):
                    for u in range(chs):
                        y0 = (my * cvs + v) * 8
                        x0 = (mx * chs + u) * 8
                        preds[ci] = _encode_block(
                            writer,
                            planes[ci][y0 : y0 + 8, x0 : x0 + 8],
                            q, preds[ci], dc_enc, ac_enc)
            mcu_count += 1
    writer.flush()

    dqt = _seg(0xDB, bytes([0x00]) + bytes(int(v) for v in q))
    sof_comps = bytes([1, (hs << 4) | vs, 0, 2, 0x11, 0, 3, 0x11, 0])
    sof = _seg(0xC0, struct.pack(">BHHB", 8, h, w, 3) + sof_comps)
    dht = _seg(0xC4, bytes([0x00]) + bytes(DC_BITS) + bytes(DC_VALS)) \
        + _seg(0xC4, bytes([0x10]) + bytes(AC_BITS) + bytes(AC_VALS))
    dri = (_seg(0xDD, struct.pack(">H", restart_interval))
           if restart_interval else b"")
    sos = _seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
    return (b"\xff\xd8" + dqt + sof + dht + dri + sos
            + bytes(writer.out) + b"\xff\xd9")
