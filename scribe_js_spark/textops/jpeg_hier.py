"""Hierarchical JPEG — T.81 Annex J (DHP / EXP / differential frames).

BEYOND the reference: decodeJPEG.js is baseline-only, and our
decode_jpeg previously surfaced every hierarchical stream as an honest
NotImplementedError. Hierarchical mode is the spec's resolution
pyramid: a DHP segment fixes the final image dimensions, a first
non-differential frame decodes normally (often at reduced resolution),
EXP segments upsample the reference components by 2x, and differential
frames code corrections that are ADDED to the reference — the classic
"lossy base + lossless refinement" shape old scanner firmware emits.

Scope (documented, errors are honest ValueError/NotImplementedError):

* DHP (0xDE) + any number of frames, tables/misc between them
* non-differential first frame: SOF0/SOF1 sequential DCT (grayscale
  only — a color DCT base would need component-domain output that
  decode_jpeg's RGB conversion discards) or SOF3 lossless (grayscale
  or 3-component RGB, 1x1 sampling, via textops/jpeg_lossless)
* EXP (0xDF): J.1.1.2 horizontal/vertical 2x interpolation
  (out[2i] = in[i], out[2i+1] = floor((in[i]+in[i+1]+1)/2), edge
  replicated), cropped to the next frame's dimensions
* differential lossless frames (SOF7, Huffman): zero prediction —
  each decoded difference, shifted by the point transform, adds to
  the reference sample modulo 2^16 (J.1.1.5.2 + H.2)
* differential sequential DCT frames (SOF5, Huffman, 1x1 sampling):
  DC coded without prediction (J.1.1.5.1), dequantized + IDCT with
  NO level shift, corrections added to the reference
* differential progressive (SOF6) and the arithmetic hierarchy
  (SOF13/14/15) raise NotImplementedError — same honest error-column
  contract as the rest of the codec stack

Encoders for the two test shapes (lossless pyramid; DCT base +
lossless correction) live here too so the round-trips are exact: the
correction frame is computed against OUR decode of the base frame, so
the assembled stream reproduces the target image byte-for-byte.
"""

from __future__ import annotations

import struct

import numpy as np

from ..budget import check_budget
from .jpeg import (AC_BITS, AC_VALS, DC_BITS, DC_VALS, ZIGZAG, _DCT,
                   _IDCT, _BitReader, _BitWriter, _build_decode_table,
                   _build_encode_table, _decode_block_zz,
                   _encode_magnitude, _extend, _seg, decode_jpeg)
from .jpeg_lossless import (_LOSSLESS_BITS, _LOSSLESS_VALS,
                            decode_jpeg_lossless, encode_jpeg_lossless)

_SOF_ALL = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
            0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}
_SOF_NONDIFF = {0xC0, 0xC1, 0xC2, 0xC3, 0xC9, 0xCA, 0xCB}
_SOF_PROGRESSIVE = {0xC2, 0xC6, 0xCA, 0xCE}
_FRAME_LEVEL = _SOF_ALL | {0xDE, 0xDF, 0xD9}


def _entropy_end(data: bytes, pos: int) -> int:
    """Position of the first real marker (not a stuffed 0xFF00, not an
    RSTn) at or after ``pos`` inside entropy-coded data."""
    n = len(data)
    while pos < n:
        pos = data.find(b"\xff", pos)
        if pos < 0:
            return n
        nxt = data[pos + 1] if pos + 1 < n else 0xD9
        if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
            pos += 2
            continue
        return pos
    return n


def _expand_plane(plane: np.ndarray, eh: int, ev: int) -> np.ndarray:
    """EXP reference upsampling (T.81 J.1.1.2)."""
    p = np.asarray(plane, dtype=np.int64)
    if eh:
        right = np.concatenate([p[:, 1:], p[:, -1:]], axis=1)
        out = np.empty((p.shape[0], p.shape[1] * 2), dtype=np.int64)
        out[:, 0::2] = p
        out[:, 1::2] = (p + right + 1) >> 1
        p = out
    if ev:
        below = np.concatenate([p[1:, :], p[-1:, :]], axis=0)
        out = np.empty((p.shape[0] * 2, p.shape[1]), dtype=np.int64)
        out[0::2, :] = p
        out[1::2, :] = (p + below + 1) >> 1
        p = out
    return p


def _fit(plane: np.ndarray, h: int, w: int) -> np.ndarray:
    """Crop (and edge-pad, defensively) a reference plane to h x w."""
    p = plane[:h, :w]
    if p.shape[0] < h or p.shape[1] < w:
        p = np.pad(p, ((0, h - p.shape[0]), (0, w - p.shape[1])),
                   mode="edge")
    return p


def _split_frames(data: bytes):
    """Top-level walk: returns (precision, H, W, comp_ids, frames)
    where frames is a list of (sof_marker, exp_or_None, table_bytes,
    frame_bytes) — table_bytes are the tables/misc segments seen at
    the top level before the frame (they apply to it and all later
    frames, B.2.4)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("jpeg: missing SOI")
    pos = 2
    tables = bytearray()
    dhp = None
    pending_exp = None
    frames = []
    n = len(data)
    while pos + 1 < n:
        if data[pos] != 0xFF:
            raise ValueError("jpeg: bad marker alignment")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue
        if pos + 2 > n:
            raise ValueError("jpeg: truncated segment")
        seg_len = struct.unpack_from(">H", data, pos)[0]
        seg = data[pos + 2:pos + seg_len]
        if marker == 0xDE:  # DHP — same syntax as SOF
            if dhp is not None:
                raise ValueError("jpeg: duplicate DHP")
            prec, hh, ww, ncomp = struct.unpack_from(">BHHB", seg, 0)
            comp_ids = [seg[6 + 3 * ci] for ci in range(ncomp)]
            dhp = (prec, hh, ww, comp_ids)
            pos += seg_len
            continue
        if marker == 0xDF:  # EXP
            pending_exp = (seg[0] >> 4, seg[0] & 0xF)
            pos += seg_len
            continue
        if marker in _SOF_ALL:
            start = pos - 2
            pos += seg_len
            saw_scan = False
            progressive = marker in _SOF_PROGRESSIVE
            while pos + 1 < n:
                if data[pos] != 0xFF:
                    raise ValueError("jpeg: bad marker alignment")
                m2 = data[pos + 1]
                if m2 in _FRAME_LEVEL:
                    break
                if 0xD0 <= m2 <= 0xD7 or m2 == 0x01:
                    pos += 2
                    continue
                if pos + 4 > n:
                    raise ValueError("jpeg: truncated segment")
                sl2 = struct.unpack_from(">H", data, pos + 2)[0]
                if m2 == 0xDA:
                    pos = _entropy_end(data, pos + 2 + sl2)
                    saw_scan = True
                    # a single-scan frame ends with its entropy data;
                    # only progressive frames keep consuming local
                    # tables + further scans (multi-scan sequential
                    # would be ambiguous with the next frame's tables)
                    if not progressive:
                        break
                    continue
                if saw_scan and not progressive:
                    break
                pos += 2 + sl2
            frames.append((marker, pending_exp, bytes(tables),
                           data[start:pos]))
            pending_exp = None
            continue
        # tables/misc at the top level accumulate for later frames
        tables += data[pos - 2:pos + seg_len]
        pos += seg_len
    if dhp is None:
        raise ValueError("jpeg: hierarchical stream without DHP")
    if not frames:
        raise ValueError("jpeg: DHP without any frame")
    return dhp, frames


def _parse_frame_segs(standalone: bytes):
    """Shared segment walk for the in-module differential decoders:
    yields (marker, seg_bytes, seg_end_pos) over a standalone frame."""
    pos = 2
    n = len(standalone)
    while pos + 1 < n:
        if standalone[pos] != 0xFF:
            raise ValueError("jpeg: bad marker alignment")
        marker = standalone[pos + 1]
        pos += 2
        if marker == 0xD9:
            return
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue
        seg_len = struct.unpack_from(">H", standalone, pos)[0]
        yield marker, standalone[pos + 2:pos + seg_len], pos + seg_len
        pos += seg_len


def _decode_diff_lossless(standalone: bytes, refs: dict) -> None:
    """SOF7: zero-prediction corrections added mod 2^16 (J.1.1.5.2).
    Mutates ``refs`` (comp id -> int64 plane) in place."""
    htables: dict[int, dict] = {}
    comps: list[tuple[int, int]] = []  # (comp id, dc table id) in SOS
    h = w = None
    restart_interval = 0
    sof_comps: list[int] = []
    for marker, seg, seg_end in _parse_frame_segs(standalone):
        if marker == 0xC7:
            prec, h, w, ncomp = struct.unpack_from(">BHHB", seg, 0)
            for ci in range(ncomp):
                cid, hv, _q = seg[6 + 3 * ci:9 + 3 * ci]
                if hv != 0x11:
                    raise NotImplementedError(
                        "jpeg: hierarchical lossless subsampling")
                sof_comps.append(cid)
        elif marker == 0xC4:
            p = 0
            while p < len(seg):
                tc_th = seg[p]
                bits = list(seg[p + 1:p + 17])
                nv = sum(bits)
                if tc_th >> 4 == 0:
                    htables[tc_th & 0xF] = _build_decode_table(
                        bits, list(seg[p + 17:p + 17 + nv]))
                p += 17 + nv
        elif marker == 0xDD:
            restart_interval = struct.unpack_from(">H", seg, 0)[0]
        elif marker == 0xDA:
            if h is None:
                raise ValueError("jpeg: SOS before SOF7")
            ns = seg[0]
            if ns != len(sof_comps):
                raise NotImplementedError(
                    "jpeg: non-interleaved differential scan")
            for si in range(ns):
                cs, tsel = seg[1 + 2 * si], seg[2 + 2 * si]
                comps.append((cs, tsel >> 4))
            pt = seg[3 + 2 * ns] & 0xF
            check_budget(h * w * len(comps) * 8,
                         f"jpeg differential lossless: {w}x{h}")
            planes = []
            for cid, tid in comps:
                if cid not in refs:
                    raise ValueError(
                        f"jpeg: differential frame component {cid} "
                        "has no reference")
                planes.append(_fit(refs[cid], h, w))
            reader = _BitReader(standalone, seg_end)
            tabs = [htables[tid] for _cid, tid in comps]
            mcu = 0
            for y in range(h):
                for x in range(w):
                    if restart_interval and mcu \
                            and mcu % restart_interval == 0:
                        reader.sync_restart()
                    for pi, tab in enumerate(tabs):
                        t = reader.read_code(tab)
                        diff = (32768 if t == 16
                                else _extend(reader.read_bits(t), t))
                        planes[pi][y, x] = (int(planes[pi][y, x])
                                            + (diff << pt)) & 0xFFFF
                    mcu += 1
            for pi, (cid, _tid) in enumerate(comps):
                refs[cid] = planes[pi]
            return
    raise ValueError("jpeg: differential frame without a scan")


def _decode_diff_dct(standalone: bytes, refs: dict) -> None:
    """SOF5: sequential DCT corrections — DC without prediction
    (J.1.1.5.1), IDCT with no level shift, added to the reference."""
    htables: dict[tuple[int, int], dict] = {}
    qtables: dict[int, np.ndarray] = {}
    h = w = None
    comps: list[dict] = []
    restart_interval = 0
    for marker, seg, seg_end in _parse_frame_segs(standalone):
        if marker == 0xC5:
            prec, h, w, ncomp = struct.unpack_from(">BHHB", seg, 0)
            for ci in range(ncomp):
                cid, hv, qid = seg[6 + 3 * ci:9 + 3 * ci]
                if hv != 0x11:
                    raise NotImplementedError(
                        "jpeg: hierarchical DCT subsampling")
                comps.append({"id": cid, "qid": qid})
        elif marker == 0xDB:
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0xF
                p += 1
                if pq:
                    qtables[tq] = np.frombuffer(
                        seg[p:p + 128], dtype=">u2").astype(np.int32)
                    p += 128
                else:
                    qtables[tq] = np.frombuffer(
                        seg[p:p + 64], dtype=np.uint8).astype(np.int32)
                    p += 64
        elif marker == 0xC4:
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0xF
                bits = list(seg[p + 1:p + 17])
                nv = sum(bits)
                htables[(tc, th)] = _build_decode_table(
                    bits, list(seg[p + 17:p + 17 + nv]))
                p += 17 + nv
        elif marker == 0xDD:
            restart_interval = struct.unpack_from(">H", seg, 0)[0]
        elif marker == 0xDA:
            if h is None:
                raise ValueError("jpeg: SOS before SOF5")
            ns = seg[0]
            scomps = []
            by_id = {c["id"]: c for c in comps}
            for si in range(ns):
                cs, tsel = seg[1 + 2 * si], seg[2 + 2 * si]
                scomps.append({**by_id[cs], "dc": tsel >> 4,
                               "ac": tsel & 0xF})
            if ns != len(comps):
                raise NotImplementedError(
                    "jpeg: non-interleaved differential DCT scan")
            bh, bw = (h + 7) // 8, (w + 7) // 8
            # 8 bytes per coefficient over all components bounds the
            # int32 coefficients of every component, and each
            # component's float64 dequantised copy, IDCT output and
            # int64 reference plane
            check_budget(bh * bw * 64 * len(comps) * 8,
                         f"jpeg differential DCT: {w}x{h}")
            coefs = {c["id"]: np.zeros((bh, bw, 64), dtype=np.int32)
                     for c in comps}
            reader = _BitReader(standalone, seg_end)
            mcu = 0
            for by in range(bh):
                for bx in range(bw):
                    if restart_interval and mcu \
                            and mcu % restart_interval == 0:
                        reader.sync_restart()
                    for c in scomps:
                        # differential DC: PRED = 0 for every block
                        _decode_block_zz(
                            reader, htables[(0, c["dc"])],
                            htables[(1, c["ac"])], 0,
                            coefs[c["id"]][by, bx])
                    mcu += 1
            for c in comps:
                q = qtables.get(c["qid"])
                if q is None:
                    raise ValueError(
                        f"jpeg: missing quant table {c['qid']}")
                deq = np.zeros((bh, bw, 64), dtype=np.float64)
                deq[:, :, ZIGZAG] = coefs[c["id"]] * q
                blocks = np.einsum("ki,mnij,lj->mnkl", _IDCT,
                                   deq.reshape(bh, bw, 8, 8), _IDCT)
                corr = blocks.transpose(0, 2, 1, 3) \
                    .reshape(bh * 8, bw * 8)[:h, :w]
                if c["id"] not in refs:
                    raise ValueError(
                        f"jpeg: differential frame component "
                        f"{c['id']} has no reference")
                refs[c["id"]] = _fit(refs[c["id"]], h, w) \
                    + np.round(corr).astype(np.int64)
            return
    raise ValueError("jpeg: differential frame without a scan")


def decode_jpeg_hierarchical(data: bytes) -> np.ndarray:
    """DHP-led hierarchical stream -> uint8 (h, w) gray or (h, w, 3).
    The DHP, each frame header and each EXP size the int64 reference
    planes: each is refused past the decode budget, at 8 bytes a
    sample, before it is allocated."""
    (prec, out_h, out_w, comp_ids), frames = _split_frames(data)
    if prec != 8:
        raise NotImplementedError(f"jpeg: hierarchical precision {prec}")
    check_budget(out_h * out_w * len(comp_ids) * 8,
                 f"jpeg hierarchical: {out_w}x{out_h}")
    refs: dict[int, np.ndarray] = {}
    for sof, exp, tables, frame in frames:
        standalone = b"\xff\xd8" + tables + frame + b"\xff\xd9"
        if exp is not None:
            eh, ev = exp
            check_budget(sum(p.size for p in refs.values())
                         * (2 if eh else 1) * (2 if ev else 1) * 8,
                         "jpeg hierarchical EXP")
            refs = {cid: _expand_plane(p, eh, ev)
                    for cid, p in refs.items()}
        if sof in _SOF_NONDIFF:
            # a non-first non-differential frame simply replaces the
            # references for its components (J.1: frames need not all
            # be differential)
            fh, fw, fcomp = _frame_header(frame)
            check_budget(fh * fw * len(fcomp) * 8,
                         f"jpeg hierarchical base: {fw}x{fh}")
            if sof == 0xC3:
                px = decode_jpeg_lossless(standalone)
                if px.ndim == 2:
                    refs[fcomp[0]] = px.astype(np.int64)
                else:
                    for ci, cid in enumerate(fcomp):
                        refs[cid] = px[:, :, ci].astype(np.int64)
            elif sof in (0xC0, 0xC1):
                if len(fcomp) != 1:
                    raise NotImplementedError(
                        "jpeg: hierarchical color DCT base frame")
                px = decode_jpeg(standalone)
                refs[fcomp[0]] = px.astype(np.int64)
            else:
                raise NotImplementedError(
                    "jpeg: unsupported hierarchical base frame")
        elif sof == 0xC7:
            _decode_diff_lossless(standalone, refs)
        elif sof == 0xC5:
            _decode_diff_dct(standalone, refs)
        else:
            raise NotImplementedError(
                "jpeg: unsupported differential frame mode")
    planes = []
    for cid in comp_ids:
        if cid not in refs:
            raise ValueError(f"jpeg: component {cid} never decoded")
        planes.append(np.clip(_fit(refs[cid], out_h, out_w),
                              0, 255).astype(np.uint8))
    if len(planes) == 1:
        return planes[0]
    if len(planes) == 3:
        return np.stack(planes, axis=-1)
    raise NotImplementedError(
        f"jpeg: hierarchical {len(planes)}-component output")


def _frame_header(frame: bytes) -> tuple[int, int, list[int]]:
    """(h, w, component ids) from a frame's SOF segment bytes."""
    _prec, h, w, ncomp = struct.unpack_from(">BHHB", frame, 4)
    ids = [frame[10 + 3 * ci] for ci in range(ncomp)]
    return h, w, ids


# ------------------------------------------------------- encoders


def _encode_diff_lossless_frame(diffs: np.ndarray) -> bytes:
    """(h, w, nc) int64 corrections (mod-2^16 domain) -> SOF7 frame
    bytes (DHT + SOF7 + SOS + entropy), zero prediction."""
    h, w, nc = diffs.shape
    enc_tab = _build_encode_table(_LOSSLESS_BITS, _LOSSLESS_VALS)
    out = bytearray()
    out += _seg(0xC4, bytes([0x00]) + bytes(_LOSSLESS_BITS)
                + bytes(_LOSSLESS_VALS))
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for ci in range(nc):
        sof += bytes([ci + 1, 0x11, 0])
    out += _seg(0xC7, sof)
    sos = bytes([nc])
    for ci in range(nc):
        sos += bytes([ci + 1, 0x00])
    sos += bytes([0, 0, 0])  # Ss=0 (no predictor), Se=0, Ah/Al=0
    out += _seg(0xDA, sos)
    writer = _BitWriter()
    for y in range(h):
        for x in range(w):
            for ci in range(nc):
                diff = int(diffs[y, x, ci]) & 0xFFFF
                if diff >= 0x8000:
                    diff -= 0x10000
                if diff == -32768:
                    writer.write(*enc_tab[16])
                else:
                    t, bits = _encode_magnitude(diff)
                    writer.write(*enc_tab[t])
                    if t:
                        writer.write(t, bits)
    writer.flush()
    return bytes(out) + bytes(writer.out)


def encode_jpeg_hier_pyramid(pixels) -> bytes:
    """Lossless pyramid fixture: a half-resolution SOF3 base frame,
    EXP(1,1), and an SOF7 correction frame that makes the full-
    resolution output EXACT. Gray (h, w) or RGB (h, w, 3) uint8."""
    px = np.asarray(pixels, dtype=np.uint8)
    gray = px.ndim == 2
    full = px[:, :, None] if gray else px
    h, w, nc = full.shape
    base = full[::2, ::2, :]
    base_img = base[:, :, 0] if gray else base
    frame1 = encode_jpeg_lossless(base_img)[2:-2]
    # what the decoder's reference will hold after EXP(1,1)
    diffs = np.empty((h, w, nc), dtype=np.int64)
    for ci in range(nc):
        exp = _fit(_expand_plane(base[:, :, ci].astype(np.int64), 1, 1),
                   h, w)
        diffs[:, :, ci] = (full[:, :, ci].astype(np.int64) - exp) \
            & 0xFFFF
    frame2 = _encode_diff_lossless_frame(diffs)
    dhp = struct.pack(">BHHB", 8, h, w, nc)
    for ci in range(nc):
        dhp += bytes([ci + 1, 0x11, 0])
    return (b"\xff\xd8" + _seg(0xDE, dhp) + frame1
            + _seg(0xDF, bytes([0x11])) + frame2 + b"\xff\xd9")


def _encode_diff_dct_frame(diffs: np.ndarray) -> bytes:
    """(h, w) integer corrections -> SOF5 frame bytes (DQT q=1, DHT,
    SOF5, SOS, entropy): forward DCT with NO level shift, DC coded
    without prediction — the mirror of _decode_diff_dct."""
    h, w = diffs.shape
    bh, bw = (h + 7) // 8, (w + 7) // 8
    # edge-replicate the padding so edge blocks stay as smooth as the
    # corrections themselves (the decoder discards the pad region)
    padded = np.pad(np.asarray(diffs, dtype=np.float64),
                    ((0, bh * 8 - h), (0, bw * 8 - w)), mode="edge")
    dc_enc = _build_encode_table(DC_BITS, DC_VALS)
    ac_enc = _build_encode_table(AC_BITS, AC_VALS)
    writer = _BitWriter()
    for by in range(bh):
        for bx in range(bw):
            block = padded[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8]
            coef = _DCT @ block @ _DCT.T
            zz = np.round(coef.reshape(64)[ZIGZAG]).astype(np.int64)
            t, bits = _encode_magnitude(int(zz[0]))
            writer.write(*dc_enc[t])
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
                    writer.write(*ac_enc[0xF0])
                    run -= 16
                t, bits = _encode_magnitude(int(zz[k]))
                writer.write(*ac_enc[(run << 4) | t])
                writer.write(t, bits)
                run = 0
            if last_nz < 63:
                writer.write(*ac_enc[0x00])
    writer.flush()
    out = bytearray()
    out += _seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    out += _seg(0xC4, bytes([0x00]) + bytes(DC_BITS) + bytes(DC_VALS))
    out += _seg(0xC4, bytes([0x10]) + bytes(AC_BITS) + bytes(AC_VALS))
    out += _seg(0xC5, struct.pack(">BHHB", 8, h, w, 1)
                + bytes([1, 0x11, 0]))
    out += _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    return bytes(out) + bytes(writer.out)


def encode_jpeg_hier_dct_refined(pixels, qtable=None) -> bytes:
    """Lossy-base + lossless-refinement fixture: a full-resolution
    grayscale SOF0 base frame followed by an SOF7 correction frame
    computed against OUR decode of the base, so the assembled stream
    reproduces ``pixels`` exactly."""
    from .jpeg import encode_jpeg_gray

    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim != 2:
        raise ValueError("gray fixture only")
    h, w = px.shape
    base_stream = encode_jpeg_gray(px, qtable)
    base_decoded = decode_jpeg(base_stream).astype(np.int64)
    diffs = (px.astype(np.int64) - base_decoded) & 0xFFFF
    frame2 = _encode_diff_lossless_frame(diffs[:, :, None])
    dhp = struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0])
    # reuse the base stream's tables+frame bytes (strip SOI/EOI); its
    # component id is 1, matching the correction frame
    return (b"\xff\xd8" + _seg(0xDE, dhp) + base_stream[2:-2]
            + frame2 + b"\xff\xd9")
