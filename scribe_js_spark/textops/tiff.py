"""From-scratch baseline TIFF decoder (6.0 subset).

IFD walk (II/MM byte orders), strip-based grayscale/RGB images at
8 bits per sample, compressions: none (1), LZW (5 — the MSB-first
EarlyChange flavor shared with PDF streams), PackBits (32773), with
horizontal differencing (Predictor 2), plus bilevel CCITT fax images
(1 bit per sample): Modified Huffman (2), Group 3 1-D with EOLs (3)
and Group 4 / T.6 2-D (4) through the from-scratch ``textops.ccitt``
codec — fax output expands to 0/255 grayscale — and new-style
JPEG-in-TIFF (7, TIFF Technote 2): per-strip JPEG streams through
``textops.jpeg``, with the shared JPEGTables tag spliced into
abbreviated strips — and tiled layouts (TIFF 6.0 §15) for the
none/LZW/PackBits compressions with per-tile predictor support.
Old-style JPEG (6), tiled JPEG/fax and other sub-byte depths raise
NotImplementedError — surfaced as the error column upstream.

Encoder (fixture side): single-strip writer for the same subset,
plus multi-strip JPEG (optionally JPEGTables-abbreviated) and tiled
writers.
"""

from __future__ import annotations

import struct

from ..budget import check_budget

TAG_WIDTH = 256
TAG_HEIGHT = 257
TAG_BPS = 258
TAG_COMPRESSION = 259
TAG_PHOTOMETRIC = 262
TAG_STRIP_OFFSETS = 273
TAG_SPP = 277
TAG_ROWS_PER_STRIP = 278
TAG_STRIP_COUNTS = 279
TAG_T4_OPTIONS = 292
TAG_PREDICTOR = 317
TAG_TILE_WIDTH = 322
TAG_TILE_LENGTH = 323
TAG_TILE_OFFSETS = 324
TAG_TILE_COUNTS = 325
TAG_JPEG_TABLES = 347

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1}


def _packbits_decode(data: bytes) -> bytes:
    """PackBits (TIFF 6.0 §9): n in 0..127 copy n+1 literal; n in
    129..255 repeat next byte 257-n times; 128 is a no-op."""
    out = bytearray()
    i = 0
    while i < len(data):
        n = data[i]
        i += 1
        if n < 128:
            out += data[i : i + n + 1]
            i += n + 1
        elif n > 128:
            if i < len(data):
                out += bytes([data[i]]) * (257 - n)
                i += 1
        # n == 128: no-op
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 2:
            out += bytes([257 - run, data[i]])
            i += run
            continue
        lit = i
        while i < n and i - lit < 128:
            run = 1
            while i + run < n and run < 2 and data[i + run] == data[i]:
                run += 1
            if run >= 2 and i + run < n and data[i + run] == data[i]:
                break
            i += 1
        out += bytes([i - lit - 1]) + data[lit:i]
    return bytes(out)


def decode_tiff(data: bytes):
    """TIFF -> (width, height, samples_per_pixel, pixels ndarray
    (h, w, spp) uint8)."""
    import numpy as np

    if data[:4] == b"II*\x00":
        endian = "<"
    elif data[:4] == b"MM\x00*":
        endian = ">"
    else:
        raise ValueError("not a TIFF")
    (ifd_off,) = struct.unpack_from(endian + "I", data, 4)
    if ifd_off + 2 > len(data):
        raise ValueError("tiff: truncated IFD offset")
    (n_entries,) = struct.unpack_from(endian + "H", data, ifd_off)
    tags: dict[int, list[int]] = {}
    for i in range(n_entries):
        base = ifd_off + 2 + 12 * i
        if base + 12 > len(data):
            raise ValueError("tiff: truncated IFD")
        tag, typ, count = struct.unpack_from(endian + "HHI", data, base)
        size = _TYPE_SIZE.get(typ, 1) * count
        if size <= 4:
            val_off = base + 8
        else:
            (val_off,) = struct.unpack_from(endian + "I", data, base + 8)
        fmt = {1: "B", 3: "H", 4: "I", 7: "B"}.get(typ)
        if fmt is None:
            continue
        # Bounds first: ``count`` comes from the file and sizes the
        # unpack, so a hostile count must fail before any allocation.
        if val_off + size > len(data):
            raise ValueError("tiff: truncated tag data")
        tags[tag] = list(struct.unpack_from(
            f"{endian}{count}{fmt}", data, val_off))

    def one(tag, default=None):
        v = tags.get(tag)
        return v[0] if v else default

    width = one(TAG_WIDTH)
    height = one(TAG_HEIGHT)
    if not width or not height:
        raise ValueError("tiff: missing dimensions")
    spp = one(TAG_SPP, 1)
    bps = tags.get(TAG_BPS, [8])
    compression = one(TAG_COMPRESSION, 1)
    if TAG_TILE_WIDTH in tags:
        # Tiled layout (TIFF 6.0 §15): a row-major grid of
        # tw x th tiles, each compressed independently and padded to
        # full tile size; the assembled mosaic is cropped to the
        # image dims. Predictor 2 applies within each tile row.
        if any(b != 8 for b in bps):
            raise NotImplementedError(f"tiff: tiled {bps}-bit")
        if compression not in (1, 5, 32773):
            raise NotImplementedError(
                f"tiff: tiled compression {compression}")
        tw = one(TAG_TILE_WIDTH)
        th = one(TAG_TILE_LENGTH)
        offsets = tags.get(TAG_TILE_OFFSETS)
        counts = tags.get(TAG_TILE_COUNTS)
        if not tw or not th or not offsets or not counts:
            raise ValueError("tiff: missing tile tables")
        ntx = (width + tw - 1) // tw
        nty = (height + th - 1) // th
        if len(offsets) < ntx * nty or len(counts) < ntx * nty:
            raise ValueError("tiff: short tile tables")
        predictor = one(TAG_PREDICTOR, 1)
        check_budget(nty * th * ntx * tw * spp,
                     f"tiff: {ntx}x{nty} tiles of {tw}x{th}")
        mosaic = np.zeros((nty * th, ntx * tw, spp), dtype=np.uint8)
        for ti in range(ntx * nty):
            chunk = data[offsets[ti] : offsets[ti] + counts[ti]]
            if len(chunk) < counts[ti]:
                raise ValueError("tiff: truncated tile")
            if compression == 5:
                from ..operators.pdf.document import _lzw_decode

                raw = _lzw_decode(chunk, early_change=1)
            elif compression == 32773:
                raw = _packbits_decode(chunk)
            else:
                raw = chunk
            need = tw * th * spp
            if len(raw) < need:
                raise ValueError("tiff: truncated tile data")
            tile = np.frombuffer(bytes(raw), dtype=np.uint8,
                                 count=need).reshape(th, tw, spp)
            if predictor == 2:
                tile = np.cumsum(tile.astype(np.int64),
                                 axis=1).astype(np.uint8)
            elif predictor != 1:
                raise NotImplementedError(
                    f"tiff: predictor {predictor}")
            ty, tx = divmod(ti, ntx)
            mosaic[ty * th : (ty + 1) * th,
                   tx * tw : (tx + 1) * tw] = tile
        px = np.ascontiguousarray(mosaic[:height, :width])
        if one(TAG_PHOTOMETRIC, 1) == 0:
            px = (255 - px.astype(np.int16)).astype(np.uint8)
        return width, height, spp, px
    if compression in (2, 3, 4):
        # CCITT fax: bilevel, whole image in one strip run
        if any(b != 1 for b in bps) or spp != 1:
            raise NotImplementedError("tiff: fax must be bilevel")
        from .ccitt import decode_g3_2d, decode_g4, decode_mh

        offsets = tags.get(TAG_STRIP_OFFSETS)
        counts = tags.get(TAG_STRIP_COUNTS)
        if not offsets or not counts:
            raise ValueError("tiff: missing strip tables")
        enc = b"".join(data[o:o + c] for o, c in zip(offsets, counts))
        if compression == 4:
            bits = decode_g4(enc, width, height)
        elif compression == 3 and one(TAG_T4_OPTIONS, 0) & 1:
            # T4Options bit 0: 2-D (mixed) coding
            bits = decode_g3_2d(enc, width, height)
        else:
            bits = decode_mh(enc, width, height, eols=compression == 3)
        px = np.array(bits, dtype=np.uint8)[:, :, None] * 255
        if one(TAG_PHOTOMETRIC, 0) == 0:
            # WhiteIsZero (fax default): 1 bits are BLACK
            px = 255 - px
        return width, height, 1, px
    if compression == 6:
        raise NotImplementedError("tiff: old-style JPEG (compression 6)")
    if compression == 7:
        # New-style JPEG (TIFF Technote 2): each strip is a JPEG
        # stream, optionally abbreviated against a shared JPEGTables
        # tag (SOI + DQT/DHT segments + EOI) that gets spliced after
        # the strip's SOI.
        from .jpeg import decode_jpeg

        offsets = tags.get(TAG_STRIP_OFFSETS)
        counts = tags.get(TAG_STRIP_COUNTS)
        if not offsets or not counts:
            raise ValueError("tiff: missing strip tables")
        jt = bytes(tags.get(TAG_JPEG_TABLES, []))
        parts = []
        for off, cnt in zip(offsets, counts):
            strip = data[off : off + cnt]
            if len(strip) < cnt:
                raise ValueError("tiff: truncated strip")
            if len(jt) >= 4 and jt[:2] == b"\xff\xd8":
                strip = b"\xff\xd8" + jt[2:-2] + strip[2:]
            px = decode_jpeg(strip)
            if px.ndim == 2:
                px = px[:, :, None]
            parts.append(px)
        px = np.concatenate(parts, axis=0)
        if px.shape[0] < height or px.shape[1] < width:
            raise ValueError("tiff: jpeg strips smaller than image")
        px = np.ascontiguousarray(px[:height, :width])
        return width, height, px.shape[2], px
    if any(b != 8 for b in bps):
        raise NotImplementedError(f"tiff: {bps} bits per sample")
    predictor = one(TAG_PREDICTOR, 1)
    offsets = tags.get(TAG_STRIP_OFFSETS)
    counts = tags.get(TAG_STRIP_COUNTS)
    if not offsets or not counts:
        raise ValueError("tiff: missing strip tables")
    rows_per_strip = one(TAG_ROWS_PER_STRIP, height)

    raw = bytearray()
    for off, cnt in zip(offsets, counts):
        strip = data[off : off + cnt]
        if len(strip) < cnt:
            raise ValueError("tiff: truncated strip")
        if compression == 1:
            raw += strip
        elif compression == 5:
            from ..operators.pdf.document import _lzw_decode

            raw += _lzw_decode(strip, early_change=1)
        elif compression == 32773:
            raw += _packbits_decode(strip)
        else:
            raise NotImplementedError(f"tiff: compression {compression}")
    need = width * height * spp
    if len(raw) < need:
        raise ValueError("tiff: truncated image data")
    px = np.frombuffer(bytes(raw), dtype=np.uint8,
                       count=need).reshape(height, width, spp)
    if predictor == 2:  # horizontal differencing: undo by row cumsum
        px = np.cumsum(px.astype(np.int64), axis=1).astype(np.uint8)
    elif predictor != 1:
        raise NotImplementedError(f"tiff: predictor {predictor}")
    _ = rows_per_strip
    photometric = one(TAG_PHOTOMETRIC, 1)
    if photometric == 0:  # WhiteIsZero: invert
        px = (255 - px.astype(np.int16)).astype(np.uint8)
    return width, height, spp, px


def _split_jpeg_tables(stream: bytes):
    """Full JPEG -> (JPEGTables payload, abbreviated strip stream):
    DQT/DHT segments move into SOI + tables + EOI; everything else
    stays in the strip (TIFF Technote 2 abbreviated format)."""
    tables = bytearray(b"\xff\xd8")
    rest = bytearray(b"\xff\xd8")
    pos = 2
    while pos + 1 < len(stream):
        marker = stream[pos + 1]
        if marker == 0xDA:
            rest += stream[pos:]  # scan header + entropy + EOI
            break
        (seg_len,) = struct.unpack_from(">H", stream, pos + 2)
        seg = stream[pos : pos + 2 + seg_len]
        (tables if marker in (0xDB, 0xC4) else rest).extend(seg)
        pos += 2 + seg_len
    tables += b"\xff\xd9"
    return bytes(tables), bytes(rest)


def encode_tiff(pixels, compression: int = 1, predictor: int = 1,
                photometric: int = 1, t4_2d: bool = False,
                jpeg_tables_split: bool = False) -> bytes:
    """Fixture writer: little-endian TIFF for uint8 (h, w) or
    (h, w, spp) arrays; compression 1/5/32773, CCITT fax 2/3/4 (input
    thresholded at 128 -> bilevel, PhotometricInterp WhiteIsZero), or
    new-style JPEG 7 (gray input, strips of 8-row-aligned height;
    ``jpeg_tables_split`` moves DQT/DHT into a shared JPEGTables
    tag)."""
    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, spp = px.shape
    if compression == 7:
        from .jpeg import encode_jpeg_gray

        assert spp == 1, "fixture JPEG strips are grayscale"
        strip_h = max(8, ((h + 1) // 2 + 7) & ~7) if h > 16 else h
        strips = []
        jt = b""
        for y0 in range(0, h, strip_h):
            stream = encode_jpeg_gray(px[y0 : y0 + strip_h, :, 0])
            if jpeg_tables_split:
                jt, stream = _split_jpeg_tables(stream)
            strips.append(stream)
        return _assemble_tiff_strips(
            w, h, 1, 7, 1, strips, strip_h,
            jpeg_tables=jt if jpeg_tables_split else None)
    if compression in (2, 3, 4):
        from .ccitt import encode_g3_2d, encode_g4, encode_mh

        assert spp == 1, "fax is bilevel"
        bits = [[0 if v >= 128 else 1 for v in row]
                for row in px[:, :, 0].tolist()]  # 1 = black
        t4_options = None
        if compression == 4:
            strip = encode_g4(bits, w)
        elif compression == 3 and t4_2d:
            strip = encode_g3_2d(bits, w)
            t4_options = 1
        else:
            strip = encode_mh(bits, w, eols=compression == 3)
        return _assemble_tiff(w, h, 1, compression, 0, strip, bps=1,
                              t4_options=t4_options)
    body = px
    if predictor == 2:
        d = body.astype(np.int16)
        body = np.concatenate(
            [d[:, :1], (d[:, 1:] - d[:, :-1])], axis=1).astype(np.uint8)
    raw = body.tobytes()
    if compression == 5:
        from ..render_pdf import _lzw_encode

        strip = _lzw_encode(raw, early_change=1)
    elif compression == 32773:
        strip = _packbits_encode(raw)
    else:
        strip = raw

    return _assemble_tiff(w, h, spp, compression, photometric, strip,
                          bps=8, predictor=predictor)


def _assemble_tiff_strips(w, h, spp, compression, photometric, strips,
                          rows_per_strip, jpeg_tables=None) -> bytes:
    """Multi-strip little-endian TIFF (the JPEG-in-TIFF fixture
    shape): per-strip offset/count arrays, optional JPEGTables
    (UNDEFINED) tag."""
    n = len(strips)
    entries = []  # (tag, typ, count, values: list)
    entries.append((TAG_WIDTH, 4, 1, [w]))
    entries.append((TAG_HEIGHT, 4, 1, [h]))
    entries.append((TAG_BPS, 3, 1, [8]))
    entries.append((TAG_COMPRESSION, 3, 1, [compression]))
    entries.append((TAG_PHOTOMETRIC, 3, 1, [photometric]))
    entries.append((TAG_STRIP_OFFSETS, 4, n, [0] * n))
    entries.append((TAG_SPP, 3, 1, [spp]))
    entries.append((TAG_ROWS_PER_STRIP, 4, 1, [rows_per_strip]))
    entries.append((TAG_STRIP_COUNTS, 4, n, [len(s) for s in strips]))
    if jpeg_tables:
        entries.append((TAG_JPEG_TABLES, 7, len(jpeg_tables),
                        list(jpeg_tables)))
    entries.sort()

    type_size = {3: 2, 4: 4, 7: 1}
    ifd_off = 8
    header_end = ifd_off + 2 + 12 * len(entries) + 4
    # lay out overflow value areas, then strip data
    overflow_off = header_end
    value_pos = {}
    for tag, typ, count, values in entries:
        if type_size[typ] * count > 4:
            value_pos[tag] = overflow_off
            overflow_off += type_size[typ] * count
    strip_offs = []
    pos = overflow_off
    for s in strips:
        strip_offs.append(pos)
        pos += len(s)

    def packed(typ, values):
        fmt = {3: "H", 4: "I", 7: "B"}[typ]
        return struct.pack("<" + fmt * len(values), *values)

    out = bytearray(b"II*\x00" + struct.pack("<I", ifd_off))
    out += struct.pack("<H", len(entries))
    for tag, typ, count, values in entries:
        if tag == TAG_STRIP_OFFSETS:
            values = strip_offs
        out += struct.pack("<HHI", tag, typ, count)
        if type_size[typ] * count > 4:
            out += struct.pack("<I", value_pos[tag])
        else:
            out += packed(typ, values).ljust(4, b"\x00")
    out += struct.pack("<I", 0)  # next IFD
    for tag, typ, count, values in entries:
        if type_size[typ] * count > 4:
            if tag == TAG_STRIP_OFFSETS:
                values = strip_offs
            assert len(out) == value_pos[tag]
            out += packed(typ, values)
    for s in strips:
        out += s
    return bytes(out)


def _assemble_tiff(w, h, spp, compression, photometric, strip,
                   bps=8, predictor=1, t4_options=None) -> bytes:
    entries = []

    def entry(tag, typ, count, value):
        entries.append((tag, typ, count, value))

    entry(TAG_WIDTH, 4, 1, w)
    entry(TAG_HEIGHT, 4, 1, h)
    entry(TAG_BPS, 3, 1, bps)  # one value: applies to all samples here
    entry(TAG_COMPRESSION, 3, 1, compression)
    entry(TAG_PHOTOMETRIC, 3, 1, photometric)
    entry(TAG_STRIP_OFFSETS, 4, 1, 0)
    entry(TAG_SPP, 3, 1, spp)
    entry(TAG_ROWS_PER_STRIP, 4, 1, h)
    entry(TAG_STRIP_COUNTS, 4, 1, len(strip))
    if predictor != 1:
        entry(TAG_PREDICTOR, 3, 1, predictor)
    if t4_options is not None:
        entry(TAG_T4_OPTIONS, 4, 1, t4_options)
    entries.sort()

    ifd_off = 8
    out = bytearray(b"II*\x00" + struct.pack("<I", ifd_off))
    out += struct.pack("<H", len(entries))
    data_off = ifd_off + 2 + 12 * len(entries) + 4
    for tag, typ, count, value in entries:
        if tag == TAG_STRIP_OFFSETS:
            value = data_off
        out += struct.pack("<HHI", tag, typ, count)
        out += struct.pack("<I", value)
    out += struct.pack("<I", 0)  # next IFD
    assert len(out) == data_off
    out += strip
    return bytes(out)


def encode_tiff_tiled(pixels, tile=(16, 16), compression: int = 1,
                      predictor: int = 1) -> bytes:
    """Fixture writer: tiled little-endian TIFF (TIFF 6.0 §15) for
    uint8 (h, w) or (h, w, spp) arrays; tiles pad with edge
    replication, compression 1/5/32773, optional horizontal
    differencing inside each tile."""
    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, spp = px.shape
    tw, th = tile
    ntx = (w + tw - 1) // tw
    nty = (h + th - 1) // th
    padded = np.zeros((nty * th, ntx * tw, spp), dtype=np.uint8)
    padded[:h, :w] = px
    padded[h:, :w] = px[-1:, :]        # edge replication keeps
    padded[:, w:] = padded[:, w - 1:w]  # compressed tiles benign
    tiles = []
    for ty in range(nty):
        for tx in range(ntx):
            t = padded[ty * th : (ty + 1) * th,
                       tx * tw : (tx + 1) * tw]
            if predictor == 2:
                d = t.astype(np.int16)
                t = np.concatenate(
                    [d[:, :1], (d[:, 1:] - d[:, :-1])],
                    axis=1).astype(np.uint8)
            raw = t.tobytes()
            if compression == 5:
                from ..render_pdf import _lzw_encode

                tiles.append(_lzw_encode(raw, early_change=1))
            elif compression == 32773:
                tiles.append(_packbits_encode(raw))
            else:
                tiles.append(raw)

    entries = [
        (TAG_WIDTH, 4, 1, [w]),
        (TAG_HEIGHT, 4, 1, [h]),
        (TAG_BPS, 3, 1, [8]),
        (TAG_COMPRESSION, 3, 1, [compression]),
        (TAG_PHOTOMETRIC, 3, 1, [1]),
        (TAG_SPP, 3, 1, [spp]),
        (TAG_TILE_WIDTH, 4, 1, [tw]),
        (TAG_TILE_LENGTH, 4, 1, [th]),
        (TAG_TILE_OFFSETS, 4, len(tiles), [0] * len(tiles)),
        (TAG_TILE_COUNTS, 4, len(tiles), [len(t) for t in tiles]),
    ]
    if predictor != 1:
        entries.append((TAG_PREDICTOR, 3, 1, [predictor]))
    entries.sort()

    type_size = {3: 2, 4: 4}
    ifd_off = 8
    header_end = ifd_off + 2 + 12 * len(entries) + 4
    overflow_off = header_end
    value_pos = {}
    for tag, typ, count, values in entries:
        if type_size[typ] * count > 4:
            value_pos[tag] = overflow_off
            overflow_off += type_size[typ] * count
    tile_offs = []
    pos = overflow_off
    for t in tiles:
        tile_offs.append(pos)
        pos += len(t)

    def packed(typ, values):
        fmt = {3: "H", 4: "I"}[typ]
        return struct.pack("<" + fmt * len(values), *values)

    out = bytearray(b"II*\x00" + struct.pack("<I", ifd_off))
    out += struct.pack("<H", len(entries))
    for tag, typ, count, values in entries:
        if tag == TAG_TILE_OFFSETS:
            values = tile_offs
        out += struct.pack("<HHI", tag, typ, count)
        if type_size[typ] * count > 4:
            out += struct.pack("<I", value_pos[tag])
        else:
            out += packed(typ, values).ljust(4, b"\x00")
    out += struct.pack("<I", 0)
    for tag, typ, count, values in entries:
        if type_size[typ] * count > 4:
            if tag == TAG_TILE_OFFSETS:
                values = tile_offs
            assert len(out) == value_pos[tag]
            out += packed(typ, values)
    for t in tiles:
        out += t
    return bytes(out)
