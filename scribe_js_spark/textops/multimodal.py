"""Multimodal column plumbing: opaque binary media + typed metadata.

Images/audio/video ride as ``binary`` columns with a struct of metadata;
decode / feature-extract run as Arrow-batched Python maps through
``pipeline.per_document`` — schema, batching and partition behavior are
real and tested, and so is the PNG path: a from-scratch decoder (IHDR/IDAT
chunk walk, zlib inflate, the five scanline filters vectorized with
numpy) produces true pixel statistics with no imaging library, as is
the JPEG path (textops/jpeg.py: sequential + progressive, grayscale
+ YCbCr/CMYK/YCCK with subsampling and restart markers, plus
sequential AND progressive arithmetic QM coding via
textops/jpeg_arith.py; PNG spans 1/2/4/8/16-bit depths). Unsupported
shapes (lossless and hierarchical JPEG) raise
``NotImplementedError`` inside the per-document handler and surface
as an ``error`` column value, never a job failure — the same
never-fatal contract as document extraction.
GIF (textops/gif.py: LSB-first LZW, palettes, interlace, animation
frames with delays), TIFF (textops/tiff.py: none/LZW/PackBits strips
and tiles, horizontal-differencing predictor, WhiteIsZero, CCITT fax,
JPEG-in-TIFF), BMP (1/4/8-bit paletted, 16/24/32-bit, RLE8/RLE4),
netpbm P1-P6 and JPEG 2000 (textops/jpx.py) decode for real too.
Audio rides the same contract through a from-scratch
RIFF/WAVE PCM parser (sample rate / duration / mean amplitude); video
through the ``SVID`` fixture container whose *frames* are real
JPEG/PNG bytes —
frame-sampling decodes every max(1, n//4)-th frame with the real
codecs, so only the MP4/WebM demuxer is stood in for. ``resize_images``
(nearest + box) is the feature-extract path. The deterministic
``SIMG`` synthetic header remains the cheap test path.
"""

from __future__ import annotations

import math
import struct
import zlib

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..budget import check_budget
from ..pipeline import per_document

MEDIA_META_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_bytes", LongType()),
    StructField("mean_byte", DoubleType()),
    StructField("sample_rate", IntegerType()),
    StructField("duration_ms", LongType()),
    StructField("n_frames", IntegerType()),
    StructField("error", StringType()),
])

_SIMG_MAGIC = b"SIMG"
_SVID_MAGIC = b"SVID"
_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_RIFF_MAGIC = b"RIFF"

# PNG color type -> samples per pixel
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


# Adam7 pass geometry: (x0, y0, dx, dy) per pass (PNG spec 4.5.2).
_ADAM7 = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]


def _unfilter(raw: bytes, off: int, height: int, stride: int, bpp: int):
    """Reconstruct `height` filtered scanlines of `stride` bytes from
    raw[off:]; returns (pixels (height, stride) uint8, new offset).
    Filter math is byte-level with a `bpp`-byte left reach (PNG spec
    9.2) — identical for 8- and 16-bit samples."""
    import numpy as np

    if len(raw) < off + height * (stride + 1):
        raise ValueError("PNG truncated scanlines")
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        ftype = raw[off]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=off + 1).copy()
        off += stride + 1
        if ftype == 0:  # None
            cur = line
        elif ftype == 2:  # Up
            cur = (line.astype(np.uint16) + prev).astype(np.uint8)
        elif ftype in (1, 3, 4):
            # Sub/Average/Paeth carry a left-pixel dependency, so the
            # scanline reconstructs pixel-stepwise (vector ops span the
            # channel lanes of one pixel at a time)
            cur = np.zeros(stride, dtype=np.uint8)
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                if ftype == 1:
                    val = line[x] + a
                elif ftype == 3:
                    val = line[x] + ((a + b) >> 1)
                else:  # Paeth
                    c = int(prev[x - bpp]) if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) \
                        else (b if pb <= pc else c)
                    val = line[x] + pred
                cur[x] = val & 0xFF
        else:
            raise ValueError(f"PNG filter {ftype}")
        out[y] = cur
        prev = cur
    return out, off


def decode_png(data: bytes):
    """From-scratch PNG decode -> (width, height, channels, pixel
    ndarray HxWxC — uint8 for 8-bit, uint16 for 16-bit samples).
    Supports all five scanline filters (None/Sub/Up/Average/Paeth),
    both non-interlaced and Adam7-interlaced layouts, and 1/2/4/8/16-
    bit depths — the shapes PDF producers and web scrapers actually
    emit. Sub-byte grayscale samples are expanded to 8-bit by level
    replication (0..2^d-1 -> 0..255, exact for 1/2/4); palette images
    return their raw index plane at every depth. Raises ValueError on
    malformed streams."""
    import numpy as np

    if data[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG")
    pos = 8
    width = height = None
    bit_depth = color_type = interlace = None
    idat = bytearray()
    n = len(data)
    while pos + 8 <= n:
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        ctype = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        pos += 12 + length  # length + type + crc
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _comp, _filt, \
                interlace = struct.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
    if width is None:
        raise ValueError("PNG missing IHDR")
    if bit_depth not in (1, 2, 4, 8, 16):
        raise ValueError(f"PNG bit depth {bit_depth}")
    channels = _PNG_CHANNELS.get(color_type)
    if channels is None:
        raise ValueError(f"PNG color type {color_type}")
    if bit_depth < 8 and color_type not in (0, 3):
        raise ValueError(
            f"PNG color type {color_type} at depth {bit_depth}")
    if not width or not height:
        raise ValueError(f"PNG size {width}x{height}")
    if interlace not in (0, 1):
        raise ValueError(f"PNG interlace method {interlace}")
    sb = max(1, bit_depth // 8)    # bytes per sample (>= 1 byte)
    bpp = channels * sb            # filter left-offset, min 1 (spec 9.2)

    def rowbytes(w):
        return (w * channels * bit_depth + 7) // 8

    # every non-empty pass: (x0, y0, dx, dy, pass width, pass height)
    passes = []
    for x0, y0, dx, dy in (_ADAM7 if interlace else [(0, 0, 1, 1)]):
        pw = (width - x0 + dx - 1) // dx
        ph = (height - y0 + dy - 1) // dy
        if pw > 0 and ph > 0:
            passes.append((x0, y0, dx, dy, pw, ph))
    expected = sum(ph * (rowbytes(pw) + 1) for *_, pw, ph in passes)
    check_budget(max(expected, width * height * channels * sb),
                 f"PNG {width}x{height}")
    # Inflate only the bytes the scanlines take. A stream that ends
    # before its terminator is truncated, as zlib.decompress reports.
    inflater = zlib.decompressobj()
    raw = inflater.decompress(bytes(idat), expected)
    if not inflater.eof and not inflater.unconsumed_tail:
        raise zlib.error("Error -5 while decompressing data: "
                         "incomplete or truncated stream")
    if len(raw) < expected:
        raise ValueError("PNG truncated scanlines")
    # sub-byte gray levels replicate to 8-bit; palette keeps indices
    expand = (bit_depth < 8 and color_type == 0)

    def to_pixels(byte_rows, h, w):
        if bit_depth < 8:
            bits = np.unpackbits(byte_rows, axis=1)
            nsamp = bits.shape[1] // bit_depth
            weights = (1 << np.arange(bit_depth - 1, -1, -1)).astype(
                np.uint8)
            samples = (bits[:, : nsamp * bit_depth]
                       .reshape(h, nsamp, bit_depth) @ weights)[:, :w]
            if expand:
                samples = samples * (255 // ((1 << bit_depth) - 1))
            return samples.reshape(h, w, 1)
        if sb == 1:
            return byte_rows.reshape(h, w, channels)
        return (byte_rows.reshape(h, w, channels, 2).astype(np.uint16)[
            ..., 0] << 8) | byte_rows.reshape(h, w, channels, 2)[..., 1]

    if not interlace:
        rows, _ = _unfilter(raw, 0, height, rowbytes(width), bpp)
        return width, height, channels, to_pixels(rows, height, width)
    dtype = np.uint8 if sb == 1 else np.uint16
    out = np.zeros((height, width, channels), dtype=dtype)
    off = 0
    for x0, y0, dx, dy, pw, ph in passes:
        rows, off = _unfilter(raw, off, ph, rowbytes(pw), bpp)
        out[y0::dy, x0::dx] = to_pixels(rows, ph, pw)
    return width, height, channels, out


def _filter_rows(byte_rows, bpp: int, cycle_filters: bool) -> bytes:
    """Filter a (h, stride) uint8 byte matrix into PNG scanlines.
    Byte-level (PNG spec 9.2) so it serves 8- and 16-bit samples; with
    ``cycle_filters`` row y uses filter y % 5."""
    import numpy as np

    h, stride = byte_rows.shape
    lines = []
    prev = np.zeros(stride, dtype=np.int32)
    left = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        cur = byte_rows[y].astype(np.int32)
        left[:bpp] = 0
        left[bpp:] = cur[:-bpp] if stride > bpp else 0
        f = (y % 5) if cycle_filters else 0
        if f == 0:
            enc = cur
        elif f == 1:  # Sub
            enc = cur - left
        elif f == 2:  # Up
            enc = cur - prev
        elif f == 3:  # Average
            enc = cur - ((left + prev) >> 1)
        else:  # Paeth
            enc = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) \
                    else (b if pb <= pc else c)
                enc[x] = cur[x] - pred
        lines.append(bytes([f]) + (enc & 0xFF).astype(np.uint8).tobytes())
        prev = cur
    return b"".join(lines)


def encode_png_gray(pixels, cycle_filters: bool = False,
                    bit_depth: int = 8, interlace: bool = False) -> bytes:
    """Minimal grayscale PNG encoder — the fixture writer for the
    decoder's oracle; numpy 2-D uint8 (or uint16 for ``bit_depth=16``,
    big-endian samples; values below ``2**bit_depth`` for 1/2/4) in,
    bytes out. ``cycle_filters`` exercises all five reconstruction
    paths; ``interlace`` writes Adam7 passes."""
    import numpy as np

    if bit_depth == 8:
        px = np.asarray(pixels, dtype=np.uint8)
        byte_img = px[..., None]
    elif bit_depth == 16:
        px = np.asarray(pixels, dtype=np.uint16)
        byte_img = np.stack([(px >> 8).astype(np.uint8),
                             (px & 0xFF).astype(np.uint8)], axis=-1)
    elif bit_depth in (1, 2, 4):
        px = np.asarray(pixels, dtype=np.uint8)  # values < 2**bit_depth
        byte_img = None
    else:
        raise ValueError(f"bit depth {bit_depth}")
    h, w = px.shape
    bpp = max(1, bit_depth // 8)

    def pack_rows(sub):
        """Pack a sub-byte sample matrix into PNG row bytes."""
        sh, sw = sub.shape
        weights = 1 << np.arange(bit_depth - 1, -1, -1)
        bits = ((sub[..., None] & weights) > 0).astype(np.uint8)
        return np.packbits(bits.reshape(sh, sw * bit_depth), axis=1)

    if not interlace:
        rows = (pack_rows(px) if byte_img is None
                else byte_img.reshape(h, w * bpp))
        raw = _filter_rows(rows, bpp, cycle_filters)
    else:
        parts = []
        for x0, y0, dx, dy in _ADAM7:
            sub = px[y0::dy, x0::dx] if byte_img is None \
                else byte_img[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            rows = (pack_rows(sub) if byte_img is None
                    else sub.reshape(sub.shape[0], sub.shape[1] * bpp))
            parts.append(_filter_rows(rows, bpp, cycle_filters))
        raw = b"".join(parts)

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body)))

    ihdr = struct.pack(">IIBBBBB", w, h, bit_depth, 0, 0, 0,
                       1 if interlace else 0)
    return (_PNG_MAGIC + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b""))


def decode_netpbm(data: bytes):
    """Netpbm P1/P2/P3 (ASCII) and P4/P5/P6 (binary) decode ->
    (width, height, channels, pixels uint8/uint16). Comments and
    arbitrary whitespace per the spec; maxval > 255 reads two-byte
    big-endian samples. PBM bitmaps (P1/P4) follow the spec's 1=black
    convention, returned as gray 0/255 with rows byte-padded (P4)."""
    import numpy as np

    if data[:2] not in (b"P1", b"P2", b"P3", b"P4", b"P5", b"P6"):
        raise ValueError("not a netpbm image")
    kind = data[:2].decode()
    pos = 2
    fields = []

    def next_token():
        nonlocal pos
        while pos < len(data):
            c = data[pos:pos + 1]
            if c == b"#":
                nl = data.find(b"\n", pos)
                pos = len(data) if nl < 0 else nl + 1
            elif c.isspace():
                pos += 1
            else:
                break
        start = pos
        while pos < len(data) and not data[pos:pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("netpbm: truncated header")
        return data[start:pos]

    bitmap = kind in ("P1", "P4")
    while len(fields) < (2 if bitmap else 3):
        fields.append(int(next_token()))
    if bitmap:
        width, height = fields
        maxval = 255
        if width <= 0 or height <= 0:
            raise ValueError("netpbm: bad header values")
        if kind == "P1":
            # ASCII bitmap: bare 0/1 digits, whitespace optional
            digits = [c - 48 for c in data[pos:] if c in (48, 49)]
            if len(digits) < width * height:
                raise ValueError("netpbm: truncated pixel data")
            bits = np.array(digits[: width * height], dtype=np.uint8)
        else:
            pos += 1  # single whitespace after height
            rowbytes = (width + 7) // 8
            need = rowbytes * height
            raw = np.frombuffer(data, dtype=np.uint8,
                                count=min(need, len(data) - pos),
                                offset=pos)
            if len(raw) < need:
                raise ValueError("netpbm: truncated pixel data")
            bits = np.unpackbits(raw.reshape(height, rowbytes),
                                 axis=1)[:, :width].reshape(-1)
        px = ((1 - bits) * 255).astype(np.uint8)  # 1 = black
        return width, height, 1, px.reshape(height, width, 1)
    width, height, maxval = fields
    if width <= 0 or height <= 0 or not 0 < maxval < 65536:
        raise ValueError("netpbm: bad header values")
    channels = 3 if kind in ("P3", "P6") else 1
    n = width * height * channels
    if kind in ("P2", "P3"):
        vals = np.array([int(next_token()) for _ in range(n)])
    else:
        pos += 1  # single whitespace after maxval
        if maxval > 255:
            vals = np.frombuffer(data, dtype=">u2", count=n, offset=pos)
        else:
            vals = np.frombuffer(data, dtype=np.uint8, count=n,
                                 offset=pos)
    if len(vals) < n:
        raise ValueError("netpbm: truncated pixel data")
    dtype = np.uint16 if maxval > 255 else np.uint8
    return width, height, channels, vals.astype(dtype).reshape(
        height, width, channels)


def encode_netpbm(pixels, binary: bool = True) -> bytes:
    """Fixture writer: (h, w) -> PGM, (h, w, 3) -> PPM."""
    import numpy as np

    px = np.asarray(pixels)
    h, w = px.shape[:2]
    color = px.ndim == 3
    maxval = 65535 if px.dtype.itemsize == 2 else 255
    if binary:
        kind = "P6" if color else "P5"
        body = (px.astype(">u2") if maxval > 255
                else px.astype(np.uint8)).tobytes()
        return f"{kind} {w} {h} {maxval}\n".encode() + body
    kind = "P3" if color else "P2"
    nums = " ".join(str(int(v)) for v in px.reshape(-1))
    return f"{kind}\n# fixture\n{w} {h} {maxval}\n{nums}\n".encode()


def _bmp_rle_indices(data, px_off, w, h, four_bit):
    """Decode an RLE8/RLE4 pixel stream into an index matrix in
    storage order (RLE bitmaps are bottom-up by spec; the caller
    flips). Escapes: 0 = end of line, 1 = end of bitmap, 2 = delta;
    absolute runs pad to a 16-bit boundary."""
    import numpy as np

    out = np.zeros((h, w), dtype=np.uint8)
    x = y = 0
    i = px_off
    n = len(data)
    while i + 1 < n and y < h:
        cnt, v = data[i], data[i + 1]
        i += 2
        if cnt:  # encoded run of cnt pixels
            if four_bit:
                hi, lo = v >> 4, v & 0xF
                for j in range(cnt):
                    if x < w:
                        out[y, x] = hi if j % 2 == 0 else lo
                    x += 1
            else:
                end = min(x + cnt, w)
                if end > x:
                    out[y, x:end] = v
                x += cnt
        elif v == 0:    # end of line
            y += 1
            x = 0
        elif v == 1:    # end of bitmap
            break
        elif v == 2:    # delta jump
            if i + 1 >= n:
                raise ValueError("bmp: truncated RLE delta")
            x += data[i]
            y += data[i + 1]
            i += 2
        else:           # absolute run of v literal pixels
            nbytes = (v + 1) // 2 if four_bit else v
            if i + nbytes > n:
                raise ValueError("bmp: truncated RLE literals")
            chunk = data[i : i + nbytes]
            i += nbytes + (nbytes & 1)  # word-aligned
            for j in range(v):
                val = chunk[j] if not four_bit else (
                    chunk[j // 2] >> 4 if j % 2 == 0
                    else chunk[j // 2] & 0xF)
                if x < w and y < h:
                    out[y, x] = val
                x += 1
    return out


def _mask_channel(vals, mask):
    """Extract one BI_BITFIELDS channel and scale it to 0..255."""
    import numpy as np

    if mask == 0:
        return np.zeros(vals.shape, dtype=np.uint8)
    shift = (mask & -mask).bit_length() - 1
    top = mask >> shift
    chan = (vals >> shift) & top
    return (chan.astype(np.uint32) * 255 // top).astype(np.uint8)


def decode_bmp(data: bytes):
    """From-scratch BMP decode -> (width, height, channels, pixels
    (h, w, c) uint8). Covers the forms crawled corpora carry: 1/4/8-bit
    paletted, 16-bit (RGB555 default or BI_BITFIELDS masks, e.g. 565),
    24-bit BGR and 32-bit BGRX/bitfields — bottom-up or top-down rows
    with 4-byte row padding — plus RLE8/RLE4 compression including
    end-of-line/delta/absolute escapes."""
    import numpy as np

    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    if len(data) < 54:
        raise ValueError("bmp: truncated header")
    (px_off,) = struct.unpack_from("<I", data, 10)
    (hdr_size,) = struct.unpack_from("<I", data, 14)
    width_i, height_i = struct.unpack_from("<ii", data, 18)
    planes, bpp = struct.unpack_from("<HH", data, 26)
    (compression,) = struct.unpack_from("<I", data, 30)
    if compression not in (0, 1, 2, 3):
        raise NotImplementedError(f"bmp: compression {compression}")
    if bpp not in (1, 4, 8, 16, 24, 32):
        raise NotImplementedError(f"bmp: {bpp}-bit pixels")
    top_down = height_i < 0
    h = abs(height_i)
    w = width_i
    if w <= 0 or h <= 0:
        raise ValueError("bmp: bad dimensions")

    def palette():
        ncol = 0
        if hdr_size >= 36:
            (ncol,) = struct.unpack_from("<I", data, 46)
        ncol = ncol or (1 << bpp)
        pal_off = 14 + hdr_size
        if compression == 3 and hdr_size == 40:
            pal_off += 12  # three DWORD channel masks precede it
        avail = max(0, (len(data) - pal_off) // 4)
        ncol = min(ncol, avail, 256)
        pal = np.zeros((256, 3), dtype=np.uint8)
        if ncol:
            pal[:ncol] = np.frombuffer(
                data, dtype=np.uint8, count=ncol * 4, offset=pal_off
            ).reshape(ncol, 4)[:, :3][:, ::-1]  # BGRX -> RGB
        return pal

    if compression in (1, 2):  # RLE8 / RLE4
        if bpp != (8 if compression == 1 else 4):
            raise ValueError(f"bmp: RLE{compression} with {bpp} bpp")
        # RLE runs can claim any size: bound the index and RGB arrays
        check_budget(w * h * 3, f"bmp: {w}x{h}")
        idx = _bmp_rle_indices(data, px_off, w, h,
                               four_bit=compression == 2)
        return w, h, 3, palette()[idx[::-1]]  # RLE is bottom-up only

    if bpp <= 8:
        stride = ((w * bpp + 7) // 8 + 3) & ~3
        need = stride * h
        if len(data) < px_off + need:
            raise ValueError("bmp: truncated pixel data")
        rows = np.frombuffer(data, dtype=np.uint8, count=need,
                             offset=px_off).reshape(h, stride)
        if bpp == 8:
            idx = rows[:, :w]
        else:
            bits = np.unpackbits(rows, axis=1)
            nsamp = bits.shape[1] // bpp
            weights = 1 << np.arange(bpp - 1, -1, -1)
            idx = (bits[:, : nsamp * bpp].reshape(h, nsamp, bpp)
                   @ weights)[:, :w].astype(np.uint8)
        if not top_down:
            idx = idx[::-1]
        return w, h, 3, palette()[idx]

    if bpp in (16, 32):
        nbytes = bpp // 8
        stride = (w * nbytes + 3) & ~3
        need = stride * h
        if len(data) < px_off + need:
            raise ValueError("bmp: truncated pixel data")
        rows = np.frombuffer(data, dtype=np.uint8, count=need,
                             offset=px_off).reshape(h, stride)
        dt = np.uint16 if bpp == 16 else np.uint32
        vals = rows[:, : w * nbytes].reshape(h, w, nbytes)
        vals = vals.astype(np.uint32)
        words = sum(vals[..., j] << (8 * j) for j in range(nbytes))
        words = words.astype(dt)
        if compression == 3:
            rm, gm, bm = struct.unpack_from("<III", data, 54)
        elif bpp == 16:
            rm, gm, bm = 0x7C00, 0x03E0, 0x001F  # RGB555 default
        else:
            rm, gm, bm = 0xFF0000, 0x00FF00, 0x0000FF  # BGRX default
        px = np.stack([_mask_channel(words, rm),
                       _mask_channel(words, gm),
                       _mask_channel(words, bm)], axis=-1)
        if not top_down:
            px = px[::-1]
        return w, h, 3, np.ascontiguousarray(px)

    stride = (w * 3 + 3) & ~3
    need = stride * h
    if len(data) < px_off + need:
        raise ValueError("bmp: truncated pixel data")
    rows = np.frombuffer(data, dtype=np.uint8, count=need,
                         offset=px_off).reshape(h, stride)
    px = rows[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
    if not top_down:
        px = px[::-1]
    return w, h, 3, np.ascontiguousarray(px)


def encode_bmp(pixels, top_down: bool = False) -> bytes:
    """Fixture BMP writer: (h, w) uint8 -> 8-bit paletted grayscale, or
    (h, w, 3) uint8 RGB -> 24-bit."""
    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    h, w = px.shape[:2]
    if px.ndim == 2:
        stride = (w + 3) & ~3
        rows = np.zeros((h, stride), dtype=np.uint8)
        rows[:, :w] = px if top_down else px[::-1]
        pal = bytearray()
        for i in range(256):
            pal += bytes([i, i, i, 0])  # BGRX gray ramp
        body = bytes(rows)
        bpp = 8
        pal_bytes = bytes(pal)
    else:
        stride = (w * 3 + 3) & ~3
        rows = np.zeros((h, stride), dtype=np.uint8)
        src = px if top_down else px[::-1]
        rows[:, : w * 3] = src[:, :, ::-1].reshape(h, w * 3)
        body = bytes(rows)
        bpp = 24
        pal_bytes = b""
    px_off = 14 + 40 + len(pal_bytes)
    hdr = b"BM" + struct.pack("<IHHI", px_off + len(body), 0, 0, px_off)
    info = struct.pack("<IiiHHIIiiII", 40, w, -h if top_down else h,
                       1, bpp, 0, len(body), 2835, 2835,
                       256 if bpp == 8 else 0, 0)
    return hdr + info + pal_bytes + body


def encode_bmp_form(pixels, form: str) -> bytes:
    """Fixture writer for the wider BMP decode surface. ``form``:
    '565'  — (h, w) gray packed as 16-bit BI_BITFIELDS RGB565
             (channels (g>>3, g>>2, g>>3) scaled back on decode);
    '32'   — (h, w, 3) RGB stored as 32-bit BGRX words;
    'rle8' — (h, w) gray as paletted RLE8 runs (identity gray ramp);
    'rle4' — (h, w) gray quantized to g>>4 as 16-level RLE4
             (palette j -> j*17, so decode returns (g>>4)*17).
    Rows are bottom-up (the only legal order for RLE)."""
    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    h, w = px.shape[:2]

    def assemble(bpp, body, palette=b"", masks=b"", compression=0,
                 ncol=0):
        px_off = 14 + 40 + len(masks) + len(palette)
        hdr = b"BM" + struct.pack("<IHHI", px_off + len(body), 0, 0,
                                  px_off)
        info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, bpp,
                           compression, len(body), 2835, 2835, ncol, 0)
        return hdr + info + masks + palette + body

    def rle_body(idx, four_bit):
        out = bytearray()
        for y in range(h - 1, -1, -1):
            row = idx[y]
            x = 0
            while x < w:
                v = int(row[x])
                n = 1
                while x + n < w and row[x + n] == v and n < 255:
                    n += 1
                out += bytes([n, (v << 4) | v if four_bit else v])
                x += n
            out += b"\x00\x00"  # end of line
        out[-2:] = b"\x00\x01"  # last EOL becomes end of bitmap
        return bytes(out)

    if form == "565":
        g = px.astype(np.uint32)
        words = ((g >> 3) << 11) | ((g >> 2) << 5) | (g >> 3)
        stride = (w * 2 + 3) & ~3
        rows = np.zeros((h, stride), dtype=np.uint8)
        le = words.astype("<u2")[::-1].view(np.uint8).reshape(h, w * 2)
        rows[:, : w * 2] = le
        masks = struct.pack("<III", 0xF800, 0x07E0, 0x001F)
        return assemble(16, bytes(rows), masks=masks, compression=3)
    if form == "32":
        rows = np.zeros((h, w, 4), dtype=np.uint8)
        rows[:, :, :3] = px[::-1, :, ::-1]  # RGB -> BGR, bottom-up
        return assemble(32, bytes(rows))
    if form == "rle8":
        pal = b"".join(bytes([i, i, i, 0]) for i in range(256))
        return assemble(8, rle_body(px, False), palette=pal,
                        compression=1, ncol=256)
    if form == "rle4":
        pal = b"".join(bytes([i * 17, i * 17, i * 17, 0])
                       for i in range(16))
        return assemble(4, rle_body(px >> 4, True), palette=pal,
                        compression=2, ncol=16)
    raise ValueError(f"bmp form {form}")


def encode_synth_image(width: int, height: int, payload: bytes) -> bytes:
    """Deterministic fake image container used by tests/benchmarks."""
    return _SIMG_MAGIC + struct.pack("<II", width, height) + payload


# ------------------------------------------------------------ audio (WAV)

def _mulaw_expand(enc):
    """G.711 mu-law byte -> linear int16 (ITU-T G.711 table logic)."""
    import numpy as np

    u = (~enc.astype(np.int32)) & 0xFF
    sign = (u & 0x80) != 0
    exp = (u >> 4) & 0x07
    mant = u & 0x0F
    mag = (((mant << 3) + 0x84) << exp) - 0x84
    return np.where(sign, -mag, mag).astype(np.int16)


def _mulaw_compress(x):
    """linear int16 -> G.711 mu-law byte (fixture side)."""
    import numpy as np

    x = x.astype(np.int32)
    sign = np.where(x < 0, 0x80, 0)
    mag = np.minimum(np.abs(x), 32635) + 0x84
    exp = (np.floor(np.log2(mag)).astype(np.int32) - 7).clip(0, 7)
    mant = (mag >> (exp + 3)) & 0x0F
    return ((~(sign | (exp << 4) | mant)) & 0xFF).astype(np.uint8)


def _alaw_expand(enc):
    """G.711 A-law byte -> linear int16."""
    import numpy as np

    a = enc.astype(np.int32) ^ 0x55
    sign = (a & 0x80) != 0
    exp = (a >> 4) & 0x07
    mant = a & 0x0F
    mag = np.where(exp == 0, (mant << 4) + 8,
                   ((mant << 4) + 0x108) << np.maximum(exp - 1, 0))
    return np.where(sign, -mag, mag).astype(np.int16)


def _alaw_compress(x):
    """linear int16 -> G.711 A-law byte (fixture side)."""
    import numpy as np

    x = x.astype(np.int32)
    sign = np.where(x < 0, 0x80, 0)
    mag = np.minimum(np.abs(x), 32767)
    exp = np.maximum(
        (np.floor(np.log2(np.maximum(mag, 1))).astype(np.int32) - 7), 0)
    exp = np.minimum(exp, 7)
    mant = np.where(exp == 0, mag >> 4, (mag >> (exp + 3)) & 0x0F)
    return (((sign | (exp << 4) | mant) ^ 0x55) & 0xFF).astype(np.uint8)


def decode_wav(data: bytes):
    """From-scratch RIFF/WAVE parser for integer PCM (8- and 16-bit):
    walks the chunk list (fmt / data, skipping LIST etc.), returns
    (sample_rate, channels, bits, n_frames, samples ndarray
    (frames, channels) — int16 for 16-bit, uint8 for 8-bit). Raises
    ValueError on malformed input, NotImplementedError for float or
    compressed formats."""
    import numpy as np

    if data[:4] != _RIFF_MAGIC or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos = 12
    fmt = None
    pcm = None
    n = len(data)
    while pos + 8 <= n:
        cid = data[pos : pos + 4]
        (clen,) = struct.unpack_from("<I", data, pos + 4)
        body = data[pos + 8 : pos + 8 + clen]
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("wav: short fmt chunk")
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            pcm = body
    if fmt is None or pcm is None:
        raise ValueError("wav: missing fmt/data chunk")
    audio_format, channels, sample_rate, _brate, _align, bits = fmt
    if audio_format not in (1, 6, 7):
        raise NotImplementedError(f"wav: format tag {audio_format}")
    if channels < 1:
        raise ValueError("wav: zero channels")
    if audio_format == 1:
        if bits not in (8, 16):
            raise NotImplementedError(f"wav: {bits}-bit samples")
        dtype = np.uint8 if bits == 8 else np.dtype("<i2")
        samples = np.frombuffer(pcm, dtype=dtype)
    else:
        # G.711 companded telephony audio: 8-bit A-law (6) / mu-law (7)
        # expand to linear 16-bit
        if bits != 8:
            raise ValueError(f"wav: g711 with {bits}-bit samples")
        enc = np.frombuffer(pcm, dtype=np.uint8)
        samples = (_alaw_expand(enc) if audio_format == 6
                   else _mulaw_expand(enc))
    frames = len(samples) // channels
    samples = samples[: frames * channels].reshape(frames, channels)
    return sample_rate, channels, bits, frames, samples


def encode_wav_pcm(samples, sample_rate: int) -> bytes:
    """Minimal PCM WAV writer (fixture side): int16 (frames, channels)
    ndarray in, bytes out."""
    import numpy as np

    s = np.asarray(samples, dtype="<i2")
    if s.ndim == 1:
        s = s[:, None]
    channels = s.shape[1]
    pcm = s.tobytes()
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate,
                      sample_rate * channels * 2, channels * 2, 16)
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(pcm)) + pcm)
    return _RIFF_MAGIC + struct.pack("<I", len(body)) + body


# ----------------------------------------------------------- video (SVID)

def encode_synth_video(frames: list[bytes], fps: int) -> bytes:
    """Deterministic fixture video container: a length-prefixed list of
    real encoded frames (JPEG/PNG bytes — the per-frame codecs are the
    real ones; only the *container* is synthetic, standing in for the
    MP4/WebM demuxers this environment cannot ship)."""
    out = bytearray(_SVID_MAGIC)
    out += struct.pack("<II", len(frames), fps)
    for f in frames:
        out += struct.pack("<I", len(f)) + f
    return bytes(out)


def _decode_svid(data: bytes) -> dict:
    """Frame-sample an SVID container: every max(1, n//4)-th frame is
    decoded with the real image codecs; dims come from frame 0 and
    mean_byte is the equal-weight mean over the sampled frames."""
    n_frames, fps = struct.unpack_from("<II", data, 4)
    if fps <= 0:
        raise ValueError("svid: zero fps")
    pos = 12
    offsets = []
    for _ in range(n_frames):
        (flen,) = struct.unpack_from("<I", data, pos)
        offsets.append((pos + 4, flen))
        pos += 4 + flen
    stride = max(1, n_frames // 4)
    means = []
    width = height = None
    for i in range(0, n_frames, stride):
        off, flen = offsets[i]
        sub = _decode_one(data[off : off + flen])
        if sub["error"] is not None:
            raise ValueError(f"svid frame {i}: {sub['error']}")
        if width is None:
            width, height = sub["width"], sub["height"]
        means.append(sub["mean_byte"])
    return {"kind": "svid", "width": width, "height": height,
            "n_bytes": len(data),
            "mean_byte": (sum(means) / len(means)) if means else None,
            "sample_rate": None,
            "duration_ms": n_frames * 1000 // fps,
            "n_frames": n_frames, "error": None}


def _media_rec(**kw) -> dict:
    rec = {"kind": None, "width": None, "height": None, "n_bytes": 0,
           "mean_byte": None, "sample_rate": None, "duration_ms": None,
           "n_frames": None, "error": None}
    rec.update(kw)
    return rec


def _decode_one(data: bytes) -> dict:
    if data[:4] == _SIMG_MAGIC:
        width, height = struct.unpack("<II", data[4:12])
        payload = data[12:]
        mean = (sum(payload) / len(payload)) if payload else 0.0
        return _media_rec(kind="simg", width=width, height=height,
                          n_bytes=len(data), mean_byte=mean)
    if data[:4] == _SVID_MAGIC:
        return _decode_svid(data)
    if data[:6] in (b"GIF87a", b"GIF89a"):
        import numpy as np

        from .gif import decode_gif

        width, height, frames, delays_cs = decode_gif(data)
        n = len(frames)
        stride = max(1, n // 4)
        sampled = frames[::stride]
        mean = float(np.mean([f.mean() for f in sampled])) if sampled else None
        return _media_rec(kind="gif", width=width, height=height,
                          n_bytes=len(data), mean_byte=mean,
                          duration_ms=(sum(delays_cs) * 10
                                       if delays_cs else None),
                          n_frames=n)
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        from .tiff import decode_tiff

        width, height, _spp, px = decode_tiff(data)
        return _media_rec(kind="tiff", width=width, height=height,
                          n_bytes=len(data),
                          mean_byte=float(px.mean()) if px.size else 0.0)
    if data[:2] == b"BM":
        width, height, _c, px = decode_bmp(data)
        return _media_rec(kind="bmp", width=width, height=height,
                          n_bytes=len(data),
                          mean_byte=float(px.mean()) if px.size else 0.0)
    if data[:2] in (b"P1", b"P2", b"P3", b"P4", b"P5", b"P6"):
        width, height, _c, px = decode_netpbm(data)
        if px.dtype.itemsize == 2:
            px = px >> 8  # 8-bit-equivalent intensity, like 16-bit PNG
        return _media_rec(kind="pnm", width=width, height=height,
                          n_bytes=len(data),
                          mean_byte=float(px.mean()) if px.size else 0.0)
    if data[4:8] == b"jP  " or data[:4] == b"\xff\x4f\xff\x51":
        # JPEG 2000 (JP2 box container / raw J2K codestream) through
        # the from-scratch T.800 codec (textops/jpx.py, parity with
        # the reference's decodeJPX.js).
        import numpy as np

        from .jpx import decode_jpx

        out = decode_jpx(data)
        px = np.asarray(out["pixel_data"], dtype=np.uint8)
        return _media_rec(kind="jp2", width=int(out["width"]),
                          height=int(out["height"]),
                          n_bytes=len(data),
                          mean_byte=float(px.mean()) if px.size else 0.0)
    if data[:8] == b"\x97JB2\r\n\x1a\n":
        # JBIG2 standalone file (T.88 annex D): generic regions decode
        # through the MQ coder; symbol/text segments surface as errors
        from .jbig2 import decode_jbig2

        ink = decode_jbig2(data)
        h, w = ink.shape
        px = (1 - ink) * 255
        return _media_rec(kind="jbig2", width=int(w), height=int(h),
                          n_bytes=len(data),
                          mean_byte=float(px.mean()) if px.size else 0.0)
    if data[:4] == _RIFF_MAGIC:
        import numpy as np

        rate, channels, _bits, frames, samples = decode_wav(data)
        mean_amp = (float(np.abs(samples.astype(np.int64)).mean())
                    if samples.size else 0.0)
        return _media_rec(kind="wav", n_bytes=len(data),
                          mean_byte=mean_amp, sample_rate=rate,
                          duration_ms=frames * 1000 // rate,
                          n_frames=frames)
    if data[:8] == _PNG_MAGIC:
        width, height, _channels, px = decode_png(data)
        if px.dtype.itemsize == 2:
            # 16-bit samples: report the 8-bit-equivalent intensity
            # (mean of the most-significant bytes).
            px = px >> 8
        return _media_rec(kind="png", width=width, height=height,
                          n_bytes=len(data),
                          mean_byte=float(px.mean()) if px.size else 0.0)
    if data[:3] == b"\xff\xd8\xff" or data[:2] == b"\xff\xd8":
        # From-scratch decoder (textops/jpeg.py): sequential or
        # progressive, grayscale or YCbCr, real Huffman + IDCT,
        # subsampling + restart markers. Arithmetic coding raises
        # NotImplementedError -> error column.
        from .jpeg import decode_jpeg

        px = decode_jpeg(data)
        h, w = px.shape[:2]
        return _media_rec(kind="jpeg", width=int(w), height=int(h),
                          n_bytes=len(data),
                          mean_byte=float(px.mean()) if px.size else 0.0)
    return _media_rec(n_bytes=len(data), error="unknown_media_format")


def image_error(e: Exception) -> str:
    """The ``error`` value of an image whose decode raised ``e``: the
    never-fatal net of every per-image operator. An unsupported shape is
    ``not_implemented``; anything else, from a malformed header to a
    decoder's own RecursionError, is ``decode_failure``."""
    kind = ("not_implemented" if isinstance(e, NotImplementedError)
            else "decode_failure")
    return f"{kind}: {e}"


def decode_media(df: DataFrame, id_col: str = "media_id",
                 bytes_col: str = "data") -> DataFrame:
    """binary column -> typed metadata rows via ``per_document``."""

    keys = MEDIA_META_SCHEMA.names[1:]

    def rows(mid, data):
        try:
            rec = _decode_one(bytes(data))
        except Exception as e:  # noqa: BLE001 — never-fatal contract
            rec = _media_rec(n_bytes=len(bytes(data)), error=image_error(e))
        return [(int(mid), *(rec[k] for k in keys))]

    return per_document(df.select(
        df[id_col].alias("media_id"), df[bytes_col].alias("data")
    ), rows, MEDIA_META_SCHEMA)


RESIZE_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("mean_byte", DoubleType()),
    StructField("error", StringType()),
])


def _decode_pixels(data: bytes):
    """Decode any supported still-image container to a (h, w[, c])
    uint8 ndarray (SIMG payloads tile row-major)."""
    import numpy as np

    if data[:4] == _SIMG_MAGIC:
        width, height = struct.unpack("<II", data[4:12])
        payload = np.frombuffer(data, dtype=np.uint8, offset=12)
        px = np.resize(payload, height * width).reshape(height, width)
        return px
    if data[:8] == _PNG_MAGIC:
        _w, _h, _c, px = decode_png(data)
        if px.dtype.itemsize == 2:
            px = (px >> 8).astype("uint8")
        return px[:, :, 0] if px.shape[2] == 1 else px
    if data[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg

        return decode_jpeg(data)
    raise ValueError("unknown_media_format")


def resize_images(df: DataFrame, target_w: int, target_h: int,
                  method: str = "nearest", id_col: str = "media_id",
                  bytes_col: str = "data") -> DataFrame:
    """Resize every decodable image to (target_w, target_h) via
    ``per_document`` and report the resized mean.
    ``method='nearest'`` samples with the standard floor mapping
    (src = dst * src_dim // dst_dim); ``method='box'`` (downscale by
    integer factors only) averages each factor-sized window — for
    integer ratios box-average of a constant block is exact, which is
    what makes the resize oracle SQL-computable."""
    if method not in ("nearest", "box"):
        raise ValueError(f"resize method {method}")

    def rows(mid, data):
        import numpy as np

        err = None
        mean = None
        try:
            px = _decode_pixels(bytes(data))
            h, w = px.shape[:2]
            if method == "nearest":
                ys = (np.arange(target_h) * h) // target_h
                xs = (np.arange(target_w) * w) // target_w
                res = px[ys][:, xs]
            else:
                fy, fx = h // target_h, w // target_w
                if fy < 1 or fx < 1 or h % target_h or w % target_w:
                    raise ValueError("box resize needs integer downscale")
                res = px[: fy * target_h, : fx * target_w]
                res = res.reshape(
                    target_h, fy, target_w, fx, -1).mean(axis=(1, 3))
            mean = float(res.mean())
        except Exception as e:  # noqa: BLE001 — never-fatal contract
            err = image_error(e)
        ok = err is None
        return [(int(mid), target_w if ok else None,
                 target_h if ok else None, mean, err)]

    return per_document(df.select(
        df[id_col].alias("media_id"), df[bytes_col].alias("data")
    ), rows, RESIZE_SCHEMA)


EXIF_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("has_exif", IntegerType()),
    StructField("orientation", IntegerType()),
    StructField("make", StringType()),
    StructField("model", StringType()),
    StructField("datetime", StringType()),
    StructField("has_gps", IntegerType()),
    StructField("gps_lat_e6", LongType()),
    StructField("gps_lon_e6", LongType()),
    StructField("n_bytes", LongType()),
    StructField("n_bytes_scrubbed", LongType()),
    StructField("scrub_decodes_equal", IntegerType()),
])


def image_exif(df: DataFrame, id_col: str = "media_id",
               bytes_col: str = "data",
               verify_scrub: bool = False) -> DataFrame:
    """EXIF inventory + scrub audit for a JPEG binary column — the
    image-side PII pass (GPS sub-IFDs are location PII): per image,
    the parsed orientation/camera/timestamp/GPS summary plus the
    scrubbed size after dropping APP1/APP13. With ``verify_scrub``
    each scrubbed stream is re-decoded and compared against the
    original's pixels (1 = byte-identical pixels, 0 = not, NULL =
    either side failed to decode) — the audit used by the fixture
    oracle; leave it off in bulk runs. Same ``per_document`` shape
    and never-fatal contract as :func:`decode_media`."""

    def rows(mid, data):
        import numpy as np

        from .exif import parse_exif, strip_exif

        data = bytes(data)
        try:
            info = parse_exif(data)
            scrubbed = strip_exif(data)
            equal = None
            if verify_scrub:
                try:
                    from .jpeg import decode_jpeg

                    equal = int(np.array_equal(
                        decode_jpeg(data), decode_jpeg(scrubbed)))
                except Exception:  # noqa: BLE001 — NULL: failed to decode
                    equal = None
            lat, lon = info["gps_lat"], info["gps_lon"]
            return [(
                int(mid), int(info["has_exif"]), info["orientation"],
                info["make"], info["model"], info["datetime"],
                int(info["has_gps"]),
                int(math.floor(lat * 1e6)) if lat is not None else None,
                int(math.floor(lon * 1e6)) if lon is not None else None,
                len(data), len(scrubbed), equal)]
        except Exception:  # noqa: BLE001 — never-fatal contract
            return [(int(mid), *[None] * 8, len(data), None, None)]

    return per_document(df.select(
        df[id_col].alias("media_id"), df[bytes_col].alias("data")
    ), rows, EXIF_SCHEMA)
