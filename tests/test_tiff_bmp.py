"""TIFF / BMP codecs + G.711 telephony audio."""

import numpy as np
import pytest

from scribe_js_spark.textops.multimodal import (
    _alaw_compress,
    _alaw_expand,
    _mulaw_compress,
    _mulaw_expand,
    decode_bmp,
    decode_wav,
    encode_bmp,
)
from scribe_js_spark.textops.tiff import decode_tiff, encode_tiff


def _gray(w=37, h=23):
    xs, ys = np.meshgrid(np.arange(w), np.arange(h))
    return ((xs * 7 + ys * 13) % 256).astype(np.uint8)


@pytest.mark.parametrize("comp", [1, 5, 32773])
@pytest.mark.parametrize("pred", [1, 2])
def test_tiff_roundtrip(comp, pred):
    gray = _gray()
    rgb = np.stack([gray, (gray + 30) % 256, (gray + 60) % 256],
                   -1).astype(np.uint8)
    for img, spp in ((gray, 1), (rgb, 3)):
        w, h, got_spp, px = decode_tiff(
            encode_tiff(img, compression=comp, predictor=pred))
        assert (w, h, got_spp) == (37, 23, spp)
        exp = img[:, :, None] if img.ndim == 2 else img
        assert np.array_equal(px, exp)


def test_tiff_white_is_zero_and_rejects():
    gray = _gray()
    _w, _h, _s, px = decode_tiff(encode_tiff(gray, photometric=0))
    assert np.array_equal(px[:, :, 0], 255 - gray)
    with pytest.raises(ValueError):
        decode_tiff(b"II*\x00\x10\x00\x00\x00")
    # A mutated LZW TIFF whose IFD declares a huge tag count: rejected
    # by the bounds check, not by allocating a count-long format string.
    with pytest.raises(ValueError):
        decode_tiff(bytes.fromhex(
            "49492a00080000000a0000010400010000001400000001010400010000000c"
            "0000000201030001000016010400010000000c000000170104000100000032"
            "0000003d010300010000000200000000000000800000f03824160d0506c1e1"
            "5070d42e1d0313c3e1c348942c83158513a31072dc6e0c688f414eb218220a"
            "490347c9c0f010"))
    data = bytearray(encode_tiff(gray))
    # flip compression tag value to CCITT G4 (4): honest rejection
    i = data.find((259).to_bytes(2, "little"))
    data[i + 8] = 4
    with pytest.raises(NotImplementedError):
        decode_tiff(bytes(data))


@pytest.mark.parametrize("top_down", [False, True])
def test_bmp_roundtrip(top_down):
    gray = _gray(21, 13)
    rgb = np.stack([gray, (gray + 9) % 256, (gray + 77) % 256],
                   -1).astype(np.uint8)
    _w, _h, _c, px = decode_bmp(encode_bmp(gray, top_down=top_down))
    assert np.array_equal(px, np.stack([gray] * 3, -1))
    _w, _h, _c, px = decode_bmp(encode_bmp(rgb, top_down=top_down))
    assert np.array_equal(px, rgb)


def test_g711_companding_error_bounded():
    x = np.linspace(-30000, 30000, 4001).astype(np.int16)
    for comp, exp in ((_mulaw_compress, _mulaw_expand),
                      (_alaw_compress, _alaw_expand)):
        err = np.abs(exp(comp(x)).astype(np.int64) - x).max()
        assert err < 1100  # segment-step quantization bound


def test_g711_wav_decodes():
    import struct

    s = (np.linspace(-20000, 20000, 800)).astype(np.int16)
    for tag, comp in ((7, _mulaw_compress), (6, _alaw_compress)):
        enc = comp(s).tobytes()
        fmt = struct.pack("<HHIIHH", tag, 1, 8000, 8000, 1, 8)
        body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(enc)) + enc)
        data = b"RIFF" + struct.pack("<I", len(body)) + body
        rate, ch, bits, frames, got = decode_wav(data)
        assert (rate, ch, frames) == (8000, 1, 800)
        err = np.abs(got[:, 0].astype(np.int64) - s).max()
        assert err < 1100


def test_netpbm_roundtrips():
    from scribe_js_spark.textops.multimodal import (
        decode_netpbm, encode_netpbm)

    g = _gray(19, 11)
    rgb = np.stack([g, (g.astype(np.int32) + 9) % 256,
                    (g.astype(np.int32) + 77) % 256], -1).astype(np.uint8)
    g16 = g.astype(np.uint16) * 257
    for img in (g, rgb):
        for binary in (True, False):
            _w, _h, _c, px = decode_netpbm(
                encode_netpbm(img, binary=binary))
            exp = img[:, :, None] if img.ndim == 2 else img
            assert np.array_equal(px, exp)
    _w, _h, _c, px = decode_netpbm(encode_netpbm(g16))
    assert px.dtype == np.uint16 and np.array_equal(px[:, :, 0], g16)
    with pytest.raises(ValueError):
        decode_netpbm(b"P5 3 3 255\n\x00")  # truncated
    with pytest.raises(ValueError):
        decode_netpbm(b"P7 weird")


# ---------------------------------------------------------- BMP forms

def _bmp(w, h, bpp, body, palette=b"", compression=0, masks=b"",
         top_down=False, clr_used=0):
    """Hand-build a BITMAPINFOHEADER BMP for decoder tests."""
    import struct

    px_off = 14 + 40 + len(masks) + len(palette)
    hdr = b"BM" + struct.pack("<IHHI", px_off + len(body), 0, 0, px_off)
    info = struct.pack("<IiiHHIIiiII", 40, w, -h if top_down else h,
                       1, bpp, compression, len(body), 2835, 2835,
                       clr_used, 0)
    return hdr + info + masks + palette + body


def _pal(colors):
    return b"".join(bytes([b, g, r, 0]) for r, g, b in colors)


def test_bmp_4bit_palette():
    # 5x3, two nibbles per byte, stride padded to 4
    colors = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 9, 9)]
    idx = np.array([[0, 1, 2, 3, 0],
                    [3, 2, 1, 0, 1],
                    [1, 1, 2, 2, 3]], dtype=np.uint8)
    rows = b""
    for y in range(2, -1, -1):  # bottom-up
        packed = bytes([(idx[y, 0] << 4) | idx[y, 1],
                        (idx[y, 2] << 4) | idx[y, 3],
                        idx[y, 4] << 4])
        rows += packed + b"\x00"  # pad stride 3 -> 4
    w, h, c, px = decode_bmp(_bmp(5, 3, 4, rows, _pal(colors),
                                  clr_used=4))
    assert (w, h, c) == (5, 3, 3)
    exp = np.array(colors, dtype=np.uint8)[idx]
    assert np.array_equal(px, exp)


def test_bmp_1bit_palette():
    colors = [(0, 0, 0), (255, 255, 255)]
    idx = np.array([[1, 0, 1, 0, 1, 1, 0, 1, 1],
                    [0, 1, 0, 1, 0, 0, 1, 0, 0]], dtype=np.uint8)
    rows = b""
    for y in (1, 0):
        packed = np.packbits(idx[y]).tobytes()  # 2 bytes for 9 px
        rows += packed + b"\x00\x00"            # stride 2 -> 4
    w, h, c, px = decode_bmp(_bmp(9, 2, 1, rows, _pal(colors),
                                  clr_used=2))
    assert (w, h, c) == (9, 2, 3)
    exp = np.array(colors, dtype=np.uint8)[idx]
    assert np.array_equal(px, exp)


def test_bmp_16bit_rgb555_default():
    import struct

    # one row, two pixels: pure red (31<<10), mid green (16<<5)
    body = struct.pack("<HH", 31 << 10, 16 << 5)
    w, h, c, px = decode_bmp(_bmp(2, 1, 16, body))
    assert (w, h, c) == (2, 1, 3)
    assert tuple(px[0, 0]) == (255, 0, 0)
    assert tuple(px[0, 1]) == (0, 16 * 255 // 31, 0)


def test_bmp_16bit_bitfields_565():
    import struct

    masks = struct.pack("<III", 0xF800, 0x07E0, 0x001F)
    body = struct.pack("<HH", 0xF800, 0x07E0)  # red, green
    w, h, c, px = decode_bmp(_bmp(2, 1, 16, body, compression=3,
                                  masks=masks))
    assert tuple(px[0, 0]) == (255, 0, 0)
    assert tuple(px[0, 1]) == (0, 255, 0)


def test_bmp_32bit_bgrx():
    import struct

    body = struct.pack("<II", 0x00FF8040, 0x00102030)  # XRGB words
    w, h, c, px = decode_bmp(_bmp(2, 1, 32, body))
    assert tuple(px[0, 0]) == (0xFF, 0x80, 0x40)
    assert tuple(px[0, 1]) == (0x10, 0x20, 0x30)


def test_bmp_rle8_runs_absolute_delta():
    colors = [(10, 10, 10), (200, 0, 0), (0, 200, 0), (0, 0, 200)]
    # 8x3 bottom-up: row 0 (bottom) = run of 5 idx1 + 3 literal;
    # EOL; row 1 = delta skip(2,0) then run 6 idx2; EOL;
    # row 2 = run 8 idx3; end of bitmap
    stream = bytes([5, 1,              # run of 5 idx1
                    0, 3, 2, 3, 2, 0,  # absolute 3 literals + pad byte
                    0, 0,              # EOL
                    0, 2, 2, 0,        # delta dx=2 dy=0
                    6, 2,              # run of 6 idx2
                    0, 0,              # EOL
                    8, 3,              # full row of idx3
                    0, 1])             # end of bitmap
    w, h, c, px = decode_bmp(_bmp(8, 3, 8, stream, _pal(colors),
                                  compression=1, clr_used=4))
    pal = np.array(colors, dtype=np.uint8)
    exp_idx = np.zeros((3, 8), dtype=np.uint8)
    exp_idx[0] = [1, 1, 1, 1, 1, 2, 3, 2]   # storage row 0 = bottom
    exp_idx[1] = [0, 0, 2, 2, 2, 2, 2, 2]   # delta leaves 0s
    exp_idx[2] = [3] * 8
    assert np.array_equal(px, pal[exp_idx[::-1]])  # flipped to top-down


def test_bmp_rle4_runs_and_literals():
    colors = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)]
    # 6x2 bottom-up: row 0 = run 4 alternating 1,2 + 2 literal (3,0);
    # row 1 = run 6 of constant 3 (nibbles 3,3)
    stream = bytes([
        4, (1 << 4) | 2,          # 1,2,1,2
        2, (3 << 4) | 0,          # 3,0
        0, 0,                     # EOL
        6, (3 << 4) | 3,          # 3 x6
        0, 1,                     # EOB
    ])
    w, h, c, px = decode_bmp(_bmp(6, 2, 4, stream, _pal(colors),
                                  compression=2, clr_used=4))
    pal = np.array(colors, dtype=np.uint8)
    exp_idx = np.array([[1, 2, 1, 2, 3, 0],
                        [3, 3, 3, 3, 3, 3]], dtype=np.uint8)
    assert np.array_equal(px, pal[exp_idx[::-1]])


def test_bmp_rle_mismatched_bpp_rejected():
    with pytest.raises(ValueError):
        decode_bmp(_bmp(4, 1, 8, b"\x00\x01", _pal([(0, 0, 0)] * 2),
                        compression=2, clr_used=2))


@pytest.mark.parametrize("form", ["565", "32", "rle8", "rle4"])
def test_bmp_form_writer_roundtrip(form):
    from scribe_js_spark.textops.multimodal import encode_bmp_form

    gray = _gray(21, 13)
    if form == "32":
        src = np.stack([gray, (gray.astype(np.int32) + 9) % 256,
                        (gray.astype(np.int32) + 77) % 256],
                       -1).astype(np.uint8)
        exp = src
    elif form == "565":
        src = gray
        r = ((gray >> 3).astype(np.uint32) * 255 // 31).astype(np.uint8)
        g = ((gray >> 2).astype(np.uint32) * 255 // 63).astype(np.uint8)
        exp = np.stack([r, g, r], -1)
    elif form == "rle8":
        src = gray
        exp = np.stack([gray] * 3, -1)
    else:
        src = gray
        q = ((gray >> 4) * 17).astype(np.uint8)
        exp = np.stack([q] * 3, -1)
    w, h, c, px = decode_bmp(encode_bmp_form(src, form))
    assert (w, h, c) == (21, 13, 3)
    assert np.array_equal(px, exp)


def test_netpbm_bitmaps_p1_p4():
    from scribe_js_spark.textops.multimodal import decode_netpbm

    bits = np.array([[1, 0, 1, 0, 1, 1, 0, 1, 1],
                     [0, 1, 0, 1, 0, 0, 1, 0, 0],
                     [1, 1, 1, 0, 0, 0, 1, 1, 0]], dtype=np.uint8)
    exp = ((1 - bits) * 255).astype(np.uint8)
    p1 = ("P1\n# bitmap comment\n9 3\n"
          + "\n".join(" ".join(str(v) for v in row)
                      for row in bits)).encode()
    w, h, c, px = decode_netpbm(p1)
    assert (w, h, c) == (9, 3, 1)
    assert np.array_equal(px[:, :, 0], exp)
    packed = np.packbits(bits, axis=1)  # row-padded to byte boundary
    p4 = b"P4\n9 3\n" + packed.tobytes()
    w, h, c, px = decode_netpbm(p4)
    assert (w, h, c) == (9, 3, 1)
    assert np.array_equal(px[:, :, 0], exp)
    # decode_media dispatch
    from scribe_js_spark.textops.multimodal import _decode_one
    rec = _decode_one(p4)
    assert rec["kind"] == "pnm" and rec["error"] is None
    assert rec["mean_byte"] == exp.mean()
    with pytest.raises(ValueError):
        decode_netpbm(b"P4\n9 3\n\x00")  # truncated


@pytest.mark.parametrize("split", [False, True])
def test_tiff_jpeg_compression7(split):
    """New-style JPEG in TIFF: multi-strip, with and without the
    shared JPEGTables tag (abbreviated streams)."""
    bx, by = np.meshgrid(np.arange(5), np.arange(5))
    px = np.kron(((bx * 31 + by * 17) % 256).astype(np.uint8),
                 np.ones((8, 8), np.uint8))
    data = encode_tiff(px, compression=7, jpeg_tables_split=split)
    w, h, spp, out = decode_tiff(data)
    assert (w, h, spp) == (40, 40, 1)
    assert np.array_equal(out[:, :, 0], px)  # DC-only => lossless
    if split:
        # the shared JPEGTables tag dedupes DQT/DHT across strips, so
        # the abbreviated file is strictly smaller than the full one
        full = encode_tiff(px, compression=7)
        assert len(data) < len(full)


@pytest.mark.parametrize("comp", [1, 5, 32773])
@pytest.mark.parametrize("pred", [1, 2])
def test_tiff_tiled_roundtrip(comp, pred):
    from scribe_js_spark.textops.tiff import encode_tiff_tiled

    gray = _gray(37, 23)
    rgb = np.stack([gray, (gray.astype(np.int32) + 30) % 256,
                    (gray.astype(np.int32) + 60) % 256],
                   -1).astype(np.uint8)
    for img, spp in ((gray, 1), (rgb, 3)):
        data = encode_tiff_tiled(img, tile=(16, 8), compression=comp,
                                 predictor=pred)
        w, h, got_spp, px = decode_tiff(data)
        assert (w, h, got_spp) == (37, 23, spp)
        exp = img[:, :, None] if img.ndim == 2 else img
        assert np.array_equal(px, exp)


def test_tiff_tiled_jpeg_rejected_honestly():
    from scribe_js_spark.textops.tiff import encode_tiff_tiled

    data = bytearray(encode_tiff_tiled(_gray(20, 16)))
    i = data.find((259).to_bytes(2, "little"))
    data[i + 8] = 7  # claim tiled JPEG
    with pytest.raises(NotImplementedError):
        decode_tiff(bytes(data))
