"""Hierarchical JPEG (T.81 Annex J) — textops/jpeg_hier.py.

The reference's decodeJPEG.js is baseline-only; hierarchical streams
previously raised NotImplementedError here. These tests drive the two
canonical hierarchy shapes with our own encoders: a lossless pyramid
(half-res SOF3 base + EXP + SOF7 corrections) and a lossy base with a
lossless refinement frame — both must reproduce the target image
EXACTLY, because the correction frames are computed against the
decoder's own reference state.
"""

import numpy as np
import pytest

from scribe_js_spark.textops.jpeg import decode_jpeg, encode_jpeg_gray
from scribe_js_spark.textops.jpeg_hier import (
    _expand_plane, decode_jpeg_hierarchical, encode_jpeg_hier_dct_refined,
    encode_jpeg_hier_pyramid)


def _gradient(h, w, seed=7):
    rng = np.random.RandomState(seed)
    base = (np.arange(h)[:, None] * 3 + np.arange(w)[None, :] * 5) % 256
    noise = rng.randint(0, 40, size=(h, w))
    return ((base + noise) % 256).astype(np.uint8)


def test_expand_plane_interpolation():
    p = np.array([[0, 10], [20, 30]], dtype=np.int64)
    out = _expand_plane(p, 1, 0)
    # out[2i] = in[i]; out[2i+1] = floor((in[i]+in[i+1]+1)/2), edge
    # replicated for the last column (J.1.1.2)
    assert out.tolist() == [[0, 5, 10, 10], [20, 25, 30, 30]]
    out_v = _expand_plane(p, 0, 1)
    assert out_v.tolist() == [[0, 10], [10, 20], [20, 30], [20, 30]]


def test_lossless_pyramid_gray_exact():
    px = _gradient(21, 17)  # odd dims: EXP output must crop
    stream = encode_jpeg_hier_pyramid(px)
    out = decode_jpeg_hierarchical(stream)
    assert out.shape == px.shape
    assert np.array_equal(out, px)


def test_lossless_pyramid_rgb_exact():
    rng = np.random.RandomState(3)
    px = rng.randint(0, 256, size=(12, 10, 3), dtype=np.uint8)
    stream = encode_jpeg_hier_pyramid(px)
    out = decode_jpeg_hierarchical(stream)
    assert out.shape == px.shape
    assert np.array_equal(out, px)


def test_dct_base_plus_lossless_refinement_exact():
    px = _gradient(24, 24, seed=11)
    stream = encode_jpeg_hier_dct_refined(px)
    out = decode_jpeg_hierarchical(stream)
    assert np.array_equal(out, px)


def test_differential_dct_frame_corrections():
    """SOF5: a constant per-image correction survives the DCT round
    trip exactly (only the DC coefficient is non-zero, coded without
    prediction), and the decoder clamps at final output only."""
    from scribe_js_spark.textops.jpeg import _seg
    from scribe_js_spark.textops.jpeg_hier import _encode_diff_dct_frame
    import struct as _struct

    px = _gradient(19, 13, seed=5)
    base_stream = encode_jpeg_gray(px)
    base = decode_jpeg(base_stream).astype(np.int64)
    frame2 = _encode_diff_dct_frame(np.full((19, 13), 17, dtype=np.int64))
    dhp = _struct.pack(">BHHB", 8, 19, 13, 1) + bytes([1, 0x11, 0])
    stream = (b"\xff\xd8" + _seg(0xDE, dhp) + base_stream[2:-2]
              + frame2 + b"\xff\xd9")
    out = decode_jpeg_hierarchical(stream)
    expected = np.clip(base + 17, 0, 255).astype(np.uint8)
    assert np.array_equal(out, expected)


def test_reference_planes_are_budgeted_in_bytes(monkeypatch):
    """Each int64 reference plane counts 8 bytes a sample against the
    decode budget before it is allocated. A 16x16 pyramid (8x8 base,
    EXP, 16x16 SOF7) needs 2 KiB of planes: it decodes under a 2 KiB
    budget. Under 1 KiB, with its DHP patched to claim 8x8, the 8x8
    base (512 bytes) is admitted and the EXP that doubles it is
    refused."""
    import struct

    from scribe_js_spark import budget

    px = _gradient(16, 16)
    stream = encode_jpeg_hier_pyramid(px)
    monkeypatch.setattr(budget, "DECODE_BUDGET", 16 * 16 * 8)
    assert np.array_equal(decode_jpeg_hierarchical(stream), px)
    monkeypatch.setattr(budget, "DECODE_BUDGET", 16 * 16 * 8 - 1)
    with pytest.raises(ValueError, match="jpeg hierarchical: 16x16"):
        decode_jpeg_hierarchical(stream)
    small = bytearray(stream)
    at = small.index(b"\xff\xde")
    small[at + 5:at + 9] = struct.pack(">HH", 8, 8)
    monkeypatch.setattr(budget, "DECODE_BUDGET", 1024)
    with pytest.raises(ValueError, match="jpeg hierarchical EXP"):
        decode_jpeg_hierarchical(bytes(small))


def test_decode_jpeg_dispatches_dhp():
    px = _gradient(16, 16)
    stream = encode_jpeg_hier_pyramid(px)
    # the generic entry point must route DHP-led streams itself
    out = decode_jpeg(stream)
    assert np.array_equal(out, px)


def test_base_frame_alone_differs_refinement_fixes():
    """The DCT base really is lossy; the differential frame is what
    restores exactness (guards against a trivially-empty correction)."""
    px = _gradient(24, 24, seed=11)
    base = decode_jpeg(encode_jpeg_gray(px))
    assert not np.array_equal(base, px)


def test_unsupported_differential_modes_honest():
    px = _gradient(8, 8)
    stream = bytearray(encode_jpeg_hier_pyramid(px))
    # rewrite the SOF7 marker to SOF15 (arithmetic diff lossless)
    idx = stream.find(b"\xff\xc7")
    assert idx > 0
    stream[idx + 1] = 0xCF
    with pytest.raises(NotImplementedError):
        decode_jpeg_hierarchical(bytes(stream))


def test_missing_reference_component_is_value_error():
    px = _gradient(8, 8)
    stream = bytearray(encode_jpeg_hier_pyramid(px))
    # corrupt the correction scan's component id so it has no ref
    idx = stream.find(b"\xff\xda", stream.find(b"\xff\xc7"))
    stream[idx + 5] = 9  # SOS comp id 1 -> 9
    with pytest.raises(ValueError):
        decode_jpeg_hierarchical(bytes(stream))


def test_media_decode_net_handles_hierarchical(spark):
    """The Spark-side decode path: a hierarchical JPEG blob decodes
    through decode_media with real dims, and a truncated one lands in
    the error column — never fatal."""
    from scribe_js_spark.textops.multimodal import decode_media

    px = _gradient(20, 20)
    good = encode_jpeg_hier_pyramid(px)
    rows = [(1, bytearray(good)), (2, bytearray(good[:40]))]
    df = spark.createDataFrame(rows, "media_id long, data binary")
    out = {r["media_id"]: r for r in decode_media(df).collect()}
    assert out[1]["error"] is None
    assert out[1]["width"] == 20 and out[1]["height"] == 20
    assert out[2]["error"] is not None
