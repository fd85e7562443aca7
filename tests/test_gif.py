"""From-scratch GIF codec tests."""

import numpy as np
import pytest

from scribe_js_spark.textops.gif import (
    _lzw_decode_lsb,
    _lzw_encode_lsb,
    decode_gif,
    encode_gif,
)


def _pal(n=16):
    return np.array([[(j * 17) % 256, (j * 29) % 256, (j * 43) % 256]
                     for j in range(n)], dtype=np.uint8)


def test_lsb_lzw_roundtrip_width_growth():
    rng = np.random.RandomState(9)
    for mcs in (2, 4, 8):
        data = rng.randint(0, 1 << mcs, size=60000).astype(np.uint8).tobytes()
        assert _lzw_decode_lsb(
            _lzw_encode_lsb(data, mcs), mcs, len(data) + 1) == data


def test_lsb_lzw_decode_stops_at_limit():
    """A run of zeros expands one table entry longer per code: the
    decoder stops within one entry of the limit, not at the end."""
    enc = _lzw_encode_lsb(bytes(1 << 20), 8)
    assert _lzw_decode_lsb(enc, 8, 1 << 20) == bytes(1 << 20)
    out = _lzw_decode_lsb(enc, 8, 100)
    assert 100 <= len(out) < 100 + 4096 and not any(out)


@pytest.mark.parametrize("interlace", [False, True])
def test_single_frame_roundtrip(interlace):
    pal = _pal()
    xs, ys = np.meshgrid(np.arange(37), np.arange(23))
    idx = ((xs + ys) % 16).astype(np.uint8)
    w, h, frames, delays = decode_gif(
        encode_gif([idx], pal, interlace=interlace))
    assert (w, h) == (37, 23) and len(frames) == 1 and delays == []
    assert np.array_equal(frames[0], pal[idx])


def test_animation_frames_and_delays():
    pal = _pal()
    xs, ys = np.meshgrid(np.arange(12), np.arange(8))
    fr = [((xs + ys + k) % 16).astype(np.uint8) for k in range(5)]
    w, h, frames, delays = decode_gif(encode_gif(fr, pal, delay_cs=7))
    assert len(frames) == 5 and delays == [7] * 5
    for k in range(5):
        assert np.array_equal(frames[k], pal[fr[k]])


def test_256_color_palette():
    pal = (np.arange(768, dtype=np.int32) % 256).astype(np.uint8).reshape(
        256, 3)
    xs, ys = np.meshgrid(np.arange(33), np.arange(21))
    idx = ((xs * 7 + ys * 13) % 256).astype(np.uint8)
    _w, _h, frames, _d = decode_gif(encode_gif([idx], pal))
    assert np.array_equal(frames[0], pal[idx])


def test_malformed_gif_raises():
    with pytest.raises(ValueError):
        decode_gif(b"GIF89a" + b"\x00" * 5)
    pal = _pal()
    good = encode_gif([np.zeros((4, 4), np.uint8)], pal)
    with pytest.raises(Exception):
        decode_gif(good[:20])


def test_media_decode_gif(spark):
    from scribe_js_spark.textops.multimodal import decode_media

    pal = _pal()
    xs, ys = np.meshgrid(np.arange(10), np.arange(6))
    fr = [((xs + ys + k) % 16).astype(np.uint8) for k in range(4)]
    df = spark.createDataFrame(
        [(1, encode_gif(fr, pal, delay_cs=10)),
         (2, b"\x00\x00\x00\x0cjP  \r\n\x87\nrest")],
        ["media_id", "data"])
    rows = {r["media_id"]: r for r in decode_media(df).collect()}
    assert rows[1]["kind"] == "gif"
    assert rows[1]["n_frames"] == 4 and rows[1]["duration_ms"] == 400
    exp = float(np.mean([pal[f].mean() for f in fr]))
    assert abs(rows[1]["mean_byte"] - exp) < 1e-9
    # A JP2 signature box with no codestream reaches the real JPX
    # decoder now and surfaces as a decode failure, never a crash.
    assert rows[2]["error"].startswith("decode_failure")
