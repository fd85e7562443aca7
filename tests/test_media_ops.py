"""Audio (WAV), video (SVID frame-sampling) and resize plumbing."""

import numpy as np
import pytest

from scribe_js_spark.textops.jpeg import encode_jpeg_gray
from scribe_js_spark.textops.multimodal import (
    decode_media,
    decode_wav,
    encode_synth_image,
    encode_synth_video,
    encode_wav_pcm,
    resize_images,
)


def _gray(w, h, off=0):
    xs, ys = np.meshgrid(np.arange(w), np.arange(h))
    return (((xs // 8) * 31 + (ys // 8) * 17 + off) % 256).astype(np.uint8)


def test_wav_roundtrip_and_malformed():
    s = ((np.arange(2000, dtype=np.int64) * 37) % 201 - 100).astype(np.int16)
    data = encode_wav_pcm(np.stack([s, -s], axis=1), 16000)
    rate, ch, bits, frames, got = decode_wav(data)
    assert (rate, ch, bits, frames) == (16000, 2, 16, 2000)
    assert np.array_equal(got[:, 0], s)
    with pytest.raises(ValueError):
        decode_wav(b"RIFFxxxxWAVGgarbage")
    # float format -> honest NotImplementedError
    bad = bytearray(data)
    i = data.find(b"fmt ")
    bad[i + 8] = 3  # IEEE float tag
    with pytest.raises(NotImplementedError):
        decode_wav(bytes(bad))


def test_decode_media_mixed_modalities(spark):
    s = ((np.arange(1000, dtype=np.int64) * 37) % 201 - 100).astype(np.int16)
    wav = encode_wav_pcm(np.stack([s, -s], axis=1), 8000)
    vid = encode_synth_video(
        [encode_jpeg_gray(_gray(24, 16, f * 10)) for f in range(6)], fps=3)
    img = encode_synth_image(10, 5, bytes([7] * 50))
    corrupt_vid = vid[:40]
    df = spark.createDataFrame(
        [(1, wav), (2, vid), (3, img), (4, corrupt_vid)],
        ["media_id", "data"])
    rows = {r["media_id"]: r for r in decode_media(df).collect()}
    assert rows[1]["kind"] == "wav"
    assert rows[1]["sample_rate"] == 8000
    assert rows[1]["duration_ms"] == 125
    assert rows[1]["n_frames"] == 1000
    exp = float(np.abs(np.stack([s, -s], 1).astype(np.int64)).mean())
    assert abs(rows[1]["mean_byte"] - exp) < 1e-12
    assert rows[2]["kind"] == "svid"
    assert rows[2]["n_frames"] == 6 and rows[2]["duration_ms"] == 2000
    assert rows[2]["width"] == 24 and rows[2]["height"] == 16
    assert rows[3]["kind"] == "simg" and rows[3]["mean_byte"] == 7.0
    assert rows[4]["error"] is not None  # truncated container, no crash


def test_any_decoder_exception_is_an_error_row(spark):
    """Each SVID frame is decoded as a media blob of its own, so a video
    whose one frame is a video, 2,000 deep, recurses until Python raises
    RecursionError. decode_media's net catches every Exception, not a
    list of types: that is one decode_failure row, not a failed job."""
    data = encode_synth_image(1, 1, b"\x00")
    for _ in range(2000):
        data = encode_synth_video([data], fps=1)
    df = spark.createDataFrame([(1, data)], ["media_id", "data"])
    [row] = decode_media(df).collect()
    assert row["error"].startswith("decode_failure: maximum recursion")
    assert row["n_bytes"] == len(data) and row["kind"] is None


def test_svid_sampling_stride():
    """Every max(1, n//4)-th frame is decoded; mean over sampled frames."""
    from scribe_js_spark.textops.multimodal import _decode_one

    frames = [encode_jpeg_gray(np.full((8, 8), 10 * f, np.uint8))
              for f in range(9)]  # stride = 2 -> frames 0,2,4,6,8
    rec = _decode_one(encode_synth_video(frames, fps=1))
    assert rec["mean_byte"] == float(np.mean([0, 20, 40, 60, 80]))


def test_resize_nearest_and_box(spark):
    px = _gray(32, 16)
    df = spark.createDataFrame(
        [(1, encode_jpeg_gray(px)),
         (2, encode_synth_image(10, 4, bytes(range(40)))),
         (3, b"not media")],
        ["media_id", "data"])
    rows = {r["media_id"]: r
            for r in resize_images(df, 16, 8, method="nearest").collect()}
    ys = (np.arange(8) * 16) // 8
    xs = (np.arange(16) * 32) // 16
    assert rows[1]["width"] == 16 and rows[1]["height"] == 8
    assert abs(rows[1]["mean_byte"] - float(px[ys][:, xs].mean())) < 1e-9
    assert rows[2]["error"] is None
    assert rows[3]["error"].startswith("decode_failure")

    rows = {r["media_id"]: r
            for r in resize_images(df, 16, 8, method="box").collect()}
    box = px.reshape(8, 2, 16, 2).mean(axis=(1, 3))
    assert abs(rows[1]["mean_byte"] - float(box.mean())) < 1e-9
    # 10x4 -> 16x8 is an upscale: box refuses, surfaces as error
    assert rows[2]["error"] is not None


# ----------------------------------------------- property-based (hypothesis)

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    HAVE_HYP = True
except ImportError:  # pragma: no cover
    HAVE_HYP = False


if HAVE_HYP:

    @settings(max_examples=25, deadline=None)
    @given(st.binary(min_size=0, max_size=4000))
    def test_lzw_rle_roundtrip_arbitrary_bytes(data):
        from scribe_js_spark.operators.pdf.document import (
            _lzw_decode, _rle_decode)
        from scribe_js_spark.render_pdf import _lzw_encode, _rle_encode

        assert _lzw_decode(_lzw_encode(data)) == data
        assert _rle_decode(_rle_encode(data)) == data

    @settings(max_examples=15, deadline=None)
    @given(st.integers(1, 40), st.integers(1, 40), st.integers(0, 2 ** 32 - 1))
    def test_png_roundtrip_arbitrary_images(h, w, seed):
        from scribe_js_spark.textops.multimodal import (
            decode_png, encode_png_gray)

        px = np.random.RandomState(seed % (2 ** 31)).randint(
            0, 256, size=(h, w)).astype(np.uint8)
        for interlace in (False, True):
            _w, _h, _c, out = decode_png(
                encode_png_gray(px, cycle_filters=True, interlace=interlace))
            assert np.array_equal(out[:, :, 0], px)

    @settings(max_examples=10, deadline=None)
    @given(st.integers(8, 33), st.integers(8, 33), st.integers(0, 2 ** 31 - 1))
    def test_jpeg_progressive_equals_baseline_property(h, w, seed):
        from scribe_js_spark.textops.jpeg import (
            decode_jpeg, encode_jpeg_gray, encode_jpeg_progressive)

        px = np.random.RandomState(seed).randint(
            0, 256, size=(h, w)).astype(np.uint8)
        assert np.array_equal(
            decode_jpeg(encode_jpeg_progressive(px)),
            decode_jpeg(encode_jpeg_gray(px)))
