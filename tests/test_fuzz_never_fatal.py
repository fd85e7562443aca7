"""The never-fatal contract: extract_document and decode_media must
return an error value on arbitrary corruption — never raise. At corpus
scale every imaginable mutation shows up.

Every sweep runs in a forked child whose address space is capped
(``_capped``), so an allocation bomb fails that one test with a
MemoryError instead of exhausting the machine and killing the run."""

import gzip
import os
import resource
import struct
import traceback
import zlib

import numpy as np
import pytest

from scribe_js_spark import budget
from scribe_js_spark.extract import extract_document, extract_with_spans

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    HAVE_HYP = True
except ImportError:  # pragma: no cover
    HAVE_HYP = False


def _base_docs():
    from scribe_js_spark.fixtures import build_doc_model, render_abbyy
    from scribe_js_spark.render_pdf import render_pdf

    model = build_doc_model(3, n_pages=1)
    return [
        render_pdf(model, rotate=False),
        render_abbyy(model).encode("utf-8"),
    ]


DOCS = _base_docs()

#: Address space a sweep may add on top of what the test process has
#: mapped when it forks (RLIMIT_AS counts mappings, not resident pages).
SWEEP_AS_HEADROOM = 2 << 30


def _capped(sweep):
    """Run ``sweep()`` as the test body in a forked child under
    ``RLIMIT_AS``; the child's failure, skip or death fails (or skips)
    the test in this process."""

    def test():
        rd, wr = os.pipe()
        pid = os.fork()
        if pid == 0:  # child: run the sweep, report, never return
            os.close(rd)
            status, msg = 1, b""
            try:
                with open("/proc/self/statm") as f:
                    mapped = int(f.read().split()[0]) * resource.getpagesize()
                cap = mapped + SWEEP_AS_HEADROOM
                resource.setrlimit(resource.RLIMIT_AS, (cap, cap))
                sweep()
                status = 0
            except pytest.skip.Exception as e:
                status, msg = 2, str(e).encode()
            except BaseException:
                msg = traceback.format_exc().encode()
            finally:
                try:
                    while msg:
                        msg = msg[os.write(wr, msg):]
                finally:
                    os._exit(status)
        os.close(wr)
        with os.fdopen(rd, "rb") as f:
            msg = f.read().decode(errors="replace")
        _, wstatus = os.waitpid(pid, 0)
        if os.WIFEXITED(wstatus) and os.WEXITSTATUS(wstatus) == 2:
            pytest.skip(msg)
        if wstatus != 0:
            pytest.fail(msg or f"sweep child died: wait status {wstatus}",
                        pytrace=False)

    test.__name__ = sweep.__name__
    test.__doc__ = sweep.__doc__
    return test


def _deflate_bomb(inflated: int, wbits: int = zlib.MAX_WBITS) -> bytes:
    """A zlib stream (a gzip member with ``wbits=31``, cut off before
    its trailer) that inflates to ``inflated`` zero bytes from about a
    thousandth of that."""
    chunk = bytes(1 << 20)
    z = zlib.compressobj(9, zlib.DEFLATED, wbits)
    head = z.compress(chunk) + z.flush(zlib.Z_FULL_FLUSH)
    # a full flush resets the compressor, so each further chunk
    # compresses to the same bytes
    body = z.compress(chunk) + z.flush(zlib.Z_FULL_FLUSH)
    return head + body * (inflated // len(chunk) - 1)


def _deflate_bomb_pdf(inflated: int) -> bytes:
    """A one-page PDF whose FlateDecode content stream is
    ``_deflate_bomb(inflated)``."""
    stream = _deflate_bomb(inflated)
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R >>",
        b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(stream)
        + stream + b"\nendstream",
    ]
    pdf = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, obj in enumerate(objs, 1):
        offsets.append(len(pdf))
        pdf += b"%d 0 obj\n" % i + obj + b"\nendobj\n"
    xref = len(pdf)
    pdf += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    pdf += b"".join(b"%010d 00000 n \n" % off for off in offsets)
    pdf += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1, xref)
    return bytes(pdf)


def _mutate(data: bytes, rng: np.random.RandomState) -> bytes:
    mode = rng.randint(4)
    b = bytearray(data)
    if mode == 0:  # flip random bytes
        for _ in range(rng.randint(1, 30)):
            b[rng.randint(len(b))] = rng.randint(256)
    elif mode == 1:  # truncate
        del b[rng.randint(1, len(b)):]
    elif mode == 2:  # delete a slice
        i = rng.randint(len(b))
        del b[i : i + rng.randint(1, 200)]
    else:  # duplicate a slice (garbage insertion)
        i = rng.randint(len(b))
        b[i:i] = b[i : i + rng.randint(1, 100)]
    return bytes(b)


@_capped
def test_extract_never_raises_on_mutations():
    rng = np.random.RandomState(1234)
    failures = 0
    for _ in range(150):
        doc = DOCS[rng.randint(len(DOCS))]
        mutated = _mutate(doc, rng)
        res = extract_document(mutated)  # must not raise
        if res.error is not None:
            failures += 1
        else:
            assert isinstance(res.text, str)
        # the pipeline path, which runs with automatic GC off
        rec = extract_with_spans(mutated, with_spans=False)
        assert rec["error"] == res.error
        assert rec["text"] == res.text
    # sanity: mutations do produce both survivable and fatal inputs
    assert 0 < failures < 150
    # a deflate bomb inflating past the sweep's whole memory headroom
    # is refused at the per-stream decode budget
    bomb = _deflate_bomb_pdf(SWEEP_AS_HEADROOM + (1 << 30))
    res = extract_document(bomb)
    assert "decode budget" in (res.error or ""), res.error
    rec = extract_with_spans(bomb, with_spans=False)
    assert rec["error"] == res.error


def _claims_past_budget(zip_bytes: bytes) -> bytes:
    """The zip with every central-directory entry's uncompressed size set
    one past the decode budget; the members' data is left as it is."""
    b = bytearray(zip_bytes)
    i = b.find(b"PK\x01\x02")
    while i >= 0:
        struct.pack_into("<I", b, i + 24, budget.DECODE_BUDGET + 1)
        i = b.find(b"PK\x01\x02", i + 46)
    return bytes(b)


@_capped
def test_whole_input_bombs_stop_at_the_budget():
    """A gzip-wrapped document, a .warc.gz archive and a zip container
    member are decompressed up to the decode budget and no further: a
    bomb inflating past the sweep's whole memory headroom, or a member
    that declares more, is refused before it is inflated in full."""
    from scribe_js_spark.fixtures import build_doc_model, build_epub_models
    from scribe_js_spark.operators.warc import warc_records
    from scribe_js_spark.render_docx import render_docx

    bomb = _deflate_bomb(SWEEP_AS_HEADROOM + (1 << 30), wbits=31)
    res = extract_document(bomb)
    assert res.error.startswith("parse_failure"), res.error
    assert "decode budget" in res.error, res.error
    assert extract_with_spans(bomb, with_spans=False)["error"] == res.error

    # a .warc.gz holds one member per record: a good one, then the bomb
    record = (b"WARC/1.0\r\nWARC-Type: warcinfo\r\n"
              b"Content-Length: 2\r\n\r\nok\r\n\r\n")
    with pytest.raises(ValueError, match="decode budget"):
        list(warc_records(gzip.compress(record) + bomb))

    for container in (render_docx(build_doc_model(3, n_pages=1)),
                      build_epub_models(1)["epub"]):
        assert extract_document(container).error is None
        res = extract_document(_claims_past_budget(container))
        assert "decode budget" in (res.error or ""), res.error


if HAVE_HYP:

    @_capped
    @settings(max_examples=40, deadline=None)
    @given(st.binary(min_size=0, max_size=300))
    def test_extract_never_raises_on_arbitrary_bytes(data):
        res = extract_document(data)
        assert (res.error is None) or isinstance(res.error, str)

    @_capped
    @settings(max_examples=40, deadline=None)
    @given(st.binary(min_size=0, max_size=300))
    def test_media_decode_one_never_crashes(data):
        import struct as _struct

        from scribe_js_spark.textops.multimodal import _decode_one

        for prefix in (b"SIMG", b"RIFF", b"SVID", b"\xff\xd8"):
            try:
                rec = _decode_one(prefix + data)
                assert "error" in rec
            except (ValueError, NotImplementedError, _struct.error,
                    IndexError):
                pass  # decode_media converts these to the error column


@_capped
def test_table_documents_never_raise_on_mutations():
    """The full detectPdfTables ladder (strict/segmented/row-band/
    header-rule/Phase-1/2 text engine) runs inside every PDF parse;
    mutations of the table fixture docs — grids, zebra fills,
    segmented rules, caption lines — must land in the error column or
    degrade, never raise."""
    from scribe_js_spark.fixtures import build_pdf_table_models
    from scribe_js_spark.render_pdf import render_pdf

    rng = np.random.RandomState(99)
    bases = []
    for doc_id in (0, 31, 35, 38, 41, 42):   # grid/zebra/phase2/ext/rects
        m = build_pdf_table_models(doc_id)
        bases.append(render_pdf(m["model"], rotate=False))
    for base in bases:
        for _ in range(25):
            res = extract_document(_mutate(base, rng))
            assert res is not None  # error column or degraded output


@_capped
def test_fax_tiff_never_raises_in_media_path():
    """Corrupt fax payloads must surface in decode_media's error
    column — the ccitt forward-progress guards turn would-be hangs
    into exceptions the wrapper absorbs."""
    from scribe_js_spark.textops.multimodal import _decode_pixels
    from scribe_js_spark.textops.tiff import encode_tiff

    img = (np.arange(0, 255, 17, dtype=np.uint8)[None, :]
           .repeat(9, axis=0))
    rng = np.random.RandomState(7)
    for comp in (2, 3, 4):
        base = encode_tiff((img > 120).astype(np.uint8) * 255,
                           compression=comp)
        for _ in range(40):
            data = _mutate(base, rng)
            try:
                _decode_pixels(data)
            except Exception:
                pass  # any exception is fine; hanging is not


@_capped
def test_font_crypto_docs_never_raise_on_mutations():
    """The embedded-font-program parsers (CFF charset/charstrings,
    CMap) and the RC4/AES decryption layer see attacker-shaped bytes
    at corpus scale; mutated cffsub and encrypted docs must land in
    the error column or degrade, never raise or hang."""
    from scribe_js_spark.fixtures import (
        CFF_DROP_CODES, CFF_UNMAPPED_CODES, build_doc_model)
    from scribe_js_spark.render_pdf import render_pdf

    model = build_doc_model(5, n_pages=1)
    bases = [
        render_pdf(model, rotate=False, cff_subset={
            "drop": CFF_DROP_CODES, "unmapped": CFF_UNMAPPED_CODES}),
        render_pdf(model, rotate=False, encrypt_mode="rc4_128"),
        render_pdf(model, rotate=False, encrypt_mode="aesv2"),
        render_pdf(model, rotate=False, encrypt_mode="aesv3"),
    ]
    rng = np.random.RandomState(4242)
    for base in bases:
        for _ in range(30):
            res = extract_document(_mutate(base, rng))
            assert res is not None


@_capped
def test_subset_rewriter_never_hangs_on_mutations():
    """The entry-wise subset/merge rewriter walks xref, outlines,
    named dests and annots of arbitrary inputs; any exception is
    acceptable (callers wrap it), hanging or interpreter-level errors
    are not."""
    from scribe_js_spark.fixtures import build_doc_model
    from scribe_js_spark.operators.pdf.subset import merge_pdfs, subset_pdf
    from scribe_js_spark.render_pdf import render_pdf

    base = render_pdf(build_doc_model(2), rotate=False, outline=True)
    rng = np.random.RandomState(77)
    for _ in range(60):
        data = _mutate(base, rng)
        try:
            subset_pdf(data, [0])
        except Exception:
            pass
        try:
            merge_pdfs([data, base])
        except Exception:
            pass


@_capped
def test_jbig2_never_hangs_on_mutations():
    """Corrupt JBIG2: mutated valid streams and arbitrary prefixes
    must raise cleanly — the referred-to-count and dimension guards
    turn allocation/spin bombs into ValueErrors."""
    from scribe_js_spark.textops.jbig2 import (
        build_jbig2_embedded, build_jbig2_file, build_jbig2_symbol_text,
        decode_jbig2)

    bits = [[(x + y) % 2 for x in range(20)] for y in range(12)]
    g = [[1, 0, 1], [0, 1, 0], [1, 0, 1]]
    bases = [build_jbig2_embedded(bits), build_jbig2_file(bits),
             build_jbig2_embedded(bits, mmr=True),
             build_jbig2_symbol_text(
                 [g], [(0, 2, 2), (0, 8, 2), (0, 2, 8)], 16, 16)]
    rng = np.random.RandomState(13)
    for base in bases:
        for _ in range(40):
            try:
                decode_jbig2(_mutate(base, rng))
            except Exception:
                pass  # typed errors fine; hangs/allocation bombs not


@_capped
def test_arith_jpeg_never_hangs_on_mutations():
    """Corrupt SOF9 streams: the QM decoder zero-fills past markers
    and the magnitude guards bound every loop, so mutations decode to
    garbage or raise typed errors — never hang. decode_media keeps
    the never-fatal contract over the same payloads."""
    from scribe_js_spark.textops.jpeg import decode_jpeg
    from scribe_js_spark.textops.jpeg_arith import encode_jpeg_arith
    from scribe_js_spark.textops.multimodal import _decode_one

    rng_px = np.random.RandomState(5)
    px = rng_px.randint(0, 256, (24, 32)).astype(np.uint8)
    bases = [encode_jpeg_arith(px),
             encode_jpeg_arith(px, restart_interval=2),
             encode_jpeg_arith(px, dc_cond=(1, 3), ac_kx=20)]
    import struct

    rng = np.random.RandomState(17)
    for base in bases:
        for _ in range(40):
            mutated = _mutate(base, rng)
            try:
                decode_jpeg(mutated)
            except Exception:
                pass  # typed errors fine; hangs are the failure mode
            try:
                rec = _decode_one(mutated)
                assert rec["kind"] is not None or rec["error"]
            except (NotImplementedError, ValueError, struct.error,
                    IndexError):
                pass  # exactly the types decode_media's net catches


@_capped
def test_lossless_jpeg_never_hangs_on_mutations():
    """Corrupt SOF3 streams: the marker loop advances per iteration
    and the bit reader zero-fills past scan markers, so mutations
    decode to garbage or raise typed errors — never hang."""
    from scribe_js_spark.textops.jpeg import decode_jpeg
    from scribe_js_spark.textops.jpeg_lossless import encode_jpeg_lossless

    rng_px = np.random.RandomState(11)
    px = rng_px.randint(0, 256, (16, 21)).astype(np.uint8)
    bases = [encode_jpeg_lossless(px, predictor=4),
             encode_jpeg_lossless(px, predictor=7, restart_interval=8)]
    rng = np.random.RandomState(23)
    for base in bases:
        for _ in range(40):
            try:
                decode_jpeg(_mutate(base, rng))
            except Exception:
                pass  # typed errors fine; hangs are the failure mode


@_capped
def test_jbig2_refinement_never_hangs_on_mutations():
    """Corrupt standalone-refinement streams (incl. TPGRON) decode to
    garbage or raise typed errors — never hang or allocation-bomb."""
    from scribe_js_spark.textops.jbig2 import (
        build_jbig2_refinement_page, decode_jbig2)

    rng_px = np.random.RandomState(31)
    base_rows = (rng_px.rand(14, 19) < 0.4).astype(int).tolist()
    refined = [row[:] for row in base_rows]
    refined[3][4] ^= 1
    bases = [build_jbig2_refinement_page(base_rows, refined),
             build_jbig2_refinement_page(base_rows, base_rows,
                                         tpgron=True)]
    rng = np.random.RandomState(37)
    for base in bases:
        for _ in range(40):
            try:
                decode_jbig2(_mutate(base, rng))
            except Exception:
                pass


@_capped
def test_decode_media_net_catches_all_codec_mutations():
    """Cross-format sweep of the decode_media never-fatal net: mutate
    a valid exemplar of every dispatchable container and require that
    only the typed exception set escapes _decode_one (found live:
    zlib.error from corrupt PNG IDAT streams escaped the net before
    this test existed)."""
    import struct
    import zlib

    from scribe_js_spark.textops.gif import _lzw_encode_lsb, encode_gif
    from scribe_js_spark.textops.jpeg import encode_jpeg_gray
    from scribe_js_spark.textops.jpx_encode import encode_jpx
    from scribe_js_spark.textops.multimodal import (
        _decode_one,
        encode_bmp,
        encode_bmp_form,
        encode_netpbm,
        encode_png_gray,
        encode_wav_pcm,
    )
    from scribe_js_spark.textops.tiff import (
        encode_tiff,
        encode_tiff_tiled,
    )

    g = np.fromfunction(lambda y, x: (x * 7 + y * 13) % 256,
                        (12, 20)).astype(np.uint8)
    pal16 = np.array([[i * 17, 0, 255 - i * 17] for i in range(16)],
                     np.uint8)
    bases = [
        encode_png_gray(g),
        encode_png_gray(g, interlace=True),
        encode_png_gray(g >> 6, bit_depth=2),
        encode_jpeg_gray(g),
        encode_tiff(g, compression=5, predictor=2),
        encode_tiff_tiled(g, tile=(8, 8), compression=32773),
        encode_bmp(g),
        encode_bmp_form(g, "rle8"),
        encode_bmp_form(g, "565"),
        encode_gif([(g >> 4)], pal16),
        encode_netpbm(g),
        b"P4\n20 12\n" + np.packbits(g >> 7, axis=1).tobytes(),
        encode_wav_pcm(np.zeros((200, 1), np.int16), 8000),
        encode_jpx(g),
    ]
    allowed = (NotImplementedError, ValueError, struct.error,
               IndexError, zlib.error, KeyError)
    rng = np.random.RandomState(99)
    for base in bases:
        for _ in range(25):
            mutated = _mutate(base, rng)
            try:
                rec = _decode_one(mutated)
                assert rec["error"] or rec["kind"]
            except allowed:
                pass  # decode_media's net turns these into a column

    # Header-driven allocations. An 8-bit 20x12 image whose IDAT
    # inflates to more than the cap: only its 252 scanline bytes are
    # inflated, and they are valid (all zero). An interlaced
    # 65535x65535 IHDR over a 12-byte IDAT: 4 GiB of pixels.
    def png(ihdr, idat):
        def chunk(ctype, body):
            return (struct.pack(">I", len(body)) + ctype + body
                    + struct.pack(">I", zlib.crc32(ctype + body)))
        return (b"\x89PNG\r\n\x1a\n"
                + chunk(b"IHDR", struct.pack(">IIBBBBB", *ihdr))
                + chunk(b"IDAT", idat) + chunk(b"IEND", b""))

    bomb = png((20, 12, 8, 0, 0, 0, 0),
               _deflate_bomb(SWEEP_AS_HEADROOM + (1 << 30)))
    rec = _decode_one(bomb)
    assert (rec["kind"], rec["width"], rec["height"], rec["mean_byte"]) \
        == ("png", 20, 12, 0.0)
    huge = png((65535, 65535, 8, 0, 0, 0, 1), zlib.compress(bytes(12)))
    with pytest.raises(ValueError, match="decode budget"):
        _decode_one(huge)

    # A 1,080-byte RLE8 BMP whose header claims 65535x65535 (12 GiB of
    # RGB) over a lone end-of-bitmap escape, and a 35-byte GIF whose
    # 65535x65535 logical screen would be the canvas of its 1x1 frame.
    rle_bmp = (b"BM" + struct.pack("<IHHI", 1080, 0, 0, 1078)
               + struct.pack("<IiiHHIIiiII", 40, 65535, 65535, 1, 8, 1,
                             0, 0, 0, 0, 0)
               + bytes(1024) + b"\x00\x01")
    lzw = _lzw_encode_lsb(b"\x00", 2)
    gif = (b"GIF89a" + struct.pack("<HHBBB", 65535, 65535, 0x80, 0, 0)
           + bytes(6) + b"\x2c" + struct.pack("<HHHHB", 0, 0, 1, 1, 0)
           + bytes([2, len(lzw)]) + lzw + b"\x00\x3b")
    # A 317-byte baseline JPEG of a 16x16 image whose SOF claims
    # 65535x65535: 4.3 G coefficient samples (16 GiB as int32).
    jpeg = bytearray(encode_jpeg_gray(np.zeros((16, 16), np.uint8)))
    sof = jpeg.index(b"\xff\xc0")
    jpeg[sof + 5:sof + 9] = struct.pack(">HH", 65535, 65535)
    assert (len(rle_bmp), len(gif), len(jpeg)) == (1080, 35, 317)
    # The lossless and hierarchical decoders size their planes from
    # their own headers: a 131-byte SOF3 stream of a 16x16 image
    # claiming 65535x65535 (8 GiB as uint16), and a 226-byte
    # hierarchical pyramid whose DHP, or whose SOF7 differential
    # frame, claims 65535x65535. Its SOF7 frame claiming 16384x16384
    # is exactly DECODE_BUDGET samples, but the reference planes are
    # int64: 2 GiB each, past the cap.
    from scribe_js_spark.textops.jpeg_hier import encode_jpeg_hier_pyramid
    from scribe_js_spark.textops.jpeg_lossless import encode_jpeg_lossless

    def claim(data, marker, side=65535):
        data = bytearray(data)
        at = data.index(marker)
        data[at + 5:at + 9] = struct.pack(">HH", side, side)
        return bytes(data)

    z16 = np.zeros((16, 16), np.uint8)
    lossless = claim(encode_jpeg_lossless(z16), b"\xff\xc3")
    hier = encode_jpeg_hier_pyramid(z16)
    hier_bombs = [claim(hier, b"\xff\xde"), claim(hier, b"\xff\xc7"),
                  claim(hier, b"\xff\xc7", 16384)]
    assert (len(lossless), len(hier)) == (131, 226)
    # A 110-byte JPEG 2000 codestream of an 8x8 image whose SIZ claims a
    # 60000x60000 image in one tile: its code-blocks alone would take
    # minutes and gigabytes to build. The same SIZ claiming 16000x16000
    # in 1x1 tiles: 256 M tile dicts.
    jpx = bytearray(encode_jpx(np.zeros((8, 8), np.uint8)))
    siz = jpx.index(b"\xff\x51")

    def jpx_claim(side, tile):
        data = bytearray(jpx)
        struct.pack_into(">II", data, siz + 6, side, side)
        struct.pack_into(">II", data, siz + 22, tile, tile)
        return bytes(data)

    # A 139-byte G4 fax TIFF whose width tag claims 10**9 pixels: its
    # first row alone would be a 10**9-element list.
    fax = bytearray(encode_tiff((g >> 7) * 255, compression=4))
    ifd = struct.unpack_from("<I", fax, 4)[0]
    assert struct.unpack_from("<HH", fax, ifd + 2) == (256, 4)  # width
    struct.pack_into("<I", fax, ifd + 10, 10**9)
    assert (len(jpx), len(fax)) == (110, 139)
    for bomb in (rle_bmp, gif, bytes(jpeg), lossless, *hier_bombs,
                 jpx_claim(60000, 60000), jpx_claim(16000, 1), bytes(fax)):
        with pytest.raises(ValueError, match="decode budget"):
            _decode_one(bomb)


def test_jpeg_budget_admits_a_600dpi_letter_page(monkeypatch):
    """The JPEG budget counts coefficient samples, as the other codecs
    count decoded bytes: a 4:4:4 SOF claiming a 600 dpi letter page
    (5100x6600, 101 M samples; 404 MB as int32) passes it. The decode
    stops right after the check, so nothing is allocated."""
    import struct

    from scribe_js_spark.textops import jpeg
    from scribe_js_spark.textops.jpeg import decode_jpeg, encode_jpeg_ycbcr

    class Admitted(Exception):
        pass

    real, seen = jpeg.check_budget, []

    def check(n, what):
        real(n, what)
        seen.append((n, what))
        raise Admitted

    monkeypatch.setattr(jpeg, "check_budget", check)
    plane = np.zeros((16, 16), np.uint8)
    jpeg = bytearray(encode_jpeg_ycbcr(plane, plane, plane, sampling=(1, 1)))
    sof = jpeg.index(b"\xff\xc0")
    jpeg[sof + 5:sof + 9] = struct.pack(">HH", 6600, 5100)
    with pytest.raises(Admitted):
        decode_jpeg(bytes(jpeg))
    assert seen == [(3 * 825 * 638 * 64, "jpeg: 5100x6600")]


@_capped
def test_inline_images_never_raise_on_mutations():
    """BI/ID/EI parsing (tokenizer capture + dict normalization +
    pixel decode) across byte flips, truncations, slice deletes and
    duplications: extract_document and extract_inline_images must
    never raise, and the tokenizer must terminate (no EI-scan loop)."""
    from scribe_js_spark.fixtures import build_image_models
    from scribe_js_spark.operators.pdf.images import (
        extract_inline_images)

    base = build_image_models(7)["pdf"]  # doc 7 carries 2 inline images
    rng = np.random.RandomState(99)
    decoded = 0
    for _ in range(150):
        mutated = _mutate(base, rng)
        recs = extract_inline_images(mutated, with_pixels=True)
        assert isinstance(recs, list)
        decoded += sum(1 for r in recs
                       if r.get("pixels_mean_e6") is not None)
        res = extract_document(mutated)
        assert res.error is None or isinstance(res.error, str)
    assert decoded > 0  # some mutants keep a decodable inline image


@_capped
def test_gidmap_cid_docs_never_raise_on_mutations():
    """The Identity-H recovery ladder (TrueType cmap reverse map,
    sibling-BaseFont search, Mac-order fallback, non-CID CFF charset
    names) must degrade to error values / skipped fills on arbitrary
    corruption — the cmap and PFA parsers see attacker-shaped bytes at
    corpus scale."""
    from scribe_js_spark.fixtures import build_doc_model
    from scribe_js_spark.render_pdf import render_pdf

    model = build_doc_model(6, n_pages=1)
    docs = [render_pdf(model, cid_gidmap=True, rotate=False)]
    rng = np.random.RandomState(20260818)
    for _ in range(120):
        mutated = _mutate(docs[rng.randint(len(docs))], rng)
        res = extract_document(mutated)  # must not raise
        if res.error is None:
            assert isinstance(res.text, str)


@_capped
def test_cmap_and_pfa_parsers_never_raise_on_garbage():
    from scribe_js_spark.operators.pdf.fontprog import (
        parse_cff_summary, truetype_code_to_gid, truetype_gid_to_unicode)
    from scribe_js_spark.operators.pdf.fonts import (
        _parse_type1_pfa_encoding)
    from scribe_js_spark.render_fonts import (
        build_cff_simple, build_truetype_blank)

    rng = np.random.RandomState(77)
    tt = build_truetype_blank(
        40, set(), cmap={c: c - 30 for c in range(32, 70)})
    cff = build_cff_simple([1, 34, 391], custom_strings=[b"uni20AC"],
                           encoding={1: 48, 2: 49, 3: 161})
    pfa = (b"/Encoding 256 array\ndup 65 /germandbls put\n"
           b"currentfile eexec\n" + b"\x00" * 16)
    for _ in range(200):
        seed = [tt, cff, pfa][rng.randint(3)]
        m = _mutate(seed, rng)
        truetype_code_to_gid(m)        # None or dict, never raise
        truetype_gid_to_unicode(m)
        parse_cff_summary(m)
        _parse_type1_pfa_encoding(m)


@_capped
def test_form_field_docs_never_raise_on_mutations():
    """Widget /V /DA /Rect /Ff see attacker-shaped bytes at corpus
    scale; the field-layout splice must degrade to skipped fields,
    never a crash."""
    from scribe_js_spark.fixtures import build_doc_model
    from scribe_js_spark.render_pdf import render_pdf

    model = build_doc_model(6, n_pages=1)
    model["pages"][0]["annots"] = [
        {"subtype": "Widget", "rect": (100, 900, 400, 990),
         "author": "f1", "field_type": "Tx",
         "value": "alpha beta gamma delta", "ff": 0x1000},
        {"subtype": "Widget", "rect": (100, 800, 400, 830),
         "author": "f2", "field_type": "Tx", "value": "combval",
         "ff": 0x1000000, "max_len": 12,
         "da": "/Helv 9 Tf 0 g"},
        {"subtype": "Link", "rect": (100, 700, 400, 730),
         "uri": "https://x.test/a"},
    ]
    doc = render_pdf(model, rotate=False)
    rng = np.random.RandomState(55)
    for _ in range(120):
        res = extract_document(_mutate(doc, rng))  # must not raise
        if res.error is None:
            assert isinstance(res.text, str)


@_capped
def test_hierarchical_jpeg_never_hangs_on_mutations():
    """Corrupt DHP-led hierarchical streams (T.81 Annex J): the frame
    slicer, EXP expansion, and both differential decoders must raise
    typed errors or decode garbage — never hang or crash untyped.
    decode_media keeps the never-fatal contract over the same bytes."""
    from scribe_js_spark.textops.jpeg import decode_jpeg
    from scribe_js_spark.textops.jpeg_hier import (
        encode_jpeg_hier_dct_refined, encode_jpeg_hier_pyramid)
    from scribe_js_spark.textops.multimodal import _decode_one
    import struct

    rng_px = np.random.RandomState(9)
    px = rng_px.randint(0, 256, (22, 18)).astype(np.uint8)
    rgb = rng_px.randint(0, 256, (12, 14, 3)).astype(np.uint8)
    bases = [encode_jpeg_hier_pyramid(px),
             encode_jpeg_hier_pyramid(rgb),
             encode_jpeg_hier_dct_refined(px)]
    rng = np.random.RandomState(29)
    for base in bases:
        for _ in range(40):
            mutated = _mutate(base, rng)
            try:
                decode_jpeg(mutated)
            except Exception:
                pass  # typed errors fine; hangs are the failure mode
            try:
                rec = _decode_one(mutated)
                assert rec["kind"] is not None or rec["error"]
            except (NotImplementedError, ValueError, struct.error,
                    IndexError, KeyError):
                pass  # exactly the types decode_media's net catches
