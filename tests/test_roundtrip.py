"""Core invariant: extract(render(model)) == expected(model), byte-identical.

Pure-Python (no Spark) — the per-document operators are plain functions;
the Spark wrapper is exercised in test_pipeline.py.
"""

import pytest

from scribe_js_spark.extract import extract_document, extract_with_spans
from scribe_js_spark.fixtures import (
    RENDERERS,
    build_doc_model,
    expected_counts,
    expected_text,
    make_corpus_rows,
)

N_DOCS = 60


@pytest.mark.parametrize("fmt", ["hocr", "abbyy", "alto", "text"])
def test_roundtrip_per_format(fmt):
    for doc_id in range(25):
        n_pages = 1 if fmt == "text" else None
        model = build_doc_model(doc_id, n_pages=n_pages)
        data = RENDERERS[fmt](model).encode("utf-8")
        res = extract_document(data)
        assert res.error is None, f"doc {doc_id}: {res.error}"
        assert res.fmt == fmt
        exp = expected_text(model)
        assert res.text == exp, (
            f"doc {doc_id} fmt {fmt}:\nGOT {res.text!r}\nEXP {exp!r}")


def test_roundtrip_indent_family():
    for doc_id in range(12):
        model = build_doc_model(doc_id, indent_family=True)
        data = RENDERERS["hocr"](model).encode("utf-8")
        res = extract_document(data)
        assert res.error is None
        assert res.text == expected_text(model), f"doc {doc_id}"


def test_corpus_rows_deterministic():
    rows1 = make_corpus_rows(N_DOCS, formats=("hocr", "abbyy", "alto", "text"))
    rows2 = make_corpus_rows(N_DOCS, formats=("hocr", "abbyy", "alto", "text"))
    assert [r["html"] for r in rows1] == [r["html"] for r in rows2]
    assert [r["text"] for r in rows1] == [r["text"] for r in rows2]


def test_corpus_full_extraction():
    rows = make_corpus_rows(N_DOCS, formats=("hocr", "abbyy", "alto", "text"))
    for row in rows:
        rec = extract_with_spans(row["html"])
        assert rec["error"] is None, f"{row['url']}: {rec['error']}"
        assert rec["text"] == row["text"], row["url"]
        assert rec["format"] == row["format"]
        assert rec["word_count"] == row["word_count"], row["url"]


def test_span_counts_and_schema():
    model = build_doc_model(3)
    data = RENDERERS["hocr"](model).encode("utf-8")
    rec = extract_with_spans(data)
    counts = expected_counts(model)
    assert rec["page_count"] == counts["page_count"]
    assert rec["word_count"] == counts["word_count"]
    span = rec["spans"][0]
    for key in ("page_n", "line_n", "word_n", "word_id", "text", "left",
                "top", "right", "bottom", "conf", "sup", "bold", "italic",
                "smallCaps", "dropcap", "baseline_slope", "baseline_offset",
                "par_n", "par_type"):
        assert key in span
    # Deterministic positional id scheme (reference convertPageHocr.js:170)
    assert rec["spans"][0]["word_id"] == "word_1_1_1"


def test_malformed_input_never_fatal():
    rec = extract_with_spans(b"\x00\x01\x02 garbage not a document \xff")
    assert rec["error"] is not None
    rec2 = extract_with_spans(
        b"<html><body><div class='ocr_page' title='nonsense'></div></body></html>")
    assert rec2["error"] is not None  # no page dims


def test_roundtrip_stext_pdf():
    from scribe_js_spark.render_pdf import render_pdf
    from scribe_js_spark.render_stext import render_stext

    for doc_id in range(15):
        model = build_doc_model(doc_id)
        model["doc_id"] = doc_id
        res = extract_document(render_stext(model).encode())
        assert res.error is None and res.fmt == "stext"
        assert res.text == expected_text(model), f"stext doc {doc_id}"
        res = extract_document(render_pdf(model))
        assert res.error is None and res.fmt == "pdf"
        assert res.text == expected_text(model), f"pdf doc {doc_id}"


def test_pdf_variants():
    from scribe_js_spark.render_pdf import render_pdf

    model = build_doc_model(5)
    for compress in (False, True):
        res = extract_document(render_pdf(model, compress=compress))
        assert res.error is None
        assert res.text == expected_text(model)


def test_roundtrip_textract_gvision():
    from scribe_js_spark.render_google_vision import render_google_vision
    from scribe_js_spark.render_textract import render_textract

    for doc_id in range(10):
        model = build_doc_model(doc_id)
        res = extract_document(render_textract(model).encode())
        assert res.error is None and res.fmt == "textract"
        assert res.text == expected_text(model), f"textract {doc_id}"
        res = extract_document(render_google_vision(model).encode())
        assert res.error is None and res.fmt == "google_vision"
        assert res.text == expected_text(model), f"gvision {doc_id}"


def test_roundtrip_furniture_and_roles():
    from scribe_js_spark.operators.layout_doc import (
        analyze_layout_doc,
        collect_par_roles,
    )

    for doc_id in range(10):
        model = build_doc_model(doc_id, family="furniture")
        res = extract_document(RENDERERS["hocr"](model).encode())
        assert res.error is None
        assert res.text == expected_text(model), doc_id
        analyze_layout_doc(res.pages)
        got = [(r["page_n"], r["par_n"], r["par_type"])
               for r in collect_par_roles(res.pages)]
        exp = [(pn, pi, par.get("type", "body"))
               for pn, page in enumerate(model["pages"])
               for pi, par in enumerate(page["pars"])]
        assert got == exp, doc_id


def test_pdf_variant_matrix():
    from scribe_js_spark.render_pdf import render_pdf

    model = build_doc_model(3)
    for kwargs in (dict(tj_mode=True), dict(ligatures=True),
                   dict(rotate=True),
                   dict(tj_mode=True, ligatures=True, compress=True),
                   dict(rotate=True, tj_mode=True)):
        res = extract_document(render_pdf(model, **kwargs))
        assert res.error is None, kwargs
        assert res.text == expected_text(model), kwargs


def test_pdf_type_classification():
    from scribe_js_spark.operators.pdf.parse import pdf_document_type
    from scribe_js_spark.render_pdf import render_pdf

    model = build_doc_model(0)
    assert pdf_document_type(render_pdf(model)) == "text"
    assert pdf_document_type(render_pdf(model, invisible=True)) == "ocr"
    empty = build_doc_model(0)
    empty["pages"] = [{"pars": [], "width": 1224, "height": 1584}]
    assert pdf_document_type(render_pdf(empty)) == "image"


def test_skew_family_page_angle():
    import math

    model = build_doc_model(4, family="skew")
    res = extract_document(RENDERERS["hocr"](model).encode())
    assert res.error is None
    assert res.text == expected_text(model)
    want = math.asin(0.02) * 180 / math.pi
    for page in res.pages:
        assert abs(page.angle - want) < 1e-9


def test_footnote_family_roles():
    from scribe_js_spark.operators.layout_doc import (
        analyze_layout_doc,
        collect_par_roles,
    )

    model = build_doc_model(4, family="footnote")
    res = extract_document(RENDERERS["hocr"](model).encode())
    assert res.error is None
    assert res.text == expected_text(model)
    analyze_layout_doc(res.pages)
    roles = [r["par_type"] for r in collect_par_roles(res.pages)]
    assert "footnote" in roles
    got = [(r["page_n"], r["par_n"], r["par_type"])
           for r in collect_par_roles(res.pages)]
    exp = [(pn, pi, par.get("type", "body"))
           for pn, page in enumerate(model["pages"])
           for pi, par in enumerate(page["pars"])]
    assert got == exp


def test_abbyy_rotated_orientation():
    from scribe_js_spark.fixtures import render_abbyy_rotated

    for doc_id in range(8):
        model = build_doc_model(doc_id)
        res = extract_document(render_abbyy_rotated(model).encode())
        assert res.error is None, doc_id
        assert res.text == expected_text(model), doc_id
        assert all(
            l.orientation == 3 for p in res.pages for l in p.lines)


def test_pdf_xref_stream_hex_cid_variants():
    from scribe_js_spark.render_pdf import render_pdf

    model = build_doc_model(3)
    for kwargs in (dict(xref_stream=True), dict(hex_strings=True),
                   dict(cid_font=True),
                   dict(xref_stream=True, cid_font=True, compress=True),
                   dict(xref_stream=True, hex_strings=True, tj_mode=True),
                   dict(cid_font=True, tj_mode=True, rotate=True)):
        res = extract_document(render_pdf(model, **kwargs))
        assert res.error is None, kwargs
        assert res.text == expected_text(model), kwargs


def test_roundtrip_docai_azure():
    from scribe_js_spark.render_cloud import (
        render_azure_docintel,
        render_google_docai,
    )

    for doc_id in range(8):
        model = build_doc_model(doc_id)
        res = extract_document(render_google_docai(model).encode())
        assert res.error is None and res.fmt == "google_doc_ai"
        assert res.text == expected_text(model), f"docai {doc_id}"
        res = extract_document(render_azure_docintel(model).encode())
        assert res.error is None and res.fmt == "azure_doc_intel"
        assert res.text == expected_text(model), f"azure {doc_id}"


def test_corrupt_family_never_fatal():
    from scribe_js_spark.fixtures import make_corrupt_rows

    for row in make_corrupt_rows(40):
        rec = extract_document(row["html"])
        assert rec.error is not None, row["url"]


def test_roundtrip_docx():
    from scribe_js_spark.render_docx import render_docx

    for doc_id in range(8):
        model = build_doc_model(doc_id, n_pages=1)
        res = extract_document(render_docx(model))
        assert res.error is None and res.fmt == "docx"
        assert res.text == expected_text(model), doc_id


def test_pdf_outline():
    from scribe_js_spark.operators.pdf.outline import parse_outline
    from scribe_js_spark.render_pdf import render_pdf

    model = build_doc_model(1)
    data = render_pdf(model, outline=True, compress=True, tj_mode=False,
                      ligatures=False, rotate=False, xref_stream=False,
                      hex_strings=False, cid_font=False)
    res = extract_document(data)
    assert res.error is None
    assert res.text == expected_text(model)
    nodes = parse_outline(data)
    n_pages = len(model["pages"])
    assert len(nodes) == n_pages + 1
    for i in range(n_pages):
        assert nodes[i]["title"] == f"Page {i + 1}"
        assert nodes[i]["page_index"] == i
    # named destination resolves through /Names -> /Dests
    assert nodes[-1]["title"] == "Named"
    assert nodes[-1]["page_index"] == n_pages - 1


def test_html_export():
    from scribe_js_spark.export.html import write_html
    from scribe_js_spark.operators.layout_doc import analyze_layout_doc

    model = build_doc_model(2, family="furniture")
    res = extract_document(RENDERERS["hocr"](model).encode())
    analyze_layout_doc(res.pages)
    html = write_html(res.pages)
    assert html.startswith("<!DOCTYPE html>")
    assert '<header class="running-header">' in html
    assert '<div class="pagenum">' in html
    assert "<p>" in html


def test_pdf_superscript_markers():
    from scribe_js_spark.render_pdf import render_pdf

    model = build_doc_model(2, n_pages=1)
    data = render_pdf(model, compress=False, tj_mode=False, ligatures=False,
                      rotate=False, xref_stream=False, hex_strings=False,
                      cid_font=False, sup_markers=True)
    res = extract_document(data)
    assert res.error is None
    # Expected text: each paragraph's first word gains a trailing ' 9'.
    exp_pars = []
    for page in model["pages"]:
        for par in page["pars"]:
            words = [w["text"] for line in par["lines"] for w in line["words"]]
            words.insert(1, "9")
            exp_pars.append(" ".join(words))
    assert res.text == "\n".join(exp_pars)
    for page in res.pages:
        for par_lines in [page.lines]:
            pass
        first_line = page.lines[0]
        assert first_line.words[1].text == "9"
        assert first_line.words[1].style.sup
        assert not first_line.words[0].style.sup
        # sup chars excluded from the line bbox
        assert first_line.bbox.top == min(
            w.bbox.top for w in first_line.words if not w.style.sup)


def test_two_column_family():
    from scribe_js_spark.fixtures import build_two_column_model
    from scribe_js_spark.render_pdf import render_pdf

    for doc_id in range(10):
        model = build_two_column_model(doc_id)
        res = extract_document(RENDERERS["hocr"](model).encode())
        assert res.error is None
        assert res.text == expected_text(model), f"hocr {doc_id}"
        res = extract_document(render_pdf(
            model, compress=True, tj_mode=False, ligatures=False,
            rotate=False, xref_stream=False, hex_strings=False,
            cid_font=False))
        assert res.error is None
        assert res.text == expected_text(model), f"pdf {doc_id}"


def test_pdf_form_xobject():
    from scribe_js_spark.render_pdf import render_pdf

    for doc_id in (0, 3):
        model = build_doc_model(doc_id)
        model["doc_id"] = doc_id
        data = render_pdf(model, compress=True, tj_mode=False,
                          ligatures=False, rotate=False, xref_stream=False,
                          hex_strings=False, cid_font=False,
                          form_xobject=True)
        res = extract_document(data)
        assert res.error is None
        assert res.text == expected_text(model), doc_id


def test_fuzz_never_raises():
    import random

    rng = random.Random(123)
    for _ in range(120):
        n = rng.randint(0, 400)
        data = bytes(rng.randrange(256) for _ in range(n))
        # Random bytes must never raise — error column or benign result.
        extract_document(data)
    # mutated valid documents
    base = RENDERERS["hocr"](build_doc_model(1)).encode()
    for _ in range(60):
        b = bytearray(base)
        for _ in range(rng.randint(1, 30)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        extract_document(bytes(b))
    pdf_base = None
    from scribe_js_spark.render_pdf import render_pdf
    pdf_base = render_pdf(build_doc_model(1))
    for _ in range(60):
        b = bytearray(pdf_base)
        cut = rng.randrange(1, len(b))
        extract_document(bytes(b[:cut]))  # truncations


def test_column_detection():
    from scribe_js_spark.fixtures import build_two_column_model
    from scribe_js_spark.operators.layout_doc import (
        cluster_peaks,
        detect_column_count,
    )

    assert cluster_peaks([10, 11, 12, 100, 101], tol=5) == [
        (11.0, 3), (100.5, 2)]
    model = build_two_column_model(5)
    res = extract_document(RENDERERS["hocr"](model).encode())
    assert all(detect_column_count(p) == 2 for p in res.pages)
    base = build_doc_model(5)
    res2 = extract_document(RENDERERS["hocr"](base).encode())
    assert all(detect_column_count(p) == 1 for p in res2.pages)


def test_lzw_and_runlength_content_streams():
    """LZWDecode (variable-width, EarlyChange) and RunLengthDecode are
    content-stream-capable filters (PDF 7.4.4/7.4.5) used by
    pre-Flate-era producers; extraction must be byte-identical to the
    Flate path."""
    from scribe_js_spark.extract import extract_document
    from scribe_js_spark.fixtures import build_doc_model
    from scribe_js_spark.render_pdf import render_pdf

    model = build_doc_model(5, n_pages=2)
    base = extract_document(
        render_pdf(model, rotate=False, compress=True))
    assert base.error is None
    for sf in ("lzw", "rle"):
        res = extract_document(
            render_pdf(model, rotate=False, stream_filter=sf))
        assert res.error is None, sf
        assert res.text == base.text, sf


def test_lzw_decoder_edge_cases(monkeypatch):
    from scribe_js_spark import budget
    from scribe_js_spark.operators.pdf.document import (
        _lzw_decode, _rle_decode)
    from scribe_js_spark.render_pdf import _lzw_encode, _rle_encode

    # table growth past the 512/1024 width boundaries and a mid-stream
    # clear (encoder resets near 4096)
    data = bytes((i * 7 + (i >> 3)) % 4 for i in range(80000))
    encoded = _lzw_encode(data)
    assert _lzw_decode(encoded) == data
    # one byte past the per-stream decode budget is refused
    monkeypatch.setattr(budget, "DECODE_BUDGET", len(data) - 1)
    with pytest.raises(budget.BudgetExceeded, match="decode budget"):
        _lzw_decode(encoded)
    monkeypatch.undo()
    # RLE: runs, literals, 128-literal cap, EOD
    data2 = b"x" * 300 + bytes(range(200)) + b"y" * 2 + b"z"
    assert _rle_decode(_rle_encode(data2)) == data2


def test_bounded_inflate_matches_zlib():
    """Below the decode budget, FlateDecode returns and raises exactly
    what ``zlib.decompress`` does: trailing bytes are ignored and a
    truncated stream is an error."""
    import zlib

    from scribe_js_spark.budget import inflate

    def flate(data):
        return inflate(data, zlib.MAX_WBITS, "FlateDecode stream")[0]

    good = zlib.compress(b"BT /F1 12 Tf (x) Tj ET\n" * 200)

    def outcome(fn, data):
        try:
            return fn(data)
        except zlib.error as e:
            return repr(e)

    for data in (good, good + b"junk", good[:-3], good[:5], b""):
        assert outcome(flate, data) == outcome(zlib.decompress, data)


def test_gzip_wrapped_documents_unwrap_transparently():
    """Crawl archives store fetched bodies gzipped; extraction must
    unwrap and produce byte-identical text, and a corrupt wrapper must
    surface as an error, not a crash."""
    import gzip

    from scribe_js_spark.extract import extract_document
    from scribe_js_spark.fixtures import build_doc_model, render_hocr

    model = build_doc_model(9, n_pages=2)
    raw = render_hocr(model).encode("utf-8")
    base = extract_document(raw)
    assert base.error is None
    wrapped = extract_document(gzip.compress(raw))
    assert wrapped.error is None
    assert wrapped.text == base.text
    assert wrapped.fmt == "hocr"
    bad = extract_document(b"\x1f\x8b" + b"garbage!")
    assert bad.error is not None and "gzip" in bad.error
