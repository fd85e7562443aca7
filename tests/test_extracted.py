"""The one road from stored bytes to page model: the ``CONVERTERS``
table, and the ``extracted`` scope that every consumer of the page
model runs in (directly or through ``pipeline.per_extracted``)."""

import gc
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import BooleanType, StringType, StructField, StructType

from scribe_js_spark import fixtures, pipeline
from scribe_js_spark.extract import CONVERTERS
from scribe_js_spark.operators.archive import gunzip
from scribe_js_spark.operators.detect import detect_document_format

FIX_T2 = os.path.join(os.path.dirname(__file__), "..", "fixtures", "t2")
GARBAGE = b"\x00\x01\x02\x03"


def _set_gc(enabled):
    if enabled:
        gc.enable()
    else:
        gc.disable()


def test_every_detected_format_has_a_converter():
    """Every format ``detect_document_format`` finds over the fixture
    families (the t2 corpus, web pages and EPUBs) is a CONVERTERS key."""
    found = set()
    for name in ("corpus", "webhtml_docs", "epub_docs"):
        for data in pq.read_table(os.path.join(FIX_T2, f"{name}.parquet"),
                                  columns=["html"]).column(0).to_pylist():
            if data[:2] == b"\x1f\x8b":
                data = gunzip(data)
            found.add(detect_document_format(data))
    found.discard(None)  # the corrupt family
    assert {"pdf", "docx", "epub", "webhtml", "hocr", "text"} <= found
    assert found <= set(CONVERTERS)


def test_a_raising_converter_gives_a_parse_failure_row(monkeypatch):
    """A converter bug is the document's error, in the row that
    ``extract_text`` maps; the job goes on."""

    def boom(data):
        raise RuntimeError("converter bug")

    monkeypatch.setitem(CONVERTERS, "hocr", boom)
    data = fixtures.render_hocr(fixtures.build_doc_model(1, n_pages=1))
    rows = pipeline._extract_rows(with_spans=False)("u", data.encode())
    assert rows == [
        ("u", None, None, "parse_failure: RuntimeError: converter bug", 0, 0)]


def test_a_null_document_gives_an_error_row(spark):
    """A NULL ``html`` cell is that document's ``parse_failure``; the
    job completes and every other url's row is unchanged."""
    docs = [fixtures.render_hocr(fixtures.build_doc_model(i, n_pages=1))
            .encode() for i in range(3)]
    rows = [(f"u{i}", doc) for i, doc in enumerate(docs)]

    def extract(rows):
        df = spark.createDataFrame(rows, "url string, html binary")
        return {r.url: r for r in
                pipeline.extract_text(df, salt=False).collect()}

    clean = extract(rows)
    rows[1] = ("u1", None)
    got = extract(rows)
    assert got.keys() == clean.keys()
    assert got["u0"] == clean["u0"] and got["u2"] == clean["u2"]
    assert got["u1"].text is None and got["u1"].format is None
    assert got["u1"].error.startswith("parse_failure: TypeError")


@pytest.mark.parametrize("enabled", [True, False])
def test_per_extracted_consumer_runs_with_gc_off(enabled, monkeypatch):
    """The consumer runs inside the document's scope, with automatic
    collection off; a failed document never reaches it; the caller's
    collector state is restored after both."""
    monkeypatch.setattr(pipeline, "per_document",
                        lambda df, rows_fn, schema: rows_fn)
    seen = []

    def consumer(url, res):
        seen.append(gc.isenabled())
        yield url, len(res.pages)

    rows = pipeline.per_extracted(None, consumer, None)
    good = fixtures.render_abbyy(
        fixtures.build_doc_model(1, n_pages=2)).encode()
    was = gc.isenabled()
    try:
        _set_gc(enabled)
        assert rows("u", good) == [("u", 2)]
        assert gc.isenabled() is enabled
        assert rows("v", GARBAGE) == []
        assert gc.isenabled() is enabled
    finally:
        _set_gc(was)
    assert seen == [False]


def test_per_extracted_consumer_sees_gc_off_in_the_worker(spark):
    schema = StructType([StructField("url", StringType()),
                         StructField("gc_on", BooleanType())])
    good = fixtures.render_hocr(fixtures.build_doc_model(1, n_pages=1))
    df = spark.createDataFrame([("u", good.encode()), ("v", GARBAGE)],
                               "url string, html binary")
    out = pipeline.per_extracted(
        df, lambda url, res: [(url, gc.isenabled())], schema).collect()
    assert [tuple(r) for r in out] == [("u", False)]


def _layer_frames(spark, name, cols, corrupt_col):
    """The first three rows of a layer fixture, clean and with the
    second row's ``corrupt_col`` replaced by garbage, and that url."""
    pdf = pq.read_table(os.path.join(FIX_T2, f"{name}.parquet")).to_pandas()
    pdf = pdf.sort_values("url").head(3).reset_index(drop=True)
    ddl = ", ".join(f"{c} {'string' if c == 'url' else 'binary'}"
                    for c in cols)
    clean = spark.createDataFrame(pdf[cols], ddl)
    pdf.at[1, corrupt_col] = GARBAGE
    return clean, spark.createDataFrame(pdf[cols], ddl), pdf.at[1, "url"]


@pytest.mark.parametrize("op, corrupt_col", [
    ("compare_layers", "html_ocr_a"),
    ("consensus_vote", "html_ocr_a"),
    ("merge_comb_layers", "html_legacy"),
    ("merge_comb_layers", "page_image"),
], ids=["compare_layers", "consensus_vote", "merge_comb_layers",
        "merge_comb_layers-page_image"])
def test_layer_operators_skip_a_corrupt_document(spark, op, corrupt_col):
    """One corrupt layer, or a corrupt page image, drops its document's
    rows and nothing else: the job completes and every other url's rows
    are unchanged."""
    from scribe_js_spark import layers

    if op == "merge_comb_layers":
        cols = ["url", "html_legacy", "html_lstm", "page_image"]
        name = "comb_layers"
    else:
        cols = ["url", "html_truth", "html_ocr_a", "html_ocr_b"]
        name = "layers"
    clean, corrupt, bad_url = _layer_frames(spark, name, cols, corrupt_col)
    run = getattr(layers, op)

    def rows(df):
        return sorted(tuple(r) for r in run(df).collect())

    expected = [r for r in rows(clean) if r[0] != bad_url]
    assert expected and len(expected) < len(rows(clean))
    assert rows(corrupt) == expected
