"""Spark wrappers for multi-layer comparison / consensus.

The grouping key is the document (all pages of both layers live in one
row), so the comparison is a zero-shuffle ``per_extracted`` map, in
which a document with a layer that fails to extract yields no rows — the
distributed analog of compareOCR's per-page worker jobs
(/root/reference/js/recognizeConvert.js:221-276) with doc-level metric
reduction (calcEvalStatsDoc, :139-160).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .pipeline import per_extracted

EVAL_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("total", LongType()),
    StructField("correct", LongType()),
    StructField("incorrect", LongType()),
    StructField("missed", LongType()),
    StructField("extra", LongType()),
    StructField("correctLowConf", LongType()),
    StructField("incorrectHighConf", LongType()),
])

CONSENSUS_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("word_id", StringType()),
    StructField("text", StringType()),
    StructField("conf", IntegerType()),
])

COMB_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("line_n", LongType()),
    StructField("word_n", LongType()),
    StructField("word_id", StringType()),
    StructField("text", StringType()),
    StructField("conf", LongType()),
    StructField("left", LongType()),
    StructField("right", LongType()),
])


def compare_layers(df: DataFrame, cand_col: str = "html_ocr_a",
                   truth_col: str = "html_truth") -> DataFrame:
    """Per-url eval metrics of a candidate layer vs a ground-truth
    layer: per-page compare, doc-level sums."""

    keys = EVAL_SCHEMA.names[1:]

    def rows(url, cand, truth):
        from .operators.compare import compare_ocr_page

        pages_a, pages_b = cand.pages, truth.pages
        totals = dict.fromkeys(keys, 0)
        for i in range(max(len(pages_a), len(pages_b))):
            pa = pages_a[i] if i < len(pages_a) else None
            pb = pages_b[i] if i < len(pages_b) else None
            if pa is None or pb is None:
                if pb is not None:
                    totals["total"] += sum(len(l.words) for l in pb.lines)
                    totals["missed"] += sum(len(l.words) for l in pb.lines)
                continue
            m = compare_ocr_page(pa, pb)
            for k in keys:
                totals[k] += m[k]
        return [(url, *totals.values())]

    return per_extracted(
        df.select("url", cand_col, truth_col), rows, EVAL_SCHEMA)


def consensus_vote(df: DataFrame, base_col: str = "html_ocr_a",
                   comp_cols: tuple = ("html_truth", "html_ocr_b")) -> DataFrame:
    """Per-word consensus decisions for base vs N comparator layers."""

    def rows(url, base, *comps):
        from .operators.compare import build_consensus_page

        comp_layers = [c.pages for c in comps]
        for i, base_page in enumerate(base.pages):
            res = build_consensus_page(base_page, [
                (layer[i] if i < len(layer) else None)
                for layer in comp_layers])
            for d in res["decisions"]:
                yield url, d["word_id"], d["text"], d["conf"]

    return per_extracted(
        df.select("url", base_col, *comp_cols), rows, CONSENSUS_SCHEMA)


def merge_comb_layers(df: DataFrame, col_a: str = "html_legacy",
                      col_b: str = "html_lstm",
                      legacy_lstm_comb: bool = True,
                      image_col: str = "page_image") -> DataFrame:
    """Comb-mode merge of two engine layers per document: page-pairwise
    comb_merge_page (compareOCRModule.js comb branch), emitting the
    merged word stream. Zero-shuffle ``per_extracted`` map keyed by
    document.

    When the input carries ``image_col`` (PNG bytes of the binarized
    page scan, nullable), conflicts are additionally scored with the
    image-based evalWords metric against page 0's image — the
    reference's visual comparison path. An undecodable image drops the
    document's rows, as a failed layer does."""
    has_image = image_col in df.columns

    def rows(url, doc_a, doc_b, raw=None):
        from .operators.comb import comb_merge_page

        pages_a, pages_b = doc_a.pages, doc_b.pages
        image = None
        if raw:
            from .textops.multimodal import decode_png

            try:
                _w, _h, _c, px = decode_png(raw)
            except Exception:  # noqa: BLE001 — like a failed layer
                return
            image = px[:, :, 0]
        for i, pa in enumerate(pages_a):
            if i >= len(pages_b):
                break
            merged = comb_merge_page(
                pa, pages_b[i],
                legacy_lstm_comb=legacy_lstm_comb,
                page_image=image if i == 0 else None)
            for line_n, line in enumerate(merged.lines):
                for word_n, w in enumerate(line.words):
                    yield (url, line_n, word_n, w.id, w.text, int(w.conf),
                           int(w.bbox.left), int(w.bbox.right))

    cols = ["url", col_a, col_b] + ([image_col] if has_image else [])
    return per_extracted(df.select(*cols), rows, COMB_SCHEMA,
                         raw=int(has_image))
