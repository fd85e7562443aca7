"""Workload inputs, made from the seed alone.

The program sees only the generated rows; the goldens travel beside
them and never come from the extractor or the textops operators.
"""

from __future__ import annotations

import os
import random
from datetime import datetime, timezone

import numpy as np
import pandas as pd

from scribe_js_spark import fixtures as fx

#: Documents per extraction job. The bench page-size mix puts exactly
#: one 200-500 page document in every 100 doc ids (ids 59, 159, ...),
#: so 200 documents hold the two stragglers the 1% tail promises.
OCR_DOCS = 200
#: One deliberately corrupt row per this many documents.
CORRUPT_EVERY = 50
#: Web pages the traced layer pass adds to the corpus (the timed job
#: does not run them), so the webhtml converter is measured too.
WEB_PAGES = 20

#: near_dups table sizes: half the sf0.1 documents/embeddings rows.
DEDUP_DOCS = 2500
DEDUP_VECS = 1000


def ocr_rows(seed: int) -> list[dict]:
    """``fixtures.make_bench_rows``: the 19-family FORMAT_MIX with the
    skewed page mix, plus the corrupt share, whose golden is no text."""
    rows = fx.make_bench_rows(OCR_DOCS, seed=seed)
    ts = datetime(2026, 1, 1, tzinfo=timezone.utc)
    for r in fx.make_corrupt_rows(OCR_DOCS // CORRUPT_EVERY):
        rows.append({"url": r["url"], "warc_ts": ts, "html": r["html"],
                     "text": None, "lang": "und"})
    return rows


def _golden_model(url: str, seed: int) -> tuple[str, dict]:
    """(format slug, document model) that ``make_bench_rows`` rendered
    for ``url``, on the golden side: pdf_cffsub drops the chars its
    font subset omits."""
    slug, doc = url.rsplit("/", 2)[-2:]
    doc_id = int(doc)
    family = {"hocr_char": "charlevel", "hocr_cjk": "cjk"}.get(slug, "base")
    n_pages = 1 if slug in ("text", "docx") else fx.bench_page_count(doc_id)
    model = fx.build_doc_model(doc_id, seed=seed, n_pages=n_pages,
                               family=family)
    if slug == "pdf_cffsub":
        model = fx.strip_model_chars(model, fx.CFF_DROP_CODES)
    return slug, model


def span_goldens(rows: list[dict], seed: int) -> dict[str, tuple]:
    """Per url with a golden text, from the generator's document model:
    (span row count = ``fixtures.expected_counts`` word_count, span rows
    or None). The rows themselves (``fixtures.expected_spans``, without
    the url field) are known for hocr and alto, whose converters pass
    the word geometry through."""
    out = {}
    for r in rows:
        if r["text"] is None:
            continue
        slug, model = _golden_model(r["url"], seed)
        spans = None
        if slug in ("hocr", "alto"):
            spans = [{k: v for k, v in s.items() if k != "url"}
                     for s in fx.expected_spans(model, slug, r["url"])]
        out[r["url"]] = (fx.expected_counts(model)["word_count"], spans)
    return out


def web_pages(seed: int, n: int) -> list[dict]:
    """``fixtures.build_webhtml_models`` Common-Crawl-style pages as
    corpus rows (the golden is the page's main-content text)."""
    rows = []
    for doc_id in range(n):
        m = fx.build_webhtml_models(doc_id, seed=seed)
        rows.append({"url": f"https://fixtures.test/webhtml/{doc_id:08d}",
                     "html": m["html"].encode("utf-8"),
                     "text": m["expected"]})
    return rows


def write_corpus(rows: list[dict], path: str) -> None:
    """The input table ``(url, warc_ts, html, text, lang)`` with small
    row groups, as ``fixtures.ensure_bench_corpus`` lays it out."""
    df = pd.DataFrame(rows)[["url", "warc_ts", "html", "text", "lang"]]
    df["warc_ts"] = (pd.to_datetime(df["warc_ts"]).dt.tz_localize(None)
                     .astype("datetime64[us]"))
    df.to_parquet(path, index=False, row_group_size=8)


def write_warmup(rows: list[dict], path: str, n_files: int) -> None:
    """``n_files`` small input files of two light documents each: one
    scan partition per file, so the warm-up starts every worker."""
    light = [r for r in rows
             if r["text"] is not None and len(r["html"]) < 64 * 1024]
    os.makedirs(path, exist_ok=True)
    for i in range(n_files):
        write_corpus(light[2 * i:2 * i + 2],
                     os.path.join(path, f"part-{i:03d}.parquet"))


# ------------------------------------------------------------ near_dups
#
# The generators below reproduce the shape of the sf ``documents`` and
# ``embeddings`` tables (perfbench/README.md lists what was measured on
# sf0.1), at half the sf0.1 row counts.

#: The 30-word vocabulary of the sf documents table.
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
#: One row in this many is a near copy: another row's text + " dup".
COPY_EVERY = 20


def documents(seed: int, n: int) -> pd.DataFrame:
    """sf-shaped ``documents``: texts of 10-99 tokens drawn uniformly
    from VOCAB; then n / COPY_EVERY rows, in order, each become a random
    row's text + " dup" (so a copy may copy a copy, and two copies of
    one row are exact duplicates)."""
    rng = random.Random(seed)
    texts = [" ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 99)))
             for _ in range(n)]
    for i in sorted(rng.sample(range(n), n // COPY_EVERY)):
        texts[i] = texts[rng.randrange(n)] + " dup"
    langs = np.random.RandomState(seed).choice(LANGS, size=n, p=LANG_P)
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(seed: int, n: int, dim: int = 64) -> pd.DataFrame:
    """sf-shaped ``embeddings``: independent standard-normal vectors
    scaled to unit length, as float32, with a uniform label 0-9 that is
    unrelated to the vector."""
    rs = np.random.RandomState(seed)
    vecs = rs.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(vecs.astype(np.float32)),
        "label": rs.randint(0, 10, size=n).astype(np.int32),
    })


def images(root: str) -> tuple[str, set[tuple[int, int]]]:
    """The committed ``fixtures.write_imagedup_parquet`` media table that
    ``__spark_entry__`` checks image_near_dups on, and its constructed
    near-dup pair set: (parquet path, {(id_a, id_b)})."""
    t2 = os.path.join(root, "fixtures", "t2")
    pairs = pd.read_parquet(os.path.join(t2, "imagedup_pairs.parquet"))
    return (os.path.join(t2, "imagedup_docs.parquet"),
            {(int(a), int(b)) for a, b in zip(pairs["id_a"], pairs["id_b"])})
