"""CLI entrypoints — the spark-submit analog of the reference's CLI
(/root/reference/docs/cli.md: extract / type / conf / eval).

Usage (via spark-submit --py-files scribe_js_spark.zip):

    python -m scribe_js_spark extract  INPUT_PARQUET OUTPUT_DIR [--run-id r1]
    python -m scribe_js_spark type     INPUT_PARQUET            # pdf_type per url
    python -m scribe_js_spark conf     INPUT_PARQUET            # conf summary
    python -m scribe_js_spark eval     LAYERS_PARQUET           # eval metrics
    python -m scribe_js_spark dedup    DOCS_PARQUET [--method m]  # near-dup pairs
    python -m scribe_js_spark media    MEDIA_PARQUET              # decode summary
    python -m scribe_js_spark tables   INPUT_PARQUET OUT_DIR       # detected tables -> xlsx+md
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql.types import LongType, StringType, StructField, StructType

from .pipeline import per_document


def _spark(app: str):
    from pyspark.sql import SparkSession

    from .pipeline import session_conf

    return session_conf(
        SparkSession.builder.appName(app)).getOrCreate()


def cmd_extract(args) -> int:
    from .pipeline import run_extraction_job

    spark = _spark("scribe-extract")
    metrics = run_extraction_job(
        spark, args.input, args.output, run_id=args.run_id,
        with_spans=args.spans, salt=True)
    print(metrics)
    return 0


def cmd_type(args) -> int:
    spark = _spark("scribe-type")

    def rows(url, html):
        from .extract import unwrapped
        from .operators.pdf.parse import pdf_document_type

        try:
            body, fmt = unwrapped(bytes(html))
        except Exception:  # a NULL cell or a failed unwrap has no format
            return [(url, None)]
        if fmt == "pdf":
            try:
                fmt = f"pdf:{pdf_document_type(body)}"
            except Exception:
                fmt = "pdf:error"
        return [(url, fmt)]

    schema = StructType([StructField("url", StringType()),
                         StructField("doc_type", StringType())])
    df = spark.read.parquet(args.input).select("url", "html")
    per_document(df, rows, schema) \
        .groupBy("doc_type").count().orderBy("doc_type").show(50, False)
    return 0


def cmd_conf(args) -> int:
    from .pipeline import extract_spans

    import pyspark.sql.functions as F

    spark = _spark("scribe-conf")
    spans = extract_spans(spark.read.parquet(args.input))
    spans.agg(
        F.count("*").alias("words"),
        F.avg((F.col("conf") > 85).cast("int")).alias("high_conf_share"),
    ).show()
    return 0


def cmd_eval(args) -> int:
    from .layers import compare_layers

    spark = _spark("scribe-eval")
    compare_layers(spark.read.parquet(args.input)).show(50, False)
    return 0


def cmd_dedup(args) -> int:
    import pyspark.sql.functions as F

    spark = _spark("scribe-dedup")
    docs = spark.read.parquet(args.input)
    if args.method == "exact":
        from .textops.dedup import exact_dups

        out = exact_dups(docs).filter(F.col("n_copies") > 1)
    elif args.method == "minhash":
        from .textops.dedup import minhash_lsh_pairs

        out = minhash_lsh_pairs(docs)
    elif args.method == "simhash":
        from .textops.dedup import simhash_candidates

        out = simhash_candidates(docs)
    else:  # verified: LSH candidates -> exact Jaccard
        from .textops.dedup import jaccard_for_pairs, minhash_lsh_pairs

        out = jaccard_for_pairs(docs, minhash_lsh_pairs(docs),
                                threshold=args.threshold,
                                ngram=args.ngram)
    out.show(args.limit, False)
    print(f"total: {out.count()}")
    return 0


def cmd_media(args) -> int:
    import pyspark.sql.functions as F

    from .textops.multimodal import decode_media

    spark = _spark("scribe-media")
    meta = decode_media(spark.read.parquet(args.input))
    meta.groupBy("kind", "error").agg(
        F.count("*").alias("n"),
        F.avg("mean_byte").alias("avg_mean")).orderBy("kind").show(50, False)
    return 0


def cmd_tables(args) -> int:
    """Detected tables per document -> one .xlsx (all tables as
    sheets-in-one via blank-row separation) and one .md per url into
    OUT_DIR — the writeTabular verb of the reference CLI, driven by
    the full detectPdfTables ladder."""
    import os

    spark = _spark("scribe-tables")

    def rows(url, html):
        from .export.xlsx import write_xlsx
        from .extract import extracted
        from .operators.pdf.tables_pdf import columns_from_separators
        from .operators.tables import (extract_table_rows,
                                       render_table_markdown)

        os.makedirs(args.output, exist_ok=True)
        matrices = []
        with extracted(html) as (res,):
            for page in res.pages:
                for t in getattr(page, "tables", []) or []:
                    cols = (columns_from_separators(
                        t["bbox"], t["col_separators"])
                        if t["method"] != "grid"
                        and t.get("col_separators") else None)
                    m = extract_table_rows(page, t["bbox"], cols)
                    if m:
                        matrices.append(m)
        slug = url.rstrip("/").rsplit("/", 1)[-1] or "doc"
        if matrices:
            with open(os.path.join(args.output, f"{slug}.xlsx"), "wb") as f:
                f.write(write_xlsx(matrices))
            md = "\n\n".join(render_table_markdown(m) for m in matrices)
            with open(os.path.join(args.output, f"{slug}.md"), "w") as f:
                f.write(md + "\n")
        return [(url, len(matrices),
                 sum(len(r) for m in matrices for r in m))]

    schema = StructType([StructField("url", StringType()),
                         StructField("n_tables", LongType()),
                         StructField("n_cells", LongType())])
    df = spark.read.parquet(args.input).select("url", "html")
    per_document(df, rows, schema).orderBy("url").show(args.limit, False)
    return 0


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(prog="scribe_js_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("extract", help="run the extraction job")
    p.add_argument("input")
    p.add_argument("output")
    p.add_argument("--run-id", default="r1")
    p.add_argument("--spans", action="store_true")
    p.set_defaults(fn=cmd_extract)

    p = sub.add_parser("type", help="classify document types")
    p.add_argument("input")
    p.set_defaults(fn=cmd_type)

    p = sub.add_parser("conf", help="confidence summary")
    p.add_argument("input")
    p.set_defaults(fn=cmd_conf)

    p = sub.add_parser("eval", help="compare OCR layers")
    p.add_argument("input")
    p.set_defaults(fn=cmd_eval)

    p = sub.add_parser("dedup", help="near-duplicate detection")
    p.add_argument("input")
    p.add_argument("--method", default="verified",
                   choices=["exact", "minhash", "simhash", "verified"])
    p.add_argument("--threshold", type=float, default=0.8)
    p.add_argument("--ngram", type=int, default=None)
    p.add_argument("--limit", type=int, default=20)
    p.set_defaults(fn=cmd_dedup)

    p = sub.add_parser("media", help="decode a media table")
    p.add_argument("input")
    p.set_defaults(fn=cmd_media)

    p = sub.add_parser("tables", help="extract detected tables")
    p.add_argument("input")
    p.add_argument("output")
    p.add_argument("--limit", type=int, default=20)
    p.set_defaults(fn=cmd_tables)

    args = parser.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
