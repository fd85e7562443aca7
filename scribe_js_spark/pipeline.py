"""Spark extraction pipeline.

The distributed analog of the reference's batch CLI
(/root/reference/js/extractTextDir.js: directory walk -> worker pool ->
per-document extraction, per-file errors never abort the batch):

    input df (url, warc_ts, html, text, lang)
      -> [optional salt repartition by size bucket]     # skew handling
      -> per_document(extract)                          # one row = one doc,
                                                        # zero shuffles in the
                                                        # hot path
      -> (url, text, format, page_count, word_count, error[, spans])

Python runs through one map, ``per_batch`` (``mapInArrow``): columnar
kernels call it directly, row functions through ``per_document``, and
consumers of the page model through ``per_extracted``, its form over
extracted documents.

Design notes for 100 TB scale:
- One row = one document end-to-end: the parse, paragraph assignment and
  text fold all happen inside a single Arrow-batched UDF, so the only
  shuffle in the whole job is the optional salting repartition.
- Skew: document parse cost varies by orders of magnitude. ``salt=True``
  hash-repartitions on (size_bucket, url) so the 1% of 200-500-page
  documents spread evenly instead of stacking in input-split order.
  AQE rebalances shuffle partitions but not UDF compute skew — the salt
  is ours to apply (SURVEY.md §4.1).
- Resume: ``resume_against`` anti-joins previously committed urls so a
  restarted run only processes the remainder (per-partition lineage is
  the output table itself, keyed by run_id).
- Commit: ``run_extraction_job`` is one write job plus a one-row
  sidecar commit. The sidecar's aggregates are observed on the rows as
  they are written, so the metrics cover this call's commit and the
  output is never read back.
- Arrow batch size: documents are large; cap records per batch via
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` (set in session_conf).
- Worker start-up: session_conf forks the Python workers from
  ``scribe_js_spark.daemon``, which imports the extraction stack once
  per executor instead of once per worker.
"""

from __future__ import annotations

from typing import Optional

import pyspark.sql.functions as F
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

SPAN_STRUCT = StructType([
    StructField("page_n", IntegerType()),
    StructField("line_n", IntegerType()),
    StructField("word_n", IntegerType()),
    StructField("word_id", StringType()),
    StructField("text", StringType()),
    StructField("left", DoubleType()),
    StructField("top", DoubleType()),
    StructField("right", DoubleType()),
    StructField("bottom", DoubleType()),
    StructField("conf", DoubleType()),
    StructField("sup", BooleanType()),
    StructField("bold", BooleanType()),
    StructField("italic", BooleanType()),
    StructField("smallCaps", BooleanType()),
    StructField("dropcap", BooleanType()),
    StructField("baseline_slope", DoubleType()),
    StructField("baseline_offset", DoubleType()),
    StructField("par_n", IntegerType()),
    StructField("par_type", StringType()),
])

EXTRACT_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("text", StringType()),
    StructField("format", StringType()),
    StructField("error", StringType()),
    StructField("page_count", IntegerType()),
    StructField("word_count", IntegerType()),
])

EXTRACT_SPANS_SCHEMA = StructType(
    EXTRACT_SCHEMA.fields + [StructField("spans", ArrayType(SPAN_STRUCT))])


def session_conf(builder):
    """Recommended extraction-job settings, applied to a SparkSession
    builder. A caller can override any of them with ``.config(...)``
    after ``session_conf``."""
    return (
        builder
        # Workers fork from a daemon that has already imported the
        # extraction stack (see scribe_js_spark/daemon.py).
        .config("spark.python.daemon.module", "scribe_js_spark.daemon")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batches are bounded by BYTES (the load-bearing cap for
        # multi-MB document rows: 16 MB/batch regardless of row count —
        # verified on this Spark: a batch closes when EITHER cap is hit,
        # for mapInArrow and mapInPandas alike). The record cap is a
        # secondary bound; 64 would fragment narrow-row Python stages
        # (e.g. 16-byte pair rows) into ~10 us-a-piece micro-batches,
        # so it sits at 4096 now that the byte cap carries the memory
        # contract.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(16 * 1024 * 1024))
        # Fine-grained input splits: document rows are heavy to *process*
        # relative to their bytes, so target many small scan partitions
        # and let the scheduler balance them instead of shuffling bytes.
        .config("spark.sql.files.maxPartitionBytes", str(1 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(128 * 1024))
        # local mode: no data locality to wait for
        .config("spark.locality.wait", "0s")
    )


def per_document(df: DataFrame, rows_fn, schema: StructType) -> DataFrame:
    """The per-row form of ``per_batch``: every Python operator that
    maps input rows to output rows goes through it.

    ``rows_fn(*row)`` runs on each row of ``df``, its columns in order
    as Python values, and returns an iterable of tuples in ``schema``
    field order (none to skip the row). Each output column is one
    ``pyarrow.array`` of its field's type, where a float NaN becomes
    null, as in pandas. A tuple of the wrong width raises ValueError,
    and a float or a bool in an integer field raises TypeError.
    Exceptions are not caught: a never-fatal operator catches its own."""
    from pyspark.sql.pandas.types import to_arrow_schema

    types = to_arrow_schema(schema).types

    def column(values, t):
        import pyarrow as pa

        if not pa.types.is_integer(t):
            return pa.array(values, type=t, from_pandas=True)
        # pa.array(type=int32) would truncate 3.5 to 3: infer, refuse
        # anything but integers and nulls, then cast (which refuses an
        # overflow)
        col = pa.array(values, from_pandas=True)
        if not (pa.types.is_integer(col.type) or pa.types.is_null(col.type)):
            raise TypeError(f"{col.type} values in an integer field")
        return col.cast(t)

    def kernel(batch):
        rows = [out for row in zip(*(col.to_pylist() for col in batch.columns))
                for out in rows_fn(*row)]
        cols = zip(*rows, strict=True) if rows else [[]] * len(types)
        return [column(col, t) for col, t in zip(cols, types, strict=True)]

    return per_batch(df, kernel, schema)


def per_batch(df: DataFrame, kernel, schema: StructType) -> DataFrame:
    """The one Python map: every Python operator, columnar kernel or
    ``per_document`` row function, goes through this ``mapInArrow``.

    ``kernel(batch)`` runs on each ``pyarrow.RecordBatch`` of ``df`` and
    returns one ``pyarrow.Array`` per ``schema`` field, in field order
    and of one common length. A field declared NOT NULL must get no
    null: Spark trusts the declaration and plans on it."""
    names = schema.names

    def fn(batches):
        import pyarrow as pa

        for batch in batches:
            yield pa.RecordBatch.from_arrays(kernel(batch), names=names)

    return df.mapInArrow(fn, schema)


def per_extracted(df: DataFrame, rows_fn, schema: StructType,
                  raw: int = 0) -> DataFrame:
    """``per_document`` for every consumer of the page model. The first
    column of ``df`` is the key; the others hold stored documents,
    except the last ``raw`` columns, which pass through as they are (a
    page image, say). A row's documents are extracted inside one
    ``extract.extracted`` scope, and a row with a failed document yields
    nothing. Otherwise ``rows_fn(key, *results, *raw_values)`` runs on
    the ``DocResult``s and its rows are materialised before the scope
    closes; ``DocResult.data`` holds the stored bytes."""

    def rows(key, *cols):
        from .extract import extracted

        n_docs = len(cols) - raw
        with extracted(*cols[:n_docs]) as results:
            if any(res.error is not None for res in results):
                return []
            return list(rows_fn(key, *results, *cols[n_docs:]))

    return per_document(df, rows, schema)


def _extract_rows(with_spans: bool):
    """``per_document`` row function of the extraction hot path."""
    schema = EXTRACT_SPANS_SCHEMA if with_spans else EXTRACT_SCHEMA
    keys = schema.names[1:]

    def rows(url, html):
        from .extract import extract_with_spans

        rec = extract_with_spans(html, with_spans=with_spans)
        return [(url, *(rec[k] for k in keys))]

    return rows


def salt_by_size(df: DataFrame, num_partitions: Optional[int] = None) -> DataFrame:
    """Spread large documents across partitions.

    Size bucket = log2 of byte length; hash-repartition on
    (bucket, url) so each partition receives a mix of sizes. This is
    the explicit analog of the reference's rolling-window job dispatch
    (/root/reference/js/extractPDFText.js:36-48) for a shared-nothing
    cluster.
    """
    salted = df.withColumn(
        "_size_bucket",
        F.floor(F.log2(F.greatest(F.length("html"), F.lit(1)))),
    )
    if num_partitions:
        salted = salted.repartition(num_partitions, "_size_bucket", "url")
    else:
        salted = salted.repartition("_size_bucket", "url")
    return salted.drop("_size_bucket")


def extract_text(
    df: DataFrame,
    with_spans: bool = False,
    salt: bool = True,
    num_partitions: Optional[int] = None,
    resume_against: Optional[DataFrame] = None,
) -> DataFrame:
    """Run the extraction pipeline over an input DataFrame.

    ``resume_against``: a DataFrame of already-committed output (must
    contain ``url``); those documents are skipped via a left-anti join —
    the checkpoint/resume contract of the north rule.
    """
    work = df.select("url", "html")
    if resume_against is not None:
        work = work.join(resume_against.select("url"), on="url", how="left_anti")
    if salt:
        work = salt_by_size(work, num_partitions)
    # Unsalted path stays zero-shuffle on purpose: an A/B with a
    # round-robin spread_input() here measured 2.3x SLOWER on the
    # bench corpus (19-20 s vs 8 s) — repartitioning multi-MB binary
    # document rows pays a per-row sort (sortBeforeRepartition) plus a
    # full serialize/deserialize of the payload, which dwarfs the
    # parallelism gain; fine-grained row groups in the input file give
    # the scan its parallelism without moving bytes (round 6).

    # mapInArrow against the mapInPandas it replaced, 10 interleaved
    # ocr_mixed pairs on a 4-core VM: 22.5 vs 23.8 docs per CPU-s
    # (medians), inside the 5.0 IQR of the mapInPandas runs.
    return per_document(
        work, _extract_rows(with_spans),
        EXTRACT_SPANS_SCHEMA if with_spans else EXTRACT_SCHEMA)


def extract_spans(df: DataFrame, **kwargs) -> DataFrame:
    """Exploded ordered span rows: one row per word
    (expected_spans schema, FIXTURES.md §4)."""
    res = extract_text(df, with_spans=True, **kwargs)
    return (
        res.filter(F.col("error").isNull())
        .select("url", F.explode("spans").alias("s"))
        .select("url", "s.*")
    )


def extract_par_roles(df: DataFrame) -> DataFrame:
    """Document-level layout pass: extraction + furniture-role
    classification (header/footer/pagenum/title). The whole document is
    one row, so the cross-page pass (recurring header keys, folio
    sequences) needs no shuffle — the grouped-pass analog of the
    reference's main-thread analyzeLayout join (SURVEY.md §3.1 step 3)."""
    schema = StructType([
        StructField("url", StringType()),
        StructField("page_n", IntegerType()),
        StructField("par_n", IntegerType()),
        StructField("par_type", StringType()),
    ])

    def rows(url, res):
        from .operators.layout_doc import analyze_layout_doc, collect_par_roles

        analyze_layout_doc(res.pages)
        return [(url, r["page_n"], r["par_n"], r["par_type"])
                for r in collect_par_roles(res.pages)]

    return per_extracted(df.select("url", "html"), rows, schema)


def _metric_aggs() -> list:
    """The sidecar's aggregates over committed rows, shared by
    ``extraction_metrics`` and the observation in ``run_extraction_job``."""
    failed = F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0))
    return [
        F.count("*").alias("docs_total"),
        failed.alias("docs_failed"),
        (failed / F.count("*")).alias("parse_failure_rate"),
        F.sum("page_count").alias("pages_total"),
        F.sum("word_count").alias("spans_total"),
    ]


def extraction_metrics(result: DataFrame) -> DataFrame:
    """Aggregate job metrics: docs, failure rate, span counts —
    the metrics sidecar committed alongside each output write
    (north rule). Pure DataFrame aggregation, no UDF."""
    return result.agg(*_metric_aggs())


#: Sidecar columns in commit order, with their Spark SQL types.
_SIDECAR_COLUMNS = (
    ("run_id", "string"),
    ("docs_total", "bigint"),
    ("docs_failed", "bigint"),
    ("parse_failure_rate", "double"),
    ("pages_total", "bigint"),
    ("spans_total", "bigint"),
    ("partitions_total", "bigint"),
    ("elapsed_sec", "double"),
    ("docs_per_sec", "double"),
)

#: The read error of an existing output that holds no commit yet (an
#: empty directory).
_NO_PRIOR_OUTPUT = "UNABLE_TO_INFER_SCHEMA"


def _output_exists(spark: SparkSession, output_path: str, fmt: str) -> bool:
    if fmt != "parquet":
        return spark.catalog.tableExists(output_path)
    jvm = spark.sparkContext._jvm
    path = jvm.org.apache.hadoop.fs.Path(output_path)
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs.exists(path)


def _prior_output(spark: SparkSession, output_path: str,
                  fmt: str) -> Optional[DataFrame]:
    """The committed output to resume against, or None when there is
    none yet. Existence is checked first: a failed read would reach the
    session's query listeners, which log it as an error. Any other read
    failure (a corrupt footer, a schema conflict, a permission error)
    raises: treating it as empty would re-append every document."""
    if not _output_exists(spark, output_path, fmt):
        return None
    try:
        return (spark.read.parquet(output_path) if fmt == "parquet"
                else spark.read.table(output_path))
    except AnalysisException as e:
        if e.getCondition() == _NO_PRIOR_OUTPUT:
            return None
        raise


def run_extraction_job(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    run_id: str,
    fmt: str = "parquet",
    with_spans: bool = False,
    salt: bool = True,
    resume: bool = True,
) -> dict:
    """End-to-end job: read -> (resume anti-join) -> extract -> commit
    output + metrics. Returns the committed metrics row as a dict.

    The commit is one write job plus a one-row sidecar write. The
    metrics are observed on the rows while they are written, so they
    describe the rows *this call* committed (rows an earlier call
    committed under the same ``run_id`` are not counted).

    With an Iceberg catalog configured, ``fmt='iceberg'`` writes to a
    table instead of a path; the parquet path is the sandbox stand-in
    with identical commit semantics (output + metrics per run_id).
    """
    import time

    df = spark.read.parquet(input_path) if fmt == "parquet" \
        else spark.read.table(input_path)
    resume_against = _prior_output(spark, output_path, fmt) if resume else None

    t0 = time.time()
    result = extract_text(
        df, with_spans=with_spans, salt=salt, resume_against=resume_against)
    # per-partition lineage: every committed row names the run AND the
    # task partition that produced it, so a partial failure is
    # attributable and the resume anti-join (keyed on url within
    # run_id history) restarts exactly the unprocessed remainder
    result = result.withColumn("run_id", F.lit(run_id)) \
        .withColumn("lineage_partition", F.spark_partition_id())
    # Observed after the salt shuffle, so the metrics are collected in
    # the write's result stage, where a retried or speculative task
    # attempt counts once. Unnamed: concurrent jobs cannot collide.
    seen = Observation()
    result = result.observe(
        seen, *_metric_aggs(),
        F.size(F.collect_set("lineage_partition")).alias("partitions_total"))
    if fmt == "parquet":
        result.write.mode("append").parquet(output_path)
    else:
        result.writeTo(output_path).append()
    elapsed = time.time() - t0

    metrics_row = seen.get
    metrics_row["elapsed_sec"] = elapsed
    metrics_row["docs_per_sec"] = (
        metrics_row["docs_total"] / elapsed if elapsed > 0 else None)
    metrics_row["run_id"] = run_id

    # the row is built from literals in the JVM: no Python worker runs
    metrics_df = spark.range(0, 1, 1, 1).select(*(
        F.lit(metrics_row[name]).cast(dtype).alias(name)
        for name, dtype in _SIDECAR_COLUMNS))
    if fmt == "parquet":
        metrics_df.write.mode("append").parquet(output_path + "_metrics")
    else:
        metrics_df.writeTo(output_path + "_metrics").append()
    return metrics_row


def write_bucketed(df: DataFrame, table: str, n_buckets: int,
                   bucket_col: str = "url") -> None:
    """Persist a table bucketed (and sorted) by ``bucket_col`` so that
    subsequent equi-joins and aggregations on that key are co-located:
    two tables bucketed the same way join with ZERO Exchange nodes —
    at 100 TB that turns the biggest shuffle in a multi-layer compare
    (joining OCR layers / resuming against committed output on url)
    into a map-side merge. Spark bucketing rides the session catalog
    (saveAsTable); set ``spark.sql.warehouse.dir`` to the target
    storage root."""
    (df.write.mode("overwrite")
     .bucketBy(n_buckets, bucket_col)
     .sortBy(bucket_col)
     .format("parquet")
     .saveAsTable(table))


def write_searchable_pdfs(df: DataFrame, text_mode: str = "invis",
                          on_unencodable: str = "embed") -> DataFrame:
    """Corpus-scale searchable-PDF generation: extract every document
    and re-emit it as a text-layer PDF (url, pdf binary, error) — the
    distributed form of the reference's extract->writePdf flow. Zero
    shuffles: extraction and writing happen in one Arrow-batched UDF
    per document."""
    from pyspark.sql.types import BinaryType

    schema = StructType([
        StructField("url", StringType()),
        StructField("pdf", BinaryType()),
        StructField("error", StringType()),
    ])

    def rows(url, html):
        from .export.pdf import write_text_pdf
        from .extract import extracted

        blob = None
        with extracted(html) as (res,):
            err = res.error
            if err is None:
                try:
                    blob = write_text_pdf(
                        res.pages, text_mode=text_mode,
                        on_unencodable=on_unencodable)
                except Exception as e:  # noqa: BLE001 — never-fatal
                    err = f"write_failure: {e}"
        return [(url, blob, err)]

    return per_document(df.select("url", "html"), rows, schema)


def register_sql_functions(spark: SparkSession) -> None:
    """Expose the engine to pure Spark SQL: after this,
    ``SELECT scribe_extract_text(html) FROM corpus`` works anywhere a
    SQL string does. All three functions are scalar ``arrow_udf``s over
    the same per-document core the DataFrame API uses; none raises.

    - scribe_extract_text(binary) -> string (NULL on parse failure)
    - scribe_extract_error(binary) -> string (NULL on success)
    - scribe_detect_format(binary) -> string (NULL when undetected)
    """
    from pyspark.sql.functions import arrow_udf

    def register(name, one):
        def column(html):
            import pyarrow as pa

            return pa.array([one(b) for b in html.to_pylist()], pa.string())

        # no function type and no type hints: a scalar arrow_udf, and no
        # warning that type hints are preferred
        spark.udf.register(name, arrow_udf(column, "string"))

    def extracted_field(field):
        def one(b):
            from .extract import extracted

            with extracted(b) as (res,):
                return getattr(res, field)

        return one

    def detected_format(b):
        from .extract import unwrapped

        try:
            return unwrapped(b)[1]
        except Exception:  # noqa: BLE001 — a failed unwrap has no format
            return None

    register("scribe_extract_text", extracted_field("text"))
    register("scribe_extract_error", extracted_field("error"))
    register("scribe_detect_format", detected_format)
