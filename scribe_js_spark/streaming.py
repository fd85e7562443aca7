"""Structured Streaming front-ends.

The reference is strictly batch-per-document (SURVEY.md §2.12) — these
wrap the same extraction operators for incremental operation, the
Spark-native analog of re-running `extractTextDir` over a growing
directory:

- ``stream_extract_text``: ``readStream`` over a corpus directory ->
  the identical ``extract_text`` extraction -> ``writeStream`` with
  checkpointing. With ``Trigger.AvailableNow`` this is an incremental
  batch: each invocation processes only files added since the last
  checkpoint (the Iceberg-snapshot incremental pattern from SURVEY.md
  §2.12).
- ``stream_events_hourly``: event-time tumbling-window aggregation with
  a watermark for late data — the standard stateful-streaming shape for
  the metrics feed.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .pipeline import extract_text

CORPUS_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                 "text string, lang string")


def stream_extract_text(spark: SparkSession, input_dir: str,
                        output_dir: str, checkpoint_dir: str,
                        available_now: bool = True):
    """Incremental extraction over a growing parquet directory.

    Returns the started StreamingQuery; with ``available_now`` the query
    drains everything new and stops (call ``awaitTermination``).
    """
    stream = (
        spark.readStream.schema(CORPUS_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )
    writer = (
        extract_text(stream, salt=False).writeStream
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_dedup_exact(docs_stream: DataFrame,
                       text_col: str = "text") -> DataFrame:
    """Custom stateful streaming operator: exact near-real-time dedup
    via ``applyInPandasWithState``. State is keyed by the md5 text
    signature; the first document per signature passes through, later
    copies are dropped and counted. This is the streaming analog of
    ``textops.dedup.exact_dups`` — the canonical
    'custom stateful operator' shape (SURVEY.md §2.12): at production
    scale each signature's state is a single tiny record, partitioned
    by the hash, so state size is bounded by the number of DISTINCT
    documents, never the stream length."""
    from typing import Iterator, Tuple

    import pandas as pd
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    out_schema = ("doc_id long, text_sig string, is_first boolean, "
                  "n_seen long")
    state_schema = "n_seen long, first_doc_id long"

    def fn(key: Tuple, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        (sig,) = key
        n_seen, first_id = (state.get if state.exists
                            else (0, None))
        rows = {"doc_id": [], "text_sig": [], "is_first": [],
                "n_seen": []}
        for pdf in pdfs:
            for doc_id in pdf["doc_id"]:
                n_seen += 1
                if first_id is None:
                    first_id = int(doc_id)
                rows["doc_id"].append(int(doc_id))
                rows["text_sig"].append(sig)
                rows["is_first"].append(n_seen == 1)
                rows["n_seen"].append(n_seen)
        state.update((n_seen, first_id))
        yield pd.DataFrame(rows)

    keyed = docs_stream.select(
        "doc_id", F.md5(F.col(text_col)).alias("text_sig"))
    return keyed.groupBy("text_sig").applyInPandasWithState(
        fn, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout)


def stream_events_hourly(spark: SparkSession, events_stream: DataFrame,
                         watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window aggregation over an event stream:
    (window, event_type) -> count + value cents. Feed any streaming
    source with (ts timestamp, event_type string, value double)."""
    return (
        events_stream
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .alias("sum_cents"),
        )
        .select(
            F.col("win.start").alias("hour"), "event_type",
            "n_events", "sum_cents")
    )


def stream_extract_warc(spark: SparkSession, input_dir: str,
                        output_dir: str, checkpoint_dir: str,
                        available_now: bool = True):
    """Continuous crawl ingestion: watch a directory for new WARC
    archives (``binaryFile`` source), explode each into the
    (url, warc_ts, html) input table and extract — raw crawl archive
    to clean text as a stream. Malformed archives skip inside the UDF;
    the checkpoint makes every archive exactly-once."""
    from .operators.warc import warc_to_table
    from .pipeline import extract_text

    stream = (
        spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp, "
                "length long, content binary")
        .option("pathGlobFilter", "*.warc*")
        .option("maxFilesPerTrigger", 4)
        .load(input_dir)
        .select(F.col("content").alias("warc"))
    )
    extracted = extract_text(warc_to_table(stream), salt=False)
    writer = (
        extracted.writeStream
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
