"""Structured Streaming extraction.

The reference is a batch parser (whole-string input, cmd/main.cpp:55) and
the north_rule pipeline is batch-over-Iceberg, but a crawl feed is
naturally a stream: this module exposes the same extraction as an
incremental job — file-source stream of interleaved documents →
mapInArrow extraction (stateless, so it streams without watermarks) →
parquet sink with exactly-once checkpointing.

Resume story mirrors the batch job: the streaming checkpoint directory
plays the role of the Iceberg snapshot pin — a restarted query continues
from the last committed batch, never re-emitting a processed doc.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from html_qt_spark.operators.extract import extract_spans_doc

NESTED_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("spans", T.ArrayType(T.StructType([
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]))),
])


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    mode: str = "spans",
) -> StreamingQuery:
    """Start the streaming extraction query.

    ``available_now=True`` drains everything currently in ``input_dir``
    and stops (the test/backfill mode); ``False`` runs continuously
    picking up new files as the crawler drops them.

    ``mode``: "spans" (ordered span rows) or "markdown" (one
    structure-preserving Markdown row per document,
    operators/extract.py::extract_markdown_doc).  Both are stateless
    narrow maps, so they stream without watermarks and the exactly-once
    checkpoint story is identical.
    """
    reader = spark.readStream.schema(NESTED_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)

    if mode == "markdown":
        from html_qt_spark.operators.extract import extract_markdown_doc

        out = extract_markdown_doc(stream)
    elif mode == "spans":
        out = extract_spans_doc(stream)
    else:
        raise ValueError(f"mode must be 'spans' or 'markdown', got {mode!r}")

    writer = (out.writeStream
              .format("parquet")
              .option("path", out_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


METRICS_SCHEMA = T.StructType([
    T.StructField("event_time", T.TimestampType()),
    T.StructField("doc_id", T.StringType()),
    T.StructField("n_spans", T.IntegerType()),
])


def stream_windowed_metrics(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    *,
    window_dur: str = "10 minutes",
    watermark: str = "10 minutes",
    query_name: str = "span_metrics",
) -> StreamingQuery:
    """Event-time tumbling-window throughput metrics with a watermark.

    The batch pipeline records per-partition metrics
    (plans/pipeline.py); a live crawl wants them as a rolling stream:
    tumbling ``window_dur`` windows over ingest event time, counting
    docs/spans per window.  The ``watermark`` bounds state AND late
    data: a metrics row arriving more than ``watermark`` behind the
    stream's max event time is dropped, and a window only finalizes
    (append mode) once the watermark passes its end — which is what
    bounds state size on an unbounded 10^12-doc crawl feed.

    File-source stream of METRICS_SCHEMA parquet; memory sink under
    ``query_name`` (tests/dashboards); one file per trigger so
    watermark advancement across micro-batches is deterministic.
    """
    from pyspark.sql import functions as F

    stream = (spark.readStream.schema(METRICS_SCHEMA)
              .option("maxFilesPerTrigger", 1)
              .option("latestFirst", "false")
              .option("recursiveFileLookup", "true")
              .parquet(input_dir))
    agg = (
        stream.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window_dur).alias("w"))
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_spans").cast("long").alias("n_spans"))
        .select(F.col("w.start").alias("w_start"), "n_docs", "n_spans")
    )
    return (agg.writeStream
            .format("memory")
            .queryName(query_name)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start())
