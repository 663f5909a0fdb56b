"""Structured-Streaming ingest for the KG pipeline.

The batch engine's annotate stage is stateless and row-local, so the
SAME operator graph runs unchanged on a streaming pages source:
readStream(parquet dir) -> annotate (mapInArrow) -> triples ->
writeStream(parquet, exactly-once via checkpoint).  A crawler keeps
appending WARC-derived parquet files; each micro-batch extracts
triples incrementally with per-batch lineage in the checkpoint log.

The reference has no streaming concept (SURVEY.md §2.6); this module
is the Spark-native capability a continuously-crawled corpus needs on
top of it.  The query holds no state: each input file is processed
exactly once, and nothing here deduplicates pages.

Scale notes: the streaming plan is the identical narrow stage as the
batch plan (no shuffle before the sink), so executor scaling behavior
matches the batch measurements in BENCH.md.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (StringType, StructField, StructType,
                               TimestampType)

from ..operators.annotate import annotate_pages, triples_table

PAGES_STREAM_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("text", StringType()),
    StructField("lang", StringType()),
])


def stream_pages(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream of pages parquet (schema fixed up front —
    streaming sources cannot infer)."""
    return spark.readStream.schema(PAGES_STREAM_SCHEMA).parquet(input_dir)


def stream_triples(pages_stream: DataFrame, gazetteer_rows_bc) -> DataFrame:
    """Streaming triples: the batch annotate stage applied verbatim
    (stateless mapInArrow is streaming-compatible)."""
    return triples_table(annotate_pages(pages_stream, gazetteer_rows_bc))


def run_ingest(spark: SparkSession, input_dir: str, out_dir: str,
               checkpoint_dir: str, gazetteer_rows_bc,
               available_now: bool = True):
    """Start the ingest query: pages dir -> triples parquet, exactly
    once per input file via the checkpoint log.  available_now=True
    drains what exists and stops (the batch-incremental 'resume' mode:
    re-running after new files arrive processes only the new files)."""
    triples = stream_triples(stream_pages(spark, input_dir),
                             gazetteer_rows_bc)
    writer = (triples.writeStream
              .format("parquet")
              .option("path", out_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
