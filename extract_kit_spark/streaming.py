"""Structured Streaming variant of the extraction job.

The reference has NO streaming semantics (SURVEY.md §1.3 — its only
"stream" is eager file draining), so the batch pipeline with manifest
resume is the primary engine. This module exists because a
Common-Crawl-style corpus is usually APPENDED to: new WARC dumps land
as new parquet files. Spark's file-source streaming turns the same
fused extraction stage into an incremental job where the checkpoint
(processed-files log + offsets) replaces the hand-rolled manifest:

    readStream(pages dir) → mapInPandas(extract) → writeStream(parquet)

- ``trigger(availableNow=True)`` drains everything currently present
  and stops — a "catch-up batch" with streaming's exactly-once file
  accounting; rerunning after new files arrive processes ONLY them.
- the checkpoint dir gives exactly-once output across restarts (file
  sink commits via the manifest-log mechanism Spark ships).
- no watermarks/state needed: extraction is stateless per row, so the
  plan stays a pure map — identical scale behavior to the batch scan
  layout (no shuffle, no barrier).

Two ingest-side jobs read the same pages stream: ``run_dedup_stream``
and ``run_url_dedup_stream`` drop repeated content and repeated
canonical urls under a watermark that bounds their state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .schemas import PAGES_SCHEMA


def _read(spark: SparkSession, input_dir: str,
          max_files_per_trigger: int | None):
    """File-source parquet stream of pages over ``input_dir``. With
    ``max_files_per_trigger`` one availableNow run drains the files as
    several microbatches: the dedup jobs' watermark advances between
    them, so their state is evicted within the run, and a crash can
    land between committed microbatches."""
    reader = spark.readStream.schema(PAGES_SCHEMA).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    return reader.load(input_dir)


def _drain(df: DataFrame, output_dir: str):
    """Append ``df`` to <output_dir>/data with its checkpoint at
    <output_dir>/_checkpoint, draining what is present and stopping
    (availableNow). Returns the terminated StreamingQuery."""
    query = (df.writeStream
             .format("parquet")
             .option("path", os.path.join(output_dir, "data"))
             .option("checkpointLocation",
                     os.path.join(output_dir, "_checkpoint"))
             .trigger(availableNow=True)
             .outputMode("append")
             .start())
    query.awaitTermination()
    return query


def run_extraction_stream(spark: SparkSession, input_dir: str,
                          output_dir: str, profile: str = "auto",
                          max_files_per_trigger: int | None = None):
    """Incremental extraction over a growing pages directory.

    Each invocation processes exactly the files not yet recorded in the
    checkpoint, writes parquet to <output_dir>/data, and stops
    (availableNow). Returns the terminated StreamingQuery."""
    from .pipeline import extract_stage
    from pyspark.sql import functions as F
    from .kernels.extract import MAX_DOC_BYTES

    pages = (_read(spark, input_dir, max_files_per_trigger)
             .select("url", "warc_ts", "html")
             .withColumn("src_file", F.lit("stream")))
    return _drain(extract_stage(pages, profile, MAX_DOC_BYTES), output_dir)


def run_dedup_stream(spark: SparkSession, input_dir: str,
                     output_dir: str,
                     watermark_delay: str = "2 hours",
                     max_files_per_trigger: int | None = None):
    """STREAMING exact dedup of an append-only pages corpus: each
    incoming page's normalized-text fingerprint is checked against
    streaming state and only first-seen documents pass — the
    incremental twin of ops/dedup.dedup_exact.

    Uses ``dropDuplicatesWithinWatermark`` (not plain dropDuplicates):
    state for a fingerprint is dropped once the watermark passes its
    first event time + delay, so state size is bounded by the
    watermark horizon instead of growing with all history — the only
    formulation that survives an unbounded crawl. The semantic
    consequence (documented, deliberate): a re-crawl of identical
    content more than ``watermark_delay`` after the original is
    admitted again; at 100 TB the horizon is set to the crawl's
    re-visit period, and a periodic batch dedup_exact compacts the
    output table."""
    from pyspark.sql import functions as F
    from .ops.textstats import fingerprint

    pages = (_read(spark, input_dir, max_files_per_trigger)
             .withColumn("fingerprint",
                         fingerprint(F.decode("html", "UTF-8")))
             .withWatermark("warc_ts", watermark_delay)
             .dropDuplicatesWithinWatermark(["fingerprint"]))
    return _drain(pages.select("url", "warc_ts", "fingerprint"), output_dir)


def run_url_dedup_stream(spark: SparkSession, input_dir: str,
                         output_dir: str,
                         watermark_delay: str = "2 hours",
                         max_files_per_trigger: int | None = None):
    """STREAMING url-level dedup of an append-only crawl log: each
    incoming url is canonicalized (ops/weburl.canonical_url — the
    same pure-expression chain as the batch op, so stream and batch
    agree byte-for-byte on the key) and only the FIRST page per
    canonical url within the watermark horizon passes. This is the
    frontier-side twin of ops/weburl.url_dedup: run it on the ingest
    stream so variant urls (tracking params, fragments, case noise)
    never reach the extraction kernels at all.

    Same bounded-state contract as run_dedup_stream:
    dropDuplicatesWithinWatermark keeps per-key state only until the
    watermark passes first-seen + delay — a re-crawl of the same
    canonical url after the horizon is admitted again, and the
    periodic batch url_dedup compacts the output."""
    from pyspark.sql import functions as F
    from .ops.weburl import canonical_url

    pages = (_read(spark, input_dir, max_files_per_trigger)
             .withColumn("canonical_url", canonical_url(F.col("url")))
             .withWatermark("warc_ts", watermark_delay)
             .dropDuplicatesWithinWatermark(["canonical_url"]))
    return _drain(pages.select("url", "canonical_url", "warc_ts"),
                  output_dir)
