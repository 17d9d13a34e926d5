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
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import types as T

from .schemas import PAGES_SCHEMA


def _read(spark: SparkSession, schema: T.StructType, input_dir: str,
          max_files_per_trigger: int | None):
    """File-source parquet stream over ``input_dir``. Smaller
    microbatches (``max_files_per_trigger``) also advance the watermark
    WITHIN one availableNow run: it moves between batches, so a
    single-batch drain would finalize no window until the next run."""
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    return reader.load(input_dir)


def _drain(df: DataFrame, output_dir: str, await_termination: bool):
    """Append ``df`` to <output_dir>/data with its checkpoint at
    <output_dir>/_checkpoint, draining what is present and stopping
    (availableNow). Returns the StreamingQuery."""
    query = (df.writeStream
             .format("parquet")
             .option("path", os.path.join(output_dir, "data"))
             .option("checkpointLocation",
                     os.path.join(output_dir, "_checkpoint"))
             .trigger(availableNow=True)
             .outputMode("append")
             .start())
    if await_termination:
        query.awaitTermination()
    return query


def run_extraction_stream(spark: SparkSession, input_dir: str,
                          output_dir: str, profile: str = "auto",
                          max_files_per_trigger: int | None = None,
                          await_termination: bool = True):
    """Incremental extraction over a growing pages directory.

    Each invocation processes exactly the files not yet recorded in the
    checkpoint, writes parquet to <output_dir>/data, and stops
    (availableNow). Returns the StreamingQuery (already terminated when
    ``await_termination``)."""
    from .pipeline import extract_stage
    from pyspark.sql import functions as F
    from .kernels.extract import MAX_DOC_BYTES

    pages = (_read(spark, PAGES_SCHEMA, input_dir, max_files_per_trigger)
             .select("url", "warc_ts", "html")
             .withColumn("src_file", F.lit("stream")))
    return _drain(extract_stage(pages, profile, MAX_DOC_BYTES),
                  output_dir, await_termination)


EVENTS_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])


def run_event_window_stream(spark: SparkSession, input_dir: str,
                            output_dir: str,
                            window_duration: str = "1 hour",
                            watermark_delay: str = "2 hours",
                            max_files_per_trigger: int | None = None,
                            await_termination: bool = True):
    """Watermarked tumbling-window aggregation over a growing events
    directory — the stateful-streaming counterpart to the batch
    ``evt_hourly_windows`` query.

    - ``withWatermark(ts, delay)`` bounds state: a window is FINALIZED
      (emitted to the append-mode parquet sink, exactly once) when the
      watermark passes its end; later rows for it are late data and are
      dropped, so state size is O(open windows), not O(history).
    - ``availableNow`` drains what is present and stops; still-open
      windows persist in checkpointed state and are emitted by a later
      run once newer events advance the watermark — results converge to
      the batch computation window by window.
    """
    from pyspark.sql import functions as F

    ev = _read(spark, EVENTS_SCHEMA, input_dir, max_files_per_trigger)
    agg = (ev.withWatermark("ts", watermark_delay)
           .groupBy(F.window("ts", window_duration).alias("w"),
                    "event_type")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 4).alias("total_value"))
           .select(F.date_format(F.col("w.start"),
                                 "yyyy-MM-dd HH:mm:ss")
                   .alias("window_start"),
                   "event_type", "n_events", "total_value"))
    return _drain(agg, output_dir, await_termination)


SESSION_OUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("session_start", T.TimestampType()),
    T.StructField("session_end", T.TimestampType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("total_value", T.DoubleType()),
])

_SESSION_STATE_SCHEMA = T.StructType([
    T.StructField("ts_ms", T.ArrayType(T.LongType())),
    T.StructField("vals", T.ArrayType(T.DoubleType())),
])

SESSION_GAP_MS = 30 * 60 * 1000


def run_session_stream(spark: SparkSession, input_dir: str,
                       output_dir: str,
                       gap_ms: int = SESSION_GAP_MS,
                       watermark_delay: str = "2 hours",
                       max_files_per_trigger: int | None = None,
                       await_termination: bool = True):
    """CUSTOM STATEFUL streaming operator (applyInPandasWithState):
    per-user sessionization with a 30-min inactivity gap — the
    streaming twin of the batch ``evt_sessionize`` window query, and
    the pattern for any operator Spark's built-in windowed aggs can't
    express (per-key custom state machines).

    WATERMARK-FINAL semantics: events are buffered in state (arrays of
    (ts_ms, value)) and a session is emitted only once the watermark
    has passed session_end + gap — at that point no event the watermark
    still admits can extend, split, or merge it, so every emitted
    session is EXACTLY the batch ``evt_sessionize`` answer even when
    in-watermark events arrive out of order across microbatches (a
    late event can retroactively merge two provisional spans because
    nothing has been emitted yet). An event-time timeout at
    last_seen + gap lets the watermark flush idle users with no new
    data. Emissions are exactly-once into the append-mode parquet
    sink; state is bounded by the watermark delay: only events from
    not-yet-final sessions (age < delay + gap) are retained."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import (GroupState,
                                             GroupStateTimeout)
    import pandas as pd

    def _sessions(rows):
        """Split sorted (ms, v) rows into gap-delimited sessions:
        (start, end, n, total) with total accumulated in ts order."""
        sess = []
        start = last = None
        n, total = 0, 0.0
        for ms, v in rows:
            if start is None:
                start = last = ms
            elif ms - last > gap_ms:
                sess.append((start, last, n, total))
                start = ms
                n, total = 0, 0.0
            last = ms
            n += 1
            total += v
        if start is not None:
            sess.append((start, last, n, total))
        return sess

    def sessionize(key, pdfs, state: GroupState):
        uid = key[0]
        out = []
        if state.hasTimedOut:
            ts_ms, vals = state.get
            for start, last, n, total in _sessions(
                    sorted(zip(ts_ms, vals))):
                out.append((uid, start, last, n, total))
            state.remove()
        else:
            rows = []
            for pdf in pdfs:
                for ts, v in zip(pdf["ts"], pdf["value"]):
                    rows.append((int(pd.Timestamp(ts).value // 10**6),
                                 float(v)))
            if state.exists:
                ts_ms, vals = state.get
                rows.extend(zip(ts_ms, vals))
            rows.sort()
            wm = state.getCurrentWatermarkMs()
            pending = []
            for start, last, n, total in _sessions(rows):
                if wm > last + gap_ms:  # final: no admissible event can touch it
                    out.append((uid, start, last, n, total))
                else:
                    pending.append((start, last, n, total))
            if pending:
                keep = [(ms, v) for ms, v in rows
                        if ms >= pending[0][0]]
                state.update(([ms for ms, _ in keep],
                              [v for _, v in keep]))
                # fires once the watermark passes last+gap (must be
                # strictly ahead of the current watermark)
                state.setTimeoutTimestamp(
                    max(keep[-1][0] + gap_ms, wm + 1))
            else:
                state.remove()
        if out:
            yield pd.DataFrame(
                {"user_id": [r[0] for r in out],
                 "session_start": [pd.Timestamp(r[1], unit="ms")
                                   for r in out],
                 "session_end": [pd.Timestamp(r[2], unit="ms")
                                 for r in out],
                 "n_events": [r[3] for r in out],
                 "total_value": [round(r[4], 6) for r in out]})

    ev = (_read(spark, EVENTS_SCHEMA, input_dir, max_files_per_trigger)
          .withWatermark("ts", watermark_delay)
          .select("ts", "user_id", "value"))
    sessions = (ev.groupBy("user_id")
                .applyInPandasWithState(
                    sessionize, SESSION_OUT_SCHEMA,
                    _SESSION_STATE_SCHEMA, "append",
                    GroupStateTimeout.EventTimeTimeout))
    return _drain(sessions, output_dir, await_termination)


def run_click_attribution_stream(spark: SparkSession, input_dir: str,
                                 output_dir: str,
                                 attribution_window: str = "10 minutes",
                                 watermark_delay: str = "2 hours",
                                 max_files_per_trigger: int | None = None,
                                 await_termination: bool = True):
    """STREAM-STREAM interval join (the remaining §2.11 streaming
    shape): clicks join the same user's most-recent-admissible views
    within ``attribution_window``. Both sides are watermarked so Spark
    bounds the join state: a buffered view can be dropped once the
    click-side watermark passes view_ts + window, which is exactly the
    condition under which no future click can match it. Inner joins
    emit as matches arrive (exactly-once into the append parquet
    sink); the batch twin of the same predicate converges to identical
    pairs — asserted in tests."""
    from pyspark.sql import functions as F

    views = (_read(spark, EVENTS_SCHEMA, input_dir, max_files_per_trigger)
             .where(F.col("event_type") == "view")
             .select(F.col("user_id").alias("v_user"),
                     F.col("event_id").alias("view_id"),
                     F.col("ts").alias("view_ts"))
             .withWatermark("view_ts", watermark_delay))
    clicks = (_read(spark, EVENTS_SCHEMA, input_dir, max_files_per_trigger)
              .where(F.col("event_type") == "click")
              .select("user_id",
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts"),
                      "value")
              .withWatermark("click_ts", watermark_delay))
    joined = (clicks.join(
        views,
        F.expr(f"""v_user = user_id
                   AND view_ts <= click_ts
                   AND click_ts <= view_ts + interval {attribution_window}
                """), "inner")
        .select("user_id", "click_id", "click_ts", "view_id",
                "view_ts", "value"))
    return _drain(joined, output_dir, await_termination)


def run_dedup_stream(spark: SparkSession, input_dir: str,
                     output_dir: str,
                     watermark_delay: str = "2 hours",
                     max_files_per_trigger: int | None = None,
                     await_termination: bool = True):
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

    pages = (_read(spark, PAGES_SCHEMA, input_dir, max_files_per_trigger)
             .withColumn("fingerprint",
                         fingerprint(F.decode("html", "UTF-8")))
             .withWatermark("warc_ts", watermark_delay)
             .dropDuplicatesWithinWatermark(["fingerprint"]))
    return _drain(pages.select("url", "warc_ts", "fingerprint"),
                  output_dir, await_termination)


def run_url_dedup_stream(spark: SparkSession, input_dir: str,
                         output_dir: str,
                         watermark_delay: str = "2 hours",
                         max_files_per_trigger: "int | None" = None,
                         await_termination: bool = True):
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

    pages = (_read(spark, PAGES_SCHEMA, input_dir, max_files_per_trigger)
             .withColumn("canonical_url", canonical_url(F.col("url")))
             .withWatermark("warc_ts", watermark_delay)
             .dropDuplicatesWithinWatermark(["canonical_url"]))
    return _drain(pages.select("url", "canonical_url", "warc_ts"),
                  output_dir, await_termination)
