"""Ingestion utilities: file/bytes sources → rows of the pages table.

The Spark analogue of the reference's source operators (SURVEY.md §2.1):
S1 file-path source (`office-to-markdown/src/index.ts:365-369`), S2
in-memory bytes (`:371-385`), and S4 HTTP-multipart upload → temp file
(`pdf-processor/src/api/handlers.ts:23-56`) all become "append rows to
the input table": the engine reads documents from table bytes, never
from per-file I/O on executors.
"""

from __future__ import annotations

import datetime as _dt
import os

from pyspark.sql import DataFrame, SparkSession

from .schemas import PAGES_SCHEMA


def rows_from_files(paths: list[str],
                    url_prefix: str = "file://") -> list[dict]:
    """S1: local files → row dicts (driver-side; for bulk ingestion use
    rows_from_bytes with payloads fetched by your transport)."""
    rows = []
    for p in paths:
        with open(p, "rb") as f:
            payload = f.read()
        ts = _dt.datetime.fromtimestamp(os.path.getmtime(p),
                                        tz=_dt.timezone.utc)
        rows.append({"url": url_prefix + os.path.abspath(p),
                     "warc_ts": ts.replace(tzinfo=None),
                     "html": payload, "text": "", "lang": ""})
    return rows


def rows_from_bytes(items: list[tuple[str, bytes]],
                    ts: _dt.datetime | None = None) -> list[dict]:
    """S2/S4: (url, payload) pairs → row dicts."""
    ts = ts or _dt.datetime(1970, 1, 1)
    return [{"url": url, "warc_ts": ts, "html": payload,
             "text": "", "lang": ""} for url, payload in items]


def append_pages(spark: SparkSession, rows: list[dict],
                 table_path: str) -> DataFrame:
    """Append rows to the pages table (parquet append; on a real
    catalog this is df.writeTo(tbl).append())."""
    df = spark.createDataFrame(rows, schema=PAGES_SCHEMA)
    df.write.mode("append").parquet(table_path)
    return df
