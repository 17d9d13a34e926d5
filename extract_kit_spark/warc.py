"""WARC source/sink: Common-Crawl-style archives as first-class Spark IO.

The reference ingests documents as uploaded files / fetched URLs
(`packages/api/src/handlers.ts:40-118`); at the 10^12-page scale this
engine targets, the canonical on-disk form of "a crawl" is the WARC
archive (ISO 28500 — the format Common Crawl publishes). This module
closes the loop between the engine's pages table (url, warc_ts,
html-binary) and real archive files:

- **sink** `write_warc`: DataFrame → directory of `.warc.gz` files,
  one file per input partition, EVERY RECORD ITS OWN GZIP MEMBER (the
  Common Crawl / warcio convention). Member framing is what makes a
  100 TB archive splittable: any reader can start decompressing at a
  member offset without touching the preceding bytes, which is exactly
  what the CDX index (below) points at.
- **source** `read_warc`: `binaryFile` scan → `mapInPandas` parse →
  the same page columns. One task per `.warc.gz` file — at crawl
  scale (~1 GiB per archive file) that is the right split granularity,
  and the payload bytes cross no shuffle in either direction.
- **index** `warc_cdx`: per-record (url, file, offset, length, digest)
  rows — the member-offset index that turns an archive directory into
  a random-access store (the role CDX files play for Common Crawl).

Byte-determinism (the repo-wide contract — two runs over the same
input produce byte-identical archives):
- gzip headers pinned: mtime=0, no filename field (gzip.compress with
  mtime=0), fixed compresslevel;
- WARC-Date derived from the row's warc_ts (micro-precision ISO 8601,
  WARC/1.1);
- WARC-Record-ID is a uuid5 of (url, epoch-micros) — stable, not
  wall-clock random;
- records are written in (url, warc_ts) order within a partition and
  the file name is content-addressed (sha256 of its own bytes), so
  identical partitions produce identical files regardless of task ids.

Timestamps cross the Arrow boundary as epoch MICROS (int64, via
F.unix_micros / F.timestamp_micros), never as pandas datetimes — the
conversion is then independent of session/JVM timezone settings.

Spec conformance is pinned independently of this module's own
round-trip: tests/test_warc.py carries a HAND-WRITTEN WARC file (byte
literal) the reader must parse, and a hand-checked expected byte
rendering of one known record from the writer.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import os
import posixpath
import re
import uuid
import zlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

_WARC_UUID_NS = uuid.UUID("6ba7b811-9dad-11d1-80b4-00c04fd430c8")  # RFC 4122 URL ns

_MICROS = 1_000_000


def _warc_date(ts_micros: int) -> str:
    """Micro-precision WARC/1.1 date from epoch micros, no tz math."""
    import datetime as _dt
    ts = _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=ts_micros)
    return ts.strftime("%Y-%m-%dT%H:%M:%S.%fZ")


def _parse_warc_date(s: str) -> int:
    import datetime as _dt
    s = s.strip()
    fmt = "%Y-%m-%dT%H:%M:%S.%fZ" if "." in s else "%Y-%m-%dT%H:%M:%SZ"
    dt = _dt.datetime.strptime(s, fmt)
    return int((dt - _dt.datetime(1970, 1, 1)).total_seconds() * _MICROS)


def record_bytes(url: str, ts_micros: int, payload: bytes,
                 content_type: str = "application/octet-stream",
                 status: int = 200) -> bytes:
    """One uncompressed WARC/1.1 response record: WARC header block +
    an HTTP/1.1 response block carrying the payload. Deterministic —
    no wall clock, no randomness."""
    # UTF-8, not ASCII: WARC/1.1 permits UTF-8 header values (the
    # warcio convention), and pages tables legitimately carry IRI urls
    # — a strict-ascii encode would fail the whole partition write.
    http = (f"HTTP/1.1 {status} OK\r\n"
            f"Content-Type: {content_type}\r\n"
            f"Content-Length: {len(payload)}\r\n"
            f"\r\n").encode("utf-8") + payload
    rid = uuid.uuid5(_WARC_UUID_NS, f"{url}\x00{ts_micros}")
    head = (f"WARC/1.1\r\n"
            f"WARC-Type: response\r\n"
            f"WARC-Record-ID: <urn:uuid:{rid}>\r\n"
            f"WARC-Date: {_warc_date(ts_micros)}\r\n"
            f"WARC-Target-URI: {url}\r\n"
            f"Content-Type: application/http; msgtype=response\r\n"
            f"Content-Length: {len(http)}\r\n"
            f"\r\n").encode("utf-8")
    return head + http + b"\r\n\r\n"


def gzip_member(record: bytes) -> bytes:
    """Compress ONE record as its own gzip member, byte-deterministic
    (mtime pinned to 0, fixed level)."""
    return gzip.compress(record, compresslevel=6, mtime=0)


def _find_blank(buf: bytes, start: int = 0) -> tuple[int, int]:
    """First blank line at/after `start`: returns (offset, terminator
    length). Prefers CRLF-CRLF (the spec framing) but accepts LF-LF —
    real-world WARCs written through text-mode pipes exist, and a
    reader that only claims tolerance is worse than one that has it."""
    crlf = buf.find(b"\r\n\r\n", start)
    lf = buf.find(b"\n\n", start)
    if crlf < 0 and lf < 0:
        return -1, 0
    # an LF-LF that is really the tail of a CRLF-CRLF sits one byte
    # inside it; pick whichever terminator starts first
    if crlf >= 0 and (lf < 0 or crlf <= lf - 1):
        return crlf, 4
    return lf, 2


def _parse_record(rec: bytes) -> dict:
    """Parse one uncompressed WARC record → row dict. Tolerates both
    WARC/1.0 and WARC/1.1, LF or CRLF header lines (splitlines handles
    either), UTF-8 header values (IRI target urls)."""
    sep, seplen = _find_blank(rec)
    if sep < 0:
        raise ValueError("WARC record: missing header terminator")
    headers: dict[str, str] = {}
    lines = rec[:sep].splitlines()
    version = lines[0].decode("utf-8", "replace").strip()
    if not version.startswith("WARC/"):
        raise ValueError(f"WARC record: bad version line {version!r}")
    for ln in lines[1:]:
        k, _, v = ln.partition(b":")
        headers[k.decode("utf-8", "replace").strip().lower()] = \
            v.decode("utf-8", "replace").strip()
    clen = int(headers["content-length"])
    block = rec[sep + seplen:sep + seplen + clen]
    status, ctype, payload = 0, "", b""
    if headers.get("warc-type") == "response" and block[:5] == b"HTTP/" \
            and _find_blank(block)[0] >= 0:
        hsep, hlen = _find_blank(block)
        http_lines = block[:hsep].splitlines()
        parts = http_lines[0].split(b" ", 2)
        status = int(parts[1]) if len(parts) > 1 else 0
        for ln in http_lines[1:]:
            k, _, v = ln.partition(b":")
            if k.strip().lower() == b"content-type":
                ctype = v.decode("utf-8", "replace").strip()
        payload = block[hsep + hlen:]
    else:
        payload = block
    return {
        "url": headers.get("warc-target-uri", ""),
        "ts_micros": _parse_warc_date(headers["warc-date"]),
        "status": status,
        "content_type": ctype,
        "payload": payload,
        "warc_type": headers.get("warc-type", ""),
        "record_id": headers.get("warc-record-id", ""),
    }


def iter_members(data: bytes) -> Iterator[tuple[int, int, bytes]]:
    """Walk the gzip members of a multi-member archive, yielding
    (offset, compressed_length, decompressed_bytes) per member — the
    offsets a CDX index records. Pure zlib, no temp files."""
    pos = 0
    n = len(data)
    while pos < n:
        d = zlib.decompressobj(wbits=16 + zlib.MAX_WBITS)
        out = d.decompress(data[pos:])
        if not d.eof:
            raise ValueError(f"truncated gzip member at offset {pos}")
        consumed = (n - pos) - len(d.unused_data)
        yield pos, consumed, out
        pos += consumed


def iter_member_records(raw: bytes) -> Iterator[dict]:
    """Split ONE decompressed gzip member into its WARC records by
    Content-Length (some writers put many records in a member) and
    parse each. Shared helper between the full scan and the seek-based
    fetch, so both agree on the intra-member framing."""
    pos = 0
    while pos < len(raw):
        sep, seplen = _find_blank(raw, pos)
        if sep < 0:
            break
        head = raw[pos:sep]
        clen = 0
        for hl in head.splitlines()[1:]:
            k, _, v = hl.partition(b":")
            if k.strip().lower() == b"content-length":
                clen = int(v)
        end = sep + seplen + clen
        yield _parse_record(raw[pos:end])
        pos = end
        while raw[pos:pos + 2] == b"\r\n" or raw[pos:pos + 1] == b"\n":
            pos += 2 if raw[pos:pos + 2] == b"\r\n" else 1


def parse_warc_gz(data: bytes) -> Iterator[tuple[int, int, dict]]:
    """(offset, length, row) per record of a member-per-record .warc.gz.
    Also accepts a single-member archive holding many records (some
    writers do that): records are then split by Content-Length and
    every record carries its MEMBER's (offset, length) — a seek to
    that offset recovers a gzip member containing the record, and
    `warc_fetch` disambiguates within the member by (url, ts). No
    record ever gets a sentinel offset, so the cdx → fetch composition
    works for both archive layouts."""
    for off, ln, raw in iter_members(data):
        for rec in iter_member_records(raw):
            yield off, ln, rec


# -- local (no-Spark) writer: used by the fixture generator and tests --------

def write_warc_local(rows: list[dict], out_dir: str,
                     records_per_file: int = 500) -> list[str]:
    """Single-process writer: rows are dicts with url, ts_micros,
    payload (+ optional content_type, status). Files are named by the
    sha256 of their own bytes (content-addressed) — the same naming
    the Spark sink uses, so identical record sets produce identical
    directories no matter which writer produced them."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for f0 in range(0, len(rows), records_per_file):
        buf = io.BytesIO()
        for r in rows[f0:f0 + records_per_file]:
            buf.write(gzip_member(record_bytes(
                r["url"], r["ts_micros"], r["payload"],
                r.get("content_type", "application/octet-stream"),
                r.get("status", 200))))
        data = buf.getvalue()
        name = f"part-{hashlib.sha256(data).hexdigest()[:16]}.warc.gz"
        path = os.path.join(out_dir, name)
        tmp = path + ".tmp"
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.replace(tmp, path)
        paths.append(path)
    return paths


# -- Spark sink ---------------------------------------------------------------

WRITE_MANIFEST_SCHEMA = T.StructType([
    T.StructField("file", T.StringType()),
    T.StructField("n_records", T.LongType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("sha256", T.StringType()),
])


def write_warc(df: DataFrame, out_dir: str) -> DataFrame:
    """Write (url, warc_ts, html[, content_type]) to `out_dir` as
    member-per-record .warc.gz files, ONE FILE PER PARTITION, records
    sorted by (url, warc_ts) within the partition. Callers control
    file sizing by partitioning upstream (repartitionByRange on url
    for the crawl layout). Returns the manifest DataFrame — an action
    on it performs the write (same contract as pipeline lineage).

    No shuffle is introduced here; sortWithinPartitions is a per-task
    sort of already-local rows."""
    # cast covers TIMESTAMP_NTZ parquet columns; the session tz is UTC
    # repo-wide, so the NTZ→TZ interpretation is deterministic
    cols = [F.col("url"),
            F.unix_micros(F.col("warc_ts").cast("timestamp"))
            .alias("ts_micros"),
            F.col("html")]
    if "content_type" in df.columns:
        cols.append(F.col("content_type"))
    src = df.select(*cols).sortWithinPartitions("url", "ts_micros")

    def _write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        buf = io.BytesIO()
        n = 0
        for pdf in batches:
            has_ct = "content_type" in pdf.columns
            for i in range(len(pdf)):
                ct = (pdf["content_type"].iat[i] if has_ct
                      else "application/octet-stream")
                buf.write(gzip_member(record_bytes(
                    pdf["url"].iat[i], int(pdf["ts_micros"].iat[i]),
                    bytes(pdf["html"].iat[i]), ct or
                    "application/octet-stream")))
                n += 1
        if n == 0:
            yield pd.DataFrame(columns=["file", "n_records", "n_bytes",
                                        "sha256"])
            return
        data = buf.getvalue()
        digest = hashlib.sha256(data).hexdigest()
        name = f"part-{digest[:16]}.warc.gz"
        path = os.path.join(out_dir, name)
        tmp = path + f".tmp-{digest[:16]}"
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.replace(tmp, path)  # idempotent under task retry
        yield pd.DataFrame([{"file": name, "n_records": n,
                             "n_bytes": len(data), "sha256": digest}])

    os.makedirs(out_dir, exist_ok=True)
    return src.mapInPandas(_write, schema=WRITE_MANIFEST_SCHEMA)


# -- Spark source -------------------------------------------------------------

READ_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("ts_micros", T.LongType()),
    T.StructField("status", T.IntegerType()),
    T.StructField("content_type", T.StringType()),
    T.StructField("payload", T.BinaryType()),
    T.StructField("warc_file", T.StringType()),
    T.StructField("record_offset", T.LongType()),
    T.StructField("record_length", T.LongType()),
])


#: Archives above this size are quarantined, not parsed: binaryFile
#: materializes a whole archive in one task, so a rogue multi-GiB file
#: would OOM the executor. Common Crawl targets ~1 GiB per archive;
#: 2 GiB leaves headroom while keeping the per-task memory invariant
#: explicit (the same contract as `max_doc_bytes` for documents).
MAX_ARCHIVE_BYTES = 2 << 30

#: content_type marking a quarantined-oversize-archive row (typed
#: error row in the page stream; payload is empty, offsets are -1).
OVERSIZE_CONTENT_TYPE = "application/x-ek-oversize-archive"


_URI_PREFIX = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:(//[^/]*)?")


def _uri_path(p: str) -> str:
    """The path part of a URI ("file:/d", "file:///d", "hdfs://nn/d"
    all give "/d"); a path without a scheme is returned unchanged."""
    return _URI_PREFIX.sub("", p, count=1)


def _scan_root(path: str) -> str:
    """``path`` as binaryFile's ``path`` column spells it once the URI
    prefix is stripped: a plain path is made absolute, a URI keeps only
    its path part (os.path.abspath would glue the URI onto the cwd)."""
    stripped = _uri_path(path)
    if stripped == path:
        return os.path.abspath(path)
    return posixpath.normpath(stripped)


def read_warc(spark: SparkSession, path: "str | list[str]",
              with_index: bool = True,
              max_archive_bytes: int = MAX_ARCHIVE_BYTES) -> DataFrame:
    """Scan .warc.gz files into page rows. `path` is an archive
    directory or an explicit file list (the pipeline's file-group
    resume slices the sorted file list into commit groups, exactly as
    it does for parquet input). One task per file (binaryFile split
    granularity); response records only — warcinfo/request/metadata
    records are skipped, matching how a text pipeline consumes
    Common Crawl.

    Archives larger than `max_archive_bytes` are NOT read (the length
    predicate is pushed down to the binaryFile listing, so their bytes
    never reach an executor); each yields one typed quarantine row
    (content_type=OVERSIZE_CONTENT_TYPE, status=-1, empty payload,
    record_length=file size) so the skip is visible downstream instead
    of silent — the extraction pipeline routes it to quarantine like
    any other unsupported document."""
    # directory input lists RECURSIVELY (recursiveFileLookup, the
    # Spark-native recursion — Hadoop globs can't express "**"), so a
    # directory whose archives live only in subdirectories behaves
    # the same here, in the scan pipeline's Python glob, and in
    # run.py's input validation, which all accept nested archives
    if isinstance(path, str):
        meta = (spark.read.format("binaryFile")
                .option("pathGlobFilter", "*.warc.gz")
                .option("recursiveFileLookup", "true")
                .load(path))
        # warc_file is the path RELATIVE to the scan root (equal to
        # the basename for flat layouts), so warc_fetch(root, cdx)
        # can reopen archives that live in subdirectories
        root = _scan_root(path)
        rel_expr = F.regexp_replace(
            F.col("path"),
            "^.*" + re.escape(root.rstrip("/")) + "/", "")
    else:
        meta = spark.read.format("binaryFile").load(list(path))
        root = None
        rel_expr = F.element_at(F.split(F.col("path"), "/"), -1)
    files = meta.where(F.col("length") <= F.lit(max_archive_bytes)) \
        .select("path", "content")
    oversize = (
        meta.where(F.col("length") > F.lit(max_archive_bytes))
        .select(
            F.element_at(F.split(F.col("path"), "/"), -1).alias("url"),
            F.lit(0).cast("long").alias("ts_micros"),
            F.lit(-1).cast("int").alias("status"),
            F.lit(OVERSIZE_CONTENT_TYPE).alias("content_type"),
            F.lit(b"").cast("binary").alias("payload"),
            rel_expr.alias("warc_file"),
            F.lit(-1).cast("long").alias("record_offset"),
            F.col("length").cast("long").alias("record_length"),
        ))

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for fpath, data in zip(pdf["path"].tolist(),
                                   pdf["content"].tolist()):
                local = _uri_path(fpath)
                base = (posixpath.relpath(local, root) if root
                        else posixpath.basename(local))
                for off, ln, rec in parse_warc_gz(bytes(data)):
                    if rec["warc_type"] != "response":
                        continue
                    rows.append({
                        "url": rec["url"],
                        "ts_micros": rec["ts_micros"],
                        "status": rec["status"],
                        "content_type": rec["content_type"],
                        "payload": rec["payload"],
                        "warc_file": base,
                        "record_offset": off,
                        "record_length": ln,
                    })
            yield pd.DataFrame(
                rows, columns=[f.name for f in READ_SCHEMA.fields])

    out = files.mapInPandas(_parse, schema=READ_SCHEMA) \
        .unionByName(oversize)
    out = out.withColumn("warc_ts", F.timestamp_micros("ts_micros")) \
             .drop("ts_micros")
    if not with_index:
        out = out.drop("warc_file", "record_offset", "record_length")
    return out


FETCH_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("ts_micros", T.LongType()),
    T.StructField("status", T.IntegerType()),
    T.StructField("payload", T.BinaryType()),
])


def warc_fetch(spark: SparkSession, path: str, cdx: DataFrame) -> DataFrame:
    """Random access: given CDX rows (warc_file, record_offset,
    record_length, url), fetch ONLY those records by seeking to each
    gzip member — no full-archive scan. This is the 100 TB win of the
    member-per-record layout: re-pulling a 0.01% sample of a crawl
    reads 0.01% of the bytes.

    The read is grouped per file inside each task (offsets sorted, one
    open handle), and only the index rows shuffle — payload bytes are
    born inside the task, never shuffled in.

    A member holding several records (single-member archives are a
    supported read layout) is decompressed once and the requested
    record is picked by url — plus warc_ts when the cdx frame carries
    it, which `warc_cdx` output always does — so random access works
    for both archive layouts, not just member-per-record."""
    sel = ["url", "warc_file", "record_offset", "record_length"]
    has_ts = "warc_ts" in cdx.columns
    cols = [F.col(c) for c in sel]
    if has_ts:
        cols.append(F.unix_micros(F.col("warc_ts").cast("timestamp"))
                    .alias("want_ts"))
    idx = (cdx.select(*cols)
           .repartition("warc_file")
           .sortWithinPartitions("warc_file", "record_offset"))

    def _fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            handle, cur = None, None
            member_key, member_recs = None, []
            # Spark nulls arrive in pandas as NaN (float64 column),
            # not None — normalize so a null warc_ts means "no ts
            # filter" instead of int(NaN) exploding mid-task
            want_ts = ([None if pd.isna(w) else w
                        for w in pdf["want_ts"].tolist()] if has_ts
                       else [None] * len(pdf))
            try:
                for url, fname, off, ln, wts in zip(
                        pdf["url"].tolist(), pdf["warc_file"].tolist(),
                        pdf["record_offset"].tolist(),
                        pdf["record_length"].tolist(), want_ts):
                    if int(off) < 0 or int(ln) < 0:
                        raise ValueError(
                            f"warc_fetch: negative record_offset/length "
                            f"for url={url!r} file={fname!r}: the index "
                            f"row does not point at a gzip member — "
                            f"random access needs member offsets as "
                            f"produced by warc_cdx")
                    if fname != cur:
                        if handle:
                            handle.close()
                        handle = open(os.path.join(path, fname), "rb")
                        cur = fname
                    if (fname, int(off)) != member_key:
                        handle.seek(int(off))
                        member_recs = list(iter_member_records(
                            gzip.decompress(handle.read(int(ln)))))
                        member_key = (fname, int(off))
                    hits = [r for r in member_recs if r["url"] == url
                            and (wts is None
                                 or r["ts_micros"] == int(wts))]
                    if not hits:
                        raise ValueError(
                            f"warc_fetch: no record for url={url!r} in "
                            f"member at {fname}:{off} — stale index?")
                    rec = hits[0]
                    rows.append({"url": rec["url"],
                                 "ts_micros": rec["ts_micros"],
                                 "status": rec["status"],
                                 "payload": rec["payload"]})
            finally:
                if handle:
                    handle.close()
            yield pd.DataFrame(
                rows, columns=[f.name for f in FETCH_SCHEMA.fields])

    out = idx.mapInPandas(_fetch, schema=FETCH_SCHEMA)
    return out.withColumn("warc_ts", F.timestamp_micros("ts_micros")) \
              .drop("ts_micros")


def warc_cdx(spark: SparkSession, path: str) -> DataFrame:
    """CDX-style member index over an archive directory: one row per
    response record with the gzip-member (offset, length) a random-
    access reader needs, plus the payload digest. Building it is a
    single pass over the archive (the same scan read_warc does) — at
    crawl scale this runs once per crawl and is then the lookup table
    for everything else."""
    df = read_warc(spark, path, with_index=True)
    # oversize-quarantine rows carry no member offset — they are not
    # records and must not enter the random-access index
    df = df.where(F.col("record_offset") >= 0)
    return df.select(
        "url", "warc_ts", "warc_file", "record_offset", "record_length",
        F.sha2("payload", 256).alias("digest"),
        F.length("payload").cast("long").alias("payload_bytes"),
    )
