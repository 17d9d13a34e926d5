"""WARC source/sink tests. Spec conformance is pinned by HAND-WRITTEN
bytes (a record the reader must parse, and the exact expected byte
rendering of a known record from the writer) — independent of the
module's own round-trip, so a writer+parser bug pair that agreed on a
wrong framing would still fail here."""

import gzip
import hashlib
import os

import pytest

from extract_kit_spark import warc
from extract_kit_spark.fixtures import gen_pages

# A WARC/1.0 response record composed by hand from the ISO 28500
# grammar (header lines, blank line, HTTP block of Content-Length
# bytes, two CRLF terminators). The reader must accept 1.0 and
# second-precision dates.
_HAND_RECORD = (
    b"WARC/1.0\r\n"
    b"WARC-Type: response\r\n"
    b"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-000000000001>\r\n"
    b"WARC-Date: 2024-03-05T12:00:07Z\r\n"
    b"WARC-Target-URI: https://hand.example/x\r\n"
    b"Content-Type: application/http; msgtype=response\r\n"
    b"Content-Length: 77\r\n"
    b"\r\n"
    b"HTTP/1.1 404 OK\r\n"
    b"Content-Type: text/plain\r\n"
    b"Content-Length: 12\r\n"
    b"\r\n"
    b"hello\nworld\n"
    b"\r\n\r\n"
)


def test_reader_parses_handwritten_record():
    rec = warc._parse_record(_HAND_RECORD)
    assert rec["url"] == "https://hand.example/x"
    assert rec["status"] == 404
    assert rec["content_type"] == "text/plain"
    assert rec["payload"] == b"hello\nworld\n"
    # 2024-03-05T12:00:07Z by hand: 19787 days * 86400 + 43207 s
    assert rec["ts_micros"] == (19787 * 86400 + 43207) * 1_000_000


def test_reader_parses_handwritten_archive(tmp_path):
    # two members: a warcinfo record (must be skipped by the response
    # consumer) then the hand record
    info = (b"WARC/1.0\r\n"
            b"WARC-Type: warcinfo\r\n"
            b"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-000000000002>\r\n"
            b"WARC-Date: 2024-03-05T12:00:00Z\r\n"
            b"Content-Type: application/warc-fields\r\n"
            b"Content-Length: 19\r\n\r\n"
            b"software: by-hand\r\n"
            b"\r\n\r\n")
    data = gzip.compress(info, mtime=0) + gzip.compress(_HAND_RECORD,
                                                        mtime=0)
    recs = [(off, ln, r) for off, ln, r in warc.parse_warc_gz(data)]
    assert [r["warc_type"] for _, _, r in recs] == ["warcinfo",
                                                    "response"]
    off, ln, hand = recs[1]
    # offsets point at standalone gzip members
    assert gzip.decompress(data[off:off + ln]) == _HAND_RECORD
    assert hand["payload"] == b"hello\nworld\n"


def test_writer_exact_bytes():
    # expected bytes written BY HAND from the spec for
    # record_bytes("https://a/b", 0, b"hi", "text/html", 200); the
    # uuid5 value is pinned so an accidental id-scheme change surfaces
    got = warc.record_bytes("https://a/b", 0, b"hi", "text/html", 200)
    expect = (
        b"WARC/1.1\r\n"
        b"WARC-Type: response\r\n"
        b"WARC-Record-ID: "
        b"<urn:uuid:b6f902d1-2a3d-5ff0-ba13-0c9b9c77328c>\r\n"
        b"WARC-Date: 1970-01-01T00:00:00.000000Z\r\n"
        b"WARC-Target-URI: https://a/b\r\n"
        b"Content-Type: application/http; msgtype=response\r\n"
        b"Content-Length: 65\r\n"
        b"\r\n"
        b"HTTP/1.1 200 OK\r\n"
        b"Content-Type: text/html\r\n"
        b"Content-Length: 2\r\n"
        b"\r\n"
        b"hi"
        b"\r\n\r\n"
    )
    assert got == expect
    # round-trips through its own parser
    rec = warc._parse_record(got)
    assert (rec["url"], rec["status"], rec["payload"]) == (
        "https://a/b", 200, b"hi")


def _pages_rows(n=60):
    rows = []
    import datetime as dt
    epoch = dt.datetime(1970, 1, 1)
    for r in gen_pages(n):
        td = r["warc_ts"] - epoch
        rows.append({"url": r["url"],
                     "ts_micros": (td.days * 86400 + td.seconds)
                     * 1_000_000 + td.microseconds,
                     "payload": r["html"]})
    return rows


def test_local_writer_roundtrip(tmp_path):
    rows = _pages_rows(60)
    paths = warc.write_warc_local(rows, str(tmp_path / "a"),
                                  records_per_file=17)
    got = {}
    for p in paths:
        for _, _, rec in warc.parse_warc_gz(open(p, "rb").read()):
            got[rec["url"]] = rec
    assert len(got) == 60
    for r in rows:
        g = got[r["url"]]
        assert g["payload"] == r["payload"]
        assert g["ts_micros"] == r["ts_micros"]
    # byte determinism: a second write produces identical file names
    # (names are content hashes) and bytes
    paths2 = warc.write_warc_local(rows, str(tmp_path / "b"),
                                   records_per_file=17)
    assert [os.path.basename(p) for p in paths] == \
        [os.path.basename(p) for p in paths2]
    for p1, p2 in zip(paths, paths2):
        assert open(p1, "rb").read() == open(p2, "rb").read()


@pytest.fixture(scope="module")
def pages_df(spark):
    import pyarrow.parquet as pq
    from extract_kit_spark.fixtures import _rows_to_arrow
    rows = gen_pages(80)
    for r in rows:
        r.pop("_kind")
    path = "/tmp/ekspark_warc_test_pages.parquet"
    pq.write_table(_rows_to_arrow(rows), path)
    return spark.read.parquet(path)


def test_spark_sink_source_roundtrip(spark, pages_df, tmp_path):
    out = str(tmp_path / "archive")
    manifest = warc.write_warc(pages_df.repartition(4, "url"),
                               out).collect()
    assert sum(m.n_records for m in manifest) == 80
    # manifest digests match the files on disk
    for m in manifest:
        data = open(os.path.join(out, m.file), "rb").read()
        assert hashlib.sha256(data).hexdigest() == m.sha256
        assert len(data) == m.n_bytes

    back = warc.read_warc(spark, out)
    src = {r.url: r for r in pages_df.collect()}
    got = back.collect()
    assert len(got) == 80
    for g in got:
        s = src[g.url]
        assert bytes(g.payload) == bytes(s.html), g.url
        assert g.warc_ts == s.warc_ts, g.url
        assert g.status == 200


def test_spark_fetch_seeks_members(spark, pages_df, tmp_path):
    out = str(tmp_path / "archive")
    warc.write_warc(pages_df.repartition(4, "url"), out).collect()
    cdx = warc.warc_cdx(spark, out)
    wanted = cdx.orderBy("url").limit(7)
    fetched = warc.warc_fetch(spark, out, wanted).collect()
    assert len(fetched) == 7
    src = {r.url: bytes(r.html) for r in pages_df.collect()}
    for f in fetched:
        assert bytes(f.payload) == src[f.url]


def test_scan_pipeline_over_warc_matches_parquet(spark, tmp_path):
    """End-to-end: the CLI's scan-layout extraction over a WARC
    archive directory produces exactly the rows (byte-identical
    extracted text per url) that the same pages produce from parquet —
    the source format is transparent to the pipeline."""
    import datetime as dt

    import pyarrow.parquet as pq

    from extract_kit_spark import pipeline
    from extract_kit_spark.fixtures import _rows_to_arrow

    n = 48
    rows = gen_pages(n)
    for r in rows:
        r.pop("_kind")
    pq_dir = tmp_path / "pages_pq"
    pq_dir.mkdir()
    pq.write_table(_rows_to_arrow(rows[:24]),
                   str(pq_dir / "part-0.parquet"))
    pq.write_table(_rows_to_arrow(rows[24:]),
                   str(pq_dir / "part-1.parquet"))

    epoch = dt.datetime(1970, 1, 1)
    wrows = []
    for r in rows:
        td = r["warc_ts"] - epoch
        wrows.append({"url": r["url"],
                      "ts_micros": (td.days * 86400 + td.seconds)
                      * 1_000_000 + td.microseconds,
                      "payload": r["html"]})
    warc_dir = str(tmp_path / "pages_warc")
    warc.write_warc_local(wrows, warc_dir, records_per_file=24)

    s1 = pipeline.run_extraction_scan(
        spark, str(pq_dir), str(tmp_path / "out_pq"), n_groups=2)
    s2 = pipeline.run_extraction_scan(
        spark, warc_dir, str(tmp_path / "out_warc"), n_groups=2,
        input_format="warc")
    assert s1["n_rows"] == s2["n_rows"] == n

    a = {r.url: r.extracted_text for r in spark.read.parquet(
        str(tmp_path / "out_pq" / "data")).collect()}
    b = {r.url: r.extracted_text for r in spark.read.parquet(
        str(tmp_path / "out_warc" / "data")).collect()}
    assert len(a) == n
    assert a == b


# -- round-5 hardening: ADVICE findings + oversize-archive guard -------------

# hand-built LF-only record (Content-Lengths computed for LF framing,
# as a genuine text-mode writer would emit them)
_LF_HTTP = (b"HTTP/1.1 404 OK\n"
            b"Content-Type: text/plain\n"
            b"Content-Length: 12\n"
            b"\n"
            b"hello\nworld\n")
_HAND_RECORD_LF = (
    b"WARC/1.0\n"
    b"WARC-Type: response\n"
    b"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-000000000001>\n"
    b"WARC-Date: 2024-03-05T12:00:07Z\n"
    b"WARC-Target-URI: https://hand.example/x\n"
    b"Content-Type: application/http; msgtype=response\n"
    b"Content-Length: " + str(len(_LF_HTTP)).encode() + b"\n"
    b"\n" + _LF_HTTP + b"\n\n"
)


def test_reader_parses_lf_only_record():
    """LF-only framing (text-mode-pipe WARCs) must parse identically
    to the CRLF original — the docstring's tolerance claim, now real."""
    rec = warc._parse_record(_HAND_RECORD_LF)
    ref = warc._parse_record(_HAND_RECORD)
    assert rec == ref


def test_single_member_multi_record_cdx_fetch(spark, tmp_path):
    """An archive written as ONE gzip member holding many records (an
    explicitly supported input) must survive the warc_cdx → warc_fetch
    composition: every record carries its member's offset, and fetch
    disambiguates within the member by (url, ts)."""
    rows = _pages_rows(9)
    buf = b"".join(warc.record_bytes(r["url"], r["ts_micros"],
                                     r["payload"]) for r in rows)
    d = tmp_path / "single"
    d.mkdir()
    (d / "all.warc.gz").write_bytes(gzip.compress(buf, mtime=0))

    got = {r.url: r for r in warc.read_warc(spark, str(d)).collect()}
    assert len(got) == 9
    # all records share the single member's offset — never -1
    offs = {(r.record_offset, r.record_length) for r in got.values()}
    assert offs == {(0, os.path.getsize(d / "all.warc.gz"))}

    cdx = warc.warc_cdx(spark, str(d))
    fetched = warc.warc_fetch(spark, str(d), cdx).collect()
    assert len(fetched) == 9
    src = {r["url"]: r["payload"] for r in rows}
    for f in fetched:
        assert bytes(f.payload) == src[f.url]


def test_fetch_rejects_negative_offsets(spark, tmp_path):
    """Externally-built index rows with sentinel offsets must fail
    with a clear message, not an obscure OSError from seek(-1)."""
    rows = _pages_rows(3)
    d = tmp_path / "a"
    warc.write_warc_local(rows, str(d), records_per_file=3)
    fname = os.listdir(d)[0]
    bad = spark.createDataFrame(
        [(rows[0]["url"], fname, -1, -1)],
        "url string, warc_file string, record_offset long, "
        "record_length long")
    import pyspark
    with pytest.raises(Exception, match="negative record_offset"):
        warc.warc_fetch(spark, str(d), bad).collect()


def test_iri_url_roundtrips():
    """Non-ASCII (IRI) urls must frame and parse — UTF-8 headers per
    the warcio convention, not strict ASCII."""
    url = "https://例え.jp/ünïcode/路径?q=café"
    rec = warc.record_bytes(url, 123_000_000, b"pay", "text/html")
    parsed = warc._parse_record(rec)
    assert parsed["url"] == url
    assert parsed["payload"] == b"pay"
    # and through a gzip member
    back = list(warc.iter_member_records(rec))
    assert back[0]["url"] == url


def test_oversize_archive_quarantined(spark, tmp_path):
    """Archives above max_archive_bytes yield one typed quarantine row
    (content never read) instead of OOMing the parse task; normal
    archives in the same directory still parse fully; the cdx index
    excludes the quarantine row."""
    rows = _pages_rows(12)
    d = tmp_path / "mixed"
    warc.write_warc_local(rows[:6], str(d), records_per_file=6)
    small = os.listdir(d)[0]
    # second archive, made "oversize" by a tiny cap rather than real
    # GiBs; inflate the payloads so it is strictly bigger than the first
    big_rows = [dict(r, payload=r["payload"] * 40) for r in rows[6:]]
    paths = warc.write_warc_local(big_rows, str(d / "x"),
                                  records_per_file=6)
    big_name = "zz-big.warc.gz"
    os.replace(paths[0], d / big_name)
    cap = os.path.getsize(d / small)  # big file exceeds, small passes
    assert os.path.getsize(d / big_name) > cap

    out = warc.read_warc(spark, str(d), max_archive_bytes=cap).collect()
    quarantined = [r for r in out
                   if r.content_type == warc.OVERSIZE_CONTENT_TYPE]
    parsed = [r for r in out
              if r.content_type != warc.OVERSIZE_CONTENT_TYPE]
    assert len(parsed) == 6
    assert {r.url for r in parsed} == {r["url"] for r in rows[:6]}
    assert len(quarantined) == 1
    q = quarantined[0]
    assert q.warc_file == big_name
    assert q.status == -1
    assert q.record_offset == -1
    assert q.record_length == os.path.getsize(d / big_name)
    assert bytes(q.payload) == b""

    cdx = warc.warc_cdx(spark, str(d))
    # default cap (2 GiB) admits both files; the tiny-cap quarantine row
    # never enters a cdx built at the same cap
    from extract_kit_spark.warc import read_warc  # noqa: F401
    cdx_capped = warc.read_warc(
        spark, str(d), max_archive_bytes=cap).where(
        "record_offset >= 0")
    assert cdx_capped.count() == 6
    assert cdx.where("record_offset < 0").count() == 0


def test_scan_pipeline_finds_nested_archives(spark, tmp_path):
    """run_extraction_scan must use the same recursive glob as the
    CLI's input validation: a directory whose archives live only in
    nested subdirectories passes validation AND extracts rows."""
    from extract_kit_spark import pipeline
    rows = _pages_rows(10)
    nested = tmp_path / "crawl" / "segment=0" / "part-a"
    warc.write_warc_local(rows, str(nested), records_per_file=5)
    stats = pipeline.run_extraction_scan(
        spark, str(tmp_path / "crawl"), str(tmp_path / "out"),
        n_groups=2, input_format="warc")
    assert stats["n_rows"] == 10


def test_reprocess_quarantined_over_warc_input(spark, tmp_path):
    """Quarantine replay reads the pages through the same input format
    as the job: a WARC-input scan run with a tiny byte cap, replayed
    from the archives, ends byte-identical (url -> md5(text), status)
    to a fresh full run."""
    import duckdb
    from extract_kit_spark import pipeline
    src = str(tmp_path / "warc")
    warc.write_warc_local(_pages_rows(60), src, records_per_file=15)
    out, ref = str(tmp_path / "out"), str(tmp_path / "ref")
    pipeline.run_extraction_scan(spark, src, out, job_id="wq",
                                 n_groups=2, max_doc_bytes=2000,
                                 input_format="warc")
    summary = pipeline.reprocess_quarantined(spark, src, out,
                                             input_format="warc")
    assert summary["reprocessed"] > 10 and summary["now_ok"] > 0
    assert summary["missing"] == 0
    pipeline.run_extraction_scan(spark, src, ref, job_id="wqref",
                                 n_groups=2, input_format="warc")
    con = duckdb.connect()
    q = ("select url, md5(coalesce(extracted_text,'')) h, status "
         "from read_parquet('%s/data/*/*.parquet') order by url")
    got = con.sql(q % out).fetchall()
    assert len(got) == 60
    assert got == con.sql(q % ref).fetchall()


def test_read_warc_nested_dirs_and_null_want_ts(spark, tmp_path):
    """read_warc on a DIRECTORY must list archives recursively (the
    CLI validation and the scan pipeline both accept nested layouts),
    and warc_fetch must treat a NULL warc_ts in the cdx frame as 'no
    ts filter' instead of crashing on int(NaN)."""
    from pyspark.sql import functions as F
    from extract_kit_spark import warc

    base_us = 1_756_425_600_000_000  # 2025-08-29T00:00:00Z in micros
    rows = [{"url": f"https://ex.com/p{i}",
             "ts_micros": base_us + i * 1_000_000,
             "payload": f"<html><body>doc {i}</body></html>".encode(),
             "content_type": "text/html", "status": 200}
            for i in range(6)]
    nested = tmp_path / "archives" / "crawl=2025-08" / "seg=0"
    nested.mkdir(parents=True)
    warc.write_warc_local(rows, str(nested))
    root = str(tmp_path / "archives")
    got = warc.read_warc(spark, root)
    assert got.count() == 6  # top-level glob would find nothing
    cdx = warc.warc_cdx(spark, root)
    # null out warc_ts on half the rows: fetch must still resolve by
    # url alone for those
    cdx = cdx.withColumn(
        "warc_ts", F.when(F.col("url").endswith("1"), None)
        .otherwise(F.col("warc_ts")))
    fetched = warc.warc_fetch(spark, root, cdx)
    rows = {r["url"]: r for r in fetched.collect()}
    assert len(rows) == 6
    assert rows["https://ex.com/p1"]["payload"] == \
        b"<html><body>doc 1</body></html>"


def test_read_warc_uri_root_gives_relative_warc_file(spark, tmp_path):
    """A scan root spelled as a file:// URI yields the same relative
    warc_file values as the plain path, for parsed records and for
    oversize quarantine rows alike."""
    from extract_kit_spark import warc

    rows = [{"url": f"https://ex.com/u{i}", "ts_micros": 0,
             "payload": b"<html>x</html>", "content_type": "text/html",
             "status": 200} for i in range(3)]
    for seg in ("seg=0", "seg=1"):
        nested = tmp_path / "archives" / "crawl=2025-08" / seg
        nested.mkdir(parents=True)
        warc.write_warc_local(rows, str(nested))
    root = str(tmp_path / "archives")

    def files(path, **kw):
        df = warc.read_warc(spark, path, **kw)
        return sorted(r.warc_file for r in df.select("warc_file").collect())

    for kw in ({}, {"max_archive_bytes": 1}):
        plain = files(root, **kw)
        assert plain and all(f.startswith("crawl=2025-08/seg=")
                             for f in plain), plain
        assert files("file://" + root, **kw) == plain
