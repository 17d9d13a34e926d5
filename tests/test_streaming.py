"""Structured Streaming extraction: incremental processing of newly
arrived page files with exactly-once accounting via the checkpoint."""

import os
import shutil

from pyspark.sql import functions as F

from extract_kit_spark.fixtures import write_pages_dir, gen_page
from extract_kit_spark.streaming import run_extraction_stream


def test_streaming_incremental_exactly_once(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("strsrc") / "pages")
    out = str(tmp_path_factory.mktemp("strout") / "x")
    # batch 1: files for rows 0..99
    write_pages_dir(src, 100, n_files=2)

    run_extraction_stream(spark, src, out)
    df1 = spark.read.parquet(os.path.join(out, "data"))
    assert df1.count() == 100
    assert df1.select("url").distinct().count() == 100

    # new dump arrives: rows 100..199 as additional part files
    extra_dir = str(tmp_path_factory.mktemp("strsrc2"))
    import pyarrow.parquet as pq
    from extract_kit_spark.fixtures import _rows_to_arrow
    rows = [gen_page(i) for i in range(100, 200)]
    for r in rows:
        r.pop("_kind")
    pq.write_table(_rows_to_arrow(rows),
                   os.path.join(extra_dir, "part-new.parquet"))
    shutil.copy(os.path.join(extra_dir, "part-new.parquet"),
                os.path.join(src, "part-0100.parquet"))

    # rerun: processes ONLY the new file (checkpoint skips old ones)
    run_extraction_stream(spark, src, out)
    df2 = spark.read.parquet(os.path.join(out, "data"))
    assert df2.count() == 200            # no dups of batch 1
    assert df2.select("url").distinct().count() == 200

    # a third run with nothing new appends nothing
    run_extraction_stream(spark, src, out)
    df3 = spark.read.parquet(os.path.join(out, "data"))
    assert df3.count() == 200

    ok = df3.where(F.col("status") == "ok").count()
    assert ok > 180


def test_streaming_extraction_equals_batch_scan(spark, tmp_path_factory):
    """The stream runs the batch job's one extraction stage: over the
    same pages dir, the streamed and the scanned tables hold the same
    (url, status, text, span digest) rows."""
    from extract_kit_spark.kernels.extract import span_digest
    from extract_kit_spark.pipeline import run_extraction_scan

    src = str(tmp_path_factory.mktemp("sbsrc") / "pages")
    stream_out = str(tmp_path_factory.mktemp("sbstream") / "x")
    scan_out = str(tmp_path_factory.mktemp("sbscan") / "x")
    write_pages_dir(src, 120, n_files=3)

    run_extraction_stream(spark, src, stream_out)
    run_extraction_scan(spark, src, scan_out, job_id="sb", n_groups=3)

    def rows(out):
        return {(r["url"], r["status"], r["extracted_text"],
                 span_digest(r["spans"]))
                for r in spark.read.parquet(os.path.join(out, "data"))
                .select("url", "status", "extracted_text", "spans")
                .collect()}
    streamed = rows(stream_out)
    assert len(streamed) == 120
    assert streamed == rows(scan_out)


def test_streaming_dedup_first_seen_wins(spark, tmp_path_factory):
    """dropDuplicatesWithinWatermark dedup: duplicate payloads arriving
    in LATER microbatches (within the watermark horizon) are dropped;
    distinct payloads pass; reruns process only new files."""
    import datetime as dt
    import glob
    import os
    import shutil
    from extract_kit_spark.streaming import run_dedup_stream

    src = str(tmp_path_factory.mktemp("ddsrc") / "pages")
    out = str(tmp_path_factory.mktemp("ddout") / "d")
    os.makedirs(src, exist_ok=True)
    base = dt.datetime(2024, 1, 1)

    def write(rows, fname):
        df = spark.createDataFrame(
            [(u, base + dt.timedelta(minutes=m),
              bytearray(h.encode()), "", "en") for u, m, h in rows],
            "url string, warc_ts timestamp, html binary, "
            "text string, lang string")
        tmp = src + ".tmp-" + fname
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.move(glob.glob(tmp + "/part-*.parquet")[0],
                    src + "/" + fname + ".parquet")
        shutil.rmtree(tmp)

    write([("u1", 0, "<p>alpha</p>"), ("u2", 1, "<p>beta</p>"),
           ("u3", 2, "<p>alpha</p>")], "b1")   # u3 dups u1 in-batch
    run_dedup_stream(spark, src, out)
    got1 = spark.read.parquet(os.path.join(out, "data"))
    assert got1.count() == 2
    assert got1.select("fingerprint").distinct().count() == 2

    # a later file re-sends alpha (within watermark) + one new doc
    write([("u4", 10, "<p>alpha</p>"), ("u5", 11, "<p>gamma</p>")],
          "b2")
    run_dedup_stream(spark, src, out)
    got2 = spark.read.parquet(os.path.join(out, "data"))
    urls = {r["url"] for r in got2.collect()}
    assert "u5" in urls and "u4" not in urls
    assert got2.count() == 3


# -- crash recovery: SIGKILL between microbatches, restart, exactly-once --

_CHILD_TEMPLATE = """\
import sys
sys.path.insert(0, {repo!r})
from extract_kit_spark.session import get_spark
from extract_kit_spark import streaming
spark = get_spark(master="local[2]", app_name="crash-child",
                  shuffle_partitions=2)
streaming.{fn}(spark, {src!r}, {out!r}, max_files_per_trigger=1)
print("CHILD_COMPLETED", flush=True)
"""


def _run_child_until_killed(tmp_path_factory, fn, src, out,
                            min_commits=3, n_batches_total=10**9):
    """Start the stream in a CHILD process (own JVM), poll the
    checkpoint commit log, and SIGKILL the whole process group the
    moment >= min_commits microbatches have committed — an unclean
    stop with a batch typically in flight. Returns commits-at-kill.
    Asserts the child was genuinely incomplete when killed."""
    import os
    import signal
    import subprocess
    import sys
    import time

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = str(tmp_path_factory.mktemp("crash") / "child.py")
    with open(script, "w") as fh:
        fh.write(_CHILD_TEMPLATE.format(repo=repo, fn=fn, src=src,
                                        out=out))
    commits_dir = os.path.join(out, "_checkpoint", "commits")
    child = subprocess.Popen([sys.executable, script],
                             stdout=subprocess.PIPE,
                             stderr=subprocess.DEVNULL,
                             start_new_session=True)
    try:
        deadline = time.time() + 180
        while time.time() < deadline:
            if child.poll() is not None:
                raise AssertionError(
                    "child finished before the kill landed — raise the "
                    "file count to widen the kill window")
            try:
                n = len([f for f in os.listdir(commits_dir)
                         if not f.startswith(".")])
            except FileNotFoundError:
                n = 0
            if n >= min_commits:
                # SIGKILL the process GROUP: py4j's JVM is a separate
                # child and would otherwise finish the stream
                os.killpg(os.getpgid(child.pid), signal.SIGKILL)
                break
            time.sleep(0.02)
        else:
            raise AssertionError("no progress within 180s")
        child.wait(timeout=30)
    finally:
        if child.poll() is None:
            os.killpg(os.getpgid(child.pid), signal.SIGKILL)
    n_at_kill = len([f for f in os.listdir(commits_dir)
                     if not f.startswith(".")])
    assert n_at_kill < n_batches_total, "stream completed before kill"
    return n_at_kill


def test_streaming_extraction_crash_recovery(spark, tmp_path_factory):
    """Kill -9 the extraction stream mid-run (checkpoint has committed
    some microbatches, one is typically in flight), restart from the
    same checkpoint, and prove EXACTLY-ONCE: the final table equals a
    clean never-killed stream run row-for-row — no lost urls, no
    duplicated urls, orphaned uncommitted sink files invisible."""
    import os
    from extract_kit_spark.streaming import run_extraction_stream

    src = str(tmp_path_factory.mktemp("crashsrc") / "pages")
    out = str(tmp_path_factory.mktemp("crashout") / "x")
    ref = str(tmp_path_factory.mktemp("crashref") / "x")
    write_pages_dir(src, 300, n_files=30)  # 30 one-file microbatches

    n_at_kill = _run_child_until_killed(
        tmp_path_factory, "run_extraction_stream", src, out,
        min_commits=3, n_batches_total=30)
    assert 0 < n_at_kill < 30

    # restart from the same checkpoint in THIS session: processes only
    # the unfinished remainder
    run_extraction_stream(spark, src, out, max_files_per_trigger=1)
    got = spark.read.parquet(os.path.join(out, "data"))
    assert got.count() == 300
    assert got.select("url").distinct().count() == 300

    # row-for-row equality with a clean, never-killed run
    run_extraction_stream(spark, src, ref)
    want = spark.read.parquet(os.path.join(ref, "data"))
    key = lambda df: {(r["url"], r["status"],
                       r["extracted_text"]) for r in
                      df.select("url", "status",
                                "extracted_text").collect()}
    assert key(got) == key(want)


def test_url_dedup_stream_first_canonical_wins(spark,
                                               tmp_path_factory):
    """Streaming url dedup: variant urls of one canonical (tracking
    params, fragments, scheme/host case) collapse to the FIRST
    arrival — in-batch and across later microbatches within the
    watermark; distinct canonicals pass; the canonical key equals the
    batch op's byte-for-byte."""
    import datetime as dt
    import glob
    import os
    import shutil
    from extract_kit_spark.streaming import run_url_dedup_stream
    from extract_kit_spark.ops.weburl import canonical_url
    from pyspark.sql import functions as F

    src = str(tmp_path_factory.mktemp("udsrc") / "pages")
    out = str(tmp_path_factory.mktemp("udout") / "d")
    os.makedirs(src, exist_ok=True)
    base = dt.datetime(2024, 1, 1)

    def write(rows, fname):
        df = spark.createDataFrame(
            [(u, base + dt.timedelta(minutes=m),
              bytearray(b"x"), "", "en") for u, m in rows],
            "url string, warc_ts timestamp, html binary, "
            "text string, lang string")
        tmp = src + ".tmp-" + fname
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.move(glob.glob(tmp + "/part-*.parquet")[0],
                    src + "/" + fname + ".parquet")
        shutil.rmtree(tmp)

    write([("https://a.com/p?id=1", 0),
           ("HTTPS://A.COM:443/p?id=1#frag", 1),      # variant of ^
           ("https://b.com/q", 2)], "b1")
    run_url_dedup_stream(spark, src, out)
    got1 = spark.read.parquet(os.path.join(out, "data"))
    assert got1.count() == 2
    kept = {r["url"] for r in got1.collect()}
    assert kept == {"https://a.com/p?id=1", "https://b.com/q"}

    write([("https://a.com/p?utm_source=x&id=1", 10),  # still a dup
           ("https://c.com/r/", 11)], "b2")
    run_url_dedup_stream(spark, src, out)
    got2 = spark.read.parquet(os.path.join(out, "data"))
    assert got2.count() == 3
    assert "https://c.com/r/" in {r["url"] for r in got2.collect()}
    # stream canonical == batch canonical on the same inputs
    allrows = spark.read.parquet(src)
    twin = allrows.select(
        "url", canonical_url(F.col("url")).alias("c"))
    stream_keys = {r["canonical_url"] for r in got2.collect()}
    batch_keys = {r["c"] for r in twin.collect()}
    assert stream_keys == batch_keys


def test_streaming_url_dedup_crash_recovery(spark, tmp_path_factory):
    """Kill -9 the url-dedup stream mid-run — the first-canonical-wins
    state spans the kill point — restart from the checkpoint, and
    prove exactly-once: one output row per canonical url, no
    duplicates admitted after recovery, and row-for-row equality with
    a clean never-killed run (same kept variant per canonical, since
    both runs process the same files in the same order)."""
    import datetime as dt
    import glob
    import os
    import shutil
    from extract_kit_spark.streaming import run_url_dedup_stream

    src = str(tmp_path_factory.mktemp("ucrashsrc") / "pages")
    out = str(tmp_path_factory.mktemp("ucrashout") / "u")
    ref = str(tmp_path_factory.mktemp("ucrashref") / "u")
    os.makedirs(src, exist_ok=True)
    base = dt.datetime(2024, 1, 1)

    # 30 one-file microbatches; every file re-offers tracking-param
    # variants of the same 40 canonical urls (plus one novel url), so
    # dedup state built before the crash must keep suppressing
    # variants arriving after recovery
    pool = [f"https://dom{j % 5}.example/page-{j:03d}" for j in
            range(40)]
    for i in range(30):
        rows = [(f"{pool[j % 40]}?utm_source=f{i:02d}",
                 base + dt.timedelta(minutes=i), b"<html>x</html>",
                 "t", "en") for j in range(i, i + 8)]
        rows.append((f"https://novel.example/only-{i:02d}",
                     base + dt.timedelta(minutes=i),
                     b"<html>y</html>", "t", "en"))
        df = spark.createDataFrame(
            rows, "url string, warc_ts timestamp, html binary, "
            "text string, lang string")
        tmp = src + f".tmp-{i}"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.move(glob.glob(tmp + "/part-*.parquet")[0],
                    src + f"/f{i:02d}.parquet")
        shutil.rmtree(tmp)
        # identical mtimes pin the file-source processing order to
        # path order for both the recovered and the clean run
        os.utime(src + f"/f{i:02d}.parquet", (1_700_000_000,
                                              1_700_000_000))

    n_at_kill = _run_child_until_killed(
        tmp_path_factory, "run_url_dedup_stream", src, out,
        min_commits=3, n_batches_total=30)
    assert 0 < n_at_kill < 30

    run_url_dedup_stream(spark, src, out, max_files_per_trigger=1)
    got = spark.read.parquet(os.path.join(out, "data"))
    # exactly one row per canonical url offered by the source
    # (files i=0..29 cover pool indices 0..36 plus 30 novel urls = 67)
    from extract_kit_spark.ops.weburl import canonical_url
    from pyspark.sql import functions as F
    expected = (spark.read.parquet(src)
                .select(canonical_url(F.col("url")).alias("c"))
                .distinct().count())
    assert expected == 67
    assert got.count() == expected
    assert got.select("canonical_url").distinct().count() == expected

    # the clean reference must consume files in the SAME one-file
    # microbatch order: "first canonical wins" is defined by stream
    # order, and a single availableNow mega-batch would pick its
    # winner by partition order instead
    run_url_dedup_stream(spark, src, ref, max_files_per_trigger=1)
    want = spark.read.parquet(os.path.join(ref, "data"))
    key = lambda df: {(r["url"], r["canonical_url"]) for r in
                      df.select("url", "canonical_url").collect()}
    assert key(got) == key(want)
