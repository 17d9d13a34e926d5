"""End-to-end Spark pipeline tests: read → extract → write → verify,
byte-identical text vs goldens THROUGH the distributed path, exact
resume after a mid-job kill, manifest (= per-partition lineage)
integrity, and parallelism-independence of results."""

import datetime
import hashlib
import json
import os

import pytest

from pyspark.sql import functions as F

from extract_kit_spark.fixtures import write_pages_parquet, gen_pages
from extract_kit_spark.pipeline import (read_extractions,
                                        run_extraction_bucketed,
                                        run_extraction_scan)

N_ROWS = 400

def manifest_entries(out):
    """The committed per-key entries of ``out``'s _manifest.json."""
    with open(os.path.join(out, "_manifest.json")) as f:
        return json.load(f)["committed"]


def assert_manifest_counts_data(spark, out):
    """The manifest is the lineage: each committed key's entry equals an
    aggregate over that key's rows read back from the data (a key with
    no rows: zeros and an empty checksum), every key with rows is
    committed, and no lineage/ copy is written."""
    df = read_extractions(spark, out)
    key = "group" if "group" in df.columns else "p_bucket"
    ok = F.col("status") == "ok"
    data = {str(r[key]): r.asDict() for r in df.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(ok, 1).otherwise(0)).alias("n_ok"),
        F.sum(F.when(~ok, 1).otherwise(0)).alias("n_failed"),
        F.sum("bytes_in").alias("bytes_in"),
        F.bit_xor(F.xxhash64(F.concat_ws(
            ":", "url", F.crc32("extracted_text")))).cast("string")
        .alias("checksum")).collect()}
    empty = {"n_rows": 0, "n_ok": 0, "n_failed": 0, "bytes_in": 0,
             "checksum": ""}
    committed = manifest_entries(out)
    assert set(data) <= set(committed)
    for k, entry in committed.items():
        want = {c: data[k][c] for c in empty} if k in data else empty
        assert {c: entry[c] for c in empty} == want, k
    assert not os.path.exists(os.path.join(out, "lineage"))


def write_warc_pages(out_dir, n, records_per_file):
    """The first ``n`` fixture pages as .warc.gz archives."""
    from extract_kit_spark import warc
    rows = []
    for r in gen_pages(n):
        td = r["warc_ts"] - datetime.datetime(1970, 1, 1)
        rows.append({"url": r["url"], "payload": r["html"],
                     "ts_micros": td // datetime.timedelta(microseconds=1)})
    warc.write_warc_local(rows, out_dir, records_per_file=records_per_file)


GOLDEN_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "golden", "goldens.json")


@pytest.fixture(scope="module")
def pages_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("pages") / "pages.parquet"
    write_pages_parquet(str(p), N_ROWS)
    return str(p)


@pytest.fixture(scope="module")
def extracted(spark, pages_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("out") / "extractions")
    summary = run_extraction_bucketed(spark, pages_path, out, job_id="e2e",
                                      n_buckets=8, commit_group_size=4)
    return out, summary


def test_summary_complete(extracted):
    _, summary = extracted
    assert summary["complete"]
    assert summary["n_rows"] == N_ROWS  # E5 cardinality invariant
    assert summary["n_ok"] > 0.9 * N_ROWS


def test_output_schema_and_rows(spark, extracted):
    out, _ = extracted
    df = read_extractions(spark, out)
    assert df.count() == N_ROWS
    assert df.select("url").distinct().count() == N_ROWS
    names = set(df.columns)
    assert {"url", "warc_ts", "doc_kind", "title", "extracted_text",
            "spans", "fields", "validation", "metadata", "status",
            "p_bucket", "bytes_in"} <= names


def test_byte_identical_vs_goldens_through_spark(spark, extracted):
    out, _ = extracted
    with open(GOLDEN_PATH) as f:
        goldens = json.load(f)
    df = read_extractions(spark, out)
    got = {r["url"]: (r["extracted_text"], r["title"], r["status"])
           for r in df.select("url", "extracted_text", "title", "status")
           .collect()}
    checked = 0
    for url, g in goldens.items():
        if url not in got:
            continue
        text, title, status = got[url]
        sha = hashlib.sha256(text.encode("utf-8")).hexdigest()
        assert sha == g["text_sha256"], f"drift via Spark for {url}"
        assert title == g["title"] and status == g["status"]
        checked += 1
    assert checked >= 100


def test_quarantine_rows_not_dropped(spark, extracted):
    out, _ = extracted
    df = read_extractions(spark, out)
    bad = df.where(F.col("status") != "ok")
    assert bad.count() > 0  # broken fixtures exist
    # every quarantine row carries a taxonomy code and failed validation
    for r in bad.select("status", "validation").collect():
        assert r["status"] != "ok"
        assert r["validation"]["success"] is False


def test_lineage_counts_match(spark, extracted):
    out, summary = extracted
    committed = manifest_entries(out)
    assert sum(v["n_rows"] for v in committed.values()) == N_ROWS
    assert sum(v["n_ok"] for v in committed.values()) == summary["n_ok"]
    assert len(committed) == summary["n_buckets"]
    assert_manifest_counts_data(spark, out)


def test_exact_resume_after_kill(spark, pages_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("resume") / "extractions")
    with pytest.raises(RuntimeError, match="test hook"):
        run_extraction_bucketed(spark, pages_path, out, job_id="resume-job",
                                n_buckets=8, commit_group_size=2,
                                fail_after_groups=2)
    # partial state: some buckets committed, not all
    from extract_kit_spark.manifest import Manifest
    m = Manifest(out, "resume-job")
    done_before = m.committed_buckets()
    assert 0 < len(done_before) < 8
    # resume: same job_id → only remaining buckets run
    summary = run_extraction_bucketed(spark, pages_path, out,
                                      job_id="resume-job", n_buckets=8,
                                      commit_group_size=2)
    assert summary["complete"]
    df = read_extractions(spark, out)
    assert df.count() == N_ROWS               # no loss
    assert df.select("url").distinct().count() == N_ROWS  # no dups


def test_resume_after_crash_before_commit(spark, pages_path,
                                          tmp_path_factory):
    """Crash in the window between a group's data write and its manifest
    commit: the rerun must overwrite the orphan bucket data, not
    duplicate it."""
    out = str(tmp_path_factory.mktemp("crashwin") / "x")
    with pytest.raises(RuntimeError, match="before commit"):
        run_extraction_bucketed(spark, pages_path, out, job_id="crash-win",
                                n_buckets=8, commit_group_size=2,
                                fail_before_commit_group=1)
    summary = run_extraction_bucketed(spark, pages_path, out,
                                      job_id="crash-win", n_buckets=8,
                                      commit_group_size=2)
    assert summary["complete"]
    df = read_extractions(spark, out)
    assert df.count() == N_ROWS
    assert df.select("url").distinct().count() == N_ROWS


def test_resume_with_changed_commit_group_size(spark, pages_path,
                                               tmp_path_factory):
    """Group ids are fixed slices of the bucket range and a group runs
    only its uncommitted buckets: a job cut after one group of 2 and
    resumed with groups of 4 finishes with every url exactly once."""
    out = str(tmp_path_factory.mktemp("regroup") / "x")
    with pytest.raises(RuntimeError, match="after 1 groups"):
        run_extraction_bucketed(spark, pages_path, out, job_id="regroup",
                                n_buckets=8, commit_group_size=2,
                                fail_after_groups=1)
    summary = run_extraction_bucketed(spark, pages_path, out,
                                      job_id="regroup", n_buckets=8,
                                      commit_group_size=4)
    assert summary["complete"]
    df = read_extractions(spark, out)
    assert df.count() == N_ROWS
    assert df.select("url").distinct().count() == N_ROWS
    assert sum(v["n_rows"] for v in manifest_entries(out).values()) \
        == N_ROWS
    assert_manifest_counts_data(spark, out)


def test_results_independent_of_parallelism(spark, pages_path,
                                            tmp_path_factory):
    """Same input at different bucket counts → same (url, text) set.
    This is the single-machine proxy for N vs 4N cluster equivalence."""
    out_a = str(tmp_path_factory.mktemp("pa") / "x")
    out_b = str(tmp_path_factory.mktemp("pb") / "x")
    run_extraction_bucketed(spark, pages_path, out_a, job_id="a", n_buckets=2,
                            commit_group_size=2)
    run_extraction_bucketed(spark, pages_path, out_b, job_id="b", n_buckets=13,
                            commit_group_size=13)
    ha = (read_extractions(spark, out_a)
          .select(F.md5(F.concat_ws("\x00", "url", "extracted_text"))
                  .alias("h")))
    hb = (read_extractions(spark, out_b)
          .select(F.md5(F.concat_ws("\x00", "url", "extracted_text"))
                  .alias("h")))
    assert ha.subtract(hb).count() == 0
    assert hb.subtract(ha).count() == 0


@pytest.fixture(scope="module")
def pages_multi(tmp_path_factory, spark):
    """Pages written as a MULTI-FILE parquet dir (scan layout groups by
    input file)."""
    d = str(tmp_path_factory.mktemp("pagesm") / "pages")
    rows = gen_pages(N_ROWS)
    for r in rows:
        r.pop("_kind")
    df = spark.createDataFrame(rows)
    df.repartition(6).write.parquet(d)
    return d


def test_scan_layout_end_to_end(spark, pages_multi, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("scanout") / "x")
    summary = run_extraction_scan(spark, pages_multi, out,
                                  job_id="scan-e2e", n_groups=3)
    assert summary["complete"]
    assert summary["n_rows"] == N_ROWS
    df = read_extractions(spark, out)
    assert df.count() == N_ROWS
    assert df.select("url").distinct().count() == N_ROWS
    # every row carries its per-input-file provenance
    assert "src_file" in df.columns


def test_group_plans_shuffle_only_in_bucketed_layout(
        spark, tmp_path, monkeypatch):
    """Both layouts run through the one group loop, and no group's
    extraction plan has an Exchange (payload never shuffled there); the
    bucketed layout's one url-hash repartition is in its stage write."""
    import contextlib
    import io
    from pyspark.sql.readwriter import DataFrameWriter
    from extract_kit_spark import pipeline
    from extract_kit_spark.fixtures import write_pages_dir
    stages, writes = [], {}
    real, real_parquet = pipeline.extract_stage, DataFrameWriter.parquet

    def spy(*args, **kwargs):
        stages.append(real(*args, **kwargs))
        return stages[-1]

    def spy_parquet(writer, path, *args, **kwargs):
        writes[os.path.basename(path)] = writer._df
        return real_parquet(writer, path, *args, **kwargs)

    monkeypatch.setattr(pipeline, "extract_stage", spy)
    monkeypatch.setattr(DataFrameWriter, "parquet", spy_parquet)
    pages = str(tmp_path / "pages")
    write_pages_dir(pages, 20, n_files=2)
    run_extraction_scan(spark, pages, str(tmp_path / "s"), n_groups=2)
    run_extraction_bucketed(spark, pages, str(tmp_path / "b"),
                            n_buckets=2, commit_group_size=2)

    def has_exchange(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain()
        return "Exchange" in buf.getvalue()

    assert [has_exchange(df) for df in stages] == [False, False, False]
    assert has_exchange(writes["stage"])


def test_scan_layout_resume_both_crash_windows(spark, pages_multi,
                                               tmp_path_factory):
    out = str(tmp_path_factory.mktemp("scanres") / "x")
    with pytest.raises(RuntimeError, match="after 1 groups"):
        run_extraction_scan(spark, pages_multi, out, job_id="scan-r",
                            n_groups=3, fail_after_groups=1)
    with pytest.raises(RuntimeError, match="before commit"):
        run_extraction_scan(spark, pages_multi, out, job_id="scan-r",
                            n_groups=3, fail_before_commit_group=1)
    summary = run_extraction_scan(spark, pages_multi, out,
                                  job_id="scan-r", n_groups=3)
    assert summary["complete"]
    df = read_extractions(spark, out)
    assert df.count() == N_ROWS
    assert df.select("url").distinct().count() == N_ROWS


@pytest.fixture
def pool_widths(monkeypatch):
    """The widths of the group pools ``_run_groups`` opens."""
    from extract_kit_spark import pipeline
    widths = []

    class Spy(pipeline.ThreadPoolExecutor):
        def __init__(self, width):
            widths.append(width)
            super().__init__(width)

    monkeypatch.setattr(pipeline, "ThreadPoolExecutor", Spy)
    return widths


@pytest.mark.parametrize("k", [1, 2])
def test_fail_after_groups_is_exact_under_concurrency(spark, tmp_path, k,
                                                      pool_widths):
    """Concurrent groups (4 one-file scan groups at local[4], so a pool
    of 4): a cut after k commits leaves exactly the first k groups
    committed in every repetition, and the resume runs the rest."""
    from extract_kit_spark.fixtures import write_pages_dir
    pages = str(tmp_path / "pages")
    write_pages_dir(pages, 40, n_files=4)
    for rep in range(5):
        out = str(tmp_path / f"out{rep}")
        with pytest.raises(RuntimeError, match=f"after {k} groups"):
            run_extraction_scan(spark, pages, out, job_id="cut",
                                n_groups=4, fail_after_groups=k)
        assert sorted(manifest_entries(out)) == [str(g) for g in range(k)]
        summary = run_extraction_scan(spark, pages, out, job_id="cut",
                                      n_groups=4)
        assert summary["n_groups_run"] == 4 - k and summary["complete"]
        assert summary["n_rows"] == 40
    assert min(pool_widths) >= 2


def test_concurrent_kill_before_commit_then_resume(spark, pages_multi,
                                                   tmp_path, pool_widths):
    """Kill one scan group between its data write and its commit while
    the other groups are in flight: only the groups before it commit,
    and the resume leaves every url exactly once, with a manifest that
    counts the data."""
    out = str(tmp_path / "x")
    with pytest.raises(RuntimeError, match="before commit of group 2"):
        run_extraction_scan(spark, pages_multi, out, job_id="kill",
                            n_groups=6, fail_before_commit_group=2)
    assert pool_widths[0] >= 2
    assert sorted(manifest_entries(out)) == ["0", "1"]
    summary = run_extraction_scan(spark, pages_multi, out, job_id="kill",
                                  n_groups=6)
    assert summary["complete"] and summary["n_groups_run"] == 4
    df = read_extractions(spark, out)
    assert df.count() == N_ROWS
    assert df.select("url").distinct().count() == N_ROWS
    assert_manifest_counts_data(spark, out)


# Spark jobs per commit group, by (layout, input format). No job reads
# the written rows back: the manifest entries are observed on the write.
# Each is the write alone: parquet is read under a declared schema,
# read_warc declares its schema, and a bucketed group reads its staged
# buckets with no shuffle.
GROUP_JOBS = {
    ("scan", "parquet"): 1,
    ("scan", "warc"): 1,
    ("bucketed", "parquet"): 1,
    ("bucketed", "warc"): 1,
}


@pytest.mark.parametrize("fmt", ["parquet", "warc"])
@pytest.mark.parametrize("layout", ["scan", "bucketed"])
def test_each_group_runs_its_jobs_under_its_name(spark, tmp_path, layout,
                                                 fmt):
    """Every job of a commit group runs under the job group
    ``<job_id>/group=<gid>``, and a group runs only the jobs of its
    plan and its write; the observed entries equal the read-back
    aggregate."""
    from extract_kit_spark.fixtures import write_pages_dir
    pages, out = str(tmp_path / "pages"), str(tmp_path / "out")
    if fmt == "parquet":
        write_pages_dir(pages, 40, n_files=2)
    else:
        write_warc_pages(pages, 40, records_per_file=20)
    job_id = f"jobs-{layout}-{fmt}"
    if layout == "scan":
        run_extraction_scan(spark, pages, out, job_id=job_id, n_groups=2,
                            input_format=fmt)
    else:
        run_extraction_bucketed(spark, pages, out, job_id=job_id,
                                n_buckets=4, commit_group_size=2,
                                input_format=fmt)
    tracker = spark.sparkContext.statusTracker()
    jobs = [len(tracker.getJobIdsForGroup(f"{job_id}/group={gid}"))
            for gid in range(2)]
    assert jobs == [GROUP_JOBS[layout, fmt]] * 2
    assert_manifest_counts_data(spark, out)


# the child: the scan job at local[2,2] (a task may fail once), with a
# stage after the extraction whose first attempt of one task passes all
# of its rows on and then fails
_RETRY_CHILD = """
import os, sys
from pyspark import TaskContext
from extract_kit_spark import pipeline
from extract_kit_spark.session import get_spark

pages, out, marker = sys.argv[1:4]
real_stage = pipeline.extract_stage


def fail_once(batches):
    yield from batches
    if TaskContext.get().attemptNumber() == 0:
        try:
            os.close(os.open(marker, os.O_CREAT | os.O_EXCL))
        except FileExistsError:
            return
        raise RuntimeError("injected failure after the task's rows")


def failing_stage(*args, **kwargs):
    df = real_stage(*args, **kwargs)
    return df.mapInPandas(fail_once, schema=df.schema)


pipeline.extract_stage = failing_stage
spark = get_spark(master="local[2,2]", shuffle_partitions=2)
pipeline.run_extraction_scan(spark, pages, out, job_id="retry", n_groups=4)
spark.stop()
"""


def test_entries_exact_when_a_task_attempt_fails(spark, tmp_path):
    """A task attempt that fails after its rows went through the write's
    observation is retried; the manifest counts the committed rows
    once, not the failed attempt's too."""
    import subprocess
    import sys
    from extract_kit_spark.fixtures import write_pages_dir
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pages, out = str(tmp_path / "pages"), str(tmp_path / "out")
    marker = tmp_path / "failed-once"
    write_pages_dir(pages, 200, n_files=4)
    subprocess.run([sys.executable, "-c", _RETRY_CHILD, pages, out,
                    str(marker)],
                   cwd=repo, check=True, timeout=600,
                   stdout=subprocess.DEVNULL,
                   stderr=subprocess.DEVNULL,
                   env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"})
    assert marker.exists()
    entries = manifest_entries(out)
    assert len(entries) == 4
    assert sum(v["n_rows"] for v in entries.values()) == 200
    assert_manifest_counts_data(spark, out)


def test_scan_output_equal_at_local1_and_local4(spark, pages_multi,
                                                tmp_path):
    """The same scan job at local[1] (a CLI child, serial groups) and
    local[4] (this session, concurrent groups) writes the same rows."""
    import subprocess
    import sys
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    serial, wide = str(tmp_path / "l1"), str(tmp_path / "l4")
    subprocess.run([sys.executable, "-m", "extract_kit_spark.run",
                    "--input", pages_multi, "--output", serial,
                    "--job-id", "par", "--n-groups", "6",
                    "--master", "local[1]"],
                   cwd=repo, check=True, stdout=subprocess.DEVNULL,
                   stderr=subprocess.DEVNULL,
                   env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"})
    run_extraction_scan(spark, pages_multi, wide, job_id="par",
                        n_groups=6)

    def rows(out):
        return sorted(read_extractions(spark, out).select(
            "url", "status", "extracted_text", "spans").collect(),
            key=lambda r: r["url"])

    got = rows(wide)
    assert len(got) == N_ROWS and got == rows(serial)


def test_scan_listing_equals_inferred_listing(spark, tmp_path):
    """The scan layout lists its input under a declared schema; the
    file groups it plans (the manifest's key-plan digest) equal those
    of the inferred-schema listing, and an empty input dir raises."""
    import hashlib as _h
    from extract_kit_spark.fixtures import write_pages_dir
    pages, out = str(tmp_path / "pages"), str(tmp_path / "out")
    write_pages_dir(pages, 40, n_files=4)
    run_extraction_scan(spark, pages, out, job_id="ls", n_groups=2)
    files = sorted(spark.read.parquet(pages).inputFiles())
    assert len(files) == 4
    groups = [files[:2], files[2:]]
    digest = _h.sha256(json.dumps(groups).encode("utf-8")).hexdigest()
    with open(os.path.join(out, "_manifest.json")) as f:
        assert json.load(f)["key_plan"] == f"file_groups=2:{digest[:16]}"
    os.makedirs(tmp_path / "empty")
    with pytest.raises(ValueError, match="no parquet input files"):
        run_extraction_scan(spark, str(tmp_path / "empty"),
                            str(tmp_path / "o2"))


def test_manifest_commit_is_thread_safe(tmp_path):
    """8 threads committing disjoint keys to one manifest lose none."""
    import sys
    import threading
    from extract_kit_spark.manifest import Manifest
    m = Manifest(str(tmp_path), "mt")
    entry = {"n_rows": 1, "n_ok": 1, "n_failed": 0, "bytes_in": 1,
             "checksum": "x"}

    def commit_range(t):
        for i in range(25):
            m.commit({t * 25 + i: entry}, 200, "n_buckets=200")

    threads = [threading.Thread(target=commit_range, args=(t,))
               for t in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert m.committed_buckets() == set(range(200))
    assert m.is_complete()


@pytest.mark.parametrize("layout", ["scan", "bucketed"])
def test_rerun_without_resume_keeps_lineage_exact(spark, tmp_path, layout):
    """A rerun with resume=False (CLI --no-resume) redoes every group;
    each key's manifest entry is overwritten, so the manifest still
    sums to the data rows instead of counting them twice."""
    from extract_kit_spark.fixtures import write_pages_dir
    pages = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    write_pages_dir(pages, 80, n_files=4)
    for resume in (True, False):
        if layout == "scan":
            s = run_extraction_scan(spark, pages, out, job_id="ln",
                                    n_groups=2, resume=resume)
        else:
            s = run_extraction_bucketed(spark, pages, out, job_id="ln",
                                        n_buckets=8, commit_group_size=2,
                                        resume=resume)
        assert s["complete"] and s["n_groups_run"] >= 2
    n_data = read_extractions(spark, out).count()
    assert n_data == 80
    assert len(manifest_entries(out)) == (2 if layout == "scan" else 8)
    assert_manifest_counts_data(spark, out)


@pytest.mark.parametrize("layout", ["scan", "bucketed"])
def test_rerun_with_another_key_plan_is_refused(spark, tmp_path, layout):
    """A manifest key (file-group or bucket id) only means something
    under the plan that committed it. A job cut after one group and
    rerun with another --n-groups/--n-buckets must raise, with or
    without resume, instead of duplicating and losing rows; the rerun
    under the recorded plan, at another commit_group_size, finishes
    exactly."""
    from extract_kit_spark.fixtures import write_pages_dir
    pages = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    write_pages_dir(pages, 40, n_files=4)
    # ``group`` is the bucketed layout's commit_group_size; the scan
    # layout commits one file group at a time
    if layout == "scan":
        def run(size, group=2, **kw):
            return run_extraction_scan(spark, pages, out, job_id="kp",
                                       n_groups=size, **kw)
        first, other, old, new = 2, 4, "file_groups=2:", "file_groups=4:"
    else:
        def run(size, group=2, **kw):
            return run_extraction_bucketed(spark, pages, out, job_id="kp",
                                           n_buckets=size,
                                           commit_group_size=group, **kw)
        first, other, old, new = 4, 6, "n_buckets=4", "n_buckets=6"
    with pytest.raises(RuntimeError, match="after 1 groups"):
        run(first, fail_after_groups=1)
    for resume in (True, False):
        with pytest.raises(ValueError) as err:
            run(other, resume=resume)
        assert old in str(err.value) and new in str(err.value)
    summary = run(first, group=4)
    assert summary["complete"] and summary["n_rows"] == 40
    df = read_extractions(spark, out)
    assert df.count() == 40
    assert df.select("url").distinct().count() == 40


@pytest.fixture
def read_pages_calls(monkeypatch):
    """The number of ``pipeline.read_pages`` calls so far."""
    from extract_kit_spark import pipeline
    calls = []
    real = pipeline.read_pages

    def spy(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(pipeline, "read_pages", spy)
    return calls


@pytest.mark.parametrize("fmt", ["parquet", "warc"])
def test_bucketed_job_parses_its_input_once(spark, tmp_path, fmt,
                                            read_pages_calls):
    """A bucketed job cut after one group and resumed parses its input
    once, in the stage write; the resume reads only the stage, which is
    gone once the job is complete."""
    from extract_kit_spark.fixtures import write_pages_dir
    pages, out = str(tmp_path / "pages"), str(tmp_path / "out")
    if fmt == "parquet":
        write_pages_dir(pages, 40, n_files=2)
    else:
        write_warc_pages(pages, 40, records_per_file=20)

    def run(**kw):
        return run_extraction_bucketed(spark, pages, out, job_id="once",
                                       n_buckets=4, commit_group_size=2,
                                       input_format=fmt, **kw)

    with pytest.raises(RuntimeError, match="after 1 groups"):
        run(fail_after_groups=1)
    assert os.path.isdir(os.path.join(out, "stage"))
    summary = run()
    assert summary["complete"] and summary["n_groups_run"] == 1
    assert len(read_pages_calls) == 1
    assert not os.path.exists(os.path.join(out, "stage"))
    with open(os.path.join(out, "_manifest.json")) as f:
        assert "stage_rows" not in json.load(f)
    assert read_extractions(spark, out).count() == 40
    assert_manifest_counts_data(spark, out)


def test_bucketed_resume_over_changed_input_is_refused(spark, tmp_path):
    """An input file added between a cut and its resume changes the
    input listing in the key plan: the resume is refused before any
    job, and the manifest and stage stay as the cut left them."""
    from extract_kit_spark.fixtures import write_pages_dir
    from extract_kit_spark.manifest import KeyPlanMismatch
    pages, out = str(tmp_path / "pages"), str(tmp_path / "out")
    write_pages_dir(pages, 40, n_files=2)

    def run(**kw):
        return run_extraction_bucketed(spark, pages, out, job_id="chg",
                                       n_buckets=4, commit_group_size=2,
                                       **kw)

    with pytest.raises(RuntimeError, match="after 1 groups"):
        run(fail_after_groups=1)
    manifest_path = os.path.join(out, "_manifest.json")
    with open(manifest_path, "rb") as f:
        before = f.read()
    stage_files = sorted(os.listdir(os.path.join(out, "stage")))
    write_pages_dir(str(tmp_path / "more"), 10, n_files=1, seed=7)
    os.replace(tmp_path / "more" / "part-0000.parquet",
               os.path.join(pages, "part-9999.parquet"))
    for resume in (True, False):
        with pytest.raises(KeyPlanMismatch, match="n_buckets=4:inputs="):
            run(resume=resume)
    with open(manifest_path, "rb") as f:
        assert f.read() == before
    assert sorted(os.listdir(os.path.join(out, "stage"))) == stage_files


def test_output_of_the_unstaged_plan_is_refused(spark, tmp_path):
    """An output whose keys were committed under the plan that named
    only the bucket count is refused, not resumed over the stage."""
    from extract_kit_spark.fixtures import write_pages_dir
    from extract_kit_spark.manifest import KeyPlanMismatch, Manifest
    pages, out = str(tmp_path / "pages"), str(tmp_path / "out")
    write_pages_dir(pages, 20, n_files=2)
    Manifest(out, "old").commit(
        {0: {"n_rows": 5, "n_ok": 5, "n_failed": 0, "bytes_in": 1,
             "checksum": "1"}}, 4, "n_buckets=4")
    with pytest.raises(KeyPlanMismatch, match="planned as n_buckets=4,"):
        run_extraction_bucketed(spark, pages, out, job_id="old",
                                n_buckets=4, commit_group_size=2)
    assert sorted(os.listdir(out)) == ["_manifest.json"]


def test_stage_write_cut_before_its_record_is_rebuilt(spark, tmp_path,
                                                      monkeypatch,
                                                      read_pages_calls):
    """A stage written but not recorded (the job killed in between) is
    not trusted: the next run writes it again, and the job ends with
    every url exactly once."""
    import shutil
    from extract_kit_spark.fixtures import write_pages_dir
    from extract_kit_spark.manifest import Manifest
    pages, out = str(tmp_path / "pages"), str(tmp_path / "out")
    write_pages_dir(pages, 40, n_files=2)
    real = Manifest.record_stage

    def killed(self, key_plan, n_buckets, rows):
        if rows is not None:
            raise RuntimeError("killed before the stage record")
        return real(self, key_plan, n_buckets, rows)

    monkeypatch.setattr(Manifest, "record_stage", killed)
    with pytest.raises(RuntimeError, match="before the stage record"):
        run_extraction_bucketed(spark, pages, out, job_id="cut",
                                n_buckets=4, commit_group_size=2)
    monkeypatch.setattr(Manifest, "record_stage", real)
    # the stage on disk is whole here; lose a bucket of it, as a write
    # cut part way would
    stage = os.path.join(out, "stage")
    shutil.rmtree(os.path.join(stage, sorted(
        d for d in os.listdir(stage) if d.startswith("p_bucket="))[0]))
    assert manifest_entries(out) == {}
    summary = run_extraction_bucketed(spark, pages, out, job_id="cut",
                                      n_buckets=4, commit_group_size=2)
    assert len(read_pages_calls) == 2
    assert summary["complete"] and summary["n_rows"] == 40
    df = read_extractions(spark, out)
    assert df.count() == 40 and df.select("url").distinct().count() == 40
    assert_manifest_counts_data(spark, out)


def test_group_short_of_its_stage_rows_fails_before_commit(spark,
                                                           tmp_path):
    """A group that reads fewer rows of a bucket than the stage recorded
    raises before its commit, so the bucket stays uncommitted."""
    import glob
    import pyarrow.parquet as pq
    from extract_kit_spark.fixtures import write_pages_dir
    pages, out = str(tmp_path / "pages"), str(tmp_path / "out")
    write_pages_dir(pages, 40, n_files=2)

    def run(**kw):
        return run_extraction_bucketed(spark, pages, out, job_id="short",
                                       n_buckets=4, commit_group_size=2,
                                       **kw)

    with pytest.raises(RuntimeError, match="after 1 groups"):
        run(fail_after_groups=1)
    assert sorted(manifest_entries(out)) == ["0", "1"]
    [part] = glob.glob(os.path.join(out, "stage", "p_bucket=3", "*.parquet"))
    table = pq.read_table(part)
    assert table.num_rows > 1
    pq.write_table(table.slice(1), part, coerce_timestamps="us")
    # Hadoop's local file system checks the old file's checksum file
    os.remove(os.path.join(os.path.dirname(part),
                           f".{os.path.basename(part)}.crc"))
    with pytest.raises(RuntimeError,
                       match=f"rows of key 3, its input holds "
                             f"{table.num_rows}"):
        run()
    assert sorted(manifest_entries(out)) == ["0", "1"]


def test_each_bucket_dir_holds_one_file(spark, tmp_path):
    """A bucket lies wholly in one stage task and is read back as one
    task, so a full run leaves exactly one file per data bucket dir,
    and every row of bucket b lies under p_bucket=<b>/."""
    import glob
    from extract_kit_spark.fixtures import write_pages_dir
    pages, out = str(tmp_path / "pages"), str(tmp_path / "out")
    write_pages_dir(pages, 80, n_files=4)
    run_extraction_bucketed(spark, pages, out, job_id="files",
                            n_buckets=8, commit_group_size=4)
    dirs = glob.glob(os.path.join(out, "data", "p_bucket=*"))
    assert len(dirs) == 8
    for d in dirs:
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d
    df = read_extractions(spark, out)
    bucket = F.pmod(F.xxhash64("url"), F.lit(8)).cast("int")
    assert df.where(F.col("p_bucket") != bucket).count() == 0


def test_empty_buckets_are_committed_empty(spark, tmp_path):
    """Buckets with no rows have no stage dir; their groups, some with
    no row at all, still run and commit empty entries, so the job is
    complete."""
    from extract_kit_spark.fixtures import write_pages_dir
    pages, out = str(tmp_path / "pages"), str(tmp_path / "out")
    write_pages_dir(pages, 5, n_files=1)
    summary = run_extraction_bucketed(spark, pages, out, job_id="empty",
                                      n_buckets=16, commit_group_size=2)
    assert summary["complete"] and summary["n_rows"] == 5
    entries = manifest_entries(out)
    assert len(entries) == 16
    assert any(entries[str(2 * g)]["n_rows"] + entries[str(2 * g + 1)]
               ["n_rows"] == 0 for g in range(8))
    assert_manifest_counts_data(spark, out)


def test_string_html_reads_as_its_utf8_bytes(spark, tmp_path):
    """Pages are read under PAGES_SCHEMA: a file whose html column is
    a string reads as its UTF-8 bytes, so it extracts to the same rows,
    bytes_in included, as the file with binary html."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from extract_kit_spark.fixtures import _rows_to_arrow
    from extract_kit_spark.pipeline import read_pages
    rows = []
    for r in gen_pages(40):
        try:
            r["html"].decode("utf-8")
        except UnicodeDecodeError:
            continue
        rows.append(r)
    assert len(rows) > 20
    binary = _rows_to_arrow(rows)
    text = binary.set_column(2, "html", pa.array(
        [r["html"].decode("utf-8") for r in rows], type=pa.string()))
    got = {}
    for name, table in (("binary", binary), ("string", text)):
        os.makedirs(tmp_path / name)
        pq.write_table(table, str(tmp_path / name / "part-0.parquet"))
        out = str(tmp_path / f"out-{name}")
        run_extraction_scan(spark, str(tmp_path / name), out,
                            job_id=name, n_groups=1)
        got[name] = (
            sorted(read_pages(spark, str(tmp_path / name)).collect()),
            sorted(read_extractions(spark, out).select(
                "url", "warc_ts", "status", "extracted_text", "bytes_in")
                .collect()))
    assert got["string"] == got["binary"]
    assert len(got["binary"][0]) == len(rows)


def test_extract_stage_echoes_extra_columns(spark):
    """The stage's contract: EXTRACTION_SCHEMA + bytes_in + every input
    column other than url/warc_ts/html, in input order, with its input
    type and values; with no extra column, just the first two."""
    from pyspark.sql import types as T
    from extract_kit_spark.pipeline import extract_stage
    from extract_kit_spark.schemas import EXTRACTION_SCHEMA
    rows = gen_pages(6)
    for i, r in enumerate(rows):
        r.pop("_kind")
        r["n"], r["tag"] = i, f"t{i}"
    pages = spark.createDataFrame(rows).select(
        "url", "warc_ts", "html", F.col("n").cast("int"), "tag")
    head = [(f.name, f.dataType) for f in EXTRACTION_SCHEMA.fields] \
        + [("bytes_in", T.LongType())]
    for extra in ([("n", T.IntegerType()), ("tag", T.StringType())], []):
        out = extract_stage(pages.select("url", "warc_ts", "html",
                                         *[c for c, _ in extra]),
                            "auto", 1 << 20)
        assert [(f.name, f.dataType) for f in out.schema.fields] \
            == head + extra
        got = out.collect()
        assert sorted(r["url"] for r in got) \
            == sorted(r["url"] for r in rows)
        if extra:
            assert {(r["url"], r["n"], r["tag"]) for r in got} \
                == {(r["url"], r["n"], r["tag"]) for r in rows}


def test_deep_nesting_gets_one_typed_row(spark):
    """Nesting past Python's recursion limit in the tree walkers gives
    exactly one row with a typed, non-recoverable status
    (CONVERSION_FAILED, phase depth), not GENERAL_ERROR; 700 levels
    still extract with their text."""
    from extract_kit_spark.kernels import errors
    from extract_kit_spark.pipeline import extract_stage
    rows = gen_pages(2)
    for r, depth in zip(rows, (700, 1000)):
        r.pop("_kind")
        r["html"] = (f"<html><body>{'<font>' * depth}deep {depth} text"
                     f"{'</font>' * depth}</body></html>").encode()
    pages = spark.createDataFrame(rows).select("url", "warc_ts", "html")
    got = {r["url"]: r for r in
           extract_stage(pages, "auto", 1 << 20).collect()}
    assert sorted(got) == sorted(r["url"] for r in rows)
    ok, deep = (got[r["url"]] for r in rows)
    assert ok["status"] == "ok"
    assert ok["extracted_text"].strip() == "deep 700 text"
    assert deep["status"] == errors.CONVERSION_FAILED
    assert deep["status"] not in errors.RECOVERABLE
    assert deep["validation"]["errors"][0].startswith("depth: ")


def test_scan_layout_matches_bucketed_results(spark, pages_multi,
                                              extracted):
    """Both layouts produce the identical (url, extracted_text) set."""
    out_b, _ = extracted
    import tempfile
    out_s = tempfile.mkdtemp(prefix="scan_eq_") + "/x"
    run_extraction_scan(spark, pages_multi, out_s, job_id="scan-eq",
                        n_groups=2)
    hs = (read_extractions(spark, out_s)
          .select(F.md5(F.concat_ws("\x00", "url", "extracted_text"))
                  .alias("h")))
    hb = (read_extractions(spark, out_b)
          .select(F.md5(F.concat_ws("\x00", "url", "extracted_text"))
                  .alias("h")))
    assert hs.subtract(hb).count() == 0
    assert hb.subtract(hs).count() == 0


def test_oversize_cap_quarantines_without_parse(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("big") / "pages.parquet"
    write_pages_parquet(str(p), 60, oversize_every=7)  # kind 'broken'
    out = str(tmp_path_factory.mktemp("bigout") / "x")
    run_extraction_bucketed(spark, str(p), out, job_id="cap", n_buckets=2,
                            max_doc_bytes=1024 * 1024)
    df = read_extractions(spark, out)
    too_large = df.where(F.col("status") == "FILE_TOO_LARGE")
    assert too_large.count() >= 1
    assert df.count() == 60


def test_compact_output_merges_small_files_preserving_bytes(
        spark, pages_path, tmp_path_factory):
    """Compaction (Iceberg rewriteDataFiles analogue): artificially
    fragment one partition of a finished extraction table, compact,
    and require (a) file counts back at the per-partition target,
    (b) the full table byte-identical on (url → text md5, status)
    through an INDEPENDENT reader (DuckDB), (c) second pass a no-op."""
    import glob
    import shutil
    import duckdb
    from extract_kit_spark.compact import compact_output

    out = str(tmp_path_factory.mktemp("compact") / "x")
    run_extraction_bucketed(spark, pages_path, out, job_id="cmp",
                            n_buckets=4, commit_group_size=4)
    data = os.path.join(out, "data")
    con = duckdb.connect()
    q = (f"select url, md5(coalesce(extracted_text,'')) h, status "
         f"from read_parquet('{data}/*/*.parquet') order by url")
    before = con.sql(q).fetchall()

    # fragment every partition: rewrite each dir as 6 tiny files
    pdirs = sorted(glob.glob(os.path.join(data, "*=*")))
    assert len(pdirs) >= 2
    for pdir in pdirs:
        frag = spark.read.parquet(pdir).repartition(6)
        tmp = pdir + ".tmp"
        frag.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(pdir)
        os.replace(tmp, pdir)
    n_files_frag = len(glob.glob(os.path.join(data, "*=*", "*.parquet")))
    assert n_files_frag >= 6 * len(pdirs)

    summary = compact_output(spark, out, target_bytes=256 * 1024 * 1024)
    assert summary["compacted_partitions"] == len(pdirs)
    assert summary["files_after"] == len(pdirs)  # 1 file per partition
    n_files_now = len(glob.glob(os.path.join(data, "*=*", "*.parquet")))
    assert n_files_now == len(pdirs)

    after = con.sql(q).fetchall()
    assert after == before

    # idempotent: nothing left to do
    again = compact_output(spark, out, target_bytes=256 * 1024 * 1024)
    assert again["compacted_partitions"] == 0
    # pass recorded in the append-only log
    with open(os.path.join(out, "_compactions.json")) as f:
        log = json.load(f)
    assert len(log) == 1 and log[0]["files_after"] == len(pdirs)


def test_reprocess_quarantined_replays_only_failures(
        spark, pages_path, tmp_path_factory):
    """Quarantine replay: run with a tiny byte cap (most docs
    quarantined FILE_TOO_LARGE), then reprocess with the default cap —
    only the failed slice is re-extracted, merged in place, and the
    final table is byte-identical (url → md5(text), status) to a fresh
    full run at the default cap."""
    import duckdb
    from extract_kit_spark.pipeline import (reprocess_quarantined,
                                            run_extraction_scan)

    out = str(tmp_path_factory.mktemp("replay") / "x")
    ref = str(tmp_path_factory.mktemp("replayref") / "x")
    run_extraction_scan(spark, pages_path, out, job_id="rp",
                        n_groups=4, max_doc_bytes=2000)
    crippled = read_extractions(spark, out)
    n_bad = crippled.where(F.col("status") != "ok").count()
    assert n_bad > N_ROWS * 0.3  # the tiny cap quarantined plenty

    summary = reprocess_quarantined(spark, pages_path, out)
    assert summary["reprocessed"] == n_bad
    assert summary["now_ok"] > 0

    # ground truth: a fresh full run at the default cap
    run_extraction_scan(spark, pages_path, ref, job_id="rpref",
                        n_groups=4)
    con = duckdb.connect()
    q = ("select url, md5(coalesce(extracted_text,'')) h, status "
         "from read_parquet('%s/data/*/*.parquet') order by url")
    assert con.sql(q % out).fetchall() == con.sql(q % ref).fetchall()

    # the replay re-committed the keys it rewrote
    assert_manifest_counts_data(spark, out)

    # idempotent second replay: same genuinely-broken rows, no churn
    again = reprocess_quarantined(spark, pages_path, out)
    assert again["now_ok"] == 0
    assert con.sql(q % out).fetchall() == con.sql(q % ref).fetchall()


def test_reprocess_quarantined_bucketed_layout(
        spark, pages_path, tmp_path_factory):
    """Quarantine replay on the BUCKETED layout: rows keep their
    p_bucket, only affected partitions are rewritten, and recovered
    rows match the clean-run distribution."""
    from extract_kit_spark.pipeline import reprocess_quarantined

    out = str(tmp_path_factory.mktemp("replayb") / "x")
    run_extraction_bucketed(spark, pages_path, out, job_id="rpb", n_buckets=4,
                            commit_group_size=4, max_doc_bytes=2000)
    df0 = read_extractions(spark, out)
    n_bad = df0.where(F.col("status") != "ok").count()
    assert n_bad > N_ROWS * 0.3
    summary = reprocess_quarantined(spark, pages_path, out)
    assert summary["reprocessed"] == n_bad and summary["now_ok"] > 0
    df = read_extractions(spark, out)
    assert df.count() == N_ROWS
    assert df.select("url").distinct().count() == N_ROWS
    # recovered rows kept their original url-hash bucket
    expected_bucket = F.pmod(F.xxhash64("url"),
                             F.lit(4)).cast("int")
    assert df.where(F.col("p_bucket") != expected_bucket).count() == 0
    assert_manifest_counts_data(spark, out)


def test_reprocess_missing_input_url_carried_forward(
        spark, pages_path, tmp_path_factory):
    """A quarantined url ABSENT from the input table (pages
    expired/deleted between runs) must not silently vanish from the
    output: its original quarantined row is carried forward unchanged
    and reported in summary['missing'] (ADVICE r3)."""
    from extract_kit_spark.pipeline import (reprocess_quarantined,
                                            run_extraction_scan)

    out = str(tmp_path_factory.mktemp("replaymiss") / "x")
    run_extraction_scan(spark, pages_path, out, job_id="rm",
                        n_groups=4, max_doc_bytes=2000)
    df0 = read_extractions(spark, out)
    bad_urls = [r[0] for r in df0.where(F.col("status") != "ok")
                .select("url").collect()]
    assert len(bad_urls) > 10
    dropped = set(bad_urls[:5])

    # a shrunken input: five quarantined urls no longer exist
    shrunk = str(tmp_path_factory.mktemp("replaymiss") / "pages2")
    (spark.read.parquet(pages_path)
     .where(~F.col("url").isin(*dropped))
     .write.parquet(shrunk))

    summary = reprocess_quarantined(spark, shrunk, out)
    assert summary["missing"] == len(dropped)
    assert summary["reprocessed"] == len(bad_urls)
    df = read_extractions(spark, out)
    # cardinality preserved: nothing vanished, nothing duplicated
    assert df.count() == N_ROWS
    assert df.select("url").distinct().count() == N_ROWS
    # the carried rows are still quarantined, byte-for-byte the same
    carried = df.where(F.col("url").isin(*dropped))
    assert carried.count() == len(dropped)
    assert carried.where(F.col("status") == "ok").count() == 0


def test_reprocess_duplicate_input_urls_not_inflated(
        spark, pages_path, tmp_path_factory):
    """A url appearing in MULTIPLE input rows (re-crawl snapshots) must
    yield exactly one replay row — max warc_ts wins, deterministically
    — instead of duplicating output rows (ADVICE r3)."""
    from extract_kit_spark.pipeline import (reprocess_quarantined,
                                            run_extraction_scan)

    out = str(tmp_path_factory.mktemp("replaydup") / "x")
    run_extraction_scan(spark, pages_path, out, job_id="rd",
                        n_groups=4, max_doc_bytes=2000)
    n_bad = (read_extractions(spark, out)
             .where(F.col("status") != "ok").count())
    assert n_bad > 10

    # an input with EVERY page present twice at an earlier timestamp
    dup = str(tmp_path_factory.mktemp("replaydup") / "pages2")
    base = spark.read.parquet(pages_path)
    (base.unionByName(
        base.withColumn("warc_ts",
                        F.col("warc_ts") - F.expr("interval 1 hour")))
     .write.parquet(dup))

    summary = reprocess_quarantined(spark, dup, out)
    assert summary["reprocessed"] == n_bad
    assert summary["missing"] == 0
    df = read_extractions(spark, out)
    assert df.count() == N_ROWS
    assert df.select("url").distinct().count() == N_ROWS


def test_curate_extracted_over_extraction_output(spark, tmp_path):
    """The --curate maintenance pass: extract a small pages dir, then
    curate the output table — survivors land in <output>/curated with
    url + split columns, every ok url is accounted for (survivor or
    dedup/gate casualty), and the pass is deterministic across
    reruns."""
    from extract_kit_spark.fixtures import write_pages_dir
    from extract_kit_spark.pipeline import (curate_extracted,
                                            run_extraction_scan)
    pages = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    write_pages_dir(pages, 120, n_files=4)
    run_extraction_scan(spark, pages, out, job_id="cur-e2e",
                        n_groups=2)
    s1 = curate_extracted(spark, out)
    assert s1["n_ok_docs"] > 0
    assert 0 < s1["n_survivors"] <= s1["n_ok_docs"]
    cur = spark.read.parquet(str(tmp_path / "out" / "curated"))
    assert set(cur.columns) >= {"doc_id", "url", "split", "bucket",
                                "n_tokens", "quality_score"}
    assert cur.count() == s1["n_survivors"]
    assert cur.select("url").distinct().count() == s1["n_survivors"]
    assert set(s1["splits"]) <= {"train", "val", "test"}
    s2 = curate_extracted(spark, out)
    assert s2 == s1
