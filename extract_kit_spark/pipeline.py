"""The extraction job: per commit group read → mapInPandas → write →
commit.

The Spark lifecycle of SURVEY.md §3.4, replacing the reference's two
orchestrators (`core/vision/processor.ts:68-146` and
`converters/docx-converter.ts:130-245`) with one declarative plan.

One job loop (``_run_groups``), two layouts that only plan it. The
manifest keys of a job are cut into fixed groups; for each group with
uncommitted keys the loop runs plan → extract → write → commit over
those keys only. Group ids are fixed slices of the full key range, so
they never shift with what is already committed. Groups run
concurrently on the one session, ``defaultParallelism // tasks per
group`` at a time (at least 1, so ``local[1]`` is the serial run), and
commit in group order: a run commits a prefix of its groups, stops
committing at its first failure, and its test hooks cut at exactly the
same group at any pool width.

``run_extraction_scan`` (DEFAULT — the 100 TB path): NO shuffle. The
extraction is a pure map, so the plan is scan → mapInPandas → write;
task sizing comes from the parquet split (`maxPartitionBytes`), the
manifest key is an input-FILE group id (output under data/group=<g>/),
and the payload bytes are never shuffled. Measured at local[32] on a
32-core host, the shuffle variant costs ~2–5× wall time; at 100 TB a
payload shuffle would be the single dominant cost of the job. Skew
from giant documents is bounded by the per-doc byte cap, not by
repartitioning.

``run_extraction_bucketed``: the OUTPUT is bucketed by url hash (under
data/p_bucket=<b>/, one file per bucket, sorted by url) — pay the
shuffle only when downstream consumers need url-co-located /
bucket-joinable output. The job parses its input once: one stage write
shuffles it into <output>/stage/p_bucket=<b>/ (each bucket wholly in one
task, so one file), and each commit group reads only its own buckets'
stage dirs, one task per bucket and no shuffle; a resume reads no input,
and the stage is deleted once the job is complete. The manifest key is
the bucket id; groups are ``commit_group_size`` buckets.

Shared scale design
-------------------
- One fused vectorized stage (``extract_stage``): all kernels inside
  one mapInPandas (the single JVM→Python Arrow boundary, where the
  reference had worker postMessage). 128-row Arrow batches bound worker
  memory for MB docs. The registry's extraction queries
  (queries.q_ext_*) run this same stage and only project its output
  with Spark column expressions.
- Incremental commit: per group one data write, then an atomic
  manifest commit (serialized by the manifest's lock); a rerun does
  only uncommitted keys, and is refused if its key plan differs from
  the recorded one. Writes are idempotent (per-group dir overwrite /
  dynamic partition overwrite of the group's own buckets), so a crash
  between write and commit never duplicates rows.
- Straggler cap: payloads over ``max_doc_bytes`` are quarantined
  without parsing (the analogue of the reference's pixel-budget input
  reduction, `image-optimization.ts:117-147`).
- Deterministic output: sortWithinPartitions(url) so reruns are
  byte-comparable (SURVEY.md §4.3).
- Per-task Python cost: PySpark's worker runs
  ``importlib.invalidate_caches()`` before every task, and before
  CPython 3.13 that re-reads the central directory of every zip on the
  worker's path (pyspark.zip once per imported subpackage, plus
  py4j's): 0.25–0.3 s of setup per task even in a reused worker, more
  than most groups' UDF time. The package, once imported inside a task,
  re-reads an archive only when its stat changed
  (``extract_kit_spark._stat_checked_zip_rereads``), so a reused
  worker's setup is a few ms; only a worker's first task still pays it.
- Lineage is the manifest: an Observation on a group's write gives
  each key's entry (n_rows, n_ok, n_failed, bytes_in, checksum);
  nothing reads the output back. Per-input-file provenance stays on
  every data row as ``src_file``.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import shutil
import threading
import uuid
from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor
from typing import Callable

import pandas as pd

from pyspark.sql import (DataFrame, Observation, SparkSession,
                         functions as F)
from pyspark.sql import types as T
from pyspark.sql.window import Window

from .kernels.extract import extract_document, MAX_DOC_BYTES
from .manifest import Manifest
from .schemas import EXTRACTION_SCHEMA, PAGES_SCHEMA

DEFAULT_TARGET_PARTITION_BYTES = 64 * 1024 * 1024


_EMPTY_ENTRY = {"n_rows": 0, "n_ok": 0, "n_failed": 0, "bytes_in": 0,
                "checksum": ""}


def _observe_entries(df: DataFrame, keys: list[int], key: F.Column
                     ) -> tuple[DataFrame, Callable[[], dict[int, dict]]]:
    """Attach to ``df``, the rows about to be written, one Observation
    of the manifest entry of each of ``keys`` over the rows whose
    ``key`` equals it. Returns the frame to write and a function that
    gives the entries once the write has returned. Spark merges
    observed metrics from each task's successful attempt only, and
    publishes them only when the action succeeds, so an entry counts
    the written rows exactly. A key with no rows gets ``_EMPTY_ENTRY``.

    The checksum is the XOR of per-row xxhash64("url:crc32(text)"):
    order-independent and constant-memory, and urls are unique within
    a key, so XOR self-cancellation cannot occur."""
    obs = Observation()
    ok = F.col("status") == "ok"
    row_hash = F.xxhash64(F.concat_ws(":", "url",
                                      F.crc32("extracted_text")))
    aggs = []
    for k in keys:
        m = key == k
        aggs += [F.count(F.when(m, 1)).alias(f"n_rows:{k}"),
                 F.count(F.when(m & ok, 1)).alias(f"n_ok:{k}"),
                 F.count(F.when(m & ~ok, 1)).alias(f"n_failed:{k}"),
                 F.sum(F.when(m, F.col("bytes_in"))).alias(f"bytes_in:{k}"),
                 F.bit_xor(F.when(m, row_hash)).cast("string")
                 .alias(f"checksum:{k}")]

    def entries() -> dict[int, dict]:
        got = obs.get  # sum and bit_xor over no rows are null
        return {k: {c: got[f"{c}:{k}"] or v for c, v in _EMPTY_ENTRY.items()}
                for k in keys}

    return df.observe(obs, *aggs), entries


def extract_stage(pages: DataFrame, profile: str,
                  max_doc_bytes: int) -> DataFrame:
    """The fused extraction stage, the one Python boundary of the job
    and of the registry's extraction queries: one mapInPandas over
    (url, warc_ts, html, ...) whose output is the contract schema +
    input size + every other input column (p_bucket / src_file /
    group), echoed in input order with its input type. Echoed columns
    are row keys and are declared non-null, as the layouts write them.
    Callers project the output with Spark column expressions. The
    closure holds only small config scalars, so it pickles with the
    task."""
    names = [c for c in pages.columns if c not in ("url", "warc_ts", "html")]
    schema = T.StructType(EXTRACTION_SCHEMA.fields + [
        T.StructField("bytes_in", T.LongType(), nullable=False)] + [
        T.StructField(c, pages.schema[c].dataType, nullable=False)
        for c in names])

    def extract_batch(batches: Iterator[pd.DataFrame]) \
            -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        for pdf in batches:
            out_rows = []
            urls = pdf["url"].tolist()
            payloads = pdf["html"].tolist()
            stamps = pdf["warc_ts"].tolist()
            echoed = [pdf[c].tolist() for c in names]
            for i, (url, ts, payload) in enumerate(
                    zip(urls, stamps, payloads)):
                size = len(payload) if payload is not None else 0
                if size > max_doc_bytes:
                    # straggler cap: quarantine without parsing (I2
                    # analogue — one 100MB doc must not stall the task)
                    from .kernels import errors as E
                    res = extract_document(url, b"")
                    res["status"] = E.FILE_TOO_LARGE
                    res["validation"] = {
                        "success": False,
                        "errors": [f"payload {size}B > {max_doc_bytes}B"]}
                else:
                    res = extract_document(url, payload, profile)
                res["warc_ts"] = ts
                res["partition_id"] = pid
                res["bytes_in"] = size
                for c, values in zip(names, echoed):
                    res[c] = values[i]
                out_rows.append(res)
            yield pd.DataFrame(out_rows)

    return pages.mapInPandas(extract_batch, schema=schema)


def _read_parquet_pages(spark: SparkSession, *paths: str) -> DataFrame:
    """(url, warc_ts, html) of parquet pages under ``PAGES_SCHEMA``: a
    declared schema reads no footer to infer one, so it runs no job of
    its own. A ``string`` html column reads as its UTF-8 bytes."""
    return (spark.read.schema(PAGES_SCHEMA).parquet(*paths)
            .select("url", "warc_ts", "html"))


def read_pages(spark: SparkSession, input_path: str | list[str],
               input_format: str = "parquet") -> DataFrame:
    """Column-pruned scan of the pages table: the extractor needs only
    (url, warc_ts, html); Catalyst pushes the projection to parquet so
    `text`/`lang` are never read (SURVEY.md §4.2). ``input_path`` is a
    directory or a list of files.

    input_format="warc" reads a Common-Crawl-style archive directory
    instead (warc.read_warc), mapping payload→html — the rest of the
    pipeline is format-agnostic."""
    if input_format == "warc":
        from .warc import read_warc
        return read_warc(spark, input_path, with_index=False).select(
            "url", "warc_ts", F.col("payload").alias("html"))
    paths = [input_path] if isinstance(input_path, str) else input_path
    return _read_parquet_pages(spark, *paths)


def _list_input(spark: SparkSession, input_path: str,
                input_format: str) -> list[str]:
    """The sorted input files of a job, both layouts' key plan: the scan
    layout's file groups, and with ``_stored_bytes`` the bucketed
    layout's bucket count and digest. Raises ValueError on an input
    with no files."""
    if input_format == "warc":
        import glob as _glob
        # recursive: must agree with the CLI's input validation
        # (run.py accepts nested archives via **/*.warc.gz — a
        # top-level-only glob here would pass validation then run
        # with zero file groups). "**" also matches zero directories,
        # so top-level archives are included.
        files = sorted(set(_glob.glob(
            os.path.join(input_path, "**", "*.warc.gz"),
            recursive=True)))
    else:
        # a declared schema lists the files without reading a footer
        files = sorted(spark.read.schema(PAGES_SCHEMA)
                       .parquet(input_path).inputFiles())
    if not files:
        raise ValueError(f"no {input_format} input files under "
                         f"{input_path}")
    return files


def _stored_bytes(spark: SparkSession, files: list[str]) -> list[int]:
    """Each file's stored (on-disk, compressed) size, from its file
    system's listing; no file is opened."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    return [int(p.getFileSystem(conf).getFileStatus(p).getLen())
            for p in map(hpath, files)]


def _digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj).encode("utf-8")).hexdigest()[:16]


def _run_groups(spark: SparkSession, manifest: Manifest,
                groups: list[list[int]],
                frame_for_group: Callable[[int, list[int]], DataFrame],
                part_col: str, key_plan: str, tasks_per_key: int,
                profile: str, max_doc_bytes: int, resume: bool,
                fail_after_groups: int | None,
                fail_before_commit_group: int | None,
                expected_rows: dict[int, int] | None = None) -> dict:
    """The job loop of both layouts. ``groups[gid]`` is the fixed list
    of manifest keys (= ``part_col`` values) of group ``gid``; each
    group with uncommitted keys (``todo``) extracts
    ``frame_for_group(gid, todo)``, writes it idempotently and commits
    the entry of every key of ``todo``, observed on the rows it wrote
    (``_observe_entries``); keys committed by an earlier run keep their
    entries. One Spark action per group, the data write; its jobs run
    under the job group ``<job_id>/group=<gid>``. Returns the summary
    fields both layouts share.

    Groups run concurrently on the one session, ``width`` at a time:
    ``defaultParallelism // tasks``, at least 1, where ``tasks`` is the
    largest group's task count (``tasks_per_key * len(todo)``: a scan
    group is one key of ``tasks_per_key`` files, a bucketed group
    reads its ``len(todo)`` stage dirs, one task per bucket and no
    shuffle), so concurrent groups fill the cores and width 1 is the
    serial run.
    Commits are ordered: a group's entries are committed, under
    ``lock``, only once every group before it in this run committed,
    so each run commits a prefix of its groups whatever the thread
    timing. After the first failure no group commits or starts; the
    loop waits for the groups in flight (their data writes may finish,
    their keys stay uncommitted and a resume overwrites them) and
    re-raises the failure.

    ``key_plan`` names what the keys mean (the bucket count and input
    listing, or a digest of the file groups). The manifest records it,
    and a run of the same job whose plan differs from the one its
    committed keys were written under raises before any work: its keys
    would name other rows. With ``expected_rows`` (key -> the rows its
    input holds), a group whose observed ``n_rows`` of a key differs
    fails before its commit.

    Test hooks, exact at any width: ``fail_after_groups`` runs only the
    first k groups and raises after the k-th commit, so exactly k
    groups are committed and no other group's work is wasted;
    ``fail_before_commit_group`` raises at group g's turn to commit,
    after its DATA write (the crash window where idempotent re-writes
    matter), so the groups before it are committed and g is not.
    ``n_groups_run`` counts committed groups."""
    data_dir = os.path.join(manifest.output_dir, "data")
    scan = part_col == "group"
    manifest.check_plan(key_plan)
    done = manifest.committed_buckets() if resume else set()
    n_keys = sum(map(len, groups))
    todo = {gid: [k for k in keys if k not in done]
            for gid, keys in enumerate(groups)}
    # a cut after k commits can commit no later group, so none starts
    order = [gid for gid in todo if todo[gid]][:fail_after_groups]
    tasks = max((tasks_per_key * len(todo[g]) for g in order), default=1)
    width = max(1, spark.sparkContext.defaultParallelism // tasks)
    lock = threading.Lock()
    ready: dict[int, dict] = {}  # gid -> entries written, not committed
    n_committed = 0
    error: BaseException | None = None

    def commit_ready() -> None:
        # under ``lock``: commit the finished prefix of ``order``
        nonlocal n_committed, error
        while error is None and n_committed < len(order) \
                and order[n_committed] in ready:
            gid = order[n_committed]
            if gid == fail_before_commit_group:
                error = RuntimeError(
                    f"test hook: killed before commit of group {gid}")
                return
            manifest.commit(ready.pop(gid), n_keys, key_plan)
            n_committed += 1
            if fail_after_groups is not None \
                    and n_committed >= fail_after_groups:
                error = RuntimeError(
                    f"test hook: killed after {n_committed} groups")

    def run_group(gid: int) -> None:
        nonlocal error
        if error is not None:
            return
        try:
            spark.sparkContext.setJobGroup(
                f"{manifest.job_id}/group={gid}",
                f"extract and write group {gid} of {manifest.job_id}")
            # a scan group's frame has no key column: it is one key
            extracted, observed = _observe_entries(
                extract_stage(frame_for_group(gid, todo[gid]), profile,
                              max_doc_bytes),
                todo[gid], F.lit(gid) if scan else F.col(part_col))
            writer = (extracted.sortWithinPartitions("url")
                      .write.mode("overwrite"))
            if scan:
                # the group is one partition: its own dir, plain
                # overwrite
                writer.parquet(os.path.join(data_dir, f"group={gid}"))
            else:
                # dynamic partition OVERWRITE (not append): a crash
                # between write and commit leaves orphan partitions
                # that the resume run simply replaces
                (writer.option("partitionOverwriteMode", "dynamic")
                 .partitionBy(part_col).parquet(data_dir))
            entries = observed()
            for k, entry in entries.items():
                if expected_rows is not None \
                        and entry["n_rows"] != expected_rows[k]:
                    raise RuntimeError(
                        f"group {gid} wrote {entry['n_rows']} rows of "
                        f"key {k}, its input holds {expected_rows[k]}")
        except Exception as exc:
            with lock:
                error = error or exc
            return
        with lock:
            ready[gid] = entries
            commit_ready()

    with ThreadPoolExecutor(width) as pool:
        futures = [pool.submit(run_group, gid) for gid in order]
    for f in futures:
        f.result()
    if error is not None:
        raise error

    committed = manifest.load()["committed"].values()
    return {"n_groups_run": n_committed,
            "n_rows": sum(v["n_rows"] for v in committed),
            "n_ok": sum(v["n_ok"] for v in committed),
            "complete": manifest.is_complete(),
            "output": data_dir}


def _write_stage(spark: SparkSession, manifest: Manifest,
                 files: list[str], input_format: str, n_buckets: int,
                 key_plan: str, stage_dir: str) -> dict[int, int]:
    """Parse the input once into ``stage_dir``, partitioned by
    ``p_bucket``, and record the stage's per-bucket row counts (observed
    on the write) in the manifest with ``key_plan``; returns them. The
    repartition puts each bucket wholly in one task, so each
    ``p_bucket=<b>/`` dir is one file. The old record is dropped first,
    so a stage write cut before its record is never taken for a whole
    one: the next run rebuilds it."""
    manifest.record_stage(key_plan, n_buckets, None)
    # deterministic bucket: xxhash64(url) — plan-side expression, stays
    # in whole-stage codegen; pmod keeps it non-negative
    bucket = F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")
    obs = Observation()
    staged = (read_pages(spark, files, input_format)
              .withColumn("p_bucket", bucket)
              .repartition(n_buckets, "p_bucket"))
    staged = staged.observe(obs, *[
        F.count(F.when(F.col("p_bucket") == b, 1)).alias(str(b))
        for b in range(n_buckets)])
    staged.write.mode("overwrite").partitionBy("p_bucket").parquet(
        stage_dir)
    rows = {b: obs.get[str(b)] for b in range(n_buckets)}
    manifest.record_stage(key_plan, n_buckets, rows)
    return rows


def run_extraction_bucketed(spark: SparkSession,
                            input_path: str,
                            output_dir: str,
                            profile: str = "auto",
                            job_id: str | None = None,
                            n_buckets: int | None = None,
                            commit_group_size: int = 8,
                            target_partition_bytes: int =
                            DEFAULT_TARGET_PARTITION_BYTES,
                            max_doc_bytes: int = MAX_DOC_BYTES,
                            resume: bool = True,
                            fail_after_groups: int | None = None,
                            fail_before_commit_group: int | None = None,
                            input_format: str = "parquet",
                            ) -> dict:
    """Run (or resume) the extraction job with url-hash-BUCKETED output
    (pays one payload shuffle; use run_extraction_scan unless downstream
    needs bucket-co-located output). Group g is buckets
    [g*commit_group_size, (g+1)*commit_group_size); it runs only its
    uncommitted buckets, so a resume at another ``commit_group_size``
    still finishes exactly. Returns a summary dict; test hooks as in
    ``_run_groups``.

    The input is parsed once per job: before the groups, a run with
    uncommitted buckets and no stage recorded under its key plan (or
    ``resume=False``) writes the stage, ``<output>/stage/p_bucket=<b>/``
    (``_write_stage``: the job's one shuffle). Each group then reads
    its own buckets' stage dirs, one read per dir so that each bucket
    is one task (one read of all of them would let the file-split
    packer merge mid-sized files into one task), with no shuffle; a
    resume reads no input at all. The stage is deleted once the job is
    complete. The tradeoff: one extra O(input) parquet write and read,
    against one input parse per group before. The name is ``stage``,
    not ``_stage``: Spark's file index hides ``_``/``.`` paths.

    The key plan ``n_buckets=<n>:inputs=<digest>`` names the bucket
    count and the sorted input listing (paths and stored sizes), so a
    resume over changed input is refused (``KeyPlanMismatch``) before
    any job runs. ``n_buckets=None`` sizes the buckets from the listed
    bytes: ``total_bytes_planned`` is the input's stored (compressed)
    size."""
    job_id = job_id or f"extract-{uuid.uuid4().hex[:8]}"
    files = _list_input(spark, input_path, input_format)
    sizes = _stored_bytes(spark, files)
    total_bytes = sum(sizes)
    if n_buckets is None:
        n_buckets = max(1, -(-total_bytes // target_partition_bytes))
    key_plan = (f"n_buckets={n_buckets}:"
                f"inputs={_digest(list(zip(files, sizes)))}")
    manifest = Manifest(output_dir, job_id)
    manifest.check_plan(key_plan)  # a refused rerun writes nothing
    stage_dir = os.path.join(output_dir, "stage")
    stage_rows = manifest.stage_rows(key_plan) if resume else None
    done = manifest.committed_buckets() if resume else set()
    if stage_rows is None and len(done) < n_buckets:
        stage_rows = _write_stage(spark, manifest, files, input_format,
                                  n_buckets, key_plan, stage_dir)

    def frame_for_group(gid: int, todo: list[int]) -> DataFrame:
        # an empty bucket has no stage dir
        parts = [_read_parquet_pages(
            spark, os.path.join(stage_dir, f"p_bucket={b}"))
            .withColumn("p_bucket", F.lit(b)) for b in todo if stage_rows[b]]
        if not parts:
            return spark.createDataFrame([], T.StructType(
                [PAGES_SCHEMA[c] for c in ("url", "warc_ts", "html")])
            ).withColumn("p_bucket", F.lit(0))
        return functools.reduce(DataFrame.unionByName, parts)

    keys = list(range(n_buckets))
    groups = [keys[i:i + commit_group_size]
              for i in range(0, n_buckets, commit_group_size)]
    run = _run_groups(spark, manifest, groups, frame_for_group,
                      "p_bucket", key_plan, 1, profile, max_doc_bytes,
                      resume, fail_after_groups, fail_before_commit_group,
                      expected_rows=stage_rows)
    if run["complete"] and (stage_rows is not None
                            or os.path.exists(stage_dir)):
        manifest.record_stage(key_plan, n_buckets, None)
        shutil.rmtree(stage_dir, ignore_errors=True)
    return {"job_id": job_id, "n_buckets": n_buckets, **run,
            "total_bytes_planned": total_bytes}


def run_extraction_scan(spark: SparkSession,
                        input_path: str,
                        output_dir: str,
                        profile: str = "auto",
                        job_id: str | None = None,
                        n_groups: int = 8,
                        max_doc_bytes: int = MAX_DOC_BYTES,
                        resume: bool = True,
                        fail_after_groups: int | None = None,
                        fail_before_commit_group: int | None = None,
                        input_format: str = "parquet",
                        ) -> dict:
    """Run (or resume) the extraction job with NO shuffle (the 100 TB
    default): scan → mapInPandas → write, committed in input-FILE
    groups. Task sizing comes from the parquet split
    (spark.sql.files.maxPartitionBytes), so payload bytes cross the
    wire exactly once (scan) and once more on write.

    Group g is a fixed slice of the sorted input-file list
    (``_list_input``) and its own manifest key; its output lives in
    data/group=<g>/, and every row keeps its input file as
    ``src_file``. input_format="warc" runs the same protocol over a
    directory of .warc.gz archives (one scan task per archive file).
    Returns a summary dict; test hooks as in ``_run_groups``.
    """
    job_id = job_id or f"extract-{uuid.uuid4().hex[:8]}"
    all_files = _list_input(spark, input_path, input_format)
    n_groups = min(n_groups, len(all_files))
    per = -(-len(all_files) // n_groups)  # ceil
    file_groups = [all_files[i:i + per]
                   for i in range(0, len(all_files), per)]

    def frame_for_group(gid: int, _todo: list[int]) -> DataFrame:
        files = file_groups[gid]
        if input_format == "warc":
            from .warc import read_warc
            return read_warc(spark, files).select(
                "url", "warc_ts", F.col("payload").alias("html"),
                F.col("warc_file").alias("src_file"))
        return (_read_parquet_pages(spark, *files)
                .withColumn("src_file", F.input_file_name()))

    plan = f"file_groups={len(file_groups)}:{_digest(file_groups)}"
    manifest = Manifest(output_dir, job_id)
    run = _run_groups(spark, manifest,
                      [[g] for g in range(len(file_groups))],
                      frame_for_group, "group", plan, per,
                      profile, max_doc_bytes, resume, fail_after_groups,
                      fail_before_commit_group)
    return {"job_id": job_id, "n_groups": len(file_groups), **run}


def read_extractions(spark: SparkSession, output_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(output_dir, "data"))


def _replay_pages(spark: SparkSession, input_path: str,
                  bad_keys: DataFrame, n_bad: int,
                  broadcast_max_keys: int,
                  input_format: str = "parquet") -> DataFrame:
    """The replay scan: filter the pages table to the quarantined urls
    via an EXPLICIT broadcast of the key-set (up to
    ``broadcast_max_keys`` keys — above that, shuffled join, AQE
    decides), so the 100 TB html payload never crosses an Exchange on
    its way into the extraction kernel (plan-asserted in tests).
    De-dup AFTER the broadcast filter — only the quarantined slice
    shuffles — picking the max warc_ts row per url so a url appearing
    in multiple input rows can't inflate the replay output. The key
    frame's extra skinny columns (partition carrier: group/p_bucket,
    src_file) ride along, and the extraction stage echoes them."""
    keys = (F.broadcast(bad_keys) if n_bad <= broadcast_max_keys
            else bad_keys)
    pages = read_pages(spark, input_path, input_format).join(keys, "url")
    w = Window.partitionBy("url").orderBy(F.col("warc_ts").desc())
    return (pages.withColumn("__rn", F.row_number().over(w))
            .where("__rn = 1").drop("__rn"))


def reprocess_quarantined(spark: SparkSession, input_path: str,
                          output_dir: str, profile: str = "auto",
                          max_doc_bytes: int = MAX_DOC_BYTES,
                          broadcast_max_keys: int = 2_000_000,
                          input_format: str = "parquet") -> dict:
    """Quarantine replay: after a kernel upgrade or config fix (larger
    byte cap, new format support), re-extract ONLY the quarantined rows
    and merge the results back into the output table in place.

    At 10^12 documents a 1-2% quarantine rate is tens of billions of
    rows — re-running the whole job to pick them up is the wrong shape.
    This reads the output's failed rows (status != 'ok'), joins their
    urls back to the pages table, re-runs the extraction stage on just
    that slice, and rewrites ONLY the affected partitions with dynamic
    partition overwrite (surviving ok rows + replacement rows, same
    either-old-or-new crash semantics as the original write). Works on
    both layouts — rows keep their original partition (group /
    p_bucket), and the manifest entries of the rewritten keys are
    re-committed from the rewrite's observed rows, so resume state and
    per-key counts stay exact.

    Shuffle discipline: the quarantine key-set is tiny relative to the
    pages table (1-2% of urls, two skinny columns), so up to
    ``broadcast_max_keys`` keys it is explicitly ``F.broadcast``-hinted
    — the 100 TB html payload is filtered in place by a
    BroadcastHashJoin and never crosses an Exchange (plan-asserted in
    tests); above the bound we fall back to the shuffled join and let
    AQE decide. Row accounting: a quarantined url ABSENT from the
    input table (pages expired/deleted) gets no replacement row — its
    original quarantined row is carried forward unchanged and counted
    in ``missing`` rather than silently vanishing; a url appearing in
    multiple input rows is de-duplicated (max warc_ts wins,
    deterministic) so replay can't inflate the output. The pages table
    is read by ``read_pages`` (``input_format`` parquet or warc).
    Returns {reprocessed, partitions, now_ok, missing}."""
    out = read_extractions(spark, output_dir)
    scan = "src_file" in out.columns
    pcol = "group" if scan else "p_bucket"
    sel = ["url", pcol] + (["src_file"] if scan else [])
    bad_rows = out.where(F.col("status") != "ok")
    bad_keys = bad_rows.select(*sel).localCheckpoint()
    n_bad = bad_keys.count()
    if n_bad == 0:
        return {"reprocessed": 0, "partitions": 0, "now_ok": 0,
                "missing": 0}
    parts = [r[0] for r in bad_keys.select(pcol).distinct().collect()]
    pages = _replay_pages(spark, input_path, bad_keys, n_bad,
                          broadcast_max_keys, input_format)
    # the stage echoes the partition columns of the old row; the
    # checkpoint serves the write, the counts and the anti join
    fixed = extract_stage(pages, profile, max_doc_bytes).localCheckpoint()
    n_fixed = fixed.count()
    # quarantined urls with no input row: carry the original row
    # forward (and report), don't drop it from the table
    carried = bad_rows.join(F.broadcast(fixed.select("url")),
                            "url", "left_anti").localCheckpoint()
    n_missing = carried.count()
    keep = out.where(F.col(pcol).isin(parts)
                     & (F.col("status") == "ok"))
    merged, observed = _observe_entries(
        keep.unionByName(fixed.select(*out.columns))
        .unionByName(carried.select(*out.columns)), parts, F.col(pcol))
    (merged.sortWithinPartitions("url")
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy(pcol)
     .parquet(os.path.join(output_dir, "data")))
    if n_fixed + n_missing != n_bad:
        raise RuntimeError(
            f"quarantine replay accounting mismatch: {n_bad} bad rows "
            f"but {n_fixed} replacements + {n_missing} carried")
    state = Manifest(output_dir, None).load()
    if state["job_id"] is not None:
        Manifest(output_dir, state["job_id"]).commit(
            observed(), state["n_buckets"], state.get("key_plan"))
    now_ok = fixed.where(F.col("status") == "ok").count()
    return {"reprocessed": int(n_bad), "partitions": len(parts),
            "now_ok": int(now_ok), "missing": int(n_missing)}


def curate_extracted(spark: SparkSession, output_dir: str,
                     min_quality: float = 0.5,
                     langs: tuple[str, ...] = ("en",),
                     jaccard_max_df: int = 100,
                     strip_dup_spans: bool = False,
                     route: str = "jaccard") -> dict:
    """Maintenance pass: run the full corpus-curation pipeline
    (quality/lang gate → exact dedup → near-dup removal → deterministic
    split) over an existing extraction table's ok rows and write the
    curated corpus to ``<output>/curated`` — extraction and curation
    as two resumable spark-submit steps over the same table, the
    operational shape a 10^12-page pipeline actually runs.

    Ids: curation's min-id tie-breaks and the cluster collapse work on
    a numeric key, so urls are mapped through xxhash64 (deterministic;
    a 64-bit collision at web scale is ~n²/2^65 — negligible, and
    detected here by a distinct-count check that fails loudly rather
    than silently merging two urls)."""
    data = os.path.join(output_dir, "data")
    docs = (spark.read.parquet(data)
            .where(F.col("status") == "ok")
            .select(F.xxhash64("url").alias("doc_id"),
                    F.col("url"),
                    F.col("extracted_text").alias("text")))
    docs = docs.localCheckpoint(eager=False)
    n_docs, n_ids = docs.select(
        F.count(F.lit(1)), F.count_distinct("doc_id")).first()
    if n_docs != n_ids:
        raise RuntimeError(
            f"xxhash64(url) collision: {n_docs} rows, {n_ids} ids")
    from .ops import corpus
    cur = corpus.curate_near(docs.select("doc_id", "text"),
                             min_quality=min_quality, langs=langs,
                             max_df=jaccard_max_df,
                             strip_dup_spans=strip_dup_spans,
                             route=route)
    out = cur.join(docs.select("doc_id", "url"), "doc_id")
    dest = os.path.join(output_dir, "curated")
    out.write.mode("overwrite").parquet(dest)
    splits = {r["split"]: r["n"] for r in
              spark.read.parquet(dest).groupBy("split")
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    return {"n_ok_docs": int(n_docs),
            "n_survivors": int(sum(splits.values())),
            "splits": splits, "curated": dest}


def manifest_extracted(spark: SparkSession, output_dir: str,
                       min_quality: float = 0.5) -> dict:
    """Maintenance pass: write the pretraining-mixture manifest
    (ops/corpus.assembly_manifest) for an existing extraction table's
    ok rows to ``<output>/manifest`` — the composition report
    (docs / tokens / chars / quality-pass / token share per
    (domain, predicted language, split)) a dataset release ships next
    to the data. Source = the page's domain: the grouping a crawl
    corpus is actually weighted by. Same two-step spark-submit shape
    as curate_extracted; the manifest output is constant-size in the
    corpus (|domains|x|langs|x3), so the write is a driver-light
    single-stage job at any scale."""
    data = os.path.join(output_dir, "data")
    docs = (spark.read.parquet(data)
            .where(F.col("status") == "ok")
            .select(F.xxhash64("url").alias("doc_id"),
                    F.regexp_extract(
                        "url", r"https://([a-z0-9.-]+)/", 1)
                    .alias("source"),
                    F.col("extracted_text").alias("text")))
    from .ops import corpus
    m = corpus.assembly_manifest(docs, min_quality=min_quality)
    dest = os.path.join(output_dir, "manifest")
    m.write.mode("overwrite").parquet(dest)
    done = spark.read.parquet(dest)
    row = done.agg(
        F.count(F.lit(1)).alias("cells"),
        F.sum("n_docs").alias("docs"),
        F.sum("n_tokens").alias("tokens"),
        F.sum("n_quality_ok").alias("quality_ok")).first()
    return {"n_cells": int(row["cells"]),
            "n_docs": int(row["docs"] or 0),
            "n_tokens": int(row["tokens"] or 0),
            "n_quality_ok": int(row["quality_ok"] or 0),
            "manifest": dest}
