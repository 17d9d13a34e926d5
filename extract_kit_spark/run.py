"""spark-submit entrypoint.

On a real cluster:

    zip -r ekspark.zip extract_kit_spark
    spark-submit --py-files ekspark.zip -m extract_kit_spark.run \\
        --input  s3://bucket/pages/ \\
        --output s3://bucket/extractions/ \\
        --job-id backfill-2025-08 --profile auto

Locally (this sandbox): ``python -m extract_kit_spark.run --input ...``.
Validates job config up front (the V1 analogue of the reference's Zod
request validation, `pdf-processor/src/api/validation.ts:21-47`):
unknown profiles, non-positive sizes, and bad paths fail before any
cluster time is spent.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

from .kernels.extract import MAX_DOC_BYTES, PROFILES


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="extract_kit_spark")
    p.add_argument("--input", default=None,
                   help="pages table path (parquet dir/file); required "
                        "unless --compact")
    p.add_argument("--input-format", default="parquet",
                   choices=("parquet", "warc"),
                   help="warc: --input is a directory of .warc.gz "
                        "archives (Common Crawl layout) read via the "
                        "WARC source instead of parquet")
    p.add_argument("--compact", action="store_true",
                   help="instead of extracting, compact fragmented "
                        "partitions of an existing --output table to "
                        "~--target-partition-bytes files "
                        "(Iceberg rewriteDataFiles analogue)")
    p.add_argument("--reprocess-quarantined", action="store_true",
                   help="instead of a full run, re-extract ONLY the "
                        "quarantined rows of an existing --output "
                        "table (after a kernel/config fix) and merge "
                        "them back in place")
    p.add_argument("--crawl-plan", action="store_true",
                   help="instead of extracting, compute the next "
                        "crawl cycle (sitemap frontier -> robots "
                        "gate -> politeness schedule) from --input "
                        "pages + --robots + --sitemaps; writes "
                        "<output>/crawl_plan")
    p.add_argument("--robots", default=None,
                   help="robots.txt table (domain, robots_txt) "
                        "parquet, for --crawl-plan")
    p.add_argument("--sitemaps", default=None,
                   help="sitemap table (domain, sitemap_xml) parquet, "
                        "for --crawl-plan")
    p.add_argument("--curate", action="store_true",
                   help="instead of extracting, run the corpus "
                        "curation pipeline (quality/lang gate -> "
                        "exact dedup -> near-dup removal -> "
                        "deterministic split) over an existing "
                        "--output extraction table; writes "
                        "<output>/curated")
    p.add_argument("--manifest", action="store_true",
                   help="instead of extracting, write the "
                        "pretraining-mixture manifest (docs/tokens/"
                        "quality per domain x lang x split) for an "
                        "existing --output extraction table to "
                        "<output>/manifest")
    p.add_argument("--min-quality", type=float, default=0.5)
    p.add_argument("--langs", default="en",
                   help="comma-separated language allowlist for "
                        "--curate")
    p.add_argument("--strip-dup-spans", action="store_true",
                   help="--curate: delete cross-document duplicated "
                        "spans (RefinedWeb exact-substring dedup) "
                        "before the quality gate")
    p.add_argument("--near-dup-route", default="jaccard",
                   choices=("jaccard", "embedding"),
                   help="--curate: near-duplicate pair stage - "
                        "n-gram-Jaccard inverted index (default) or "
                        "in-engine hash embeddings + cosine")
    p.add_argument("--output", required=True,
                   help="output table dir (data/ + _manifest.json)")
    p.add_argument("--job-id", default=None,
                   help="stable id for resume (default: random)")
    p.add_argument("--profile", default="auto", choices=PROFILES)
    p.add_argument("--layout", default="scan",
                   choices=("scan", "bucketed"),
                   help="scan: no payload shuffle, file-group resume "
                        "(default); bucketed: url-hash bucketed output")
    p.add_argument("--n-groups", type=int, default=8,
                   help="scan layout: UPPER BOUND on commit groups "
                        "(actual = ceil(files / ceil(files/n)))")
    p.add_argument("--n-buckets", type=int, default=None)
    p.add_argument("--commit-group-size", type=int, default=8)
    p.add_argument("--target-partition-bytes", type=int,
                   default=64 * 1024 * 1024)
    p.add_argument("--max-doc-bytes", type=int, default=MAX_DOC_BYTES)
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)
    # V1-style validation with actionable errors
    if args.commit_group_size <= 0:
        p.error("--commit-group-size must be > 0")
    if args.target_partition_bytes < 1024 * 1024:
        p.error("--target-partition-bytes must be >= 1MiB")
    if args.max_doc_bytes <= 0:
        p.error("--max-doc-bytes must be > 0")
    if args.n_buckets is not None and args.n_buckets <= 0:
        p.error("--n-buckets must be > 0")
    if not (args.compact or args.curate or args.manifest) \
            and args.input is None:
        p.error("--input is required (unless --compact/--curate/"
                "--manifest)")
    if sum((args.compact, args.reprocess_quarantined,
            args.curate, args.manifest)) > 1:
        p.error("--compact, --reprocess-quarantined, --curate and "
                "--manifest are exclusive")
    if not 0.0 <= args.min_quality <= 1.0:
        p.error("--min-quality must be in [0, 1]")
    return args


def _cli_spark(app_name: str, master: str | None):
    """CLI session with OWNERSHIP: getOrCreate() returns any already-
    active session (ignoring our builder configs), and stopping a
    session we didn't create kills the caller's — e.g. the pytest
    session fixture when tests drive main() in-process. Returns
    (spark, owns); callers stop only when owns is True. Under
    spark-submit there is never a pre-existing session, so the CLI
    still tears down its own."""
    from pyspark.sql import SparkSession

    from .session import get_spark
    pre = SparkSession.getActiveSession()
    spark = get_spark(master=master, app_name=app_name)
    return spark, pre is None


def _error(msg: str) -> int:
    print(f"extract_kit_spark: error: {msg}", file=sys.stderr)
    return 2


def _run_job(app_name: str, master: str | None, job) -> int:
    """Run ``job(spark)`` in the CLI session and print its summary as
    one JSON line: exit 0, or 2 on a manifest key-plan mismatch. Stops
    the session only when this call made it (``_cli_spark``)."""
    from .manifest import KeyPlanMismatch
    spark, owns = _cli_spark(app_name, master)
    try:
        print(json.dumps(job(spark)), flush=True)
        return 0
    except KeyPlanMismatch as exc:
        return _error(str(exc))
    finally:
        if owns:
            spark.stop()


def _crawl_plan(spark, args: argparse.Namespace) -> dict:
    """Write the next crawl cycle to <output>/crawl_plan; summarize it."""
    from pyspark.sql import functions as F

    from .ops.weburl import crawl_plan
    pages = spark.read.parquet(args.input).select("url", "warc_ts")
    plan = crawl_plan(spark.read.parquet(args.sitemaps),
                      pages, spark.read.parquet(args.robots))
    out = os.path.join(args.output, "crawl_plan")
    (plan.sortWithinPartitions("domain", "seq")
     .write.mode("overwrite").parquet(out))
    row = spark.read.parquet(out).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("reason") == "new", 1)
              .otherwise(0)).alias("n_new"),
        F.countDistinct("domain").alias("n_domains"),
        F.max("fetch_offset_s").alias("max_off")).collect()[0]
    return {"n_urls": int(row["n"]),
            "n_new": int(row["n_new"] or 0),
            "n_stale": int(row["n"] - (row["n_new"] or 0)),
            "n_domains": int(row["n_domains"]),
            "max_offset_s": int(row["max_off"] or 0),
            "output": out}


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    mode = ("compact" if args.compact else "manifest" if args.manifest
            else "curate" if args.curate else None)
    if mode and "://" not in args.output and not os.path.isdir(
            os.path.join(args.output, "data")):
        return _error(f"--output has no data/ dir to {mode}: "
                      f"{args.output}")
    if args.compact:
        from .compact import compact_output
        return _run_job("extract-kit-compact", args.master,
                        lambda spark: compact_output(
                            spark, args.output,
                            target_bytes=args.target_partition_bytes))
    if args.manifest:
        from .pipeline import manifest_extracted
        return _run_job("extract-kit-manifest", args.master,
                        lambda spark: manifest_extracted(
                            spark, args.output, min_quality=args.min_quality))
    if args.curate:
        from .pipeline import curate_extracted
        return _run_job("extract-kit-curate", args.master,
                        lambda spark: curate_extracted(
                            spark, args.output, min_quality=args.min_quality,
                            langs=tuple(x for x in args.langs.split(",")
                                        if x),
                            strip_dup_spans=args.strip_dup_spans,
                            route=args.near_dup_route))
    if "://" not in args.input:
        if not os.path.exists(args.input):
            return _error(f"--input path does not exist: {args.input}")
        ext = ("*.warc.gz" if args.input_format == "warc"
               else "*.parquet")
        if os.path.isdir(args.input) and not (
                glob.glob(os.path.join(args.input, ext))
                or glob.glob(os.path.join(args.input, "**", ext),
                             recursive=True)):
            return _error(f"--input contains no {ext} files: "
                          f"{args.input}")
    if args.crawl_plan:
        if not args.robots or not args.sitemaps:
            return _error("--crawl-plan requires --robots and --sitemaps")
        for pth, nm in ((args.robots, "--robots"),
                        (args.sitemaps, "--sitemaps")):
            if "://" not in pth and not os.path.exists(pth):
                return _error(f"{nm} path does not exist: {pth}")
        return _run_job("extract-kit-crawl-plan", args.master,
                        lambda spark: _crawl_plan(spark, args))
    from .pipeline import (reprocess_quarantined,
                           run_extraction_bucketed, run_extraction_scan)

    def extract(spark) -> dict:
        if args.reprocess_quarantined:
            return reprocess_quarantined(
                spark, args.input, args.output, profile=args.profile,
                max_doc_bytes=args.max_doc_bytes,
                input_format=args.input_format)
        if args.layout == "scan":
            return run_extraction_scan(
                spark, args.input, args.output,
                profile=args.profile, job_id=args.job_id,
                n_groups=args.n_groups,
                max_doc_bytes=args.max_doc_bytes,
                resume=not args.no_resume,
                input_format=args.input_format)
        return run_extraction_bucketed(
            spark, args.input, args.output,
            profile=args.profile, job_id=args.job_id,
            n_buckets=args.n_buckets,
            commit_group_size=args.commit_group_size,
            target_partition_bytes=args.target_partition_bytes,
            max_doc_bytes=args.max_doc_bytes,
            resume=not args.no_resume,
            input_format=args.input_format)
    return _run_job("extract-kit-run", args.master, extract)


if __name__ == "__main__":
    sys.exit(main())
