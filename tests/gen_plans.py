"""Regenerate PLANS.md — committed physical-plan evidence for the
plan-hygiene claims (BENCH.md / tests/test_plans.py): run
``python tests/gen_plans.py``. Each section shows
``explain('formatted')`` for one load-bearing query with a note on
what property the plan proves; the matching pytest assertion keeps the
property from regressing silently.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"

# (query name, the property this plan is evidence for)
SECTIONS = [
    ("ext_flagship",
     "NO Exchange anywhere: payload bytes flow scan → MapInPandas "
     "(pipeline.extract_stage, the job's own stage) → Project; "
     "ReadSchema carries only url+warc_ts+html (text/lang pruned at "
     "the parquet scan)."),
    ("ts_stats",
     "No Python node (no MapInPandas/EvalPython): every derived "
     "column is a whole-stage-codegen JVM expression."),
    ("ts_tfidf_topk",
     "TF-IDF top-terms: explode → two 2-phase HashAggregates (map-"
     "side combine absorbs hot-term skew) → df join → per-doc window; "
     "no Python node."),
    ("web_domain_stats",
     "Salted two-phase aggregation: partial per (domain, salt), "
     "final per domain — two HashAggregates around one Exchange."),
    ("web_domain_join_salted",
     "Join-side skew handling: SortMergeJoin keyed on "
     "(domain, __salt) with the dim exploded per salt; no "
     "BroadcastHashJoin (merge hint) so the salted shuffle shape is "
     "the one actually planned."),
    ("rel_region_revenue",
     "Broadcast dimension chain: every dim join is a "
     "BroadcastHashJoin; the only shuffle join is the "
     "lineitem⋈orders fact join."),
    ("dedup_jaccard",
     "Inverted-index equality join on xxhash64(shingle) postings — "
     "sizes ride the postings (no extra join), hot shingles dropped "
     "via the broadcast anti-join (max_df skew guard)."),
    ("web_url_dedup",
     "Url canonicalization + dedup: the regex chain is pure "
     "whole-stage-codegen expressions (no Python node) and the ONE "
     "hash Exchange carries only (canonical_url, url, ts) — at 100 TB "
     "the shuffle moves urls, never payloads."),
    ("pii_scrub",
     "PII redaction: zero Exchange, zero Python node — the scrub is "
     "a single projection of regexp expressions riding the scan."),
    ("corpus_pack_plan",
     "Sequence packing: ONE hash Exchange (by the md5-derived "
     "stream), running sums as within-partition windows; no Python "
     "node."),
    ("contamination_8gram",
     "Decontamination: both joins are BroadcastHashJoin (the eval "
     "side is tiny by construction) — the training-side gram stream "
     "is never sort-merge shuffled against the corpus."),
    ("dedup_lines",
     "Line-level dedup: explode → doc-frequency agg → LEFT ANTI "
     "equality join back onto the lines → in-order reassembly agg; "
     "no Python node, payload travels as line-sized pieces."),
    ("web_crawl_diff",
     "Snapshot diff: payloads digested map-side, FULL OUTER join "
     "moves (url, digest, ts) only; no Python node."),
    ("corpus_mixture_sample",
     "Mixture sampling: per-source keep rates broadcast back onto "
     "the corpus (BroadcastHashJoin); the corpus rows are filtered "
     "in place, never shuffled on the source key."),
    ("web_robots_gate",
     "Robots gate: per-domain rule ARRAYS broadcast onto the page "
     "scan (BroadcastHashJoin), longest-match evaluated map-side "
     "with higher-order functions — zero Exchange on the page side; "
     "the only shuffles live inside the tiny rules aggregation."),
    ("web_canonical_collapse",
     "Canonical-family gate: head regexps are whole-stage-codegen "
     "expressions; ONE skinny Exchange on the canonical key with "
     "map-side partial aggregation (SortAggregate — min(string) has "
     "an immutable buffer); payloads never shuffle."),
    ("web_outlinks",
     "Outlink extraction: decode → regexp_extract_all → explode as "
     "pure JVM expressions; one 2-phase aggregation on the skinny "
     "(src, dst) pair."),
    ("warc_read",
     "WARC source: binaryFile scan → MapInPandas parse, NO Exchange "
     "— one task per archive file, payload bytes never shuffle "
     "(mirrors the parquet flagship's scan shape)."),
    ("mm_audio",
     "Audio decode (r5): synth → decode are two MapInPandas stages "
     "riding ONE scan with NO Exchange — media payloads never "
     "shuffle; ReadSchema carries only (doc_id, text). Same shape "
     "as mm_decode/ext_flagship: the rule for every expensive "
     "Python stage. mm_video (the ISO-BMFF probe) plans "
     "identically and is pinned by the same plan test."),
    ("ts_lm_score",
     "Bigram-LM scoring: the vocabulary-cut model reaches the "
     "exploded corpus through a BroadcastHashJoin; the per-doc fold "
     "is a 2-phase HashAggregate, so the only hash Exchange carries "
     "(doc_id, partial sums) — text never shuffles."),
    ("ts_lm_bigrams",
     "LM training: the top-k vocabulary cut compiles to "
     "TakeOrderedAndProject (distributed per-partition top-k), never "
     "a single-partition global Sort."),
    ("web_anchor_stats",
     "Anchor-text aggregation: tag extraction is plan-side regex on "
     "the page scan; every Exchange carries skinny (target, anchor) "
     "strings."),
    ("ts_dup_spans",
     "Dup-span coverage: gram build + explode ride the scan as JVM "
     "expressions; the df cut and interval-union window shuffle only "
     "(gram) / (doc_id, pos) — document text crosses no Exchange."),
    ("corpus_manifest",
     "Mixture manifest: ONE 2-phase hash aggregate over "
     "(source, lang, split); the corpus token total is attached as a "
     "literal from a bounded one-scalar collect, so there is NO "
     "window and NO SinglePartition exchange — with per-domain "
     "sources the aggregated frame itself is ~10^8 rows at 10^12 "
     "pages."),
    ("ts_dup_strip",
     "Dup-span REMOVAL (r5): gram discovery rides the scan exactly "
     "like the coverage op; merged intervals come from a skinny "
     "(doc_id, pos) window; the payload crosses exactly ONE Exchange "
     "(the per-doc id join) and the rewrite is a JVM HOF filter — no "
     "Python, no SinglePartition."),
    ("emb_hash_vectors",
     "Hash embedder (r5): gram build + md5 bucket/sign are JVM "
     "expressions; the explode feeds a 2-phase (id, bucket) "
     "HashAggregate — map-side combine caps shuffle volume at "
     "O(docs·dim) regardless of text length; densify/normalize are "
     "per-row HOFs. No Python."),
    ("ts_tokens_bpe",
     "BPE-ish token counting (r5): four regexp_count expressions in "
     "one whole-stage-codegen projection riding the scan — NO "
     "Exchange, no Python."),
]


def main() -> None:
    from extract_kit_spark.session import get_spark
    from extract_kit_spark.queries import QUERIES
    spark = get_spark(master="local[4]", app_name="gen-plans",
                      shuffle_partitions=4)
    out = [
        "# PLANS — committed physical-plan evidence",
        "",
        "Generated by `python tests/gen_plans.py` at sf0.001 "
        "(plans are shape-stable across SF; only statistics change). "
        "Each property is also asserted by tests/test_plans.py, so "
        "this file is documentation — the tests are the gate.",
        "",
    ]
    for name, why in SECTIONS:
        df = QUERIES[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        out += [f"## {name}", "", why, "", "```", plan.rstrip(), "```",
                ""]

    # web_domain_join_aqe: the evidence is the EXECUTED adaptive plan
    # (the skew split only exists after runtime map statistics), so
    # build the join under AQE_SKEW_CONFS, run it, and capture the
    # final plan rather than the static explain.
    from pyspark.sql import functions as F
    from extract_kit_spark.ops import webstats
    from extract_kit_spark.queries import fixture
    pages = (spark.read.parquet(fixture("pages"))
             .select("url",
                     F.length("html").cast("long").alias("n_bytes")))
    facts = pages.withColumn("domain", webstats.domain_of(F.col("url")))
    dim = (facts.select("domain").distinct()
           .withColumn("tier", (F.length("domain") % 3).cast("int"))
           .localCheckpoint())
    for k, v in webstats.AQE_SKEW_CONFS.items():
        spark.conf.set(k, v)
    joined = webstats.aqe_skew_join(facts, dim, "domain")
    joined.collect()
    final_plan = joined._jdf.queryExecution().executedPlan().toString()
    out += [
        "## web_domain_join_aqe (executed adaptive plan)", "",
        "AQE-native skew twin of web_domain_join_salted: NO salt "
        "column — the runtime splits the hot reducer partition "
        "(`SortMergeJoin(skew=true)`, `AQEShuffleRead coalesced and "
        "skewed`) from map statistics. Two constraints decide "
        "salting-vs-AQE (webstats.aqe_skew_join docstring): the split "
        "exists only at sort-merge shuffle boundaries, and "
        "OptimizeSkewedJoin needs a clean Exchange→Sort directly "
        "under the join on BOTH sides — a lineage-linked distinct() "
        "on the join key interposes its final HashAggregate there and "
        "silently defeats the rule. Manual salting covers both gaps.",
        "", "```", final_plan.rstrip(), "```", ""]
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
