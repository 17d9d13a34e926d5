"""Physical-plan assertions: the optimizations we claim must be visible
in `.explain` output — column pruning reaching the parquet scan,
broadcast joins where a side is small, JVM-only expression queries with
no Python stage, and no shuffle in the scan-layout extraction plan."""

import pytest

from extract_kit_spark.pipeline import read_pages
from extract_kit_spark.queries import (PAGES_PATH, QUERIES, fixture)

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    import contextlib
    import io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_pages_scan_prunes_columns(spark):
    fixture("pages")
    plan = _plan(read_pages(spark, PAGES_PATH))
    # ReadSchema must not include the unused text/lang columns
    read_schema = [ln for ln in plan.splitlines()
                   if "ReadSchema" in ln][0]
    assert "url" in read_schema and "html" in read_schema
    assert "text" not in read_schema and "lang" not in read_schema


def test_filter_pushdown_reaches_scan(spark):
    df = (spark.read.parquet(f"{SF_DIR}/orders.parquet")
          .where("o_orderkey = 42").select("o_orderkey"))
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "IsNotNull(o_orderkey)" in plan or "EqualTo" in plan


def test_top_revenue_uses_broadcast_join(spark):
    plan = _plan(QUERIES["rel_top_revenue"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_detect_kind_is_jvm_only(spark):
    """The vectorized detector must stay in whole-stage codegen — no
    Python evaluation node anywhere in the plan."""
    plan = _plan(QUERIES["ext_detect_kind"](spark, SF_DIR))
    assert "InPandas" not in plan and "EvalPython" not in plan
    # '*' prefix marks whole-stage-codegen nodes in formatted mode
    assert "* Project" in plan


def test_ts_stats_is_jvm_only(spark):
    plan = _plan(QUERIES["ts_stats"](spark, SF_DIR))
    assert "InPandas" not in plan and "EvalPython" not in plan


def test_mm_media_meta_is_jvm_only(spark):
    plan = _plan(QUERIES["mm_media_meta"](spark, SF_DIR))
    assert "InPandas" not in plan and "EvalPython" not in plan


def test_mm_decode_and_audio_plans_have_no_shuffle(spark):
    """The expensive media decode stages (synth → decode, two
    MapInPandas over one scan) must never KEY-shuffle payload bytes
    (the only Exchange allowed is _read_parallel's RoundRobin
    tiny-scan fan-out, a no-op at real scale) and must prune the
    documents scan to (doc_id, text)."""
    for name in ("mm_decode", "mm_audio", "mm_video",
                 "mm_audio_features"):
        plan = _plan(QUERIES[name](spark, SF_DIR))
        assert "hashpartitioning" not in plan, name
        assert "SinglePartition" not in plan, name
        assert "MapInPandas" in plan, name
        # column pruning: lang/source never reach the parquet scan
        assert "lang" not in plan.split("ReadSchema", 1)[-1], name


def test_scan_extraction_plan_has_no_shuffle(spark):
    """The flagship dataflow (scan → mapInPandas) must not shuffle the
    payload bytes."""
    plan = _plan(QUERIES["ext_flagship"](spark, SF_DIR))
    assert "Exchange" not in plan
    assert "MapInPandas" in plan


def test_region_revenue_broadcasts_dim_chain(spark):
    # the only shuffle join is the lineitem⋈orders fact join; every
    # dimension (region→nation, customer, supplier) is broadcast
    plan = _plan(QUERIES["rel_region_revenue"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_ann_topk_scores_mapside_no_join(spark):
    # queries are captured by the vectorized scorer (map-side broadcast
    # by construction): the corpus is never joined, the only exchange
    # is the tiny candidate shuffle feeding the final top-k window
    plan = _plan(QUERIES["ann_topk"](spark, SF_DIR))
    assert "Join" not in plan
    assert "MapInPandas" in plan
    assert "Window" in plan


def test_salted_join_plan_is_shuffle_join_on_salted_key(spark):
    """The skew-join demo must actually plan the salted shuffle: a
    SortMergeJoin (merge hint; broadcast would make the demo vacuous)
    whose join keys include the synthetic __salt column."""
    from extract_kit_spark.queries import QUERIES
    plan = _plan(QUERIES["web_domain_join_salted"](spark, SF_DIR))
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan
    assert "__salt" in plan


def test_aqe_skew_join_splits_hot_partition(spark):
    """The AQE-native skew twin: under AQE_SKEW_CONFS the Zipf join's
    final adaptive plan must carry the runtime skew split (the
    SortMergeJoin is marked skew=true once AQE rewrites the hot
    reducer partition into advisory-sized sub-reads), and the result
    must equal the explicit-salt twin row-for-row."""
    from extract_kit_spark.ops import webstats
    from pyspark.sql import functions as F
    fixture("pages")
    pages = (spark.read.parquet(PAGES_PATH)
             .select("url", F.length("html").cast("long")
                     .alias("n_bytes")))
    facts = pages.withColumn("domain",
                             webstats.domain_of(F.col("url")))
    # materialized dim: OptimizeSkewedJoin needs a clean
    # Exchange→Sort under the join on BOTH sides; a lineage-linked
    # distinct() on the join key interposes its final HashAggregate
    # there and silently defeats the rule (webstats.aqe_skew_join)
    dim = (facts.select("domain").distinct()
           .withColumn("tier", (F.length("domain") % 3).cast("int"))
           .localCheckpoint())
    old = {k: spark.conf.get(k, None)
           for k in webstats.AQE_SKEW_CONFS}
    for k, v in webstats.AQE_SKEW_CONFS.items():
        spark.conf.set(k, v)
    try:
        joined = webstats.aqe_skew_join(facts, dim, "domain")
        # execute THIS frame's own QueryExecution (count() would build
        # a new one and leave this plan isFinalPlan=false)
        assert len(joined.collect()) > 0
        final_plan = joined._jdf.queryExecution() \
            .executedPlan().toString()
    finally:
        for k, v in old.items():
            (spark.conf.unset(k) if v is None
             else spark.conf.set(k, v))
    assert "isFinalPlan=true" in final_plan
    assert "skew=true" in final_plan, final_plan[:2000]
    # equivalence with the salted twin on the rollup
    a = {tuple(r) for r in
         QUERIES["web_domain_join_aqe"](spark, SF_DIR).collect()}
    b = {tuple(r) for r in
         QUERIES["web_domain_join_salted"](spark, SF_DIR).collect()}
    assert a == b


def test_ts_tfidf_is_jvm_only_with_partial_aggs(spark):
    """TF-IDF: no Python node anywhere, and the (doc, term) count
    runs as partial+final HashAggregate pairs (map-side combine is
    what absorbs hot-term skew at scale)."""
    plan = _plan(QUERIES["ts_tfidf_topk"](spark, SF_DIR))
    assert "InPandas" not in plan and "EvalPython" not in plan
    assert plan.count("HashAggregate") >= 4  # two aggs, each 2-phase


def test_replay_pages_broadcasts_quarantine_keys(spark):
    """Quarantine replay (pipeline._replay_pages): the key-set is
    explicitly broadcast under the bound, so the pages payload reaches
    the extraction kernel through a BroadcastHashJoin — the html bytes
    never cross an Exchange. The only allowed Exchange is the
    post-filter per-url window over the already-filtered 1-2% slice."""
    from pyspark.sql import functions as F
    from extract_kit_spark.pipeline import _replay_pages
    fixture("pages")
    bad = (spark.read.parquet(PAGES_PATH).select("url").limit(5)
           .localCheckpoint())
    df = _replay_pages(spark, PAGES_PATH, bad, n_bad=5,
                       broadcast_max_keys=2_000_000)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # pre-join payload side must be Scan -> BroadcastHashJoin directly;
    # every Exchange in the plan is the post-join window shuffle
    n_exchange = plan.count("Exchange hashpartitioning")
    assert n_exchange <= 1


def test_url_dedup_shuffles_skinny_only(spark):
    """Url dedup: no Python node, and exactly ONE hash Exchange — the
    groupBy(canonical_url) — so at scale the only shuffled bytes are
    (canonical, url, ts)."""
    from extract_kit_spark.queries import fixture
    fixture("url_log")
    plan = _plan(QUERIES["web_url_dedup"](spark, SF_DIR))
    assert "InPandas" not in plan and "EvalPython" not in plan
    # formatted explain lists each Exchange's partitioning in its
    # Arguments detail: exactly one hash shuffle
    assert plan.count("hashpartitioning(") == 1


def test_pii_scrub_is_single_pass_jvm(spark):
    """PII scrub: a pure projection — zero Exchange, zero Python."""
    from extract_kit_spark.queries import fixture
    fixture("pii_docs")
    plan = _plan(QUERIES["pii_scrub"](spark, SF_DIR))
    assert "InPandas" not in plan and "EvalPython" not in plan
    assert "hashpartitioning(" not in plan


def test_pack_plan_single_stream_shuffle(spark):
    """Packing plan: one hash Exchange (by stream) feeding the
    running-sum window; everything else rides the scan."""
    plan = _plan(QUERIES["corpus_pack_plan"](spark, SF_DIR))
    assert "InPandas" not in plan and "EvalPython" not in plan
    assert "Window" in plan
    assert plan.count("hashpartitioning(") == 1


def test_contamination_broadcasts_eval_side(spark):
    """Decontamination: the eval-item gram side and the per-item gram
    counts meet the corpus through BroadcastHashJoins — the training
    gram stream is never sort-merge shuffled."""
    from extract_kit_spark.queries import fixture
    fixture("bench_items")
    plan = _plan(QUERIES["contamination_8gram"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert plan.count("Join type: Inner") == 2
    assert "SortMergeJoin" not in plan


def test_dedup_lines_anti_join_no_python(spark):
    """Line dedup: boilerplate removal is a LEFT ANTI equality join;
    no Python node anywhere."""
    from extract_kit_spark.queries import fixture
    fixture("line_docs")
    plan = _plan(QUERIES["dedup_lines"](spark, SF_DIR))
    assert "LeftAnti" in plan
    assert "InPandas" not in plan and "EvalPython" not in plan


def test_domain_cap_salted_window_first(spark):
    """Per-domain cap: the first (heavy) rank runs over
    (domain, __salt) so a hot domain is spread across reducers; the
    global rank only sees the pruned superset."""
    from extract_kit_spark.queries import fixture
    fixture("url_log")
    plan = _plan(QUERIES["web_domain_cap"](spark, SF_DIR))
    assert "__salt" in plan
    assert "InPandas" not in plan and "EvalPython" not in plan


def test_crawl_diff_digests_before_join(spark):
    """Snapshot diff: full-outer join with both inputs reduced to
    (url, digest, ts) projections before any Exchange — and no
    Python node. The html payload column appears only inside scan
    ReadSchema / pre-shuffle projections, never past the join."""
    from extract_kit_spark.queries import fixture
    fixture("pages")
    fixture("pages_v2snap")
    plan = _plan(QUERIES["web_crawl_diff"](spark, SF_DIR))
    assert "FullOuter" in plan
    assert "InPandas" not in plan and "EvalPython" not in plan


def test_mixture_sample_broadcasts_rates(spark):
    """Mixture sampling: the per-source keep rates reach the corpus
    through a BroadcastHashJoin (the corpus rows are filtered in
    place, never shuffled on the source key)."""
    plan = _plan(QUERIES["corpus_mixture_sample"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "InPandas" not in plan and "EvalPython" not in plan


def test_blocklist_broadcasts_rules(spark):
    """Blocklist labeling: rules meet the suffix-chain explode in
    broadcast joins only — the corpus is never sort-merge shuffled
    against the rule table."""
    plan = _plan(QUERIES["web_blocklist"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan or "LeftOuter" in plan
    assert "InPandas" not in plan and "EvalPython" not in plan


def test_html_meta_and_collapse_are_jvm_only(spark):
    """Head-metadata extraction and the canonical gate must stay in
    whole-stage codegen (regexp/contains expressions, one skinny
    aggregation) — no Python evaluation anywhere."""
    plan = _plan(QUERIES["web_html_meta"](spark, SF_DIR))
    assert "InPandas" not in plan and "EvalPython" not in plan
    plan = _plan(QUERIES["web_canonical_collapse"](spark, SF_DIR))
    assert "InPandas" not in plan and "EvalPython" not in plan
    # partial+final aggregation (min(string) ⇒ SortAggregate — the
    # buffer type is immutable — but the map-side combine must exist)
    # over exactly ONE skinny exchange
    assert "partial_count" in plan
    assert plan.count("+- Exchange") == 1


def test_outlinks_is_jvm_only(spark):
    plan = _plan(QUERIES["web_outlinks"](spark, SF_DIR))
    assert "InPandas" not in plan and "EvalPython" not in plan


def test_robots_gate_broadcasts_rules_no_page_exchange(spark):
    """The robots gate must evaluate map-side: per-domain rule arrays
    broadcast onto the page scan, no shuffle of the pages side. The
    only Exchange allowed in the plan is inside the tiny rules
    aggregation feeding the broadcast."""
    plan = _plan(QUERIES["web_robots_gate"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "InPandas" not in plan and "EvalPython" not in plan
    # the pages scan must flow into the broadcast join without an
    # exchange: every Exchange in the plan is a broadcast or feeds the
    # rules-side window/agg, never hashpartitioning on url
    assert "hashpartitioning(url" not in plan


def test_lm_score_broadcasts_model_no_payload_shuffle(spark):
    """LM scoring: the vocabulary-cut model reaches the exploded
    corpus through a BroadcastHashJoin (never a SortMergeJoin that
    would shuffle per-bigram rows), and the per-doc fold is a 2-phase
    HashAggregate — the only hash Exchange carries (doc_id, partial
    sums)."""
    from extract_kit_spark.queries import fixture
    fixture("zipf_docs")
    plan = _plan(QUERIES["ts_lm_score"](spark, SF_DIR))
    assert "InPandas" not in plan and "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    # the one SortMergeJoin-free join: scoring side; training-side
    # joins are count-frame joins and may shuffle, but never rows
    # wider than (bigram, counts)
    score_tail = plan.split("BroadcastHashJoin")[-1]
    assert "text" not in score_tail.split("ReadSchema")[0]


def test_lm_train_topk_is_take_ordered_not_global_sort(spark):
    """The top_k vocabulary cut compiles to TakeOrderedAndProject
    (per-partition top-k + driver merge), NOT a single-partition
    global Sort — the difference between a bounded trainer and a
    straggler at 100 TB vocab."""
    from extract_kit_spark.queries import fixture
    fixture("zipf_docs")
    plan = _plan(QUERIES["ts_lm_bigrams"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


def test_anchor_stats_regex_rides_scan_jvm_only(spark):
    """Anchor aggregation: zero Python nodes; the page payload is
    consumed by plan-side regex before any Exchange — every shuffle
    is over skinny (target, anchor) strings."""
    plan = _plan(QUERIES["web_anchor_stats"](spark, SF_DIR))
    assert "InPandas" not in plan and "EvalPython" not in plan
    # no html bytes beyond the scan: the explode output is projected
    # to (src_domain, tag) before the first aggregate Exchange
    first_exchange_tail = plan.split("Exchange hashpartitioning", 1)[0]
    assert "regexp_extract_all" in first_exchange_tail


def test_manifest_single_skinny_aggregate(spark):
    """Mixture manifest: JVM-only, one hash Exchange for the
    (source, lang, split) groupBy; the share window runs over the
    aggregated frame (constant-size), never the corpus."""
    plan = _plan(QUERIES["corpus_manifest"](spark, SF_DIR))
    assert "InPandas" not in plan and "EvalPython" not in plan
    # the corpus total arrives as a LITERAL (one bounded scalar
    # collect, pagerank-style), so the share projection needs no
    # un-partitioned window — with per-domain sources a 10^12-page
    # manifest has ~10^8 rows and a single-reducer window would be
    # the straggler. No Window node, no SinglePartition exchange.
    assert "Window" not in plan
    assert "SinglePartition" not in plan


def test_curate_lm_broadcasts_model(spark):
    """LM-gated curation keeps the scoring join broadcast — composing
    the gate must not demote the LM join to a payload shuffle."""
    from extract_kit_spark.queries import fixture
    fixture("zipf_docs")
    plan = _plan(QUERIES["corpus_curate_lm"](spark, SF_DIR))
    assert "InPandas" not in plan and "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_dup_spans_jvm_only_skinny_shuffles(spark):
    """Dup-span coverage: no Python node; gram building rides the
    scan and every Exchange carries (gram) / (doc_id, pos) strings,
    never document text."""
    from extract_kit_spark.queries import fixture
    fixture("line_docs")
    plan = _plan(QUERIES["ts_dup_spans"](spark, SF_DIR))
    assert "InPandas" not in plan and "EvalPython" not in plan
    assert "Window" in plan


def test_pagerank_contrib_sum_is_salted_two_phase(spark):
    """Each PageRank round's contribution sum must be the salted
    two-phase shape (partial per (node, salt), final per node): the
    plan shows an exchange hash-partitioned on (node, salt) feeding
    the final hashpartitioning(node) exchange, so a mega-in-degree
    domain spreads over N_SALTS reducers instead of pinning one."""
    from pyspark.sql import functions as F
    from extract_kit_spark.ops import webgraph

    edges = spark.createDataFrame(
        [("a.com", "hub.com", 3), ("b.com", "hub.com", 1),
         ("hub.com", "a.com", 2)], "src string, dst string, n long")
    # one un-checkpointed round, same expressions as pagerank()
    deg = edges.groupBy("src").agg(F.sum("n").alias("w"))
    ew = edges.join(deg, "src")
    ranks = (edges.select(F.col("src").alias("node")).distinct()
             .withColumn("rank", F.lit(10**9).cast("long")))
    contrib = (ew.join(ranks, ew["src"] == ranks["node"])
               .select(F.col("dst").alias("node"),
                       F.pmod(F.xxhash64(ew["src"]),
                              F.lit(webgraph.N_SALTS)).alias("salt"),
                       F.expr("(rank * n) div w").alias("c"))
               .groupBy("node", "salt")
               .agg(F.sum("c").alias("ps"))
               .groupBy("node")
               .agg(F.sum("ps").alias("s")))
    plan = _plan(contrib)
    import re
    assert re.search(r"hashpartitioning\(node[^)]*salt", plan), plan
    # and results are identical to the production loop's oracle shape:
    got = {r.node: r.s for r in contrib.collect()}
    unsalted = (ew.join(ranks, ew["src"] == ranks["node"])
                .select(F.col("dst").alias("node"),
                        F.expr("(rank * n) div w").alias("c"))
                .groupBy("node").agg(F.sum("c").alias("s")))
    assert got == {r.node: r.s for r in unsalted.collect()}


def test_dup_strip_is_jvm_only_no_single_partition(spark):
    """The dup-span rewrite must stay JVM-side (HOF filter, no Python
    stage) and contain no single-reducer stage; the payload crosses
    only the final per-doc id join, never a token-level shuffle."""
    plan = _plan(QUERIES["ts_dup_strip"](spark, SF_DIR))
    assert "InPandas" not in plan and "EvalPython" not in plan
    assert "SinglePartition" not in plan


def test_tokens_bpe_is_jvm_only(spark):
    """BPE-ish piece counting must ride the scan: four regexp_count
    expressions, whole-stage codegen, no Python node, no Exchange."""
    plan = _plan(QUERIES["ts_tokens_bpe"](spark, SF_DIR))
    assert "InPandas" not in plan and "EvalPython" not in plan
    assert "Exchange" not in plan
