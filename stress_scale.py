"""Scale/skew stress for the iterative dedup path (round-3 verdict
task: "sf1 skewed scale-stress").

Two experiments, both over deterministic in-Spark-generated inputs:

1. FULL PIPELINE — ``corpus.curate_near`` at N docs (default 400k)
   over the skew corpus (``fixtures.gen_skew_doc``): a 10k-doc
   EXACT-duplicate mega-cluster (hot fingerprint key), 7,500 4-doc
   near-dup star clusters (30k docs through the Jaccard pair graph +
   connected components), and a mixed-quality/lang unique tail.
   Run TWICE: once with the default 1M-edge bounded driver finish
   (the path a typical corpus takes) and once with
   ``cc_small_graph_edges=0`` forcing the distributed pointer-jumping
   loop — the rarely-exercised path is the one that must also hold.
   Asserts exact survivor accounting (1 hot survivor, 7,500 near
   survivors, gated tail) so a silent wrong-answer can't pass as a
   performance number.

2. DIRECT CC — ``dedup.duplicate_clusters`` on a synthetic pair graph
   whose edge count (default ~2.06M) exceeds the driver-finish bound,
   so the distributed loop engages at its DEFAULT setting: one
   10k-node PATH component (diameter 10k — the adversarial case for
   label propagation) plus 1M disjoint 2-cliques (breadth). Pins
   rounds ≤ log2(diameter) + 2 (pointer jumping's bound) and checks
   the chain collapsed to one label. Also replays the same graph
   through the driver union-find finish for path-equality timing.

Shuffle totals come from the Spark UI REST API (local[32] driver at
127.0.0.1:4040) — per-stage max and job total shuffle write bytes.

Usage: python stress_scale.py [--docs 400000] [--cpus 32]
Prints one JSON line; results are recorded in STRESS.json (that line,
saved from a run).
"""

from __future__ import annotations

import argparse
import json
import math
import sys
import time
import urllib.request


def _shuffle_stats(ui_port: int) -> dict:
    """Total + max-stage shuffle write bytes via the UI REST API."""
    try:
        base = f"http://127.0.0.1:{ui_port}/api/v1/applications"
        apps = json.load(urllib.request.urlopen(base, timeout=10))
        app_id = apps[0]["id"]
        stages = json.load(urllib.request.urlopen(
            f"{base}/{app_id}/stages?status=complete", timeout=30))
        writes = [s.get("shuffleWriteBytes", 0) for s in stages]
        reads = [s.get("shuffleReadBytes", 0) for s in stages]
        return {"n_stages": len(stages),
                "shuffle_write_total_mb": round(sum(writes) / 1e6, 1),
                "shuffle_write_max_stage_mb":
                    round(max(writes, default=0) / 1e6, 1),
                "shuffle_read_total_mb": round(sum(reads) / 1e6, 1)}
    except Exception as exc:  # UI disabled / port taken: degrade
        return {"error": f"ui-rest-unavailable: {exc}"}


def build_skew_docs(spark, n: int):
    from pyspark.sql import types as T
    from extract_kit_spark.fixtures import gen_skew_doc

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ])

    def gen(batches):
        import pandas as pd
        for pdf in batches:
            yield pd.DataFrame([gen_skew_doc(int(i))
                                for i in pdf["id"].tolist()])

    return (spark.range(n).repartition(64)
            .mapInPandas(gen, schema=schema))


def run_pipeline(spark, n_docs: int, force_distributed: bool) -> dict:
    from extract_kit_spark.fixtures import SKEW_HOT_DOCS, SKEW_NEAR_DOCS
    from extract_kit_spark.ops import corpus

    docs = build_skew_docs(spark, n_docs).localCheckpoint()
    cc_stats: dict = {}
    t0 = time.perf_counter()
    out = corpus.curate_near(
        docs, min_quality=0.5, langs=("en",),
        jaccard_threshold=0.80, max_df=100,
        cc_stats_out=cc_stats,
        cc_small_graph_edges=0 if force_distributed else 1_000_000)
    n_out = out.count()
    wall = time.perf_counter() - t0

    # hard accounting: 1 survivor from the 10k exact-dup mega-cluster;
    # exactly one representative per 4-doc near star (cluster
    # connectivity through the v0 center must have closed)
    from pyspark.sql import functions as F
    srcs = {r["source"]: r["n"] for r in
            docs.join(out.select("doc_id"), "doc_id")
                .groupBy("source").agg(F.count("*").alias("n"))
                .collect()}
    n_hot = srcs.get("hotdup", 0)
    n_near = sum(v for k, v in srcs.items() if k.startswith("near"))
    assert n_hot == 1, f"hot mega-cluster survivors: {n_hot}"
    assert n_near == SKEW_NEAR_DOCS // 4, \
        f"near-cluster survivors: {n_near} != {SKEW_NEAR_DOCS // 4}"
    return {"n_docs": n_docs, "wall_s": round(wall, 1),
            "survivors": n_out, "hot_survivors": n_hot,
            "near_survivors": n_near, "cc": cc_stats}


def run_direct_cc(spark, chain_n: int = 10_000,
                  n_small: int = 1_000_000) -> dict:
    from pyspark.sql import functions as F
    from extract_kit_spark.ops import dedup

    # 10k-node path (ids 0..chain_n) + 1M disjoint 2-cliques
    chain = spark.range(chain_n).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    base = F.lit(chain_n + 10) + F.col("id") * 2
    smalls = spark.range(n_small).select(
        base.alias("id_a"), (base + 1).alias("id_b"))
    pairs = chain.union(smalls).repartition(64).localCheckpoint()

    results = {}
    for label, path, bound in (
            ("distributed", "distributed", 1_000_000),
            ("driver_finish", "local", 1 << 62)):
        stats: dict = {}
        t0 = time.perf_counter()
        labels = dedup.duplicate_clusters(
            pairs, small_graph_edges=bound, stats_out=stats)
        agg = (labels.agg(
            F.countDistinct("cluster_id").alias("n_clusters"),
            F.count("*").alias("n_nodes"),
            F.sum(F.when(F.col("cluster_id") == 0, 1)
                  .otherwise(0)).alias("chain_sz")).collect()[0])
        wall = time.perf_counter() - t0
        assert stats["path"] == path, stats
        assert agg["n_clusters"] == 1 + n_small, agg
        assert agg["chain_sz"] == chain_n + 1, agg
        if path == "distributed":
            bound_r = math.log2(chain_n) + 2
            assert stats["rounds"] <= bound_r, \
                f"rounds {stats['rounds']} > log2(diameter)+2 = {bound_r:.1f}"
        results[label] = {"wall_s": round(wall, 1), **stats}
    return {"chain_nodes": chain_n + 1, "small_components": n_small,
            **results}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=400_000)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--skip-pipeline", action="store_true")
    ap.add_argument("--skip-cc", action="store_true")
    args = ap.parse_args()

    from extract_kit_spark.session import get_spark
    spark = get_spark(master=f"local[{args.cpus}]",
                      app_name="ek-stress",
                      shuffle_partitions=args.cpus,
                      extra_conf={"spark.ui.enabled": "true",
                                  "spark.ui.port": "4040"})

    out: dict = {"cpus": args.cpus}
    if not args.skip_cc:
        out["direct_cc"] = run_direct_cc(spark)
    if not args.skip_pipeline:
        out["pipeline_driver_finish"] = run_pipeline(
            spark, args.docs, force_distributed=False)
        out["pipeline_distributed"] = run_pipeline(
            spark, args.docs, force_distributed=True)
    out["shuffle"] = _shuffle_stats(4040)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
