"""Property tests for the approximate (non-oracle-able) operators:
MinHash-LSH recall vs exact Jaccard, hyperplane-LSH ANN recall vs exact
top-k, SimHash behavior on near-identical docs."""

import pytest

from pyspark.sql import functions as F

from extract_kit_spark.ops import dedup, similarity

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_minhash_lsh_recall_and_precision(spark, docs):
    t = 0.82
    exact = {(r["id_a"], r["id_b"])
             for r in dedup.jaccard_pairs(docs, threshold=t).collect()}
    lsh = {(r["id_a"], r["id_b"])
           for r in dedup.minhash_lsh_pairs(docs, threshold=t).collect()}
    # precision is 1.0 by construction (candidates are exact-verified)
    assert lsh <= exact
    if exact:
        recall = len(lsh & exact) / len(exact)
        assert recall >= 0.8, f"minhash recall {recall:.2f}"


def test_minhash_identical_docs_always_pair(spark):
    rows = [(1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
            (3, "totally different words here nothing shared at all")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = dedup.minhash_lsh_pairs(df, threshold=0.9).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"])
            for r in pairs] == [(1, 2, 1.0)]


def test_jaccard_max_df_uses_post_cut_sizes(spark):
    """The r4 stress-run regression, minimized: with ``max_df`` on,
    jaccard must be measured over the POST-cut shingle space on both
    axes. Under the old mixed definition (post-cut intersection /
    pre-cut sizes) the two identical docs below — which share a
    corpus-hot trigram — scored 3/(4+4-3) = 0.6 and the pair vanished;
    two
    byte-identical documents must always score J = 1.0."""
    common = "alpha beta gamma"          # hot: appears in every doc
    twin = f"{common} delta epsilon zeta"  # 4 trigrams, 1 of them hot
    rows = [(0, twin), (1, twin)]
    rows += [(i, f"{common} unique{i}a unique{i}b unique{i}c")
             for i in range(2, 12)]      # drive 'alpha beta gamma' df=12
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dedup.jaccard_pairs(df, threshold=0.8, n=3,
                                        max_df=11).collect()}
    assert got == {(0, 1): 1.0}, got


def test_simhash_near_identical(spark):
    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "away into the deep dark forest tonight")
    rows = [(1, base), (2, base), (3, base + " extra"),
            (4, "completely unrelated vocabulary cluster zone")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in dedup.simhash_pairs(df, max_hamming=6).collect()}
    assert pairs.get((1, 2)) == 0          # identical → distance 0
    assert (1, 3) in pairs or (2, 3) in pairs  # one extra token: close
    assert (1, 4) not in pairs


def test_ann_lsh_recall(spark, emb):
    ex = {(r["query_id"], r["neighbor_id"])
          for r in similarity.cosine_topk(
              emb, emb.where(F.col("vec_id") < 20), k=5).collect()}
    ap = {(r["query_id"], r["neighbor_id"])
          for r in similarity.ann_lsh_topk(
              emb, emb.where(F.col("vec_id") < 20), k=5).collect()}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.75, f"ann lsh recall {recall:.2f}"


def test_ann_ivf_recall_and_determinism(spark, emb):
    q = emb.where(F.col("vec_id") < 20)
    ex = {(r["query_id"], r["neighbor_id"])
          for r in similarity.cosine_topk(emb, q, k=5).collect()}
    got1 = similarity.ann_ivf_topk(emb, q, k=5, n_centroids=32,
                                   nprobe=12).collect()
    ap = {(r["query_id"], r["neighbor_id"]) for r in got1}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.7, f"ann ivf recall {recall:.2f}"
    # fixed seed + deterministic sample → identical rerun
    got2 = similarity.ann_ivf_topk(emb, q, k=5, n_centroids=32,
                                   nprobe=12).collect()
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert sorted(got1, key=key) == sorted(got2, key=key)


def test_cosine_topk_ignores_zero_norm_vectors(spark):
    """Zero vectors score NaN; were they candidates, np.partition would
    sort them last and cut the real neighbours from the batch's
    partial top-k. Among 20 zero vectors in one partition, the result
    equals the one over the 8 real vectors alone."""
    import random
    rnd = random.Random(7)
    real = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(8)]
    zero = [(100 + i, [0.0] * 8) for i in range(20)]

    def top(rows):
        df = spark.createDataFrame(rows, "vec_id long, embedding "
                                   "array<double>").coalesce(1)
        return sorted(tuple(r) for r in similarity.cosine_topk(
            df, df, k=5).collect())

    want = top(real)
    assert len(want) == 8 * 5
    assert top(real + zero) == want


def test_shingle_sets_match_plan_side_shingles(spark, docs):
    """The pandas shingle stage must produce exactly the shingle SETS
    of the plan-side shingles() expression (the executable spec the
    oracle SQL mirrors)."""
    from pyspark.sql import functions as F
    sample = docs.limit(50)
    plan = {r["doc_id"]: set(r["sh"]) for r in sample.select(
        "doc_id", dedup.shingles(F.col("text"), 3).alias("sh")).collect()}
    pandas_sets = {r["id"]: set(r["sh"]) for r in dedup._shingle_sets(
        sample, 3, "doc_id", "text").collect()}
    assert plan == pandas_sets


def test_corpus_split_deterministic_and_disjoint(spark, docs):
    from extract_kit_spark.ops import corpus
    a = corpus.deterministic_split(docs).select(
        "doc_id", "bucket", "split").collect()
    b = corpus.deterministic_split(docs.repartition(7)).select(
        "doc_id", "bucket", "split").collect()
    key = lambda r: r["doc_id"]  # noqa: E731
    # partitioning-independent, rerun-stable assignment
    assert sorted(a, key=key) == sorted(b, key=key)
    frac = {}
    for r in a:
        frac[r["split"]] = frac.get(r["split"], 0) + 1
    n = len(a)
    assert 0.75 <= frac["train"] / n <= 0.85
    assert 0.05 <= frac["val"] / n <= 0.15
    assert 0.05 <= frac["test"] / n <= 0.15


def test_corpus_curate_filters_and_dedups(spark):
    from extract_kit_spark.ops import corpus
    rows = [
        (1, "the quick brown fox jumps over the lazy dog " * 8),
        (2, "THE  quick brown fox jumps over the lazy dog " * 8),
        (3, "!!! ,,, ... ;;; :::"),  # punctuation soup → low quality
        (4, "le chat est sur la table et la porte est ouverte " * 8),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = corpus.curate(df, min_quality=0.5, langs=("en",)).collect()
    ids = sorted(r["doc_id"] for r in got)
    # 2 dedups onto 1 (same normalized text), 3 fails quality,
    # 4 is french
    assert ids == [1]
    assert got[0]["split"] in ("train", "val", "test")


def test_evt_user_reach_approx_error_bound(spark):
    from extract_kit_spark.queries import q_evt_user_reach_approx
    rows = q_evt_user_reach_approx(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        err = abs(r["approx_users"] - r["exact_users"]) \
            / max(1, r["exact_users"])
        assert err <= 0.05, (r["event_type"], err)


def test_dedup_exact_keeps_one_per_group(spark):
    rows = [(1, "same text"), (2, "same  TEXT "), (3, "other")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kept = sorted(r["doc_id"]
                  for r in dedup.dedup_exact(df).collect())
    assert kept == [1, 3]  # normalized equality collapses 1 and 2


def test_embedding_pairs_symmetric_free(spark, emb):
    pairs = dedup.embedding_near_dup_pairs(emb, threshold=0.45)
    bad = pairs.where(F.col("id_a") >= F.col("id_b")).count()
    assert bad == 0


def test_multimodal_stub_matches_sql_path(spark, docs):
    """The Python decode stub and the pure-SQL metadata stage must
    produce identical rows — the contract that lets the expensive
    decode stage be gated behind SQL-side filtering."""
    from extract_kit_spark.ops import multimodal
    payloads = docs.select(
        "doc_id", F.encode("text", "UTF-8").alias("payload"))
    via_sql = multimodal.media_metadata_sql(payloads, "doc_id",
                                            "payload")
    via_py = multimodal.decode_images(payloads, "doc_id", "payload")
    assert via_sql.subtract(via_py).count() == 0
    assert via_py.subtract(via_sql).count() == 0


def test_frame_plan_offsets(spark, docs):
    from extract_kit_spark.ops import multimodal
    payloads = docs.select(
        "doc_id", F.encode("text", "UTF-8").alias("payload"))
    plan = multimodal.frame_sample_plan(payloads, "doc_id", "payload",
                                        frame_stride=64)
    row = plan.where(F.col("n_bytes") > 128).first()
    offs = row["frame_offsets"]
    assert offs[0] == 0 and all(b - a == 64
                                for a, b in zip(offs, offs[1:]))
    assert row["n_frames"] == len(offs)


def test_fingerprint_whitespace_edged(spark):
    """ADVICE r1 regression: trim strips only ASCII spaces, so the CSE'd
    fingerprint in with_text_stats must collapse-then-trim (like
    normalized()/the DuckDB oracle), or docs edged with \\t/\\n hash
    differently from their space-trimmed twins."""
    import duckdb
    from extract_kit_spark.ops.textstats import (with_text_stats,
                                                 fingerprint)
    rows = [(1, "hello  world\n"), (2, "hello world"),
            (3, "\thello world "), (4, "hello world\r\n")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["fingerprint"]
           for r in with_text_stats(df).select("doc_id", "fingerprint")
           .collect()}
    # all four normalize to "hello world" → one fingerprint
    assert len(set(got.values())) == 1
    # matches the standalone fingerprint() column
    ref = {r["doc_id"]: r["fp"] for r in df.select(
        "doc_id", fingerprint(F.col("text")).alias("fp")).collect()}
    assert got == ref
    # and matches the DuckDB oracle spelling bit-for-bit
    oracle = duckdb.sql(
        "SELECT md5(lower(trim(regexp_replace('hello  world' || chr(10),"
        " '\\s+', ' ', 'g'))))").fetchone()[0]
    assert got[1] == oracle


def test_evt_value_quantiles_approx_error_bound(spark):
    """The mergeable-sketch quantile twin honors GK's guarantee: the
    returned value's EMPIRICAL RANK is within ε·n (+1 for ties/edges)
    of the requested percentile. (A relative-VALUE bound would be
    wrong: approx_percentile returns actual data values, so on small
    groups the gap between adjacent order statistics dominates.)"""
    import bisect
    from extract_kit_spark.queries import q_evt_value_quantiles_approx
    approx = {r["event_type"]: r
              for r in q_evt_value_quantiles_approx(spark,
                                                    SF_DIR).collect()}
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet") \
        .select("event_type", "value").collect()
    by_type: dict = {}
    for r in ev:
        by_type.setdefault(r["event_type"], []).append(r["value"])
    assert set(approx) == set(by_type) and approx
    eps = 1.0 / 10000  # the query's accuracy parameter
    for etype, vals in by_type.items():
        vals.sort()
        n = len(vals)
        a = approx[etype]
        assert a["n"] == n
        for q, col in ((0.5, "p50"), (0.95, "p95"), (0.99, "p99")):
            lo = bisect.bisect_left(vals, a[col])
            hi = bisect.bisect_right(vals, a[col])
            target = q * n
            slack = eps * n + 1.0
            assert lo - slack <= target <= hi + slack, \
                (etype, col, lo, hi, target, n)


def test_duplicate_clusters_chain_and_islands(spark):
    """Connected components: a 4-chain collapses to one cluster via
    transitivity; islands keep their own ids; a disjoint pair stays
    separate."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),      # chain → cluster 1
         (10, 11),                    # pair → cluster 10
         (20, 21), (21, 22)],         # chain → cluster 20
        ["id_a", "id_b"])
    got = {r["doc_id"]: r["cluster_id"]
           for r in dedup.duplicate_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_duplicate_clusters_long_chain_converges(spark):
    """A 200-node path graph (the adversarial case for pure
    neighbor-min propagation, which needs O(diameter)=200 rounds)
    must fully converge within the default max_iters thanks to
    pointer jumping (O(log diameter))."""
    import math
    n = 200
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["id_a", "id_b"])
    stats: dict = {}
    got = {r["doc_id"]: r["cluster_id"]
           for r in dedup.duplicate_clusters(
               pairs, small_graph_edges=0, stats_out=stats).collect()}
    assert len(got) == n + 1
    assert set(got.values()) == {0}
    # the pointer-jumping complexity claim, pinned as a number: the
    # label depth roughly halves per round, so a diameter-n path must
    # converge in ≤ log2(n)+2 rounds (the same bound stress_scale.py
    # asserts on a 10k-node chain at the 2M-edge graph size)
    assert stats["path"] == "distributed"
    assert stats["rounds"] <= math.log2(n) + 2, stats


def test_duplicate_clusters_local_and_distributed_agree(spark):
    """The bounded driver-side union-find finish and the distributed
    pointer-jumping loop are the SAME function: a messy random graph
    (chains, triangles, islands, duplicate + reversed edges) must get
    identical labels from both paths."""
    import random as _r
    rng = _r.Random("cc:paths")
    edges = [(rng.randrange(400), rng.randrange(400)) for _ in range(300)]
    edges += [(b, a) for a, b in edges[:50]] + edges[:30]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    local = {(r["doc_id"], r["cluster_id"])
             for r in dedup.duplicate_clusters(pairs).collect()}
    dist = {(r["doc_id"], r["cluster_id"])
            for r in dedup.duplicate_clusters(
                pairs, small_graph_edges=0).collect()}
    assert local == dist and local


def test_approx_goldens_parallelism_independent(spark, docs, emb):
    """The committed approx-query goldens (tests/gen_approx_goldens.py)
    claim these ops are deterministic FUNCTIONS of their input —
    independent of partitioning. Pin that: rerun two of them with a
    deliberately different layout (prime repartition) and require the
    registry rows bit-for-bit (jaccard/cosine compare as exact doubles
    because round(x, 6) → json repr → parse roundtrips exactly)."""
    import json
    import os
    gdir = os.path.join(os.path.dirname(__file__), "golden")

    def slice_for_sf001(name):
        rows = json.load(open(os.path.join(gdir, f"{name}_golden.json")))
        return [r for r in rows if r["corpus_n"] == 1000]  # events@sf0.001

    want = {(r["id_a"], r["id_b"], r["jaccard"])
            for r in slice_for_sf001("dedup_minhash_lsh")}
    got = {(r["id_a"], r["id_b"], r["jaccard"])
           for r in dedup.minhash_lsh_pairs(
               docs.repartition(7), threshold=0.82).collect()}
    assert got == want

    want = {(r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
            for r in slice_for_sf001("ann_ivf_topk")}
    queries = emb.where(F.col("vec_id") < 20)
    got = {(r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
           for r in similarity.ann_ivf_topk(
               emb.repartition(13), queries, k=5,
               n_centroids=32, nprobe=12).collect()}
    assert got == want


def test_duplicate_clusters_empty_pair_graph(spark):
    """A corpus with NO near-dup candidate pairs — a normal production
    case — must yield an empty typed result, not
    CANNOT_INFER_EMPTY_SCHEMA (ADVICE r3). Both CC paths."""
    from extract_kit_spark.ops.dedup import duplicate_clusters
    empty = spark.createDataFrame([], "id_a long, id_b long")
    for small in (1_000_000, 0):  # driver finish / distributed loop
        out = duplicate_clusters(empty, small_graph_edges=small)
        assert out.count() == 0
        assert [f.simpleString() for f in out.schema.fields] == \
            ["doc_id:bigint", "cluster_id:bigint"]


def test_decode_image_pixels_real_and_typed_failures(spark):
    """The un-stubbed decode stage: real PNGs, baseline JPEGs AND
    GIFs come back with true dims + pixel sha256; junk behind a
    JPEG/GIF magic -> 'corrupt: ...' (the magics route to real
    decoders); structural damage -> 'corrupt: ...'; unknown magic ->
    'unsupported' — one typed row per input, never a task failure."""
    import hashlib
    from extract_kit_spark.kernels import gif, jpeg, png
    from extract_kit_spark.ops import multimodal
    pixels = bytes((i * 7 + 3) % 256 for i in range(6 * 4 * 3))
    good = png.encode_png(6, 4, pixels, 2, filter_type=3)
    jpixels = bytes([90] * (8 * 8))
    jgood = jpeg.encode_jpeg(8, 8, jpixels, channels=1, quality=90)
    jref = jpeg.decode_jpeg(jgood)
    gpal = [(10, 20, 30), (200, 100, 50)]
    ggood = gif.encode_gif(3, 2, b"\x00\x01\x01\x00\x01\x00", gpal)
    gpixels = b"".join(bytes(gpal[i])
                       for i in b"\x00\x01\x01\x00\x01\x00")
    rows = [(1, good), (2, b"\xff\xd8\xff\xe0jpegish"),
            (3, good[:-9]), (4, None), (5, jgood),
            (6, b"GIF89a\x01\x02"), (7, ggood),
            (8, b"RIFF\x10\x00\x00\x00WEBPVP8 ")]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r["media_id"]: r for r in
           multimodal.decode_image_pixels(df).collect()}
    assert len(out) == 8
    gok = out[7]
    assert (gok["fmt"], gok["width"], gok["height"],
            gok["channels"]) == ("gif", 3, 2, 3)
    assert gok["pixel_sha256"] == hashlib.sha256(gpixels).hexdigest()
    assert gok["decode_status"] == "ok"
    assert out[8]["decode_status"] == "unsupported"
    ok = out[1]
    assert (ok["width"], ok["height"], ok["channels"]) == (6, 4, 3)
    assert ok["pixel_sha256"] == hashlib.sha256(pixels).hexdigest()
    assert ok["decode_status"] == "ok"
    assert out[2]["fmt"] == "jpeg"
    assert out[2]["decode_status"].startswith("corrupt")
    assert out[3]["decode_status"].startswith("corrupt")
    assert out[4]["decode_status"] == "unsupported"
    jok = out[5]
    assert (jok["fmt"], jok["width"], jok["height"],
            jok["channels"]) == ("jpeg", 8, 8, 1)
    assert jok["pixel_sha256"] == hashlib.sha256(
        jref["pixels"]).hexdigest()
    assert jok["decode_status"] == "ok"
    # GIF magic with a broken body routes to the REAL decoder now
    assert out[6]["fmt"] == "gif"
    assert out[6]["decode_status"].startswith("corrupt")


def test_mm_decode_query_deterministic(spark):
    """mm_decode over the documents table: fully deterministic (golden
    registry depends on it), covers ok/corrupt/unsupported statuses,
    and decodes one row per document."""
    from extract_kit_spark.queries import QUERIES
    a = {r["media_id"]: r for r in
         QUERIES["mm_decode"](spark, "/root/testdata/sf0.001").collect()}
    b = {r["media_id"]: r for r in
         QUERIES["mm_decode"](spark, "/root/testdata/sf0.001").collect()}
    assert a == b and len(a) == 500
    statuses = {r["decode_status"].split(":")[0] for r in a.values()}
    assert statuses == {"ok", "corrupt", "unsupported"}
    n_ok = sum(r["decode_status"] == "ok" for r in a.values())
    assert n_ok > 400


def test_decode_audio_real_and_typed_failures(spark):
    """The audio twin of decode_image_pixels: real WAVs (PCM, float,
    EXTENSIBLE) come back with true sample geometry + PCM sha256;
    truncation -> 'corrupt: ...'; ADPCM/unknown magic ->
    'unsupported...' — one typed row per input."""
    import hashlib
    import struct
    from extract_kit_spark.kernels import wav
    from extract_kit_spark.ops import multimodal
    frames = struct.pack("<" + "h" * 96, *[(i * 331) % 4096 - 2048
                                           for i in range(96)])
    good = wav.encode_wav(16000, 2, 16, frames)
    i = good.index(b"fmt ") + 8
    adpcm = good[:i] + struct.pack("<H", 2) + good[i + 2:]
    rows = [(1, good), (2, good[:-5]), (3, adpcm),
            (4, b"OggS" + bytes(16)), (5, None),
            (6, wav.encode_wav(8000, 1, 8, bytes(range(64)),
                               extensible=True))]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r["media_id"]: r for r in
           multimodal.decode_audio(df).collect()}
    assert len(out) == 6
    ok = out[1]
    assert (ok["fmt"], ok["sample_rate"], ok["channels"],
            ok["bit_depth"], ok["n_samples"],
            ok["duration_ms"]) == ("wav", 16000, 2, 16, 48, 3)
    assert ok["pcm_sha256"] == hashlib.sha256(frames).hexdigest()
    assert ok["decode_status"] == "ok"
    assert out[2]["decode_status"].startswith("corrupt")
    assert out[3]["decode_status"].startswith("unsupported")
    assert out[4]["decode_status"] == "unsupported"
    assert out[5]["decode_status"] == "unsupported"
    ext = out[6]
    assert (ext["sample_rate"], ext["n_samples"]) == (8000, 64)
    assert ext["decode_status"] == "ok"


def test_mm_audio_query_deterministic(spark):
    """mm_audio over the documents table: fully deterministic (golden
    registry depends on it), covers ok/corrupt/unsupported statuses,
    one row per document."""
    from extract_kit_spark.queries import QUERIES
    a = {r["media_id"]: r for r in
         QUERIES["mm_audio"](spark, "/root/testdata/sf0.001").collect()}
    b = {r["media_id"]: r for r in
         QUERIES["mm_audio"](spark, "/root/testdata/sf0.001").collect()}
    assert a == b and len(a) == 500
    statuses = {r["decode_status"].split(":")[0] for r in a.values()}
    assert statuses == {"ok", "corrupt", "unsupported"}
    n_ok = sum(r["decode_status"] == "ok" for r in a.values())
    assert n_ok > 400
    # every advertised decode path appears in the synth corpus
    oks = [r for r in a.values() if r["decode_status"] == "ok"]
    assert {r["bit_depth"] for r in oks} == {8, 16, 32}
    assert {r["channels"] for r in oks} == {1, 2}
    assert {r["sample_rate"] for r in oks} == {8000, 16000, 22050,
                                               44100}


def test_probe_video_real_and_typed_failures(spark):
    """The video-container probe: real MP4s come back with brands,
    duration and first-video-track geometry; truncation -> 'corrupt:
    ...'; non-BMFF magic -> 'unsupported' — one typed row per input."""
    from extract_kit_spark.kernels import mp4
    from extract_kit_spark.ops import multimodal
    good = mp4.encode_mp4(90000, 1000, [("vide", 1280, 720),
                                        ("soun", 0, 0)],
                          mdat=bytes(64), brand="mp42")
    audio_only = mp4.encode_mp4(5000, 600, [("soun", 0, 0)])
    rows = [(1, good), (2, good[:30]), (3, b"\x1aE\xdf\xa3" + bytes(8)),
            (4, None), (5, audio_only)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r["media_id"]: r for r in
           multimodal.probe_video(df).collect()}
    assert len(out) == 5
    ok = out[1]
    assert (ok["fmt"], ok["major_brand"], ok["duration_ms"],
            ok["timescale"], ok["n_tracks"]) == ("mp4", "mp42", 90000,
                                                 1000, 2)
    assert (ok["video_width"], ok["video_height"]) == (1280, 720)
    assert ok["handlers"] == "vide,soun"
    assert ok["mdat_bytes"] == 64
    assert ok["decode_status"] == "ok"
    assert out[2]["fmt"] == "mp4"
    assert out[2]["decode_status"].startswith("corrupt")
    assert out[3]["decode_status"] == "unsupported"
    assert out[4]["decode_status"] == "unsupported"
    ao = out[5]
    assert ao["decode_status"] == "ok"
    assert ao["video_width"] is None and ao["handlers"] == "soun"


def test_mm_video_query_deterministic(spark):
    """mm_video over the documents table: fully deterministic (golden
    registry depends on it), covers ok/corrupt/unsupported statuses,
    one row per document, and every synth track-set shape appears."""
    from extract_kit_spark.queries import QUERIES
    a = {r["media_id"]: r for r in
         QUERIES["mm_video"](spark, "/root/testdata/sf0.001").collect()}
    b = {r["media_id"]: r for r in
         QUERIES["mm_video"](spark, "/root/testdata/sf0.001").collect()}
    assert a == b and len(a) == 500
    statuses = {r["decode_status"].split(":")[0] for r in a.values()}
    assert statuses == {"ok", "corrupt", "unsupported"}
    oks = [r for r in a.values() if r["decode_status"] == "ok"]
    assert len(oks) > 400
    assert {r["handlers"] for r in oks} == {"vide", "vide,soun",
                                            "soun"}
    assert {r["major_brand"] for r in oks} == {"isom", "mp42", "dash"}
    assert {r["timescale"] for r in oks} == {600, 1000, 90000}


def test_zipf_corpus_statistics_and_langid(spark):
    """The r4 Zipf corpus carries the signal its queries claim:
    (a) deterministic rows; (b) an open vocabulary (thousands of
    distinct terms) with a power-law head — some terms exceed the
    production max_df 0.5 cut, most fall under it, so
    tfidf(max_df=0.5) is a real filter, not a no-op or a wipe-out;
    (c) language-ID over it is a genuine prediction: injected
    stopwords match the doc's lang column, so lang_pred must agree
    with lang on ≥95% of docs (the driver's 31-word table can't test
    this — its texts have no language signal)."""
    from extract_kit_spark.fixtures import gen_zipf_doc
    from extract_kit_spark.ops.textstats import with_text_stats
    from extract_kit_spark.queries import (ZIPF_DOCS_GLOB, N_ZIPF_DOCS,
                                           fixture)
    assert gen_zipf_doc(123) == gen_zipf_doc(123)
    fixture("zipf_docs")
    docs = spark.read.parquet(ZIPF_DOCS_GLOB)
    assert docs.count() == N_ZIPF_DOCS
    df_counts = (docs
                 .select(F.col("doc_id"),
                         F.explode(F.array_distinct(
                             F.split(F.lower(F.trim("text")),
                                     r"\s+"))).alias("term"))
                 .groupBy("term").count())
    n_terms = df_counts.count()
    n_head = df_counts.where(F.col("count") > 0.5 * N_ZIPF_DOCS).count()
    assert n_terms > 2000, n_terms
    assert 5 <= n_head <= 60, n_head
    stats = with_text_stats(docs).select("lang", "lang_pred")
    agree = stats.where(F.col("lang") == F.col("lang_pred")).count()
    assert agree / N_ZIPF_DOCS >= 0.95, agree / N_ZIPF_DOCS


def test_canonical_url_cases(spark):
    """Hand-pinned canonicalization table: each case isolates one
    normalization rule (case, default port, fragment, tracking params
    with separator cleanup, trailing slash, root-path keep)."""
    from extract_kit_spark.ops.weburl import canonical_url
    cases = [
        ("HTTPS://ExAmPle.COM:443/Path/X?id=1#frag",
         "https://example.com/Path/X?id=1"),
        ("http://a.com:80/p", "http://a.com/p"),
        ("https://a.com/p?utm_source=x&id=2&fbclid=y",
         "https://a.com/p?id=2"),
        ("https://a.com/p?utm_campaign=c", "https://a.com/p"),
        ("https://a.com/p/", "https://a.com/p"),
        ("https://a.com/", "https://a.com/"),
        ("https://a.com/p?gclid=g&utm_x=1", "https://a.com/p"),
        ("https://a.com:8443/p", "https://a.com:8443/p"),
        ("https://a.com/P?ID=3", "https://a.com/P?ID=3"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r[0] for r in
           df.select(canonical_url(F.col("url"))).collect()]
    assert got == [want for _, want in cases]


def test_url_dedup_groups_all_variants(spark):
    """Every fixture url-log group collapses to ONE canonical row
    whose variant count equals the group's generated size, and the
    canonical carries the group's min raw url / min ts."""
    from extract_kit_spark.fixtures import gen_url_log_row
    from extract_kit_spark.ops.weburl import url_dedup
    rows = [r for r in (gen_url_log_row(i) for i in range(400)) if r]
    df = spark.createDataFrame(rows)
    out = url_dedup(df).collect()
    # group count: variants of group g differ only by removable noise
    n_groups = len({i // 4 for i in range(400)
                    if gen_url_log_row(i) is not None})
    assert len(out) == n_groups
    by_sz = {}
    for r in out:
        by_sz[r["n_variants"]] = by_sz.get(r["n_variants"], 0) + 1
        assert r["canonical_url"].startswith("https://")
        assert "#" not in r["canonical_url"]
        assert "utm_" not in r["canonical_url"]
        assert "fbclid" not in r["canonical_url"]
    assert set(by_sz) == {1, 2, 3, 4}  # 1..4 variants all occur


def test_domain_cap_equals_naive_window(spark):
    """The salted two-phase rank is row-identical to the naive single
    window — on a skewed input (one domain owns half the rows) and at
    several salt counts including n_salts=1 (degenerate = naive)."""
    import datetime as dt
    from pyspark.sql import Window
    from extract_kit_spark.ops.weburl import domain_cap
    from extract_kit_spark.ops.webstats import domain_of
    base = dt.datetime(2025, 1, 1)
    rows = []
    for i in range(300):
        dom = "hot.com" if i % 2 == 0 else f"d{i % 7}.com"
        rows.append((f"https://{dom}/p{i:04d}",
                     base + dt.timedelta(seconds=(i * 37) % 301)))
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp")
    w = Window.partitionBy("domain").orderBy(
        F.col("warc_ts").asc(), F.col("url").asc())
    naive = (df.select("url", "warc_ts",
                       domain_of(F.col("url")).alias("domain"))
             .withColumn("rank_in_domain",
                         F.row_number().over(w).cast("long"))
             .where(F.col("rank_in_domain") <= 5)
             .select("url", "domain", "warc_ts", "rank_in_domain"))
    want = sorted(map(tuple, naive.collect()))
    for n_salts in (1, 4, 16):
        got = sorted(map(tuple,
                         domain_cap(df, k=5, n_salts=n_salts).collect()))
        assert got == want, n_salts


def test_repetition_stats_hand_computed(spark):
    """Pinned values on tiny hand-built docs: a pure repeat, natural
    prose, and a one-token edge case."""
    from extract_kit_spark.ops.textstats import repetition_stats
    docs = spark.createDataFrame(
        [(1, "buy now buy now buy now"),
         (2, "the cat sat. the cat sat. dogs bark loud."),
         (3, "word")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    # doc 1: one sentence, grams = [buy now, now buy, buy now, now buy,
    # buy now] -> top share 3/5
    assert got[1]["n_sents"] == 1
    assert got[1]["dup_sent_frac"] == 0.0
    assert got[1]["top_bigram_share"] == 0.6
    # doc 2: sentences [the cat sat, the cat sat, dogs bark loud.] ->
    # normalized dup 1/3; grams: "the cat"x2, "cat sat"x2, "sat the",
    # "sat dogs", "dogs bark", "bark loud" of 8 -> 0.25
    assert got[2]["n_sents"] == 3
    assert got[2]["dup_sent_frac"] == round(1 - 2 / 3, 6)
    assert got[2]["top_bigram_share"] == 0.25
    # doc 3: no bigrams -> share 0
    assert got[3]["top_bigram_share"] == 0.0


def test_rep_corpus_separates_template_docs(spark):
    """On the repetition fixture, the signals actually separate the
    classes: template docs (source='template') must score high on
    dup_sent_frac, natural zipf docs near zero — so a gate at 0.3
    classifies ≥95% of both sides correctly."""
    from extract_kit_spark.ops.textstats import repetition_stats
    from extract_kit_spark.queries import (REP_DOCS_GLOB, fixture)
    fixture("rep_docs")
    docs = spark.read.parquet(REP_DOCS_GLOB)
    j = (repetition_stats(docs)
         .join(docs.select("doc_id", "source"), "doc_id"))
    agg = (j.groupBy("source")
           .agg(F.avg((F.col("dup_sent_frac") > 0.3).cast("int"))
                .alias("frac_flagged")).collect())
    flagged = {r["source"]: r["frac_flagged"] for r in agg}
    assert flagged["template"] >= 0.95, flagged
    assert flagged["natural"] <= 0.05, flagged


def test_pack_plan_invariants(spark):
    """Packing-plan contract: per stream, offsets are the exact
    prefix sums of token counts in doc_id order (gapless, no
    overlap); pack_id = offset // budget; the whole plan is
    partitioning-independent (2 vs 32 partitions, same rows)."""
    from extract_kit_spark.ops.corpus import pack_plan
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = pack_plan(docs, budget=512, n_streams=8)
    rows = plan.collect()
    assert len(rows) == docs.count()
    by_stream = {}
    for r in rows:
        by_stream.setdefault(r["stream"], []).append(r)
    assert set(by_stream) == set(range(8))
    for s, rs in by_stream.items():
        rs.sort(key=lambda r: r["doc_id"])
        run = 0
        for r in rs:
            assert r["pack_offset"] == run, (s, r)
            assert r["pack_id"] == run // 512
            assert r["n_tokens"] > 0
            run += r["n_tokens"]
    again = sorted(map(tuple, pack_plan(
        docs.repartition(2), budget=512, n_streams=8).collect()))
    assert again == sorted(map(tuple, rows))


def test_pii_scrub_finds_exactly_the_injections(spark):
    """The PII fixture carries ground-truth injection counts per doc;
    the scrubber must recover EXACTLY those (the corpus has no
    accidental digits/addresses), and the clean text must contain no
    residual matches (idempotence: scrub(scrub(x)) == scrub(x))."""
    from extract_kit_spark.ops.pii import scrub
    from extract_kit_spark.queries import (PII_DOCS_GLOB, fixture)
    fixture("pii_docs")
    docs = spark.read.parquet(PII_DOCS_GLOB)
    got = scrub(docs).join(
        docs.select("doc_id", "n_emails_true", "n_phones_true",
                    "n_ips_true"), "doc_id")
    bad = got.where(
        (F.col("n_emails") != F.col("n_emails_true"))
        | (F.col("n_phones") != F.col("n_phones_true"))
        | (F.col("n_ips") != F.col("n_ips_true"))).count()
    assert bad == 0
    rescrub = scrub(got.select("doc_id",
                               F.col("clean_text").alias("text")))
    residual = rescrub.where(
        (F.col("n_emails") > 0) | (F.col("n_phones") > 0)
        | (F.col("n_ips") > 0)).count()
    assert residual == 0
    # masks actually present where counts say so
    n_masked = got.where(F.col("clean_text").contains("<EMAIL>")
                         != (F.col("n_emails") > 0)).count()
    assert n_masked == 0


def test_line_dedup_removes_exactly_boilerplate(spark):
    """On the newline corpus, line_dedup must delete every occurrence
    of the 6 pooled boilerplate lines and NOTHING else (natural lines
    carry per-doc unique suffixes, so they can't cross the doc-freq
    threshold): clean docs byte-equal the fixture text minus pool
    lines, order preserved."""
    from extract_kit_spark.fixtures import (gen_line_doc,
                                            N_BOILER_LINES,
                                            _boiler_line)
    from extract_kit_spark.ops.dedup import line_dedup
    from extract_kit_spark.queries import (LINE_DOCS_GLOB, N_LINE_DOCS,
                                           fixture)
    fixture("line_docs")
    pool = {_boiler_line(k) for k in range(N_BOILER_LINES)}
    docs = spark.read.parquet(LINE_DOCS_GLOB)
    got = {r["doc_id"]: r for r in
           line_dedup(docs, max_doc_freq=2).collect()}
    assert len(got) == N_LINE_DOCS
    n_changed = 0
    for i in range(N_LINE_DOCS):
        lines = gen_line_doc(i)["text"].split("\n")
        want = [ln for ln in lines if ln not in pool]
        r = got[i]
        assert r["clean_text"] == "\n".join(want), i
        assert r["n_lines"] == len(lines)
        assert r["n_kept"] == len(want)
        n_changed += len(want) != len(lines)
    assert n_changed > N_LINE_DOCS * 0.4  # the signal is real


def test_contamination_recovers_planted_spans(spark):
    """Every bench item built from a document span (>= 8 tokens) must
    surface as a pair with its source doc; fresh items ('q'-prefixed
    vocabulary) must match nothing. Verbatim-substring items must
    reach overlap_frac 1.0. The hash_grams production path returns
    the identical pair set."""
    from extract_kit_spark.ops.contamination import ngram_overlap
    from extract_kit_spark.queries import (BENCH_ITEMS_GLOB, ZIPF_DOCS_GLOB,
                                           fixture)
    fixture("zipf_docs")
    fixture("bench_items")
    docs = spark.read.parquet(ZIPF_DOCS_GLOB)
    bench = spark.read.parquet(BENCH_ITEMS_GLOB)
    out = ngram_overlap(docs, bench, n=8).collect()
    pairs = {(r["doc_id"], r["bench_id"]) for r in out}
    truth = {(r["from_doc"], r["bench_id"])
             for r in bench.select("from_doc", "bench_id").collect()
             if r["from_doc"] >= 0}
    assert truth <= pairs  # every planted span recovered...
    fresh = {r["bench_id"]
             for r in bench.where("from_doc < 0").collect()}
    assert not {b for _, b in pairs} & fresh  # ...and no fresh item
    full = {r["bench_id"] for r in out if r["overlap_frac"] == 1.0}
    assert len(full) >= len(truth) * 0.9  # planted spans are verbatim
    hashed = ngram_overlap(docs, bench, n=8, hash_grams=True).collect()
    assert {(r["doc_id"], r["bench_id"], r["n_shared"])
            for r in hashed} == {
        (r["doc_id"], r["bench_id"], r["n_shared"]) for r in out}


def test_crawl_diff_statuses_match_planted_fates(spark):
    """The v2 snapshot plants deterministic per-url fates; crawl_diff
    must label every url exactly: i%20==7 gone, else i%10==3 changed,
    i>=N added, rest unchanged — and cardinality is |v1 ∪ v2| urls."""
    from extract_kit_spark.queries import (PAGES_GLOB, PAGES_V2_GLOB, N_PAGES,
                                           fixture)
    from extract_kit_spark.ops.weburl import crawl_diff
    from extract_kit_spark.fixtures import gen_page
    fixture("pages")
    fixture("pages_v2snap")
    old = spark.read.parquet(PAGES_GLOB)
    new = spark.read.parquet(PAGES_V2_GLOB)
    got = {r["url"]: r for r in crawl_diff(old, new).collect()}
    n_added = N_PAGES // 20
    assert len(got) == N_PAGES + n_added
    for i in range(N_PAGES + n_added):
        r = got[gen_page(i)["url"]]
        if i >= N_PAGES:
            want = "added"
        elif i % 20 == 7:
            want = "gone"
        elif i % 10 == 3:
            want = "changed"
        else:
            want = "unchanged"
        assert r["status"] == want, (i, r)
        assert (r["ts_old"] is None) == (want == "added")
        assert (r["ts_new"] is None) == (want == "gone")


def test_mixture_sample_rates_and_nesting(spark):
    """Mixture-sampling contract: (a) clamped sources keep EVERY doc;
    (b) subsampled sources keep ~rate of docs (bucket uniformity);
    (c) unweighted sources vanish; (d) raising a weight only ADDS
    docs (nested samples — the property that makes mixture sweeps
    reproducible); (e) partitioning-independent."""
    from extract_kit_spark.ops.corpus import mixture_sample
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    w = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}
    out = mixture_sample(docs, w, total_tokens=10_000).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    assert set(by_src) <= set(w)
    n_docs = {r["source"]: c for (r, c) in
              [(x, x["n"]) for x in docs.groupBy("source")
               .agg(F.count("*").alias("n")).collect()]}
    for s, rows in by_src.items():
        rate = rows[0]["keep_rate"]
        if rate == 1.0:
            assert len(rows) == n_docs[s], s
        else:
            # binomial-ish tolerance on 25 docs
            assert abs(len(rows) / n_docs[s] - rate) < 0.35, (s, rate)
    assert by_src["src0"][0]["keep_rate"] == 1.0  # clamped
    assert by_src["src3"][0]["keep_rate"] < 1.0   # subsampled
    kept_small = {r["doc_id"] for r in out}
    w2 = dict(w, src3=0.3)  # raise one weight
    kept_big = {r["doc_id"] for r in mixture_sample(
        docs, w2, total_tokens=10_000).collect()}
    assert kept_small <= kept_big
    again = {r["doc_id"] for r in mixture_sample(
        docs.repartition(7), w, total_tokens=10_000).collect()}
    assert again == kept_small


def test_domain_blocklist_suffix_semantics(spark):
    """Hand-pinned rule semantics: a suffix rule blocks every
    subdomain beneath it, a host rule blocks exactly that host, the
    most-specific rule wins, and unrelated hosts (including a host
    that merely CONTAINS a rule as a substring) pass."""
    from extract_kit_spark.ops.weburl import domain_blocklist
    urls = [
        ("https://a.site-03.example.net/p", "example.net"),
        ("https://site-03.example.net/p", "example.net"),
        ("https://mega-news.example.org/p", "mega-news.example.org"),
        ("https://sub.mega-news.example.org/p",
         "mega-news.example.org"),
        ("https://hot-portal.example.com/p", None),
        ("https://notexample.net.evil.com/p", None),  # substring trap
        ("https://example.org/p", None),  # parent of a host rule
    ]
    df = spark.createDataFrame([(u,) for u, _ in urls], "url string")
    bl = spark.createDataFrame(
        [("example.net",), ("mega-news.example.org",)],
        "suffix string")
    got = {r["url"]: r for r in domain_blocklist(df, bl).collect()}
    assert len(got) == len(urls)
    for u, want in urls:
        assert got[u]["matched_rule"] == want, u
        assert got[u]["blocked"] == (want is not None)


def test_normalize_text_hand_cases_and_idempotence(spark):
    """Pinned canonicalization semantics: NFD composes to NFC (code
    points shrink), C0 controls strip, tab/doubled whitespace
    collapses, a tab->space change still flags changed=true, clean
    text passes untouched — and the op is idempotent."""
    from extract_kit_spark.ops.textstats import normalize_text
    rows = [
        (1, "cafe\u0301 time"),      # NFD input (10 chars)
        (2, "a\x00b\x07c"),              # controls stripped -> abc
        (3, "a\tb"),                     # length-preserving change
        (4, "  a   b\n\nc  "),           # collapse + trim
        (5, "plain text"),               # untouched
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in normalize_text(df).collect()}
    assert got[1]["norm_text"] == "caf\u00e9 time"
    assert (got[1]["n_chars_before"], got[1]["n_chars_after"]) == (10, 9)
    assert got[2]["norm_text"] == "abc"
    assert got[3]["norm_text"] == "a b" and got[3]["changed"]
    assert got[4]["norm_text"] == "a b c"
    assert got[5]["norm_text"] == "plain text"
    assert not got[5]["changed"]
    again = normalize_text(
        spark.createDataFrame(
            [(r["doc_id"], r["norm_text"]) for r in got.values()],
            "doc_id long, text string"))
    assert again.where(F.col("changed")).count() == 0


def test_unicode_corpus_normalize_separates_dirty_docs(spark):
    """On the unicode-mess fixture, every i%4==0 doc is clean
    (changed=false) and the dirty majority actually changes."""
    from extract_kit_spark.ops.textstats import normalize_text
    from extract_kit_spark.queries import (UNI_DOCS_GLOB, N_UNI_DOCS, fixture)
    fixture("unicode_docs")
    docs = spark.read.parquet(UNI_DOCS_GLOB)
    got = {r["doc_id"]: r["changed"]
           for r in normalize_text(docs).collect()}
    assert len(got) == N_UNI_DOCS
    clean = [i for i in range(N_UNI_DOCS) if i % 4 == 0]
    assert not any(got[i] for i in clean)
    dirty_changed = sum(got[i] for i in range(N_UNI_DOCS)
                        if i % 4 != 0)
    assert dirty_changed > 0.9 * (N_UNI_DOCS - len(clean))


def test_canonical_url_idempotent_on_adversarial_urls(spark):
    """canonical() must be a projection onto its own fixed points —
    canonical(canonical(u)) == canonical(u) — over the fixture's
    variant urls AND adversarial edges (missing scheme, bare host,
    empty query, stacked fragments, tracking-only queries, repeated
    separators, uppercase everything)."""
    from extract_kit_spark.fixtures import gen_url_log_row
    from extract_kit_spark.ops.weburl import canonical_url
    urls = [r["url"] for r in
            (gen_url_log_row(i) for i in range(600)) if r]
    urls += [
        "", "notaurl", "https://", "http://x", "HTTPS://A.B:443",
        "http://a.com:80", "ftp://X.Y/Z?q#f", "https://a.com///p//",
        "https://a.com/p#a#b", "https://a.com/?", "https://a.com/p?&&",
        "HTTP://UP.EXAMPLE/P/", "https://a.com/p?utm_source=",
        "https://a.com/p?utm_a=1&utm_b=2&utm_c=3",
        "https://a.com:8080/p?gclid=x#y", "https://a.com",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    once = df.select(canonical_url(F.col("url")).alias("c"))
    bad = (once.select(canonical_url(F.col("c")).alias("c2"), "c")
           .where(F.col("c2") != F.col("c")).collect())
    assert bad == [], bad


def test_pii_scrub_idempotent_on_adversarial_strings(spark):
    """scrub(scrub(x)) == scrub(x) on adversarial PII placements:
    adjacent punctuation, PII at string edges, back-to-back entities,
    digits that must NOT match (dates, times, versions)."""
    from extract_kit_spark.ops.pii import scrub
    rows = [
        (1, "a@b.co."), (2, "x (a@b.co), y"), (3, "a@b.co a@b.co"),
        (4, "call 555-123-4567."), (5, "+1 555 123 4567,end"),
        (6, "ip=10.0.0.1;"), (7, "10.0.0.1 10.0.0.2"),
        (8, "v1.2.3 released 2025-08-17 at 17:30"),
        (9, "mail a@b.co or 192.168.0.1 or (555) 123-4567"),
        (10, ""), (11, "@ . - ( )"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    first = scrub(df)
    again = scrub(first.select("doc_id",
                               F.col("clean_text").alias("text")))
    changed = (first.select("doc_id", "clean_text")
               .join(again.select("doc_id",
                                  F.col("clean_text").alias("c2"),
                                  "n_emails", "n_phones", "n_ips"),
                     "doc_id")
               .where((F.col("clean_text") != F.col("c2"))
                      | (F.col("n_emails") > 0)
                      | (F.col("n_phones") > 0)
                      | (F.col("n_ips") > 0)).collect())
    assert changed == [], changed
    got = {r["doc_id"]: r for r in first.collect()}
    assert got[8]["n_phones"] == 0 and got[8]["n_ips"] == 0
    assert got[8]["n_emails"] == 0  # versions/dates/times untouched
    assert got[7]["n_ips"] == 2
    assert got[9]["n_emails"] == 1 and got[9]["n_ips"] == 1 \
        and got[9]["n_phones"] == 1


# -- webgraph: outlinks + fixed-point PageRank (r4) ---------------------------

def test_pagerank_hand_computed_two_nodes(spark):
    """scale=100, graph a→b, two iterations, every step by hand:
    N=2 ⇒ r0=50, base=(15*50)//100=7.
    iter1: contrib(b)=(50*1)//1=50 ⇒ r(b)=7+(85*50)//100=49; r(a)=7.
    iter2: contrib(b)=(7*1)//1=7  ⇒ r(b)=7+(85*7)//100=12;  r(a)=7."""
    from extract_kit_spark.ops import webgraph
    edges = spark.createDataFrame([("a", "b", 1)],
                                  "src string, dst string, n long")
    got = {r.node: r.rank
           for r in webgraph.pagerank(edges, n_iter=2,
                                      scale=100).collect()}
    assert got == {"a": 7, "b": 12}


def test_pagerank_weighted_split(spark):
    """a→b (n=3), a→c (n=1), one iteration, scale=1000: N=3 ⇒ r0=333,
    base=(15*333)//100=49, out_w(a)=4.
    contrib(b)=(333*3)//4=249 ⇒ r(b)=49+(85*249)//100=49+211=260.
    contrib(c)=(333*1)//4=83  ⇒ r(c)=49+(85*83)//100=49+70=119."""
    from extract_kit_spark.ops import webgraph
    edges = spark.createDataFrame([("a", "b", 3), ("a", "c", 1)],
                                  "src string, dst string, n long")
    got = {r.node: r.rank
           for r in webgraph.pagerank(edges, n_iter=1,
                                      scale=1000).collect()}
    assert got == {"a": 49, "b": 260, "c": 119}


def test_pagerank_empty_edges(spark):
    from extract_kit_spark.ops import webgraph
    edges = spark.createDataFrame([], "src string, dst string, n long")
    assert webgraph.pagerank(edges).collect() == []


def test_outlinks_hot_domains_rank_top(spark):
    """The fixture's two hot domains receive ~20% of outlinks each
    (fixtures._domain), so PageRank must place them first and second
    by a wide margin over the 48 tail domains."""
    from extract_kit_spark.fixtures import DOMAINS
    from extract_kit_spark.queries import QUERIES
    ranked = sorted(
        QUERIES["web_pagerank"](spark, "/root/testdata/sf0.001")
        .collect(), key=lambda r: -r.rank)
    top2 = {ranked[0].node, ranked[1].node}
    assert top2 == {DOMAINS[0], DOMAINS[1]}
    assert ranked[1].rank > 2 * ranked[2].rank


def test_canonical_collapse_gate_semantics(spark):
    """Hand-built family: bare url + two variants collapse to the bare
    url; an all-noindex family disappears entirely; a page without a
    canonical is its own family."""
    from extract_kit_spark.ops import weburl

    def page(head: str) -> bytearray:
        return bytearray(
            f"<!DOCTYPE html><html><head>{head}</head>"
            f"<body>x</body></html>".encode())

    can = '<link rel="canonical" href="https://d.ex/a">'
    noi = '<meta name="robots" content="noindex">'
    rows = [
        ("https://d.ex/a", page(can)),
        ("https://d.ex/a?ref=1", page(can)),
        ("https://d.ex/a?ref=2", page(can + noi)),  # noindex variant
        ("https://d.ex/gone", page(
            '<link rel="canonical" href="https://d.ex/gone">' + noi)),
        ("https://d.ex/solo", page("")),  # no canonical at all
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    got = {r.canonical: r for r in
           weburl.canonical_collapse(df).collect()}
    assert set(got) == {"https://d.ex/a", "https://d.ex/solo"}
    fam = got["https://d.ex/a"]
    assert fam.kept_url == "https://d.ex/a"
    assert fam.n_variants == 2  # noindex variant excluded from count
    assert got["https://d.ex/solo"].n_variants == 1


def test_robots_rules_parser_hand_cases(spark):
    """Hand-written robots.txt: only the '*' group's non-empty rules
    survive — the badbot group, comments, blank lines, and the empty
    'Disallow:' no-op are all dropped; case-insensitive directives."""
    from extract_kit_spark.ops import weburl
    txt = ("# c\n\nUser-agent: badbot\nDisallow: /\n\n"
           "User-Agent: *\nDISALLOW: /a\nallow: /a-b\nDisallow:\n")
    df = spark.createDataFrame([("d.ex", txt)],
                               "domain string, robots_txt string")
    got = sorted((r.rule, r.path)
                 for r in weburl.robots_rules(df).collect())
    assert got == [("allow", "/a-b"), ("disallow", "/a")]


def test_robots_gate_longest_match_hand_cases(spark):
    """Googlebot longest-match semantics by hand:
    rules: Disallow /a, Allow /a-b, Disallow /a-b-c.
    /a-x     → disallow(2) > allow(0)             → blocked
    /a-b-x   → allow(4)    > disallow(2)          → allowed
    /a-b-c-x → disallow(6) > allow(4)             → blocked
    /z       → no match (0 >= 0, allow wins tie)  → allowed
    other domain with no robots row               → allowed"""
    from extract_kit_spark.ops import weburl
    txt = "User-agent: *\nDisallow: /a\nAllow: /a-b\nDisallow: /a-b-c\n"
    robots = spark.createDataFrame([("d.ex", txt)],
                                   "domain string, robots_txt string")
    pages = spark.createDataFrame(
        [("https://d.ex/a-x",), ("https://d.ex/a-b-x",),
         ("https://d.ex/a-b-c-x",), ("https://d.ex/z",),
         ("https://other.ex/a-x",), ("https://d.ex",)],
        "url string")
    got = {r.url: r.allowed
           for r in weburl.robots_gate(pages, robots).collect()}
    assert got == {
        "https://d.ex/a-x": False,
        "https://d.ex/a-b-x": True,
        "https://d.ex/a-b-c-x": False,
        "https://d.ex/z": True,
        "https://other.ex/a-x": True,
        "https://d.ex": True,  # bare root → path '/', no rule matches
    }


def test_politeness_schedule_hand_cases(spark):
    """Domain with Crawl-delay 5: three urls sequence by (ts, url) and
    fetch at offsets 0/5/10; a domain with no robots row falls back to
    the 1 s default."""
    import datetime as dt
    from extract_kit_spark.ops import weburl
    robots = spark.createDataFrame(
        [("d.ex", "User-agent: *\nCrawl-delay: 5\n"),
         ("nodelay.ex", "User-agent: *\nDisallow: /x\n")],
        "domain string, robots_txt string")
    t0 = dt.datetime(2025, 1, 1)
    pages = spark.createDataFrame(
        [("https://d.ex/b", t0), ("https://d.ex/a", t0),
         ("https://d.ex/c", t0 + dt.timedelta(seconds=1)),
         ("https://other.ex/q", t0)],
        "url string, warc_ts timestamp")
    got = {r.url: (r.seq, r.delay_s, r.fetch_offset_s)
           for r in weburl.politeness_schedule(pages, robots).collect()}
    assert got == {
        "https://d.ex/a": (0, 5, 0),    # same ts: url breaks the tie
        "https://d.ex/b": (1, 5, 5),
        "https://d.ex/c": (2, 5, 10),
        "https://other.ex/q": (0, 1, 0),
    }


def test_sitemap_frontier_hand_cases(spark):
    """Hand-built sitemap vs a two-url crawl: a never-seen url is
    'new', a known url with lastmod after its crawl date is 'stale',
    a known fresh url is absent."""
    import datetime as dt
    from extract_kit_spark.ops import weburl
    xml = ('<?xml version="1.0"?><urlset>'
           '<url><loc>https://d.ex/seen-fresh</loc>'
           '<lastmod>2025-01-01</lastmod></url>'
           '<url><loc>https://d.ex/seen-stale</loc>'
           '<lastmod>2025-12-01</lastmod></url>'
           '<url><loc>https://d.ex/brand-new</loc>'
           '<lastmod>2025-06-01</lastmod></url></urlset>')
    sitemaps = spark.createDataFrame(
        [("d.ex", xml)], "domain string, sitemap_xml string")
    t = dt.datetime(2025, 8, 29)
    pages = spark.createDataFrame(
        [("https://d.ex/seen-fresh", t), ("https://d.ex/seen-stale", t)],
        "url string, warc_ts timestamp")
    got = {r.url: r.reason for r in
           weburl.sitemap_frontier(sitemaps, pages).collect()}
    assert got == {"https://d.ex/brand-new": "new",
                   "https://d.ex/seen-stale": "stale"}


def test_gen_page_url_matches_gen_page(spark):
    """The url-only rng-prefix twin must stay in lockstep with
    gen_page for every index (the sitemap fixture depends on it)."""
    from extract_kit_spark.fixtures import gen_page, gen_page_url
    for i in range(0, 400, 7):
        assert gen_page_url(i) == gen_page(i)["url"], i


def test_lm_train_and_score_hand_case(spark):
    """Hand-computed bigram LM: corpus 'a b' x3 + 'a b c' -> c(a)=4,
    c('a b')=4, c('b c')=1. With min_count=2 only 'a b' survives;
    scoring 'a b c' gives one known bigram (cost floor(1e6*ln(4/4))=0)
    and one OOV ('b c')."""
    from extract_kit_spark.ops import lm

    docs = spark.createDataFrame(
        [(0, "a b"), (1, "a b"), (2, "a b"), (3, "a b c")],
        "doc_id long, text string")
    model = lm.train_bigram_lm(docs, min_count=2, top_k=10)
    rows = {r["bigram"]: r for r in model.collect()}
    assert set(rows) == {"a b"}
    assert rows["a b"]["c12"] == 4 and rows["a b"]["c1"] == 4
    assert rows["a b"]["cost_micro"] == 0  # ln(1) = 0 exactly
    scored = {r["doc_id"]: r
              for r in lm.lm_score(docs, model).collect()}
    assert scored[0]["n_bigrams"] == 1
    assert scored[0]["oov_bigrams"] == 0
    assert scored[0]["cost_sum_micro"] == 0
    assert scored[3]["n_bigrams"] == 2
    assert scored[3]["oov_bigrams"] == 1
    assert scored[3]["cost_sum_micro"] == lm.OOV_COST_MICRO
    assert scored[3]["avg_cost_micro"] == lm.OOV_COST_MICRO / 2


def test_lm_score_keeps_bigramless_docs(spark):
    """Docs with <2 tokens (or empty) still appear, with zero counts
    and NULL avg — 1-in-1-out like every per-doc op."""
    from extract_kit_spark.ops import lm

    docs = spark.createDataFrame(
        [(0, "a b a b"), (1, "solo"), (2, ""), (3, "   ")],
        "doc_id long, text string")
    model = lm.train_bigram_lm(docs, min_count=1, top_k=10)
    got = {r["doc_id"]: r for r in lm.lm_score(docs, model).collect()}
    assert set(got) == {0, 1, 2, 3}
    for d in (1, 2, 3):
        assert got[d]["n_bigrams"] == 0
        assert got[d]["cost_sum_micro"] == 0
        assert got[d]["avg_cost_micro"] is None


def test_lm_cost_ordering_matches_probability(spark):
    """Rarer continuations cost more: c('x a')=1 vs c('x b')=3 from
    the same prefix -> cost('x a') > cost('x b') > 0."""
    from extract_kit_spark.ops import lm

    docs = spark.createDataFrame(
        [(0, "x b x b x b x a")], "doc_id long, text string")
    model = lm.train_bigram_lm(docs, min_count=1, top_k=10)
    rows = {r["bigram"]: r["cost_micro"] for r in model.collect()}
    assert rows["x a"] > rows["x b"] > 0


def test_anchor_text_stats_hand_case(spark):
    """Relative hrefs resolve against the page's own domain; js
    pseudo-links drop; the modal anchor breaks ties by anchor asc."""
    from extract_kit_spark.ops.webgraph import anchor_text_stats

    html = (b'<!DOCTYPE html><html><body>'
            b'<a href="/about">about us</a>'
            b'<a href="/about">about us</a>'
            b'<a href="/about">the team</a>'
            b'<a href="https://other.example/page">ext</a>'
            b'<a href="javascript:void(0)">fake</a>'
            b'</body></html>')
    pages = spark.createDataFrame(
        [("https://site.example/index", bytearray(html))],
        "url string, html binary")
    got = {r["target"]: r for r in anchor_text_stats(pages).collect()}
    assert set(got) == {"https://site.example/about",
                        "https://other.example/page"}
    about = got["https://site.example/about"]
    assert about["n_inlinks"] == 3 and about["n_anchors"] == 2
    assert about["top_anchor"] == "about us"
    assert about["top_anchor_n"] == 2


def test_assembly_manifest_hand_case(spark):
    """Totals and shares from a 3-doc corpus with known stats: shares
    sum to 1, token sums are exact, every (source, lang, split) cell
    counts its docs."""
    from extract_kit_spark.ops.corpus import assembly_manifest

    long_en = ("the of and to in " * 12).strip()       # 60 tokens, en
    docs = spark.createDataFrame(
        [(0, long_en, "a"), (1, long_en, "a"), (2, "le la les", "b")],
        "doc_id long, text string, source string")
    got = assembly_manifest(docs, min_quality=0.0).collect()
    assert sum(r["n_docs"] for r in got) == 3
    assert sum(r["n_tokens"] for r in got) == 60 + 60 + 3
    assert abs(sum(r["token_share"] for r in got) - 1.0) < 1e-12
    by_src = {}
    for r in got:
        by_src.setdefault(r["source"], 0)
        by_src[r["source"]] += r["n_docs"]
        assert r["split"] in ("train", "val", "test")
    assert by_src == {"a": 2, "b": 1}
    langs = {r["source"]: r["lang_pred"] for r in got}
    assert langs["a"] == "en" and langs["b"] == "fr"


def test_curate_lm_gate_is_binding_and_subset(spark):
    """The composed LM curation: output is a subset of the plain
    quality gate, the LM cut removes a non-empty set, and every
    survivor satisfies both thresholds."""
    from extract_kit_spark.queries import (LM_MAX_AVG_COST_MICRO, MIN_QUALITY,
                                           QUERIES, fixture, ZIPF_DOCS_GLOB)
    from extract_kit_spark.ops.textstats import with_text_stats
    from pyspark.sql import functions as F

    fixture("zipf_docs")
    out = QUERIES["corpus_curate_lm"](spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert rows, "gate must not be empty"
    assert all(r["quality_score"] >= MIN_QUALITY for r in rows)
    assert all(r["avg_cost_micro"] <= LM_MAX_AVG_COST_MICRO
               for r in rows)
    docs = spark.read.parquet(ZIPF_DOCS_GLOB.rsplit("/", 1)[0])
    n_quality_only = (with_text_stats(docs)
                      .where(F.col("quality_score") >= MIN_QUALITY)
                      .count())
    # the LM cut must do real work beyond the heuristic gate
    assert 0 < len(rows) < n_quality_only


def test_dup_span_coverage_hand_case(spark):
    """Planted cross-doc span: docs 0 and 1 share an 8-token run (two
    5-grams in a row -> 6 covered tokens each, interval union NOT
    2x5); doc 2 is unique -> zero coverage; doc 3 is too short for
    any gram and still appears (1-in-1-out)."""
    from extract_kit_spark.ops.textstats import dup_span_coverage

    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens
    docs = spark.createDataFrame(
        [(0, shared + " unique0 tail0"),
         (1, "head1 " + shared + " tail1"),
         (2, "one two three four five six seven"),
         (3, "tiny doc")],
        "doc_id long, text string")
    got = {r["doc_id"]: r
           for r in dup_span_coverage(docs, n=5, min_df=2).collect()}
    assert set(got) == {0, 1, 2, 3}
    # the shared 6-token run holds 5-grams at offsets 0 and 1 ->
    # sorted-interval union = min(5, 1) + 5 = 6 covered tokens
    assert got[0]["n_dup_grams"] == 2 and got[0]["dup_tokens"] == 6
    assert got[1]["n_dup_grams"] == 2 and got[1]["dup_tokens"] == 6
    assert got[0]["dup_coverage"] == 6 / 8
    assert got[2]["dup_tokens"] == 0 and got[2]["dup_coverage"] == 0.0
    assert got[3]["n_tokens"] == 2 and got[3]["dup_coverage"] == 0.0


def test_dup_span_coverage_separates_boiler_docs(spark):
    """On the line corpus the planted cross-doc boilerplate pool is
    the ground truth: docs carrying a boiler line score > 0, docs
    without score (almost always) 0 — the filterable signal."""
    from pyspark.sql import functions as F
    from extract_kit_spark.ops.textstats import dup_span_coverage
    from extract_kit_spark.queries import (LINE_DOCS_GLOB, fixture)
    fixture("line_docs")
    docs = spark.read.parquet(LINE_DOCS_GLOB.rsplit("/", 1)[0])
    cov = dup_span_coverage(docs, n=5, min_df=2)
    j = docs.select("doc_id",
                    F.col("text").contains("boiler").alias("has_b")) \
        .join(cov, "doc_id")
    rows = j.groupBy("has_b").agg(
        F.avg("dup_coverage").alias("avg"),
        F.sum(F.when(F.col("dup_coverage") > 0, 1).otherwise(0))
        .alias("n_pos"),
        F.count(F.lit(1)).alias("n")).collect()
    stats = {r["has_b"]: r for r in rows}
    # every boiler-carrying doc is detected; clean docs nearly never
    assert stats[True]["n_pos"] == stats[True]["n"]
    assert stats[True]["avg"] > 10 * (stats[False]["avg"] or 1e-9)


def test_round4_ops_tolerate_empty_input(spark):
    """Empty-corpus hardening (the failure class of the round-3
    empty-pair-graph ADVICE finding): every round-4 op must return an
    empty, correctly-typed frame on an empty input — a normal
    production state reached via upstream gates — not raise."""
    from extract_kit_spark.ops import lm, textstats, webgraph
    from extract_kit_spark.ops.corpus import assembly_manifest

    docs = spark.createDataFrame(
        [], "doc_id long, text string, source string")
    model = lm.train_bigram_lm(docs)
    assert model.count() == 0
    assert lm.lm_score(docs, model).count() == 0
    assert textstats.dup_span_coverage(docs).count() == 0
    m = assembly_manifest(docs)
    assert m.count() == 0
    assert "token_share" in m.columns
    pages = spark.createDataFrame([], "url string, html binary")
    assert webgraph.anchor_text_stats(pages).count() == 0


def test_dup_span_hash_key_path_identical(spark):
    """The 100 TB shape keys the df-cut on xxhash64(gram) instead of
    shipping gram strings (the dedup_jaccard precedent): recomputing
    dup positions with hashed keys must reproduce the string path's
    per-doc coverage exactly on the line corpus."""
    from pyspark.sql import functions as F
    from extract_kit_spark.ops.textstats import dup_span_coverage
    from extract_kit_spark.queries import (LINE_DOCS_GLOB, fixture)
    fixture("line_docs")
    docs = spark.read.parquet(LINE_DOCS_GLOB.rsplit("/", 1)[0])
    n, min_df = 5, 2
    want = {r["doc_id"]: (r["n_dup_grams"], r["dup_tokens"])
            for r in dup_span_coverage(docs, n=n,
                                       min_df=min_df).collect()}
    t = F.trim(F.col("text"))
    toks = F.when(t == "", F.array().cast("array<string>")) \
        .otherwise(F.split(F.lower(t), r"\s+"))
    pg = (docs.select("doc_id", toks.alias("__toks"))
          .select("doc_id", F.posexplode(F.expr(
              f"CASE WHEN size(__toks) < {n} THEN array() "
              f"ELSE transform(sequence(1, size(__toks) - {n} + 1), "
              f"i -> array_join(slice(__toks, i, {n}), ' ')) END"))
              .alias("pos", "g"))
          .select("doc_id", "pos",
                  F.xxhash64("g").alias("h")))  # hash key, no strings
    dup_h = (pg.groupBy("h")
             .agg(F.count_distinct("doc_id").alias("df"))
             .filter(F.col("df") >= min_df).select("h"))
    from pyspark.sql import Window
    w = Window.partitionBy("doc_id").orderBy(F.col("pos").asc())
    got = {r["doc_id"]: (r["n"], r["c"]) for r in
           (pg.join(dup_h, "h")
            .withColumn("__c", F.least(
                F.lit(n), F.coalesce(
                    F.lead("pos").over(w) - F.col("pos"), F.lit(n))))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("__c").alias("c")).collect())}
    for d, (ng, ct) in got.items():
        assert want[d] == (ng, ct)
    assert sum(1 for v in want.values() if v[0] > 0) == len(got)


def test_robots_rfc9309_semantics(spark):
    """Hand-pinned RFC 9309 cases (independent of the fixture corpus
    and the DuckDB oracle, which are updated in lockstep and could in
    principle agree on a shared mistake):
    wildcard '*', '$' end anchor, longest-raw-pattern-wins with Allow
    winning ties, named-group selection overriding '*' entirely,
    stacked User-agent headers, headerless rules ignored, and
    case-insensitive token match."""
    from pyspark.sql import functions as F
    from extract_kit_spark.ops import weburl

    robots = spark.createDataFrame([
        # d1: wildcard + anchor + longest-match interplay in '*'
        ("d1.com",
         "Disallow: /nohdr\n"            # before any UA line: ignored
         "User-agent: *\n"
         "Disallow: /*-x-\n"             # blocks any path with -x-
         "Allow: /*-x-ok\n"              # longer: re-allows -x-ok
         "Disallow: /end7$\n"),          # anchored
        # d2: named group (mixed case) overrides '*' entirely; the
        # stacked header binds the rules to both tokens
        ("d2.com",
         "User-agent: *\n"
         "Disallow: /\n"                 # '*' would block everything
         "\n"
         "User-agent: otherbot\n"
         "User-agent: EKBOT\n"           # case-insensitive
         "Disallow: /private\n"
         "Crawl-delay: 4\n"),
        # d3: '*' fallback when no named group
        ("d3.com",
         "User-agent: megabot\n"
         "Disallow: /\n"
         "User-agent: *\n"
         "Disallow: /blocked\n"
         "Crawl-delay: 7\n"),
    ], "domain string, robots_txt string")

    pages = spark.createDataFrame([
        ("https://d1.com/a-x-b",),       # wildcard disallow hits
        ("https://d1.com/a-x-ok-b",),    # longer wildcard allow wins
        ("https://d1.com/end7",),        # anchored disallow hits
        ("https://d1.com/end72",),       # anchor must NOT match
        ("https://d1.com/nohdr-page",),  # headerless rule ignored
        ("https://d2.com/anything",),    # '*' group must be ignored
        ("https://d2.com/private/x",),   # ekbot group disallow
        ("https://d3.com/blocked/x",),   # fallback '*' applies
        ("https://d3.com/fine",),
        ("https://unknown.com/x",),      # no robots.txt: allowed
    ], "url string")

    got = {r.url: r.allowed
           for r in weburl.robots_gate(pages, robots).collect()}
    assert got == {
        "https://d1.com/a-x-b": False,
        "https://d1.com/a-x-ok-b": True,
        "https://d1.com/end7": False,
        "https://d1.com/end72": True,
        "https://d1.com/nohdr-page": True,
        "https://d2.com/anything": True,
        "https://d2.com/private/x": False,
        "https://d3.com/blocked/x": False,
        "https://d3.com/fine": True,
        "https://unknown.com/x": True,
    }

    # selected rules: d2 must carry ONLY the ekbot group's rule
    rules = {(r.domain, r.rule, r.path)
             for r in weburl.robots_rules(robots).collect()}
    assert ("d2.com", "disallow", "/private") in rules
    assert ("d2.com", "disallow", "/") not in rules
    assert ("d1.com", "disallow", "/nohdr") not in rules
    assert ("d3.com", "disallow", "/blocked") in rules
    assert ("d3.com", "disallow", "/") not in rules  # megabot decoy

    # crawl-delay honors group selection too
    delays = {r.domain: r.delay_s
              for r in weburl.robots_crawl_delays(robots).collect()}
    assert delays == {"d2.com": 4, "d3.com": 7}

    # a different token selects differently: megabot sees its group
    mb = {r.url: r.allowed for r in weburl.robots_gate(
        pages, robots, ua_token="megabot").collect()
        if r.url.startswith("https://d3")}
    assert mb == {"https://d3.com/blocked/x": False,
                  "https://d3.com/fine": False}


def test_rule_pattern_regex_shapes(spark):
    """The pattern compiler: metacharacters in rule paths are inert,
    '*' and trailing '$' are the only specials."""
    from pyspark.sql import functions as F
    from extract_kit_spark.ops.weburl import rule_pattern_regex
    rows = spark.createDataFrame(
        [("/a.b(c)+[d]{e}|f^g?h",), ("/p*q$",), ("/plain",),
         ("/mid$dollar",)],
        "path string").select(
        "path", rule_pattern_regex(F.col("path")).alias("re")).collect()
    got = {r.path: r.re for r in rows}
    assert got["/plain"] == "^/plain"
    assert got["/p*q$"] == "^/p.*q$"
    # mid-string '$' is a literal (escaped), not an anchor
    assert got["/mid$dollar"] == "^/mid\\$dollar"
    esc = got["/a.b(c)+[d]{e}|f^g?h"]
    assert esc == ("^/a\\.b\\(c\\)\\+\\[d\\]\\{e\\}\\|f\\^g\\?h")


def test_dup_span_strip_hand_cases(spark):
    """Hand-built dup-span removal cases: overlapping intervals merge
    into one span, all occurrences are stripped (symmetric rule),
    case is preserved in kept text, short docs pass through, and
    tokens_removed agrees exactly with dup_span_coverage's dup_tokens
    (the measurement and the rewrite share one interval union)."""
    from extract_kit_spark.ops import textstats

    # 3-grams, min_df=2. "a b c d" appears in d1 and d2 (as "A b c d"
    # in d1 — keys are lowered), so grams "a b c"/"b c d" are
    # duplicated: d1/d2 lose positions 1-4 as ONE merged span.
    docs = spark.createDataFrame([
        ("d1", "A b c d KEEP1 keep2 keep3"),
        ("d2", "a b c d other tail words"),
        ("d3", "totally unrelated text here now"),
        ("d4", "tiny doc"),          # shorter than n: no grams
        ("d5", ""),                  # empty
        ("d6", "a b c d"),           # fully covered -> empty text
    ], "doc_id string, text string")

    got = {r.doc_id: r for r in textstats.dup_span_strip(
        docs, n=3, min_df=2).collect()}
    assert got["d1"].text == "KEEP1 keep2 keep3"   # case preserved
    assert (got["d1"].tokens_removed, got["d1"].spans_removed) == (4, 1)
    assert got["d2"].text == "other tail words"
    assert got["d3"].text == "totally unrelated text here now"
    assert got["d3"].tokens_removed == 0
    assert got["d4"].text == "tiny doc"
    assert got["d5"].text == ""
    assert got["d6"].text == ""
    assert (got["d6"].tokens_removed, got["d6"].spans_removed) == (4, 1)

    # invariant vs the measurement op: identical interval union
    cov = {r.doc_id: r.dup_tokens for r in textstats.dup_span_coverage(
        docs, n=3, min_df=2).collect()}
    for d, r in got.items():
        assert r.tokens_removed == cov[d], d
        # kept + removed == total
        kept = 0 if r.text == "" else len(r.text.split(" "))
        assert kept + r.tokens_removed == r.n_tokens, d


def test_dup_span_strip_disjoint_spans(spark):
    """Two duplicated runs separated by a unique gap >= n stay two
    spans; a gap < n merges them (island rule pos-prev >= n)."""
    from extract_kit_spark.ops import textstats
    shared1 = "p q r"            # 3 tokens, n=3 -> one gram
    shared2 = "x y z"
    docs = spark.createDataFrame([
        ("a", f"{shared1} GAP1 GAP2 GAP3 {shared2}"),   # gap 3 >= n
        ("b", f"{shared1} later {shared2}"),            # gap 1 < n
        ("c", f"{shared1} unrelated filler {shared2}"),
    ], "doc_id string, text string")
    got = {r.doc_id: r for r in textstats.dup_span_strip(
        docs, n=3, min_df=2).collect()}
    assert got["a"].spans_removed == 2
    assert got["a"].text == "GAP1 GAP2 GAP3"
    # b: starts at 1 and 5 -> 5-1 >= 3 -> two islands; covered 1-3,5-7
    assert got["b"].spans_removed == 2
    assert got["b"].text == "later"


def test_curate_strip_dup_spans_stage(spark):
    """curate(strip_dup_spans=True) must equal the explicit
    composition dup_span_strip -> curate, and differ from the
    unstripped run when cross-doc boilerplate shifts a doc's quality
    signals."""
    from extract_kit_spark.ops import corpus, textstats
    from extract_kit_spark.queries import (DUP_SPAN_MIN_DF, DUP_SPAN_N,
                                           LINE_DOCS_GLOB, fixture)
    fixture("line_docs")
    docs = spark.read.parquet(LINE_DOCS_GLOB.rsplit("/", 1)[0])

    fused = corpus.curate(docs, strip_dup_spans=True,
                          dup_span_n=DUP_SPAN_N,
                          dup_span_min_df=DUP_SPAN_MIN_DF).collect()
    stripped = textstats.dup_span_strip(
        docs, n=DUP_SPAN_N, min_df=DUP_SPAN_MIN_DF).select(
        "doc_id", "text")
    composed = corpus.curate(stripped).collect()
    key = lambda rows: sorted(tuple(r) for r in rows)
    assert key(fused) == key(composed)
    assert len(fused) > 0
    # the stage is live: at least one doc's token count changed
    plain = {r.doc_id: r.n_tokens for r in corpus.curate(docs).collect()}
    after = {r.doc_id: r.n_tokens for r in fused}
    changed = [d for d in after if d in plain and after[d] != plain[d]]
    assert changed, "strip stage had no effect on the line corpus"


def test_hash_embed_properties(spark):
    """The in-engine embedder: unit L2 norm (to quantization), zero
    vector for empty/short text, determinism across partitionings,
    and near-dup separation — a doc and its lightly-edited twin are
    ~1.0 cosine while unrelated docs sit well below 0.95."""
    from extract_kit_spark.ops import similarity
    from extract_kit_spark.ops.dedup import cosine
    from pyspark.sql import functions as F

    body = ("The quick brown fox jumps over the lazy dog near the "
            "river bank while the miller grinds wheat and the ferry "
            "crosses the channel before dusk settles on the village. ")
    docs = spark.createDataFrame([
        (1, body * 4 + "Printed in the year 1901."),
        (2, body * 4 + "Printed in the year 1902."),  # near-dup twin
        (3, "Completely different subject matter discussing spark "
            "shuffle partitions, broadcast joins, codegen stages and "
            "adaptive query execution internals at cluster scale."),
        (4, "ab"),    # shorter than the 3-gram window
        (5, ""),
    ], "doc_id long, text string")
    emb = similarity.hash_embed(docs)
    rows = {r.doc_id: r for r in emb.collect()}
    import math
    for d in (1, 2, 3):
        n = math.sqrt(sum(x * x for x in rows[d].embedding))
        assert abs(n - 1.0) < 1e-4, (d, n)
    assert all(x == 0.0 for x in rows[4].embedding)
    assert rows[4].n_grams == 0
    assert all(x == 0.0 for x in rows[5].embedding)

    def cos(a, b):
        return sum(x * y for x, y in zip(a, b))
    near = cos(rows[1].embedding, rows[2].embedding)
    far = cos(rows[1].embedding, rows[3].embedding)
    assert near > 0.97, near
    assert far < 0.9, far

    # partitioning-independence: 1 partition vs 7 produce identical rows
    a = sorted(map(tuple, similarity.hash_embed(
        docs.coalesce(1)).collect()))
    b = sorted(map(tuple, similarity.hash_embed(
        docs.repartition(7)).collect()))
    assert a == b


def test_ann_text_topk_drops_zero_vectors(spark, tmp_path):
    """A text whose grams cancel in their shared bucket embeds as the
    zero vector although n_grams > 0. ann_text_topk must drop such
    rows, as the oracle's sumsq > 0 does: a batch holding k of them
    scores k NaNs, which would crowd every real neighbor out of that
    batch's partial top-k."""
    import hashlib
    import itertools
    import string
    from extract_kit_spark.ops import similarity
    from extract_kit_spark.queries import QUERIES

    def bucket_sign(g):
        h = hashlib.md5(f"emb-v1:{g}".encode()).hexdigest()
        return (int(h[:8], 16) % similarity.EMB_DIM,
                1 - 2 * (int(h[8], 16) % 2))

    n = similarity.EMB_NGRAM
    text = next(
        t for t in map("".join,
                       itertools.product(string.ascii_lowercase,
                                         repeat=n + 1))
        if bucket_sign(t[:n])[0] == bucket_sign(t[1:])[0]
        and bucket_sign(t[:n])[1] != bucket_sign(t[1:])[1])
    docs = spark.createDataFrame(
        [(100 + j, text) for j in range(20)]
        + [(i, f"document number {i} about topic {i % 3}")
           for i in range(8)], "doc_id long, text string")
    zero = similarity.hash_embed(docs).where("doc_id = 100").first()
    assert zero.n_grams == 2
    assert all(x == 0.0 for x in zero.embedding)
    docs.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    got = QUERIES["ann_text_topk"](spark, str(tmp_path)).collect()
    assert sorted((r.query_id, r.rank) for r in got) == \
        [(q, rank) for q in range(8) for rank in range(1, 6)]
    assert all(r.neighbor_id < 8 for r in got)


def test_curate_near_routes_converge(spark):
    """On the fixture documents corpus the embedding route (hash-embed
    cosine >= 0.95) recovers exactly the jaccard-0.8 pair set, so both
    curate_near routes keep the same survivors; unknown routes raise."""
    import pytest
    from extract_kit_spark.ops import corpus
    from extract_kit_spark.queries import EMB_NEAR_T, JACCARD_T, \
        JACCARD_MAX_DF, MIN_QUALITY
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    jac = corpus.curate_near(docs, min_quality=MIN_QUALITY,
                             jaccard_threshold=JACCARD_T,
                             max_df=JACCARD_MAX_DF).collect()
    embr = corpus.curate_near(docs, min_quality=MIN_QUALITY,
                              route="embedding",
                              embedding_threshold=EMB_NEAR_T).collect()
    assert sorted(map(tuple, jac)) == sorted(map(tuple, embr))
    assert len(jac) > 0
    with pytest.raises(ValueError, match="unknown near-dup route"):
        corpus.curate_near(docs, route="bogus")


def test_token_pieces_hand_counts(spark):
    """Hand-counted GPT-2-pre-tokenizer pieces: contractions split,
    numbers split from letters, punctuation runs group, leading
    spaces attach to the following piece, whitespace-only/empty
    texts count zero."""
    from extract_kit_spark.ops import textstats
    docs = spark.createDataFrame([
        # pieces: [I]["'ll"][ pay][ 12][ dollars][,][ right][-][now][!]
        (1, "I'll pay 12 dollars, right-now!"),
        (2, "hello   world"),     # [hello][ world] (run skipped)
        (3, "a1b2"),              # [a][1][b][2]
        (4, "   "),               # whitespace only
        (5, ""),
    ], "doc_id long, text string")
    got = {r.doc_id: r for r in textstats.token_pieces(docs).collect()}
    assert got[1].n_pieces == 10
    assert got[1].n_tokens_ws == 5
    assert got[1].n_word_pieces == 6   # I, ll, pay, dollars, right, now
    assert got[1].n_number_pieces == 1
    assert got[2].n_pieces == 2 and got[2].n_tokens_ws == 2
    assert got[3].n_pieces == 4 and got[3].n_word_pieces == 2 \
        and got[3].n_number_pieces == 2
    assert got[4].n_pieces == 0 and got[4].n_tokens_ws == 0
    assert got[4].pieces_per_token == 0.0
    assert got[5].n_pieces == 0


def test_robots_sitemaps_group_unscoped(spark):
    """Sitemap: directives are global per RFC 9309 2.3 — extracted no
    matter which User-agent group encloses them, case-insensitive,
    deduplicated."""
    from extract_kit_spark.ops import weburl
    robots = spark.createDataFrame([
        ("d1.com", "User-agent: megabot\nDisallow: /\n"
                   "sitemap: https://d1.com/a.xml\n"
                   "User-agent: *\nAllow: /\n"
                   "SITEMAP: https://d1.com/b.xml\n"
                   "Sitemap: https://d1.com/a.xml\n"),  # dup collapses
        ("d2.com", "User-agent: *\nDisallow: /x\n"),    # none
    ], "domain string, robots_txt string")
    got = {(r.domain, r.sitemap_url)
           for r in weburl.robots_sitemaps(robots).collect()}
    assert got == {("d1.com", "https://d1.com/a.xml"),
                   ("d1.com", "https://d1.com/b.xml")}


def test_thumbnail_resize_hand_cases(spark):
    """Nearest-neighbor resize pinned by hand: a 4x2 gray image to
    max_side 2 picks source indices floor(i*src/dst); images already
    within the bound pass through untouched; channel means are exact
    integer floors; failure rows stay typed."""
    import hashlib
    from extract_kit_spark.kernels import png
    from extract_kit_spark.ops import multimodal
    from extract_kit_spark.ops.multimodal import _nearest_resize

    # hand case: 4x2, 1 ch, max_side 2 -> thumb 2x1:
    #   sx = floor(x*4/2) = 0,2 ; sy = floor(y*2/1) = 0
    px = bytes([10, 20, 30, 40,
                50, 60, 70, 80])
    thumb, tw, th = _nearest_resize(px, 4, 2, 1, 2)
    assert (tw, th) == (2, 1)
    assert thumb == bytes([10, 30])
    # never upscale
    assert _nearest_resize(px, 4, 2, 1, 8) == (px, 4, 2)
    # tall image: 2x4 -> 1x2, sy = 0,2
    px_t = bytes([1, 2,
                  3, 4,
                  5, 6,
                  7, 8])
    thumb, tw, th = _nearest_resize(px_t, 2, 4, 1, 2)
    assert (tw, th) == (1, 2)
    assert thumb == bytes([1, 5])

    # through Spark: a 16x4 RGB image (known bytes) to max_side 8
    w, h = 16, 4
    pixels = bytes((3 * i + c) % 256 for i in range(w * h)
                   for c in range(3))
    good = png.encode_png(w, h, pixels, 2, filter_type=1)
    rows = [(1, good), (2, b"BM\x00\x00"), (3, good[:-5])]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r.media_id: r for r in multimodal.thumbnail_images(
        df, max_side=8).collect()}
    ok = out[1]
    assert (ok.width, ok.height, ok.thumb_w, ok.thumb_h) == (16, 4, 8, 2)
    want, tw, th = _nearest_resize(pixels, 16, 4, 3, 8)
    assert ok.thumb_sha256 == hashlib.sha256(want).hexdigest()
    n_px = tw * th
    assert list(ok.channel_means) == [sum(want[c::3]) // n_px
                                      for c in range(3)]
    assert out[2].decode_status == "unsupported"
    assert out[3].decode_status.startswith("corrupt")


def test_pcm_ints_float64_matches_float32():
    """64-bit float WAVs decode with their own sample width: samples
    that float32 holds exactly give the same channel-0 ints whether
    stored as 32- or 64-bit floats (stereo, so the stride counts)."""
    import struct
    from extract_kit_spark.kernels import wav
    from extract_kit_spark.ops.multimodal import _pcm_ints

    samples = [0.0, 0.5, -0.5, 0.25, -1.0, 1.0, 2.0, -3.0, 0.125,
               -0.0625, 0.75, -0.875]
    n = len(samples)
    f32 = wav.decode_wav(wav.encode_wav(8000, 2, 32, struct.pack(
        f"<{n}f", *samples), float_fmt=True))
    f64 = wav.decode_wav(wav.encode_wav(8000, 2, 64, struct.pack(
        f"<{n}d", *samples), float_fmt=True))
    assert f64["n_samples"] == f32["n_samples"] == n // 2
    assert _pcm_ints(f64) == _pcm_ints(f32) == \
        [0, -16383, -32767, 32767, 4095, 24575]


def test_audio_features_hand_case_and_query(spark):
    """audio_features pinned by hand: a 4-sample 16-bit mono square
    wave has known peak/mean/zero-crossings/envelope; the registry
    query is deterministic, covers every typed status, and the
    envelope always has exactly ENVELOPE_BUCKETS slots."""
    import struct
    from extract_kit_spark.kernels import wav
    from extract_kit_spark.ops import multimodal
    from extract_kit_spark.ops.multimodal import ENVELOPE_BUCKETS
    from extract_kit_spark.queries import QUERIES

    frames = struct.pack("<4h", 1000, -1000, 1000, -1000)
    good = wav.encode_wav(8000, 1, 16, frames)
    rows = [(1, good), (2, good[:-3]), (3, b"OggS" + bytes(8))]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r["media_id"]: r for r in
           multimodal.audio_features(df).collect()}
    ok = out[1]
    assert (ok["peak"], ok["mean_abs"], ok["zero_crossings"]) == \
        (1000, 1000, 3)
    assert len(ok["envelope"]) == ENVELOPE_BUCKETS
    # 4 samples over 16 buckets: only buckets 3,7,11,15 are non-empty
    assert [v for v in ok["envelope"] if v] == [1000] * 4
    assert out[2]["decode_status"].startswith("corrupt")
    assert out[3]["decode_status"] == "unsupported"

    a = {r["media_id"]: r for r in QUERIES["mm_audio_features"](
        spark, "/root/testdata/sf0.001").collect()}
    b = {r["media_id"]: r for r in QUERIES["mm_audio_features"](
        spark, "/root/testdata/sf0.001").collect()}
    assert a == b and len(a) == 500
    statuses = {r["decode_status"].split(":")[0] for r in a.values()}
    assert statuses == {"ok", "corrupt", "unsupported"}
    oks = [r for r in a.values() if r["decode_status"] == "ok"]
    assert len(oks) > 400
    assert all(len(r["envelope"].split(",")) == ENVELOPE_BUCKETS
               for r in oks)
