"""Semantics tests for custom operators on crafted inputs (things the
DuckDB oracle can't check: LSH recall, as-of edges, stub kernels)."""

from __future__ import annotations

import datetime

import numpy as np
import pytest

from pyspark.sql import functions as F


def test_asof_join_backward_with_ties(spark):
    from scratchdb_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "L1"), (1, 20, "L2"), (2, 5, "L3")],
        "k int, t int, name string",
    )
    right = spark.createDataFrame(
        # k=1: values at t=5, t=10 (tie with L1 -> <= wins), t=15
        # k=2: only t=7 (after L3 -> no match)
        [(1, 5, 100.0), (1, 10, 200.0), (1, 15, 300.0), (2, 7, 400.0)],
        "k int, t int, v double",
    )
    out = asof_join(
        left, right, on=["k"], left_time="t", right_time="t",
        value_cols=["v"], tiebreak="t",
    )
    got = {r["name"]: r["asof_v"] for r in out.collect()}
    assert got == {"L1": 200.0, "L2": 300.0, "L3": None}


def test_asof_join_forward_with_ties(spark):
    from scratchdb_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "L1"), (1, 20, "L2"), (2, 5, "L3"), (2, 99, "L4")],
        "k int, t int, name string",
    )
    right = spark.createDataFrame(
        # k=1: t=10 ties with L1 -> >= wins; t=15 is L2's next... none
        #      at/after 20 -> L2 unmatched
        # k=2: t=7 is the first at/after L3; nothing at/after 99
        [(1, 5, 100.0), (1, 10, 200.0), (1, 15, 300.0), (2, 7, 400.0)],
        "k int, t int, v double",
    )
    out = asof_join(
        left, right, on=["k"], left_time="t", right_time="t",
        value_cols=["v"], tiebreak="t", direction="forward",
    )
    got = {r["name"]: r["asof_v"] for r in out.collect()}
    assert got == {"L1": 200.0, "L2": None, "L3": 400.0, "L4": None}


def test_asof_join_forward_equal_time_tiebreak(spark):
    from scratchdb_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10, "L1")], "k int, t int, name string")
    right = spark.createDataFrame(
        # two right rows at the same matching time: smallest tiebreak wins
        [(1, 10, 7, 100.0), (1, 10, 3, 200.0)], "k int, t int, tb int, v double"
    )
    out = asof_join(
        left, right, on=["k"], left_time="t", right_time="t",
        value_cols=["v"], tiebreak="tb", direction="forward",
    )
    assert out.collect()[0]["asof_v"] == 200.0


def test_exact_dedup_counts(spark):
    from scratchdb_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "aa"), (2, "bb"), (3, "aa"), (4, "aa")], "doc_id long, text string"
    )
    out = {r["keep_id"]: r["n_dups"] for r in exact_dedup(df).collect()}
    assert out == {1: 3, 2: 1}


def test_minhash_lsh_finds_near_dups_and_skips_distinct(spark):
    from scratchdb_spark.operators.dedup import minhash_lsh_pairs

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")  # high jaccard
    other = "completely different words about spark shuffles and parquet files"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id long, text string"
    )
    pairs = minhash_lsh_pairs(df, threshold=0.5).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]
    assert 0.5 <= pairs[0]["jaccard_sim"] < 1.0


def test_simhash_identical_docs_same_fingerprint(spark):
    from scratchdb_spark.operators.dedup import simhash_clusters

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "unrelated text")],
        "doc_id long, text string",
    )
    clusters = {r["cluster_id"]: r["n_docs"] for r in simhash_clusters(df).collect()}
    assert clusters[1] == 2
    assert clusters[3] == 1


def test_lsh_topk_recall_vs_brute_force(spark, sf_dir):
    from scratchdb_spark.operators.similarity import brute_force_topk, lsh_topk
    from scratchdb_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, q, k=5).collect()
    approx = lsh_topk(emb, q, k=5).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # LSH is approximate; require non-trivial recall on this data
    assert recall >= 0.3, f"LSH recall too low: {recall}"
    # every returned neighbor must carry a correct exact cosine (spot check)
    by_pair = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in exact}
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        if key in by_pair:
            assert abs(r["cos_sim"] - by_pair[key]) < 1e-9


def test_multimodal_feature_shapes(spark):
    from scratchdb_spark.operators.multimodal import (
        attach_payload,
        extract_features,
        sample_frames,
        decode_image,
    )

    df = spark.createDataFrame(
        [(1, "hello world"), (2, "spark")], "doc_id long, text string"
    )
    with_payload = attach_payload(df)
    meta = {r["doc_id"]: r["media_meta"] for r in with_payload.collect()}
    assert meta[1]["n_bytes"] == len(b"hello world")
    assert meta[1]["media_type"] == "application/octet-stream"

    feats = extract_features(with_payload).collect()
    assert all(len(r["features"]) == 16 for r in feats)
    assert all(abs(sum(r["features"]) - 1.0) < 0.01 for r in feats)

    frames = sample_frames(with_payload, n_frames=4).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc[1]) == 4
    assert b"".join(
        bytes(r["frame"]) for r in sorted(by_doc[1], key=lambda x: x["frame_idx"])
    ).startswith(b"hel")

    # decode_image drops undecodable payloads (utf-8 text is neither
    # PPM nor BMP) instead of failing the stage
    assert decode_image(with_payload).count() == 0


def test_decode_image_roundtrip_and_malformed(spark):
    """r12 (the r11 verdict's last-stub item): decode_image really
    parses binary P6 PPM and 24-bit BI_RGB BMP. Pins: (a) both
    encoders round-trip the SAME top-down RGB buffer to identical
    sums and an identical top-left pixel (a BGR or bottom-up mix-up
    flips topleft_rgb even when sums agree), (b) a non-4-multiple
    width exercises BMP row padding, (c) PPM header comments parse,
    (d) truncated / unknown-magic / malformed payloads drop the row
    — never throw."""
    import numpy as np

    from scratchdb_spark.operators.multimodal import (
        _decode_payload,
        decode_image,
        encode_bmp,
        encode_ppm,
    )

    w, h = 5, 3  # width*3 = 15: not a 4-multiple -> BMP rows padded
    rng = np.random.RandomState(7)
    rgb = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    buf = rgb.tobytes()
    exp = rgb.reshape(-1, 3).sum(axis=0)
    exp_tl = int(rgb[0, 0, 0]) * 65536 + int(rgb[0, 0, 1]) * 256 + int(
        rgb[0, 0, 2]
    )
    ppm_with_comment = (
        b"P6\n# a netpbm comment\n%d %d\n255\n" % (w, h) + buf
    )
    df = spark.createDataFrame(
        [
            (1, bytearray(encode_ppm(w, h, buf))),
            (2, bytearray(encode_bmp(w, h, buf))),
            (3, bytearray(ppm_with_comment)),
            (4, bytearray(b"GIF89a not supported")),
            (5, bytearray(encode_ppm(w, h, buf)[:-4])),  # truncated
            (6, bytearray(b"BM\x00\x01")),  # malformed header
            (7, None),
        ],
        "doc_id long, payload binary",
    )
    got = {r["doc_id"]: r for r in decode_image(df).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["fmt"] == "ppm" and got[2]["fmt"] == "bmp"
    for doc_id in (1, 2, 3):
        r = got[doc_id]
        assert (r["width"], r["height"]) == (w, h)
        assert (r["sum_r"], r["sum_g"], r["sum_b"]) == tuple(
            int(x) for x in exp
        )
        assert r["topleft_rgb"] == exp_tl
    # decoder sees the exact original pixel array through both codecs
    for enc in (encode_ppm, encode_bmp):
        fmt, dw, dh, arr = _decode_payload(enc(w, h, buf))
        assert (dw, dh) == (w, h)
        assert np.array_equal(arr, rgb), fmt


def test_langid_on_crafted_text(spark):
    from scratchdb_spark.operators.text import lang_id

    df = spark.createDataFrame(
        [
            (1, "the cat is in the house and it is warm"),
            (2, "el gato es que la casa y en un lugar"),
            (3, "der hund ist von das haus und ein zu"),
            (4, "xyzzy plugh qwerty"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["predicted_lang"] for r in lang_id(df).collect()}
    assert got == {1: "en", 2: "es", 3: "de", 4: "und"}


def test_fingerprint_order_sensitivity(spark):
    from scratchdb_spark.operators.text import fingerprint

    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta alpha"), (3, "alpha  beta ")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in fingerprint(df).collect()}
    # reordering changes both fingerprints
    assert rows[1]["poly_fp"] != rows[2]["poly_fp"]
    assert rows[1]["md5_fp"] != rows[2]["md5_fp"]
    # whitespace normalization: doc 3 == doc 1
    assert rows[1]["poly_fp"] == rows[3]["poly_fp"]
    assert rows[1]["md5_fp"] == rows[3]["md5_fp"]


def test_cosine_pairs_blocked_matches_single_block(spark, sf_dir):
    """Multi-block (off-diagonal GEMM tasks) must produce exactly the
    single-block answer — exercises the triangle/full-block split that
    the default block size never hits on the small fixtures."""
    from scratchdb_spark.operators.similarity import cosine_pairs_above
    from scratchdb_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    one = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in cosine_pairs_above(emb, 0.4, block_size=4096).collect()
    }
    many = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in cosine_pairs_above(emb, 0.4, block_size=64).collect()
    }
    assert len(one) > 0
    assert one == many


def test_widen_bytes_floor_caps_small_inputs(spark, sf_dir):
    """widen(min_bytes_per_task=...) must not shatter a sub-MB corpus
    across the whole cluster (r14b: the kmeans Lloyd pass ran 2x
    slower at 32 tiny tasks than at 8 — pure task overhead), while a
    huge floor still yields a runnable >= 1-partition frame and the
    legacy call keeps targeting full parallelism."""
    from scratchdb_spark.operators.dedup import widen
    from scratchdb_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    par = spark.sparkContext.defaultParallelism
    plain = widen(emb).rdd.getNumPartitions()
    floored = widen(
        emb, min_bytes_per_task=128 * 1024
    ).rdd.getNumPartitions()
    assert plain >= min(par, 2) or par == 1  # legacy widens to cluster
    assert 1 <= floored <= plain
    if par > 1:  # the tiny fixture must not occupy the whole cluster
        assert floored < par
    assert widen(emb, min_bytes_per_task=1 << 45).rdd.getNumPartitions() >= 1


def test_normalized_matches_per_element_form(spark):
    """_normalized (r15: zip_with + array_repeat, norm evaluated once
    per row) must be value-identical to the per-element transform form
    it replaced (norm re-evaluated per element — O(d²) per row), on
    vectors including negatives, empties and NULLs."""
    from scratchdb_spark.operators.similarity import _norm, _normalized

    df = spark.createDataFrame(
        [
            (1, [3.0, 4.0]),
            (2, [-1.5, 2.5, 0.0]),
            (3, [0.1234567]),
            (4, []),
            (5, None),
        ],
        "id long, v array<double>",
    )
    n = _norm(F.col("v"))
    old = df.select(
        "id",
        F.transform("v", lambda x: x.cast("double") / n).alias("nv"),
    )
    new = df.select("id", _normalized("v").alias("nv"))
    assert sorted(map(repr, old.collect())) == sorted(
        map(repr, new.collect())
    )


def test_cosine_pairs_adaptive_block_size_sizing():
    """Pure sizing function (r14b): blocks shrink so B(B+1)/2 pair
    tasks cover the cluster, floor 256 (per-task overhead), cap 2048
    (bounds one GEMM's score matrix at ~32 MB)."""
    from scratchdb_spark.operators.similarity import _gemm_block_size

    # 2000 rows, 32-way: B_target = ceil(sqrt(64)) = 8 -> ceil(2000/8)
    # = 250 -> floored to 256 -> 8 blocks -> 36 pair tasks
    assert _gemm_block_size(2000, 32) == 256
    # large corpora keep the memory cap
    assert _gemm_block_size(1_000_000, 32) == 2048
    # tiny inputs never shatter below the floor
    assert _gemm_block_size(100, 32) == 256
    # unknown count (unbounded opt-in) keeps the legacy fixed size
    assert _gemm_block_size(None, 32) == 2048
    assert _gemm_block_size(0, 32) == 2048


def test_cosine_pairs_adaptive_default_matches_explicit(spark, sf_dir):
    """block_size=None (adaptive, the registry path) must equal the
    r13 fixed 2048 — blocking is placement, never values — and its
    pair exchange must be an explicit-count round-robin (AQE byte-
    based coalescing folded the CPU-quadratic GEMM rows into one
    partition; REPARTITION_BY_NUM opts out)."""
    from scratchdb_spark.operators.similarity import cosine_pairs_above
    from scratchdb_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    adaptive = cosine_pairs_above(emb, 0.4)
    got = {
        (r["id_a"], r["id_b"], r["cos_sim"]) for r in adaptive.collect()
    }
    want = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in cosine_pairs_above(emb, 0.4, block_size=2048).collect()
    }
    assert len(want) > 0
    assert got == want
    plan = adaptive._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" in plan
    assert "REPARTITION_BY_NUM" in plan


def test_minhash_signature_agreement_tracks_jaccard(spark):
    from scratchdb_spark.operators.dedup import (
        hashed_shingles,
        minhash_signatures,
    )

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again"),
            (2, "the quick brown fox jumps over the lazy dog again"),
            (3, "completely different words nothing shared at all here"),
        ],
        "doc_id long, text string",
    )
    docs = df.select(
        F.col("doc_id").alias("id"),
        hashed_shingles(F.col("text"), 3).alias("shingles"),
    )
    sigs = {r["id"]: r["sig"] for r in minhash_signatures(docs, 64).collect()}
    assert sigs[1] == sigs[2]  # identical shingle sets -> identical sig
    overlap_13 = sum(a == b for a, b in zip(sigs[1], sigs[3]))
    assert overlap_13 <= 8  # disjoint sets -> near-zero agreement


def test_lsh_bucket_key_deterministic_and_bounded(spark):
    from scratchdb_spark.operators.similarity import (
        _hyperplanes,
        lsh_bucket_key,
    )

    planes = _hyperplanes(4, 8)
    df = spark.createDataFrame(
        [(1, [1.0] * 8), (2, [1.0] * 8), (3, [-1.0] * 8)],
        "id long, v array<double>",
    )
    rows = {
        r["id"]: r["k"]
        for r in df.select(
            "id", lsh_bucket_key(F.col("v"), planes).alias("k")
        ).collect()
    }
    assert rows[1] == rows[2]  # identical vectors, identical bucket
    assert all(0 <= k < 2**4 for k in rows.values())
    # antipodal vectors flip every sign bit
    assert rows[3] == (2**4 - 1) ^ rows[1]


def test_simhash_near_pairs_complete_vs_brute_force(spark, sf_dir):
    from scratchdb_spark.operators.dedup import simhash, simhash_near_pairs
    from scratchdb_spark.tables import table

    docs = table(spark, sf_dir, "documents").limit(200)
    # brute force: all fingerprint pairs within hamming <= 3
    fps = {r["id"]: r["simhash"] for r in simhash(docs).collect()}
    ids = sorted(fps)
    expected = {
        (a, b, bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1") <= 3
    }
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_pairs(docs).collect()
    }
    # pigeonhole blocking is COMPLETE for max_hamming < bands
    assert got == expected


def test_simhash_near_pairs_skewed_corpus(spark):
    """Duplicate-heavy corpus: candidates come from DISTINCT
    fingerprints, so identical docs don't blow up the band join, and
    the identical-fp pairs still come out complete (hamming 0)."""
    from scratchdb_spark.operators.dedup import simhash_near_pairs

    dup = "the same exact document body repeated many many times over"
    rows = [(i, dup) for i in range(40)]
    rows.append((100, dup.replace("over", "again")))  # near-dup of the block
    rows.append((200, "an entirely different text about parquet shuffles"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = simhash_near_pairs(docs).collect()
    same = {(r["id_a"], r["id_b"]) for r in got if r["hamming"] == 0}
    # all C(40,2) identical pairs present
    assert same == {(a, b) for a in range(40) for b in range(a + 1, 40)}
    # no pair ever touches the unrelated doc
    assert all(r["id_a"] != 200 and r["id_b"] != 200 for r in got)


def test_simhash_near_pairs_bucket_cap_trips(spark):
    """max_bucket bounds DISTINCT-fp collisions per (band, bval): a
    corpus of many distinct docs sharing band values must fail fast
    with the remedy message, not go quadratic silently."""
    import pytest as _pytest
    from scratchdb_spark.operators.dedup import simhash_near_pairs

    base = "the quick brown fox jumps over the lazy dog near a river"
    docs = spark.createDataFrame(
        # near-identical but DISTINCT texts: fingerprints differ in a
        # few bits, so (by the same pigeonhole the operator relies on)
        # pairs within hamming < bands share at least one band value —
        # guaranteed distinct-fp bucket collisions for cap=1
        [(i, f"{base} token{i}") for i in range(12)],
        "doc_id long, text string",
    )
    with _pytest.raises(Exception, match="max_bucket"):
        simhash_near_pairs(docs, max_bucket=1).collect()
    # opting out runs fine
    assert simhash_near_pairs(docs, max_bucket=None).count() >= 0


def test_ivf_topk_recall_and_list_discipline(spark, sf_dir):
    from scratchdb_spark.operators.similarity import brute_force_topk, ivf_topk
    from scratchdb_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, q, k=5).collect()
    approx = ivf_topk(emb, q, k=5, n_centroids=16, nprobe=4).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.3, f"IVF recall too low: {recall}"
    # scores on shared pairs must equal the exact computation
    by_pair = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in exact}
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        if key in by_pair:
            assert abs(r["cos_sim"] - by_pair[key]) < 1e-9
    # probing more lists can only widen the candidate set (recall is
    # monotone in nprobe); full probe == brute force
    full = ivf_topk(emb, q, k=5, n_centroids=16, nprobe=16).collect()
    full_set = {(r["query_id"], r["neighbor_id"]) for r in full}
    assert full_set == exact_set


def test_range_join_window_edges_and_plan(spark):
    from scratchdb_spark.operators.rangejoin import range_join_seconds

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def ts(sec):
        return t0 + datetime.timedelta(seconds=sec)

    left = spark.createDataFrame(
        # clicks at 0s, 100s, 900s, 1000s
        [(1, ts(0)), (1, ts(100)), (1, ts(900)), (2, ts(1000))],
        "u long, c_ts timestamp",
    )
    right = spark.createDataFrame(
        # purchase at 900s: window (0, 900] back -> matches 100s and 900s
        # (NOT 0s: diff == 900 is outside the half-open window)
        [(1, ts(900)), (2, ts(999))],
        "u2 long, p_ts timestamp",
    )
    out = range_join_seconds(
        left, right, "c_ts", "p_ts", 900,
        extra_cond=F.col("u") == F.col("u2"),
    )
    got = sorted(
        (r["u"], int((r["p_ts"] - r["c_ts"]).total_seconds()))
        for r in out.collect()
    )
    assert got == [(1, 0), (1, 800)]
    # the point of the operator: an equi-join strategy, never a
    # nested-loop cross product
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_hash_split_deterministic_and_partition_invariant(spark):
    from scratchdb_spark.operators.split import hash_split

    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    fr = {"train": 0.9, "val": 0.05, "test": 0.05}
    a = {r["doc_id"]: r["split"] for r in hash_split(df, "doc_id", fr).collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in hash_split(df.repartition(7), "doc_id", fr).collect()
    }
    assert a == b  # same assignment regardless of layout
    from collections import Counter

    c = Counter(a.values())
    assert set(c) <= {"train", "val", "test"}
    assert c["train"] > 800 and c["val"] > 20 and c["test"] > 20


def _union_find_components(edges):
    """Reference implementation: min-id component label per node that
    appears in at least one non-loop edge."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    nodes = set()
    for a, b in edges:
        if a == b:
            continue
        nodes.update((a, b))
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def test_connected_components_chain_needs_multiple_rounds(spark):
    from scratchdb_spark.operators.graph import connected_components

    # 26-node path graph: worst case for naive diameter-bound label
    # propagation; large-star/small-star must still collapse it.
    edges = [(i, i + 1) for i in range(25)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == {i: 0 for i in range(26)}


@pytest.mark.parametrize("seed,n,m", [(7, 30, 18), (11, 50, 70), (13, 40, 40)])
def test_connected_components_matches_union_find(spark, seed, n, m):
    import random

    from scratchdb_spark.operators.graph import connected_components

    rng = random.Random(seed)
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    expected = _union_find_components(edges)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == expected


def test_components_for_pairs_isolated_nodes_self_labeled(spark):
    from scratchdb_spark.operators.graph import components_for_pairs

    nodes = spark.createDataFrame([(i,) for i in range(6)], "id long")
    pairs = spark.createDataFrame([(4, 1), (1, 3)], "a long, b long")
    out = components_for_pairs(nodes, pairs, "id", "a", "b")
    got = {r["id"]: r["cluster_id"] for r in out.collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 1, 4: 1, 5: 5}


def test_jaccard_pairs_index_matches_quadratic(spark, sf_dir):
    from scratchdb_spark.operators.dedup import (
        jaccard_pairs_index,
        ngram_jaccard_pairs,
    )
    from scratchdb_spark.tables import table

    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    idx = {
        (r["id_a"], r["id_b"]): r["jaccard_sim"]
        for r in jaccard_pairs_index(docs, threshold=0.2).collect()
    }
    quad = {
        (r["id_a"], r["id_b"]): r["jaccard_sim"]
        for r in ngram_jaccard_pairs(docs, threshold=0.2).collect()
    }
    assert idx == quad
    assert len(idx) > 0


def test_compact_path_reduces_files_preserving_content(spark, tmp_path):
    from scratchdb_spark.operators.compaction import (
        compact_path,
        list_data_files,
    )

    path = str(tmp_path / "many_small")
    spark.range(0, 10_000).selectExpr(
        "id", "id % 97 AS k", "cast(id AS string) AS s"
    ).repartition(40).write.parquet(path)
    assert len(list_data_files(spark, path)) == 40
    before = spark.read.parquet(path)
    before_sum = before.selectExpr(
        "sum(id) AS a", "count(*) AS n", "bit_xor(xxhash64(id, k, s)) AS h"
    ).first()

    stats = compact_path(spark, path, target_file_bytes=1 << 30)
    assert stats["files_after"] < stats["files_before"]
    assert stats["files_after"] == 1

    after = spark.read.parquet(path)
    after_sum = after.selectExpr(
        "sum(id) AS a", "count(*) AS n", "bit_xor(xxhash64(id, k, s)) AS h"
    ).first()
    assert tuple(before_sum) == tuple(after_sum)


def test_compact_path_sorted_layout_disjoint_ranges(spark, tmp_path):
    from scratchdb_spark.operators.compaction import (
        compact_path,
        list_data_files,
    )

    path = str(tmp_path / "clustered")
    spark.range(0, 20_000).selectExpr("id", "id % 5 AS k").repartition(
        16
    ).write.parquet(path)
    # force a multi-file clustered rewrite
    total = sum(sz for _, sz in list_data_files(spark, path))
    compact_path(spark, path, target_file_bytes=total // 4, sort_col="id")

    # per-file id ranges must be disjoint (that's what makes min/max
    # stats prune for range predicates)
    ranges = []
    for f, _ in sorted(list_data_files(spark, path)):
        row = spark.read.parquet(f).selectExpr(
            "min(id) AS lo", "max(id) AS hi"
        ).first()
        ranges.append((row["lo"], row["hi"]))
    ranges.sort()
    assert len(ranges) >= 2
    for (_, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 < lo2


def test_components_for_pairs_empty_edges(spark):
    from pyspark.sql.types import LongType, StructField, StructType

    from scratchdb_spark.operators.graph import components_for_pairs

    nodes = spark.createDataFrame([(i,) for i in range(3)], "id long")
    empty = spark.createDataFrame(
        [], StructType([StructField("a", LongType()),
                        StructField("b", LongType())])
    )
    out = components_for_pairs(nodes, empty, "id", "a", "b")
    assert {r["id"]: r["cluster_id"] for r in out.collect()} == {
        0: 0, 1: 1, 2: 2,
    }


def test_quadratic_guards_refuse_large_inputs(spark):
    """O(n^2) exact baselines refuse unbounded inputs with a pointer
    to their scale-safe twin; explicit opt-in via max_rows/max_pairs."""
    from scratchdb_spark.operators.dedup import ngram_jaccard_pairs
    from scratchdb_spark.operators.guards import QuadraticInputError
    from scratchdb_spark.operators.similarity import (
        brute_force_topk,
        cosine_pairs_above,
    )

    docs = spark.range(100).selectExpr(
        "id AS doc_id", "concat('w', id, ' x y z') AS text"
    )
    with pytest.raises(QuadraticInputError, match="minhash_lsh_pairs"):
        ngram_jaccard_pairs(docs, max_rows=10)
    # explicit opt-in runs
    assert ngram_jaccard_pairs(docs, max_rows=None).count() >= 0

    vecs = spark.range(50).selectExpr(
        "id AS vec_id", "array(cast(id AS float), 1.0F) AS embedding"
    )
    with pytest.raises(QuadraticInputError, match="lsh_topk"):
        brute_force_topk(vecs, vecs, max_pairs=100)
    with pytest.raises(QuadraticInputError, match="lsh_topk"):
        cosine_pairs_above(vecs, threshold=0.9, max_rows=10)


def test_hot_group_guard_refuses_exact_percentile_blowup(spark):
    """Exact holistic aggregates (percentile/median/MAD) refuse hot
    groups — the buffer-every-value shape that OOMs one executor at
    scale — while small groups pass and None opts out."""
    from scratchdb_spark.operators.guards import (
        HotGroupError,
        refuse_hot_groups,
    )

    df = spark.range(1000).selectExpr("id % 3 AS k", "id AS v")
    with pytest.raises(HotGroupError, match="histogram"):
        refuse_hot_groups(
            df, ["k"], 100, "exactq", "histogram sketch"
        )
    # under the bound -> passes silently
    refuse_hot_groups(df, ["k"], 400, "exactq", "histogram sketch")
    # None -> explicit opt-out, never probes
    refuse_hot_groups(df, ["k"], None, "exactq", "histogram sketch")


def test_curation_operators(spark):
    """Hand-checkable behaviors for the corpus-curation family."""
    from scratchdb_spark.operators.curation import (
        decontaminate,
        domain_token_budget,
        quality_gate,
        repetition_stats,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog", "web"),
            (2, "the quick brown fox jumps over a sleeping cat", "web"),
            (3, "completely different words entirely here now", "books"),
            (4, "spam spam spam spam spam spam spam spam", "web"),
        ],
        "doc_id long, text string, source string",
    )

    # doc 2 shares the 4-gram "the quick brown fox" (and more) with
    # eval doc 1; doc 3/4 share none
    cont = {
        r["doc_id"]: r["n_eval_ngram_hits"]
        for r in decontaminate(
            docs.filter("doc_id > 1"), docs.filter("doc_id = 1"), n=4
        ).collect()
    }
    assert set(cont) == {2} and cont[2] >= 2

    rep = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert rep[4]["n_words"] == 8 and rep[4]["n_distinct_words"] == 1
    assert rep[4]["dup_word_ratio"] == 0.875  # 1 - 1/8
    assert rep[4]["top_word_ratio"] == 1.0
    assert rep[3]["dup_word_ratio"] == 0.0

    gate = {r["doc_id"]: r for r in quality_gate(docs).collect()}
    assert gate[1]["keep"] is True and gate[1]["reject_reasons"] == ""
    # doc 4 has no stopwords -> fails the stopword rule
    assert gate[4]["keep"] is False
    assert "stopword_ratio" in gate[4]["reject_reasons"]

    bud = {r["domain"]: r for r in domain_token_budget(docs).collect()}
    assert bud["web"]["n_docs"] == 3 and bud["books"]["n_docs"] == 1
    assert abs(sum(r["token_share"] for r in bud.values()) - 1.0) < 1e-4
    # web has the most tokens -> its cumulative share comes first
    assert bud["web"]["cum_token_share"] < 1.0 or bud["web"]["token_share"] > bud["books"]["token_share"]
    assert bud["books"]["cum_token_share"] == 1.0


def test_bloom_decontaminate_matches_exact_join(spark, sf_dir):
    """The bloom probe must flag a superset of the exact join's docs
    with hit counts >= the exact distinct-gram hits (bloom never
    misses a true shingle; false positives only inflate). At the
    default 2^22-bit / 4-hash config the FP rate is ~1e-9 per probe,
    so on this corpus the outputs should actually be EQUAL — and they
    are deterministic either way (OR-merged bitmaps are partition-
    invariant), which make_fixtures separately enforces."""
    from scratchdb_spark.operators.curation import (
        bloom_decontaminate,
        decontaminate,
    )
    from scratchdb_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    train, ev = docs.filter("doc_id >= 10"), docs.filter("doc_id < 10")
    exact = {
        r["doc_id"]: r["n_eval_ngram_hits"]
        for r in decontaminate(train, ev, n=4).collect()
    }
    bloom = {
        r["doc_id"]: r["n_bloom_hits"]
        for r in bloom_decontaminate(train, ev, n=4).collect()
    }
    assert exact == bloom
    # partition-invariance of the whole pipeline
    bloom7 = {
        r["doc_id"]: r["n_bloom_hits"]
        for r in bloom_decontaminate(
            train.repartition(7), ev.repartition(3), n=4
        ).collect()
    }
    assert bloom7 == bloom


def test_cms_token_frequency_bounds(spark, sf_dir):
    """CMS point estimates: never under the true count (counters only
    inflate on collisions), within the eps*N bound, absent tokens may
    only collide upward from zero, and the merged sketch is
    partition-invariant (integer matrix addition is associative)."""
    from scratchdb_spark.operators.sketch import cms_token_frequency
    from scratchdb_spark.operators.text import _tokens
    from scratchdb_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    exact_rows = (
        docs.select(F.explode(_tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .count()
        .collect()
    )
    exact = {r["tok"]: r["count"] for r in exact_rows}
    stream_len = sum(exact.values())
    probes = ["scan", "join", "a", "zzz-absent-token"]
    est = {
        r["tok"]: r["est_n"]
        for r in cms_token_frequency(docs, probes).collect()
    }
    for t in probes:
        true_n = exact.get(t, 0)
        assert est[t] >= true_n, f"{t}: CMS under-counted"
        # eps = e/width; allow the full no-confidence slack once
        assert est[t] - true_n <= np.ceil(2.72 * stream_len / 8192) + 1
    est7 = {
        r["tok"]: r["est_n"]
        for r in cms_token_frequency(docs.repartition(7), probes).collect()
    }
    assert est7 == est


def test_cross_corpus_near_dups(spark):
    """New-batch near-dups hit only the corpus side, never new x new."""
    from scratchdb_spark.operators.dedup import cross_corpus_near_dups

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "one two three four five six seven")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta"),   # dup of 1
         (11, "alpha beta gamma delta epsilon eta"),    # near-dup of 1
         (12, "totally different content here")],
        "doc_id long, text string",
    )
    rows = {(r["new_id"], r["corpus_id"]): r["jaccard_sim"]
            for r in cross_corpus_near_dups(new, corpus, threshold=0.5).collect()}
    assert rows[(10, 1)] == 1.0
    assert (11, 1) in rows and 0.5 <= rows[(11, 1)] < 1.0
    assert all(k[0] >= 10 and k[1] < 10 for k in rows)
    assert (12, 1) not in rows and (12, 2) not in rows


def test_kmeans_fit_separates_and_is_deterministic(spark):
    """Two well-separated bundles of vectors must land in different
    clusters with every vector assigned; output is partitioning-
    invariant (decimal-summed updates)."""
    import numpy as np

    from scratchdb_spark.operators.similarity import kmeans_fit

    rows = []
    for i in range(20):
        rows.append((i, [1.0 + (i % 3) * 0.01, 0.0, 0.01 * i]))
    for i in range(20, 40):
        rows.append((i, [0.0, 1.0 + (i % 3) * 0.01, -0.01 * i]))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    out = kmeans_fit(df, k=2, iters=4)
    rowsd = [tuple(r) for r in out.collect()]
    assert len(rowsd) == 2 * 3  # k x dims
    counts = {r[0]: r[3] for r in rowsd}
    assert sorted(counts.values()) == [20, 20]
    # one centroid points along x, the other along y (label order
    # depends on which init centroid Lloyd migrates)
    c = {(r[0], r[1]): r[2] for r in rowsd}
    axes = sorted([(c[(0, 0)], c[(0, 1)]), (c[(1, 0)], c[(1, 1)])])
    assert axes[0][0] < 0.1 and axes[0][1] > 0.9  # y-dominant centroid
    assert axes[1][0] > 0.9 and axes[1][1] < 0.1  # x-dominant centroid

    out2 = [tuple(r) for r in kmeans_fit(df.repartition(7), k=2, iters=4).collect()]
    assert sorted(rowsd) == sorted(out2)


def test_pack_sequences_budget_and_coverage(spark):
    """Bins respect the budget boundary (every bin except a shard's
    last starts under max_tokens) and every doc lands in exactly one
    bin."""
    from scratchdb_spark.operators.curation import pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (10 + i % 7))) for i in range(100)],
        "doc_id long, text string",
    )
    out = pack_sequences(docs, max_tokens=50, n_shards=4).collect()
    assert sum(r["n_docs"] for r in out) == 100
    all_ids = sorted(
        int(x) for r in out for x in r["doc_ids"].split(",")
    )
    assert all_ids == list(range(100))
    # per shard: bins numbered contiguously from 0; every bin but the
    # last has n_tokens pushing past the boundary only via its final doc
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, bins in by_shard.items():
        bins.sort(key=lambda r: r["bin_id"])
        assert [b["bin_id"] for b in bins] == list(range(len(bins)))


def test_incremental_rollup_merges_batches(spark, tmp_path):
    """Partials appended across batches must merge to the one-shot
    answer; a third (late) batch is one more append."""
    import datetime

    from scratchdb_spark.operators.incremental import (
        append_rollup_partials,
        read_rollup,
    )
    from scratchdb_spark.tables import Warehouse

    rows = [
        (i, datetime.datetime(2024, 1, 1 + i % 2, 3), "t", float(i))
        for i in range(10)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    append_rollup_partials(wh, "db", "agg", ev.filter("event_id < 4"))
    append_rollup_partials(wh, "db", "agg", ev.filter("event_id >= 4"))
    merged = {
        (r["bucket_day"].day, r["event_type"]): r
        for r in read_rollup(wh, "db", "agg").collect()
    }
    day1 = merged[(1, "t")]  # even ids: 0,2,4,6,8
    assert day1["n"] == 5 and day1["total_value"] == 20.0
    assert day1["min_value"] == 0.0 and day1["max_value"] == 8.0
    assert day1["avg_value_e4"] == 40000  # 4.0 in 1e-4 units

    # late batch: another append, no rewrite
    late = spark.createDataFrame(
        [(99, datetime.datetime(2024, 1, 1, 9), "t", 100.0)],
        "event_id long, ts timestamp, event_type string, value double",
    )
    append_rollup_partials(wh, "db", "agg", late)
    day1b = {
        (r["bucket_day"].day, r["event_type"]): r
        for r in read_rollup(wh, "db", "agg").collect()
    }[(1, "t")]
    assert day1b["n"] == 6 and day1b["total_value"] == 120.0


def test_zorder_clustering_prunes_both_dims(spark, tmp_path):
    """Files clustered on z(a, b) must have bounded min/max ranges in
    BOTH dimensions (a single-column sort only bounds its leading
    column), so predicates on either column prune files."""
    import pyarrow.parquet as pq
    import glob as g

    from scratchdb_spark.operators.compaction import compact_path_zorder

    path = str(tmp_path / "t")
    df = spark.range(4096).selectExpr(
        "id", "CAST(id % 64 AS DOUBLE) AS a",
        "CAST(pmod(hash(id), 64) AS DOUBLE) AS b",
    )
    df.repartition(8).write.parquet(path)
    n = compact_path_zorder(spark, path, ["a", "b"], target_file_bytes=8 * 1024)
    files = sorted(g.glob(path + "/*.parquet"))
    assert len(files) >= 4

    def spans(col):
        out = []
        for f in files:
            md = pq.read_metadata(f)
            names = md.schema.names
            ci = names.index(col)
            stats = [md.row_group(i).column(ci).statistics
                     for i in range(md.num_row_groups)]
            out.append(max(s.max for s in stats) - min(s.min for s in stats))
        return out

    full = 63.0
    # z-clustering bounds BOTH dims on average (a middle file crossing
    # a top-level quadrant boundary can still span one dim, so compare
    # means, and compare against the single-column-sort baseline where
    # the non-leading dim spans ~full in every file)
    mean_a = sum(spans("a")) / len(files)
    mean_b = sum(spans("b")) / len(files)
    assert mean_a <= full * 0.8 and mean_b <= full * 0.8

    from scratchdb_spark.operators.compaction import compact_path

    single = str(tmp_path / "single")
    spark.read.parquet(path).write.parquet(single)
    compact_path(spark, single, target_file_bytes=8 * 1024, sort_col="a")
    files_s = sorted(g.glob(single + "/*.parquet"))

    def spans_of(fs, col):
        out = []
        for f in fs:
            md = pq.read_metadata(f)
            ci = md.schema.names.index(col)
            stats = [md.row_group(i).column(ci).statistics
                     for i in range(md.num_row_groups)]
            out.append(max(s.max for s in stats) - min(s.min for s in stats))
        return out

    mean_b_single = sum(spans_of(files_s, "b")) / len(files_s)
    assert mean_b < mean_b_single * 0.8, (
        f"z-order b-span {mean_b} not better than single-sort "
        f"{mean_b_single}"
    )
    # content preserved
    assert spark.read.parquet(path).count() == 4096


def test_zorder_key_plan_has_no_global_sort(spark):
    """The z-order key stage must be pure whole-stage-codegen: no
    window functions and no single-partition exchange anywhere. The
    earlier percent_rank formulation was a full-table sort into ONE
    task per z-ordered column — inside maintain_table, exactly where
    a 100 TB table would hit it. Also covers non-numeric dimensions
    (sampled cutpoints, same codegen key shape)."""
    from scratchdb_spark.operators.compaction import zorder_key

    df = spark.range(4096).selectExpr(
        "id",
        "CAST(id % 64 AS DOUBLE) AS a",
        "concat('k', lpad(CAST(pmod(hash(id), 64) AS STRING), 2, '0')) AS s",
    )
    zdf, zc = zorder_key(df, ["a", "s"])
    plan = zdf._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert "Window" not in plan
    assert "Exchange" not in plan  # key build shuffles nothing at all
    # key is live and spreads across the full grid for both dims
    row = zdf.selectExpr(
        "count(distinct __zkey) AS nz",
        "max(__z_a) AS ma",
        "max(__z_s) AS ms",
    ).collect()[0]
    assert row["nz"] > 1000
    assert row["ma"] > 200 and row["ms"] > 200  # rescaled to 8-bit range


def test_prefix_filter_equals_exact_quadratic(spark, sf_dir):
    """Prefix filtering is EXACT: its pair set must equal the
    brute-force quadratic jaccard join, not just approximate it."""
    from scratchdb_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_pairs,
    )
    from scratchdb_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    got = {
        (r.id_a, r.id_b): r.jaccard_sim
        for r in prefix_filter_pairs(docs, threshold=0.8).collect()
    }
    # exact baseline uses string shingles; prefix uses hashed — jaccard
    # values agree because hashing preserves set cardinalities
    want = {
        (r.id_a, r.id_b): r.jaccard_sim
        for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    assert got == want and len(got) > 0
    spark.catalog.clearCache()


def test_prefix_filter_prefix_length_bound(spark):
    """A doc pair sharing NO prefix shingle but below threshold must be
    absent; identical docs must always surface (prefix completeness)."""
    from scratchdb_spark.operators.dedup import prefix_filter_pairs

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),  # dup of 1
        (3, "totally different words appear in this one here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.id_a, r.id_b)
        for r in prefix_filter_pairs(df, threshold=0.8).collect()
    }
    assert got == {(1, 2)}
    spark.catalog.clearCache()


def test_ngram_span_coverage_bounds(spark):
    """Duplicated fraction: 1.0 for an exact duplicate pair, 0.0 for a
    unique doc; counts are positional (repeats count)."""
    from scratchdb_spark.operators.dedup import ngram_span_coverage

    rows = [
        (1, "one two three four five six seven"),
        (2, "one two three four five six seven"),
        (3, "entirely unrelated text with unique words only here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in ngram_span_coverage(df, n=5).collect()}
    assert out[1].dup_fraction == 1.0 and out[2].dup_fraction == 1.0
    assert out[3].dup_fraction == 0.0
    # 7 tokens, n=5 -> 3 positional grams per doc
    assert out[1].n_grams == 3 and out[1].dup_grams == 3


def test_bm25_ranks_exact_match_first(spark):
    from scratchdb_spark.operators.text import bm25_topk

    rows = [
        (1, "spark join window spark join window spark"),
        (2, "spark appears once amid many other filler tokens today"),
        (3, "no relevant terms at all in this document text"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = bm25_topk(df, ["spark", "join", "window"], k=3).collect()
    ids = [r.doc_id for r in out]
    assert ids[0] == 1  # highest tf across all terms
    assert 3 not in ids  # zero matched terms -> absent
    assert all(r.bm25_e6 > 0 for r in out)


def test_unigram_logprob_flags_rare_tokens(spark):
    """A doc of corpus-rare tokens scores lower (more negative) than a
    doc of corpus-frequent tokens; add-one smoothing keeps all finite."""
    from scratchdb_spark.operators.text import unigram_logprob

    common = "the the the the the the the the"
    rare = "zyx wvu tsr qpo nml kji hgf edc"
    df = spark.createDataFrame(
        [(1, common), (2, common), (3, common), (4, rare)],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.avg_logprob for r in unigram_logprob(df).collect()}
    assert out[4] < out[1] < 0


def test_gapfill_forward_fill_semantics(spark):
    """Missing days appear with is_gap=True and carry the last observed
    value; observed days pass through; spine spans min..max per key."""
    import datetime as dt

    from scratchdb_spark.operators.resample import gapfill_daily_forward

    rows = [
        (1, dt.datetime(2024, 1, 1, 10), 5.0),
        (1, dt.datetime(2024, 1, 1, 11), 5.0),
        # Jan 2-3 missing
        (1, dt.datetime(2024, 1, 4, 9), 7.5),
        (2, dt.datetime(2024, 3, 1, 0), 1.25),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "value"])
    out = {
        (r.user_id, r.day): r
        for r in gapfill_daily_forward(df).collect()
    }
    assert len(out) == 5  # 4 days for key 1, 1 day for key 2
    assert out[(1, "2024-01-01")].filled_value_e2 == 1000
    assert not out[(1, "2024-01-01")].is_gap
    g2 = out[(1, "2024-01-02")]
    assert g2.is_gap and g2.filled_value_e2 == 1000 and g2.n_events == 0
    assert out[(1, "2024-01-03")].is_gap
    assert out[(1, "2024-01-04")].filled_value_e2 == 750
    assert out[(2, "2024-03-01")].filled_value_e2 == 125


def test_balance_classes_caps_and_determinism(spark, sf_dir):
    from scratchdb_spark.operators.split import balance_classes
    from scratchdb_spark.tables import table

    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    out1 = balance_classes(docs, "lang", "doc_id", cap=60)
    counts = {r.lang: r.n for r in
              out1.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    full = {r.lang: r.n for r in
            docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n in counts.items():
        assert n == min(full[lang], 60)
    # repartitioning must not change the kept set (content-addressed)
    out2 = balance_classes(
        docs.repartition(13), "lang", "doc_id", cap=60
    )
    assert sorted(r.doc_id for r in out1.collect()) == sorted(
        r.doc_id for r in out2.collect()
    )


def test_label_centroids_exact_and_partition_invariant(spark, sf_dir):
    from scratchdb_spark.operators.similarity import label_centroids
    from scratchdb_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    a = label_centroids(emb).collect()
    b = label_centroids(emb.repartition(17)).collect()
    key = lambda r: (r.label, r.dim)
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    by = {key(r): r for r in a}
    n_labels = emb.select("label").distinct().count()
    dims = 64
    assert len(by) == n_labels * dims
    # centroid derives from the exact integer pair (tolerance: Python's
    # round is half-to-even while Spark/DuckDB round half away from
    # zero, and sum_e6/n/1e6 DOES land on exact halves — driver_sim
    # asserts the exact cross-engine agreement)
    for r in a[:20]:
        assert abs(r.centroid - r.sum_e6 / r.n_vecs / 1e6) <= 5.001e-7


def test_bigram_pmi_favors_true_collocations(spark):
    """A bigram that always co-occurs scores higher than one whose
    parts are frequent independently."""
    from scratchdb_spark.operators.text import bigram_pmi

    rows = [(i, "hong kong filler" + str(i % 3) + " the cat the dog")
            for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.bigram: r.pmi for r in bigram_pmi(df, min_count=5).collect()}
    assert "hong kong" in out
    # 'the cat': 'the' appears 2x per doc -> lower pmi than hong/kong
    assert out["hong kong"] > out.get("the cat", float("-inf"))


def test_token_entropy_orders_repetitive_below_diverse(spark):
    from scratchdb_spark.operators.text import token_entropy

    rows = [
        (1, "spam spam spam spam spam spam spam spam"),
        (2, "eight distinct tokens appear in this document here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in token_entropy(df).collect()}
    assert out[1].entropy == 0.0          # single token -> H = 0
    assert abs(out[2].entropy - 2.079442) < 1e-5  # ln(8), all distinct
    assert out[2].n_distinct == 8


def test_daily_zscore_flags_injected_spike(spark):
    import datetime as dt

    from scratchdb_spark.operators.monitor import daily_zscore_anomalies

    rows = []
    for d in range(1, 21):
        rows.append(("a", dt.datetime(2024, 1, d, 12), 10.0))
    rows.append(("a", dt.datetime(2024, 1, 21, 12), 500.0))  # spike
    df = spark.createDataFrame(rows, ["event_type", "ts", "value"])
    out = daily_zscore_anomalies(df, z_threshold=2.0).collect()
    assert len(out) == 1
    assert out[0].day == "2024-01-21" and out[0].z > 2.0


def test_key_skew_profile_detects_hot_key(spark):
    from scratchdb_spark.operators.monitor import key_skew_profile

    rows = [(k, 1) for k in range(100)] + [(999, 1)] * 400
    df = spark.createDataFrame(rows, ["user_id", "v"])
    prof = key_skew_profile(df, "user_id").collect()[0]
    assert prof.n_keys == 101 and prof.n_rows == 500
    assert prof.p50_sz == 1 and prof.max_sz == 400
    assert prof.skew_ratio_e2 == 40000


def test_scd2_islands_reopen_on_return(spark):
    """Returning to a previous value opens a NEW period (true
    gaps-and-islands, not a groupBy event_type)."""
    import datetime as dt

    from scratchdb_spark.queries import scd2_user_event_periods

    # craft via a temp view shape identical to events usage: reuse the
    # catalog function on a directory is heavy; test the algebra inline
    from pyspark.sql.window import Window as W

    rows = [
        (1, 1, "a", dt.datetime(2024, 1, 1, 0)),
        (1, 2, "a", dt.datetime(2024, 1, 1, 1)),
        (1, 3, "b", dt.datetime(2024, 1, 1, 2)),
        (1, 4, "a", dt.datetime(2024, 1, 1, 3)),  # back to 'a' -> new island
    ]
    ev = spark.createDataFrame(rows, ["user_id", "event_id", "event_type", "ts"])
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    flagged = ev.select(
        "user_id", "event_id", "event_type", "ts",
        F.when(~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1)
        .otherwise(0).alias("chg"),
    )
    islands = (
        flagged.withColumn("island", F.sum("chg").over(run))
        .groupBy("user_id", "event_type", "island")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    per_type = sorted((r.event_type, r.n) for r in islands)
    assert per_type == [("a", 1), ("a", 2), ("b", 1)]


def test_table_digest_order_invariant_and_content_sensitive(spark):
    rows = [(1, "a"), (2, "b"), (3, "c")]

    def digest(data):
        df = spark.createDataFrame(data, ["k", "v"])
        rh = F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.col("k").cast("string"), "v")),
                1, 8,
            ), 16, 10,
        ).cast("long")
        r = df.select(rh.alias("rh")).agg(
            F.sum("rh").alias("s"), F.expr("bit_xor(rh)").alias("x")
        ).collect()[0]
        return (r.s, r.x)

    assert digest(rows) == digest(list(reversed(rows)))
    assert digest(rows) != digest([(1, "a"), (2, "b"), (3, "DIFFERENT")])


def test_late_events_audit_detects_out_of_order(spark, tmp_path):
    """The sf fixtures are perfectly ordered (driver row is all-zero),
    so pin the lateness detection on crafted out-of-order arrivals."""
    import datetime as dt

    from scratchdb_spark.queries import stream_late_events_audit

    rows = [
        # arrival order = event_id; user 1's third arrival is 90 min
        # behind the running max -> late
        (1, dt.datetime(2024, 1, 1, 10, 0), 1, "view", 1.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 12, 0), 1, "view", 1.0, "{}"),
        (3, dt.datetime(2024, 1, 1, 10, 30), 1, "view", 1.0, "{}"),
        (4, dt.datetime(2024, 1, 1, 9, 0), 2, "view", 1.0, "{}"),
    ]
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value",
                 "props"],
    )
    # table() reads single parquet FILES (the testdata layout)
    pq.write_table(
        pa.Table.from_pandas(pdf), str(tmp_path / "events.parquet")
    )
    out = stream_late_events_audit(spark, str(tmp_path)).collect()[0]
    assert out.n_events == 4
    assert out.n_late == 1
    assert out.max_late_minutes == 90


def test_pagerank_int_properties(spark):
    """Star graph: the hub outranks leaves; ranks are partition-
    invariant; a symmetric pair has equal ranks."""
    from scratchdb_spark.operators.graph import pagerank_int

    hub_edges = [(0, i) for i in range(1, 6)] + [(i, 0) for i in range(1, 6)]
    e = spark.createDataFrame(hub_edges, ["src", "dst"])
    r = {x.node: x.r_e6 for x in pagerank_int(e).collect()}
    assert r[0] > r[1]
    assert len({r[i] for i in range(1, 6)}) == 1  # leaves identical
    r2 = {x.node: x.r_e6
          for x in pagerank_int(e.repartition(9)).collect()}
    assert r == r2


def test_prefix_filter_randomized_parity(spark):
    """Seeded random corpus with planted mutations at several edit
    distances: the prefix-filter join must equal the quadratic exact
    join at a LOWER threshold too (more borderline pairs than the
    sf fixtures supply), exercising the prefix-length bound across
    many set sizes."""
    import random

    from scratchdb_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_pairs,
    )

    rng = random.Random(0xC0FFEE)
    vocab = [f"w{i}" for i in range(60)]
    rows = []
    doc_id = 0
    for base_i in range(25):
        base = [rng.choice(vocab) for _ in range(rng.randint(6, 30))]
        rows.append((doc_id, " ".join(base)))
        doc_id += 1
        for _ in range(rng.randint(0, 2)):  # mutated variants
            mut = list(base)
            for _ in range(rng.randint(0, 4)):
                mut[rng.randrange(len(mut))] = rng.choice(vocab)
            rows.append((doc_id, " ".join(mut)))
            doc_id += 1
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # 0.6 is the adversarial setting: longer prefixes, more borderline
    # pairs (0.85 is covered against the sf fixtures in the catalog)
    threshold = 0.6
    got = {
        (r.id_a, r.id_b): r.jaccard_sim
        for r in prefix_filter_pairs(df, threshold=threshold).collect()
    }
    want = {
        (r.id_a, r.id_b): r.jaccard_sim
        for r in ngram_jaccard_pairs(df, threshold=threshold).collect()
    }
    assert got == want, (
        f"t={threshold}: prefix {len(got)} vs exact {len(want)}"
    )
    assert len(want) > 0  # the corpus must actually produce pairs
    spark.catalog.clearCache()


def test_cohort_and_rolling_semantics_on_crafted_events(spark, tmp_path):
    """Pin the retention and sliding-window logic on data where the
    answers are computable by hand (the sf fixtures span too few
    months to exercise cohort offsets)."""
    import datetime as dt

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from scratchdb_spark.queries import (
        cohort_monthly_retention,
        rolling_7d_active_users,
    )

    rows = [
        # user 1: first in Jan, active Jan + Mar -> offsets 0 and 2
        (1, dt.datetime(2024, 1, 5), 1, "view", 1.0, "{}"),
        (2, dt.datetime(2024, 3, 10), 1, "view", 1.0, "{}"),
        # user 2: first in Mar only -> offset 0
        (3, dt.datetime(2024, 3, 20), 2, "view", 1.0, "{}"),
        # user 3: two events 3 days apart (rolling window overlap)
        (4, dt.datetime(2024, 5, 1), 3, "view", 1.0, "{}"),
        (5, dt.datetime(2024, 5, 4), 3, "view", 1.0, "{}"),
    ]
    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value",
                 "props"],
    )
    pq.write_table(
        pa.Table.from_pandas(pdf), str(tmp_path / "events.parquet")
    )
    ret = {
        (r.cohort_month, r.month_offset): r.n_active_users
        for r in cohort_monthly_retention(spark, str(tmp_path)).collect()
    }
    assert ret == {
        ("2024-01", 0): 1,
        ("2024-01", 2): 1,
        ("2024-03", 0): 1,
        ("2024-05", 0): 1,
    }
    roll = {
        r.day: r.active_7d
        for r in rolling_7d_active_users(spark, str(tmp_path)).collect()
    }
    # May 4 counts user 3 once though both events fall in its window
    assert roll["2024-05-01"] == 1 and roll["2024-05-04"] == 1
    assert roll["2024-01-05"] == 1 and roll["2024-03-10"] == 1


def test_salted_join_equals_plain_join_with_hot_key(spark):
    from scratchdb_spark.operators.skew import salted_join

    big_rows = [(i, 999) for i in range(500)] + [
        (1000 + k, k) for k in range(20)
    ]
    big = spark.createDataFrame(big_rows, ["row_id", "k"])
    small = spark.createDataFrame(
        [(999, "hot"), *[(k, f"v{k}") for k in range(20)]], ["k", "v"]
    )
    got = sorted(
        map(tuple, salted_join(big, small, "k").select(
            "row_id", "k", "v").collect())
    )
    want = sorted(
        map(tuple, big.join(small, "k").select(
            "row_id", "k", "v").collect())
    )
    assert got == want and len(got) == 520


def test_kmv_sketch_accuracy_and_merge(spark, sf_dir):
    """KMV/theta sketch: per-segment distinct estimates within the
    standard error envelope of the exact counts, intersection/union
    estimates match the exact twin, the exact path (< k distinct) is
    exact, and sketches are partition-invariant."""
    from scratchdb_spark.operators.sketch import kmv_merge_pair, kmv_sketch
    from scratchdb_spark.tables import table

    ev = table(spark, sf_dir, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }

    k = 64
    sk = kmv_sketch(ev, "event_type", "user_id", k=k)
    rows = {r["key"]: r for r in sk.collect()}
    for seg, true_n in exact.items():
        est = rows[seg]["est_distinct"]
        if true_n < k:
            assert est == true_n  # sketch below k is exact
        else:
            # RSE of KMV is ~1/sqrt(k-2); allow 5 sigma
            assert abs(est - true_n) <= 5 * true_n / (k - 2) ** 0.5
        assert len(rows[seg]["kmv"]) == min(true_n, k)
        assert rows[seg]["kmv"] == sorted(rows[seg]["kmv"])

    pair = kmv_merge_pair(sk, "click", "purchase", k=k).collect()[0]
    flags = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("user_id")
        .agg(
            F.max(F.col("event_type") == "click").alias("c"),
            F.max(F.col("event_type") == "purchase").alias("p"),
        )
        .collect()
    )
    n_union = len(flags)
    n_inter = sum(1 for r in flags if r["c"] and r["p"])
    tol = max(5 * n_union / (k - 2) ** 0.5, 1.0)
    assert abs(pair["est_union"] - n_union) <= tol
    assert abs(pair["est_intersect"] - n_inter) <= tol

    # partition invariance: k-minima of a set don't depend on layout
    sk7 = kmv_sketch(ev.repartition(7), "event_type", "user_id", k=k)
    assert sorted(map(str, sk7.collect())) == sorted(map(str, sk.collect()))


def test_rollup_histogram_quantiles_accuracy(spark, sf_dir):
    """Histogram-interpolated quantiles land within one bin width of
    the exact percentiles, and the daily partials merge to the same
    result as a single global histogram (associativity)."""
    from scratchdb_spark import queries as catalog
    from scratchdb_spark.tables import table

    est = (
        catalog.registry()["rollup_histogram_quantiles"]
        .spark_fn(spark, sf_dir)
        .collect()[0]
    )
    ev = table(spark, sf_dir, "events")
    exact = ev.agg(
        F.percentile("value", F.lit([0.5, 0.95, 0.99])).alias("q")
    ).collect()[0]["q"]
    for got, want in zip(
        (est["p50_est"], est["p95_est"], est["p99_est"]), exact
    ):
        assert abs(got - want) <= 0.5  # one bin width


def test_sample_weighted_topk_bias_and_determinism(spark, sf_dir):
    """The weighted sample is reproducible and biased toward heavy
    docs: mean weight of the selected 100 exceeds the corpus mean."""
    from scratchdb_spark import queries as catalog
    from scratchdb_spark.tables import table

    fn = catalog.registry()["sample_weighted_topk"].spark_fn
    a = fn(spark, sf_dir).collect()
    b = fn(spark, sf_dir).collect()
    assert a == b
    sel_mean = sum(r["weight"] for r in a) / len(a)
    corpus_mean = (
        table(spark, sf_dir, "documents")
        .agg(F.avg("n_chars").alias("m"))
        .collect()[0]["m"]
    )
    assert sel_mean > corpus_mean


def test_pq_topk_recall_and_code_compression(spark, sf_dir):
    """PQ/ADC ANN: codes are valid m-subspace words, approximate
    scores are within the quantization error envelope, recall@5 vs
    the exact baseline is far above chance even on unstructured
    gaussian vectors (PQ's worst case), and the index is
    partition-invariant."""
    from scratchdb_spark.operators.similarity import (
        brute_force_topk,
        pq_encode,
        pq_topk,
        pq_train_codebooks,
    )
    from scratchdb_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    n = emb.count()
    books = pq_train_codebooks(emb, m=4, codes=16)
    assert books.shape == (4, 16, 16)  # 64 dims / 4 subspaces

    codes = pq_encode(emb, books).collect()
    assert len(codes) == n
    for r in codes[:50]:
        assert len(r["code"]) == 4
        assert all(0 <= c < 16 for c in r["code"])

    q = emb.filter(F.col("vec_id") < 10)
    approx = pq_topk(emb, q, k=5).collect()
    exact = brute_force_topk(emb, q, k=5).collect()
    ex, got = {}, {}
    for r in exact:
        ex.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in approx:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(ex[k_] & got.get(k_, set())) for k_ in ex)
    total = sum(len(v) for v in ex.values())
    # chance recall is k/n (~1%); require an order of magnitude above
    assert hits / total >= 10 * 5 / n

    inv = pq_topk(emb.repartition(7), q, k=5).collect()
    assert sorted(map(str, inv)) == sorted(map(str, approx))


def test_ivfpq_recall_at_least_full_scan_pq_refine(spark, sf_dir):
    """IVFADC (ivfpq_topk): at an EQUAL candidate budget
    (k * overfetch exact re-scores per query), restricting the ADC
    scan to the probed inverted lists must not cost recall vs the
    full-code-table PQ refine — probed cells are geometrically close,
    so the candidate pool is at least as good while the scan touches
    only ~nprobe/n_centroids of the code table. Also pins exactness
    of the reported metric (cos_sim values match brute force on
    overlapping pairs) and partition invariance."""
    from scratchdb_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_topk,
        pq_refine_topk,
    )
    from scratchdb_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in brute_force_topk(emb, q, k=5).collect()
    }
    # fixed budget here: the claim is apples-to-apples vs pq_refine's
    # per-query k*overfetch pool (the r11 adaptive DEFAULT widens the
    # pool per probed cell — asserted separately below)
    ivfpq_rows = ivfpq_topk(
        emb, q, k=5, overfetch=4, adaptive_overfetch=False
    ).collect()
    ivfpq = {(r["query_id"], r["neighbor_id"]) for r in ivfpq_rows}
    pqr = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_refine_topk(emb, q, k=5, overfetch=4).collect()
    }
    recall_ivfpq = len(ivfpq & set(exact)) / len(exact)
    recall_pqr = len(pqr & set(exact)) / len(exact)
    assert recall_ivfpq >= recall_pqr, (
        f"IVFADC recall {recall_ivfpq} below full-scan PQ refine "
        f"{recall_pqr} at equal candidate budget"
    )
    # the adaptive default's per-cell pool is a SUPERSET of the fixed
    # pool, so the flip never costs recall
    adaptive = {
        (r["query_id"], r["neighbor_id"])
        for r in ivfpq_topk(emb, q, k=5, overfetch=4).collect()
    }
    assert len(adaptive & set(exact)) / len(exact) >= recall_ivfpq
    # the refine stage reports the EXACT metric
    for r in ivfpq_rows:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact:
            assert abs(r["cos_sim"] - exact[key]) < 1e-5
    # partition invariance (fixture-oracle prerequisite)
    inv = ivfpq_topk(
        emb.repartition(7), q, k=5, overfetch=4,
        adaptive_overfetch=False,
    ).collect()
    assert sorted(map(str, inv)) == sorted(map(str, ivfpq_rows))


def test_bloom_prune_join_equals_plain_join_and_actually_prunes(
    spark, sf_dir
):
    """Bloom pruning must never change join results (no false
    negatives), and on a selective dimension it must actually shed
    most of the fact side before the join."""
    from scratchdb_spark.operators.runtime_filter import (
        bloom_of_keys,
        bloom_prune,
        bloom_pruned_join,
    )
    from scratchdb_spark.tables import table

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_suppkey"
    )
    sup = table(spark, sf_dir, "supplier").filter(
        F.col("s_nationkey") < 3
    ).select("s_suppkey")

    plain = {
        (r["l_orderkey"], r["l_linenumber"])
        for r in li.join(
            sup, li["l_suppkey"] == sup["s_suppkey"]
        ).collect()
    }
    pruned = {
        (r["l_orderkey"], r["l_linenumber"])
        for r in bloom_pruned_join(
            li, sup, "l_suppkey", "s_suppkey"
        ).collect()
    }
    assert pruned == plain

    bm = bloom_of_keys(sup, "s_suppkey")
    kept = bloom_prune(li, "l_suppkey", bm).count()
    n = li.count()
    match = li.join(sup, li["l_suppkey"] == sup["s_suppkey"]).count()
    # everything that matches survives; false positives stay rare
    assert kept >= match
    assert kept <= match + max(10, n // 100)
    # partition invariance of the merged bitmap
    assert bloom_of_keys(sup.repartition(5), "s_suppkey") == bm


def test_pq_refine_improves_on_pq_and_scores_exact(spark, sf_dir):
    """Two-stage retrieval: refine recall (vs the exact brute-force
    answer) must be at least PQ's own recall, and every refined score
    must EQUAL the exact cosine (the whole point: exact metric from a
    coarse scan)."""
    from scratchdb_spark.operators.similarity import (
        brute_force_topk,
        pq_refine_topk,
        pq_topk,
    )
    from scratchdb_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, q, k=5).collect()
    coarse = pq_topk(emb, q, k=5).collect()
    refined = pq_refine_topk(emb, q, k=5, overfetch=4).collect()

    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    coarse_set = {(r["query_id"], r["neighbor_id"]) for r in coarse}
    refined_set = {(r["query_id"], r["neighbor_id"]) for r in refined}
    r_coarse = len(exact_set & coarse_set) / len(exact_set)
    r_refined = len(exact_set & refined_set) / len(exact_set)
    assert r_refined >= r_coarse, (r_refined, r_coarse)
    assert r_refined >= 0.3, f"refine recall too low: {r_refined}"

    exact_scores = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in exact
    }
    for r in refined:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_scores:
            assert abs(r["cos_sim"] - exact_scores[key]) < 1e-9, key


def test_ann_index_incremental_matches_frozen_rebuild(spark, sf_dir, tmp_path):
    """Persistent IVFADC index (operators/ann_index.py): after source
    DML (COW delete + append) and a CDC-driven refresh, the index
    table must EXACTLY equal re-encoding the source's current
    snapshot under the same frozen quantizers — the invariant that
    makes churn-proportional refresh sound. Also pins: refresh is a
    no-op when the source hasn't moved, deleted ids stop being
    retrievable, new ids are, and query results match the in-memory
    ivfpq pipeline run with the same frozen quantizers."""
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.operators import ann_index as ai
    from scratchdb_spark.operators.similarity import _assign_encode_df
    from scratchdb_spark.tables import Warehouse, table

    wh = Warehouse(spark, str(tmp_path / "wh"))
    emb = table(spark, sf_dir, "embeddings")
    snap.append_versioned(wh, "db", "emb", emb)
    ai.build_ann_index(wh, "db", "emb", "emb_idx")

    # no-op refresh: source unchanged -> nothing written
    stats = ai.refresh_ann_index(wh, "db", "emb_idx")
    assert stats["n_deleted"] == 0 and stats["n_upserted"] == 0

    # churn: delete a stripe, add new ids
    _v, n_del = snap.delete_where(wh, "db", "emb", F.col("vec_id") % 7 == 3)
    assert n_del > 0
    newbies = emb.filter(F.col("vec_id") % 11 == 5).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding", "label"
    )
    snap.append_versioned(wh, "db", "emb", newbies)
    stats = ai.refresh_ann_index(wh, "db", "emb_idx")
    assert stats["n_deleted"] == n_del
    assert stats["n_upserted"] == newbies.count()

    # exact-equality invariant vs frozen-quantizer re-encode
    meta = ai._load_meta(wh, "db", "emb_idx")
    want = {
        (r["vec_id"], r["cid"], tuple(r["code"]))
        for r in _assign_encode_df(
            snap.read_snapshot(wh, "db", "emb"),
            meta["books"], meta["cent_ids"], meta["centroids"],
            "vec_id", "embedding",
        ).collect()
    }
    got = {
        (r["__row_id"], r["cid"], tuple(r["code"]))
        for r in snap.read_snapshot(wh, "db", "emb_idx").collect()
    }
    assert got == want

    # retrievability: a deleted id never appears; new ids do appear
    q = snap.read_snapshot(wh, "db", "emb").filter(F.col("vec_id") < 50)
    res = ai.query_ann_index(wh, "db", "emb_idx", q, k=5).collect()
    # (new ids live at +1M and may hit any residue class; only the
    # ORIGINAL stripe was deleted)
    assert all(
        r["neighbor_id"] % 7 != 3
        for r in res
        if r["neighbor_id"] < 1_000_000
    )
    wide = ai.query_ann_index(
        wh, "db", "emb_idx",
        snap.read_snapshot(wh, "db", "emb").filter(
            F.col("vec_id") >= 1_000_000
        ).limit(3),
        k=5,
    ).collect()
    assert wide  # new vectors are first-class query targets


def test_ann_refresh_plain_reappend_is_detectable(spark, sf_dir, tmp_path):
    """Pins the refresh id-uniqueness CONTRACT and its maintenance
    check (refresh_ann_index docstring, r14): the decomposed refresh
    plain-appends insert-side ids, relying on 'an existing id is only
    re-introduced via delete + insert'. Contract-respecting churn
    must leave ZERO duplicate __row_id keys; a contract-VIOLATING
    plain re-append of an existing id must produce a duplicate that
    the documented maintenance-time groupBy check catches — the
    failure mode is visible, not silent corruption of scores (each
    duplicate row carries valid codes for the id's current vector)."""
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.operators import ann_index as ai
    from scratchdb_spark.tables import Warehouse, table

    def dup_ids(index_table):
        return (
            snap.read_snapshot(wh, "db", index_table)
            .groupBy("__row_id")
            .count()
            .filter(F.col("count") > 1)
        )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    emb = table(spark, sf_dir, "embeddings")
    snap.append_versioned(wh, "db", "emb", emb)
    ai.build_ann_index(wh, "db", "emb", "emb_idx")

    # contract-respecting churn: delete + re-insert the same ids
    # (delete preimages ride the CDC window) -> no duplicates
    snap.delete_where(wh, "db", "emb", F.col("vec_id") < 10)
    snap.append_versioned(
        wh, "db", "emb", emb.filter(F.col("vec_id") < 10)
    )
    ai.refresh_ann_index(wh, "db", "emb_idx")
    assert dup_ids("emb_idx").count() == 0

    # contract-violating plain re-append (no delete preimage): the
    # duplicate lands and the maintenance check catches exactly it
    snap.append_versioned(
        wh, "db", "emb", emb.filter(F.col("vec_id") == 42)
    )
    ai.refresh_ann_index(wh, "db", "emb_idx")
    bad = dup_ids("emb_idx").collect()
    assert [r["__row_id"] for r in bad] == [42]
    assert bad[0]["count"] == 2


def test_ivfpq_residual_beats_raw_on_clustered_corpus(spark):
    """by_residual=True's contract, pinned in its regime: on a
    corpus of tight clusters whose coarse cells align with the
    clusters, residuals concentrate near the origin and the SAME
    m*codes budget quantizes them with less error — so residual-
    encoded IVFADC recall must be >= the raw-encoding variant at an
    equal candidate budget. (On the near-uniform synthetic testdata
    the inequality flips — mean residual norm 1.25 > the unit raw
    norm — which is why ivfpq_topk defaults to raw encoding; see
    pq_train_codebooks_residual's docstring.) Corpus is seeded and
    the pipeline deterministic, so this is an exact pin, not a
    statistical one."""
    from scratchdb_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_residual_topk,
        ivfpq_topk,
    )

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(8, 32))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for ci in range(8):
        P = centers[ci] + 0.12 * rng.normal(size=(40, 32))
        for j in range(40):
            # interleaved ids: the 8 smallest ids (the deterministic
            # coarse centroids) span all 8 clusters
            rows.append((j * 8 + ci, [float(x) for x in P[j]]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") >= 312)  # one query per cluster
    kw = dict(k=5, overfetch=4, n_centroids=8, nprobe=2, m=4, codes=16)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, q, k=5).collect()
    }
    res_rows = ivfpq_residual_topk(emb, q, **kw).collect()
    res = {(r["query_id"], r["neighbor_id"]) for r in res_rows}
    raw = {
        (r["query_id"], r["neighbor_id"])
        for r in ivfpq_topk(emb, q, **kw).collect()
    }
    recall_res = len(res & exact) / len(exact)
    recall_raw = len(raw & exact) / len(exact)
    assert recall_res >= recall_raw, (
        f"residual recall {recall_res} below raw {recall_raw} on a "
        "clustered corpus — by_residual's home regime"
    )
    assert recall_res >= 0.8  # absolute floor, not just relative
    # partition invariance (fixture-oracle prerequisite)
    inv = ivfpq_residual_topk(emb.repartition(7), q, **kw).collect()
    assert sorted(map(str, inv)) == sorted(map(str, res_rows))


def test_ivfpq_residual_exact_metric_and_invariance_on_testdata(
    spark, sf_dir
):
    """The residual variant's refine stage reports the EXACT cosine
    (matches brute force on overlapping pairs), and the whole
    pipeline is partition-invariant on the driver-checked corpus —
    the prerequisites for its golden-fixture oracle."""
    from scratchdb_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_residual_topk,
    )
    from scratchdb_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in brute_force_topk(emb, q, k=5).collect()
    }
    rows = ivfpq_residual_topk(emb, q, k=5, overfetch=4).collect()
    assert rows
    for r in rows:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact:
            assert abs(r["cos_sim"] - exact[key]) < 1e-5
    inv = ivfpq_residual_topk(
        emb.repartition(7), q, k=5, overfetch=4
    ).collect()
    assert sorted(map(str, inv)) == sorted(map(str, rows))


def test_ann_index_rebuild_is_atomic_and_version_consistent(
    spark, sf_dir, tmp_path
):
    """Rebuild atomicity (ann_index.py): a rebuild is ONE
    overwrite commit — exactly one new index version appears (the
    old delete-then-append protocol interposed an empty-table
    version a concurrent reader could observe), and quantizers are
    PINNED per version: each retained version's codes decode exactly
    against the sidecar its own manifest chain names, so a reader
    resolving any retained version can never mix new codes with old
    codebooks. Sidecar GC keeps every referenced sidecar alive."""
    from pyspark.sql import functions as F

    from scratchdb_spark import fs as hfs
    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.operators import ann_index as ai
    from scratchdb_spark.operators.similarity import _assign_encode_df
    from scratchdb_spark.tables import Warehouse, table

    wh = Warehouse(spark, str(tmp_path / "wh"))
    emb = table(spark, sf_dir, "embeddings")
    snap.append_versioned(wh, "db", "emb", emb)
    v1 = ai.build_ann_index(wh, "db", "emb", "emb_idx")
    meta1 = ai._load_meta(wh, "db", "emb_idx", version=v1)

    # source grows; REBUILD (quantizers retrain on the new corpus)
    snap.append_versioned(
        wh, "db", "emb",
        emb.select(
            (F.col("vec_id") + 2_000_000).alias("vec_id"),
            F.reverse("embedding").alias("embedding"),
            "label",
        ),
    )
    vs_before = snap.versions(wh, "db", "emb_idx")
    v2 = ai.build_ann_index(wh, "db", "emb", "emb_idx")
    # exactly ONE commit: no empty-index intermediate version
    assert snap.versions(wh, "db", "emb_idx") == vs_before + [v2]

    meta2 = ai._load_meta(wh, "db", "emb_idx", version=v2)
    assert meta2["src_version"] > meta1["src_version"]
    assert meta2["meta_file"] != meta1["meta_file"]
    # both sidecars referenced by retained manifests -> both alive
    base = wh._path("db", "emb_idx")
    names = set(hfs.list_names(spark, base))
    assert meta1["meta_file"] in names and meta2["meta_file"] in names

    # per-version consistency: version v's index content == the
    # re-encode of the source AS OF v's recorded src_version under
    # v's OWN sidecar quantizers — for BOTH retained versions
    for v, meta in ((v1, meta1), (v2, meta2)):
        want = {
            (r["vec_id"], r["cid"], tuple(r["code"]))
            for r in _assign_encode_df(
                snap.read_snapshot(
                    wh, "db", "emb", version=meta["src_version"]
                ),
                meta["books"], meta["cent_ids"], meta["centroids"],
                "vec_id", "embedding",
            ).collect()
        }
        got = {
            (r["__row_id"], r["cid"], tuple(r["code"]))
            for r in snap.read_snapshot(
                wh, "db", "emb_idx", version=v
            ).collect()
        }
        assert got == want, f"version {v} codes disagree with its sidecar"

    # the crash-window shape: a sidecar written with NOTHING
    # referencing it yet (pre-commit crash) is invisible to readers
    # and reclaimed by the next build's GC
    orphan = ai._put_meta(
        wh, "db", "emb_idx", {k: v for k, v in
                              [("kind", "ivfpq"), ("junk", True)]}
    )
    assert ai._load_meta(wh, "db", "emb_idx")["meta_file"] == (
        meta2["meta_file"]
    )
    ai._gc_meta_files(wh, "db", "emb_idx")
    names = set(hfs.list_names(spark, base))
    assert orphan not in names and meta2["meta_file"] in names


def test_ann_index_recluster_restores_fresh_build_pruning(
    spark, sf_dir, tmp_path
):
    """Index clustering degradation under churn (ann_index.py::
    maintain_ann_index): each refresh MERGE writes upsert files with
    no cid locality, so after N cycles a probe plans MORE files than
    a fresh build; maintenance re-clusters on cid and must bring
    files-planned back to <= a fresh build over the same corpus.
    Query results must be identical before/after maintenance
    (layout-only), and the sidecar pointer must survive the history
    truncation."""
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.operators import ann_index as ai
    from scratchdb_spark.tables import Warehouse, table

    wh = Warehouse(spark, str(tmp_path / "wh"))
    emb = table(spark, sf_dir, "embeddings")
    snap.append_versioned(wh, "db", "emb", emb)
    ai.build_ann_index(wh, "db", "emb", "emb_idx", n_files=8)

    def files_planned(cells):
        vs = snap.versions(wh, "db", "emb_idx")
        m = snap._manifest(wh, "db", "emb_idx", vs[-1])
        return len(
            snap._plan_files(wh, "db", "emb_idx", m, None, ("cid", cells))
        )

    meta = ai._load_meta(wh, "db", "emb_idx")
    probe = [int(c) for c in meta["cent_ids"][:4]]
    fresh_planned = files_planned(probe)

    # N refresh cycles of churn: move a rotating stripe of vectors
    for i in range(5):
        snap.delete_where(
            wh, "db", "emb",
            (F.col("vec_id") % 13 == i) & (F.col("vec_id") < 1_000_000),
        )
        snap.append_versioned(
            wh, "db", "emb",
            emb.filter(F.col("vec_id") % 17 == i).select(
                (F.col("vec_id") + (i + 1) * 1_000_000).alias("vec_id"),
                "embedding",
                "label",
            ),
        )
        ai.refresh_ann_index(wh, "db", "emb_idx")

    churned_planned = files_planned(probe)
    assert churned_planned > fresh_planned, (
        "churn should smear cells across files "
        f"({churned_planned} vs fresh {fresh_planned})"
    )
    q = snap.read_snapshot(wh, "db", "emb").filter(F.col("vec_id") < 10)
    before = sorted(
        map(str, ai.query_ann_index(wh, "db", "emb_idx", q, k=5).collect())
    )

    stats = ai.maintain_ann_index(wh, "db", "emb_idx")
    assert stats["files_after"] <= stats["files_before"]
    # pruning restored to fresh-build selectivity
    assert files_planned(probe) <= fresh_planned
    # layout-only: identical results; sidecar resolvable post-truncation
    after = sorted(
        map(str, ai.query_ann_index(wh, "db", "emb_idx", q, k=5).collect())
    )
    assert after == before
    meta2 = ai._load_meta(wh, "db", "emb_idx")
    assert meta2["src_version"] == meta["src_version"] + 10  # 5x(del+app)
    # refresh still works across the truncation (no-op: src unmoved)
    r = ai.refresh_ann_index(wh, "db", "emb_idx")
    assert r == {"n_deleted": 0, "n_upserted": 0,
                 "src_version": meta2["src_version"]}


def test_ann_index_query_exclude_self_flag(spark, sf_dir, tmp_path):
    """query_ann_index serves EXTERNAL queries whose ids may
    coincide with corpus vec_ids: with exclude_self=False a
    colliding id keeps the corpus vector in its results (itself, at
    cos_sim 1.0, rank 1); the default True preserves the
    corpus-drawn-query family convention."""
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.operators import ann_index as ai
    from scratchdb_spark.tables import Warehouse, table

    wh = Warehouse(spark, str(tmp_path / "wh"))
    emb = table(spark, sf_dir, "embeddings")
    snap.append_versioned(wh, "db", "emb", emb)
    ai.build_ann_index(wh, "db", "emb", "emb_idx")
    q = snap.read_snapshot(wh, "db", "emb").filter(F.col("vec_id") < 5)

    incl = ai.query_ann_index(
        wh, "db", "emb_idx", q, k=3, exclude_self=False
    ).collect()
    top = {
        r["query_id"]: (r["neighbor_id"], r["cos_sim"])
        for r in incl
        if r["rank"] == 1
    }
    for qid, (nid, cs) in top.items():
        assert nid == qid and abs(cs - 1.0) < 1e-6
    excl = ai.query_ann_index(wh, "db", "emb_idx", q, k=3).collect()
    assert all(r["neighbor_id"] != r["query_id"] for r in excl)


def test_ivfpq_recall_floor_at_nprobe4(spark, sf_dir):
    """The recall-vs-cost contract a user tunes (PERF.md round-8
    table): at nprobe=4 (25% of the 16 default coarse cells) and the
    default re-rank budget, IVFADC recall@10 vs brute force must
    hold >= 0.7 on the fixture corpus (measured 0.73 at both
    driver-checked sfs). The persisted index at the same settings
    must match the in-memory pipeline EXACTLY — same deterministic
    quantizer rule, same frozen-codebook encode — so serving through
    the index never costs recall."""
    import tempfile

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.operators import ann_index as ai
    from scratchdb_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_topk,
    )
    from scratchdb_spark.tables import Warehouse, table

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, q, k=10).collect()
    }
    mem = {
        (r["query_id"], r["neighbor_id"])
        for r in ivfpq_topk(emb, q, k=10, overfetch=4, nprobe=4).collect()
    }
    assert len(mem & exact) / len(exact) >= 0.7

    wh = Warehouse(spark, tempfile.mkdtemp(prefix="wh_recall_"))
    snap.append_versioned(wh, "db", "emb", emb)
    ai.build_ann_index(wh, "db", "emb", "emb_idx")
    idx = {
        (r["query_id"], r["neighbor_id"])
        for r in ai.query_ann_index(
            wh, "db", "emb_idx", q, k=10, nprobe=4
        ).collect()
    }
    assert idx == mem


def test_ann_index_refresh_crash_replays_exactly_once(
    spark, sf_dir, tmp_path, monkeypatch
):
    """refresh_ann_index's stamp-with-final-DML protocol (module
    docstring) at its two reachable crash points, each followed by a
    replay that must converge to EXACTLY the frozen-quantizer
    re-encode of the source — as a MULTISET, not a set: the first r13
    cut of the delete+append decomposition passed a set-equality
    check while a replay double-appended every pure-insert row
    (merge was replay-idempotent, plain append was not). Point A:
    crash before the append commit (delete landed). Point B: crash
    INSIDE the append's manifest PUT — txnappend- files landed but
    uncommitted, and the replay must not adopt the orphans."""
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.operators import ann_index as ai
    from scratchdb_spark.operators.similarity import _assign_encode_df
    from scratchdb_spark.tables import Warehouse, table

    wh = Warehouse(spark, str(tmp_path / "wh"))
    emb = table(spark, sf_dir, "embeddings")
    snap.append_versioned(wh, "db", "emb", emb)
    ai.build_ann_index(wh, "db", "emb", "emb_idx")
    import pytest as _pytest

    def assert_converged():
        meta = ai._load_meta(wh, "db", "emb_idx")
        want = sorted(
            (r["vec_id"], r["cid"], tuple(r["code"]))
            for r in _assign_encode_df(
                snap.read_snapshot(wh, "db", "emb"),
                meta["books"], meta["cent_ids"], meta["centroids"],
                "vec_id", "embedding",
            ).collect()
        )
        got = sorted(
            (r["__row_id"], r["cid"], tuple(r["code"]))
            for r in snap.read_snapshot(wh, "db", "emb_idx").collect()
        )
        # sorted-list equality: duplicates fail loudly where a set
        # comparison silently collapses them
        assert got == want

    # ---- point A: crash after the scoped delete, before the append
    meta0 = ai._load_meta(wh, "db", "emb_idx")
    snap.delete_where(wh, "db", "emb", F.col("vec_id") % 7 == 3)
    snap.append_versioned(
        wh, "db", "emb",
        emb.filter(F.col("vec_id") % 11 == 5).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            "embedding", "label",
        ),
    )
    orig_append = snap.append_versioned

    def crashing_append(wh_, db_, t_, *a, **k):
        if t_ == "emb_idx":
            raise RuntimeError("injected crash before append")
        return orig_append(wh_, db_, t_, *a, **k)

    monkeypatch.setattr(snap, "append_versioned", crashing_append)
    with _pytest.raises(RuntimeError, match="injected crash"):
        ai.refresh_ann_index(wh, "db", "emb_idx")
    monkeypatch.setattr(snap, "append_versioned", orig_append)
    # nothing stamped -> the recorded window is still the old one
    assert (
        ai._load_meta(wh, "db", "emb_idx")["src_version"]
        == meta0["src_version"]
    )
    st = ai.refresh_ann_index(wh, "db", "emb_idx")
    assert st["src_version"] > meta0["src_version"]
    assert_converged()

    # ---- point B: crash inside the append commit's manifest PUT —
    # data files landed under the txnappend- prefix, nothing visible
    meta1 = ai._load_meta(wh, "db", "emb_idx")
    snap.append_versioned(
        wh, "db", "emb",
        emb.filter(F.col("vec_id") % 13 == 2).select(
            (F.col("vec_id") + 2_000_000).alias("vec_id"),
            "embedding", "label",
        ),
    )
    orig_put = snap._put_manifest
    app = "ann-refresh:db.emb_idx"

    def crashing_put(wh_, db_, t_, manifest, *a, **k):
        if t_ == "emb_idx" and (
            manifest.get("summary", {}).get("operation") == "ann-refresh"
            and app in manifest.get("txns", {})
        ):
            raise RuntimeError("injected crash in append PUT")
        return orig_put(wh_, db_, t_, manifest, *a, **k)

    monkeypatch.setattr(snap, "_put_manifest", crashing_put)
    with _pytest.raises(RuntimeError, match="injected crash"):
        ai.refresh_ann_index(wh, "db", "emb_idx")
    monkeypatch.setattr(snap, "_put_manifest", orig_put)
    assert (
        ai._load_meta(wh, "db", "emb_idx")["src_version"]
        == meta1["src_version"]
    )
    st = ai.refresh_ann_index(wh, "db", "emb_idx")
    assert st["src_version"] > meta1["src_version"]
    # the orphaned first-landing files must never be adopted — the
    # multiset check fails on any double-adoption
    assert_converged()


def test_dedup_index_refresh_crash_replays_exactly_once(
    spark, tmp_path, monkeypatch
):
    """refresh_dedup_index twin of the ANN crash-replay pin, on the
    append-only window shape the gate cadence produces (nothing ever
    deletes a duplicated band row there, so a double-append would be
    permanent): crash inside the txn append's manifest PUT, replay,
    and require the index to equal a from-scratch rebuild as a
    MULTISET."""
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.operators import dedup_index as di
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    docs = spark.range(60).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("alpha beta gamma delta epsilon zeta token "),
            F.col("id").cast("string"),
        ).alias("text"),
    )
    snap.append_versioned(wh, "db", "docs", docs, stat_cols=["doc_id"])
    di.build_dedup_index(wh, "db", "docs", "docs_idx")
    meta0 = di._load_dedup_meta(wh, "db", "docs_idx")

    # append-only churn: brand-new ids, zero delete preimages
    snap.append_versioned(
        wh, "db", "docs",
        spark.range(60, 75).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("eta theta iota kappa lambda mu token "),
                F.col("id").cast("string"),
            ).alias("text"),
        ),
    )

    import pytest as _pytest

    orig_put = snap._put_manifest
    app = "dedup-refresh:db.docs_idx"

    def crashing_put(wh_, db_, t_, manifest, *a, **k):
        if t_ == "docs_idx" and app in manifest.get("txns", {}):
            raise RuntimeError("injected crash in append PUT")
        return orig_put(wh_, db_, t_, manifest, *a, **k)

    monkeypatch.setattr(snap, "_put_manifest", crashing_put)
    with _pytest.raises(RuntimeError, match="injected crash"):
        di.refresh_dedup_index(wh, "db", "docs_idx")
    monkeypatch.setattr(snap, "_put_manifest", orig_put)
    assert (
        di._load_dedup_meta(wh, "db", "docs_idx")["src_version"]
        == meta0["src_version"]
    )

    st = di.refresh_dedup_index(wh, "db", "docs_idx")
    assert st["src_version"] > meta0["src_version"]

    di.build_dedup_index(wh, "db", "docs", "docs_idx2")
    want = sorted(
        tuple(r) for r in
        snap.read_snapshot(wh, "db", "docs_idx2").collect()
    )
    got = sorted(
        tuple(r) for r in
        snap.read_snapshot(wh, "db", "docs_idx").collect()
    )
    assert got == want


def test_semdedup_prune_semantics_and_invariance(spark):
    """semdedup_prune's keep rule, pinned on a constructed corpus:
    dropped iff some SAME-CELL smaller id has round(cos,6) >= tau —
    including the non-cascading case (a~b, b~c, a!~c: c is dropped by
    b even though b itself is dropped), plus chunk-boundary and
    partition invariance and the hot-cell guard."""
    import math

    from scratchdb_spark.operators.guards import HotGroupError
    from scratchdb_spark.operators.similarity import semdedup_prune

    def d(phi_deg, i, j, dim=4):
        v = [0.0] * dim
        r = math.radians(phi_deg)
        v[i], v[j] = math.cos(r), math.sin(r)
        return v

    rows = [
        (0, d(0, 0, 2)),     # centroid/cell A = e1, kept
        (1, d(0, 1, 3)),     # centroid/cell B = e2, kept
        (10, d(0, 0, 2)),    # exact dup of id0 -> dropped
        (11, d(0, 1, 3)),    # exact dup of id1 -> dropped
        (12, d(10, 0, 2)),   # cos(10deg)=0.985 vs id0 -> dropped
        (20, d(40, 0, 2)),   # kept: cos vs all smaller-id A < 0.95
        (21, d(58, 0, 2)),   # dropped via id20 (cos18=0.951)
        (22, d(76, 0, 2)),   # dropped via id21 EVEN THOUGH 21 was
                             # itself dropped (cos36 vs 20 = 0.809)
        (13, d(40, 1, 3)),   # kept in B (cos40=0.766 vs both)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semdedup_prune(emb, tau=0.95, n_cells=2).collect()
    kept = {r["vec_id"]: r["kept"] for r in out}
    cells = {r["vec_id"]: r["cid"] for r in out}
    assert cells == {0: 0, 10: 0, 12: 0, 20: 0, 21: 0, 22: 0,
                     1: 1, 11: 1, 13: 1}
    assert kept == {0: True, 1: True, 10: False, 11: False, 12: False,
                    20: True, 21: False, 22: False, 13: True}

    # chunk-boundary + partition invariance: tiny chunks and a
    # different input layout change nothing
    alt = semdedup_prune(
        emb.repartition(7), tau=0.95, n_cells=2, chunk_rows=2
    ).collect()
    assert sorted(map(str, alt)) == sorted(map(str, out))

    # hot-cell guard: cell A has 6 rows
    with pytest.raises(HotGroupError):
        semdedup_prune(emb, tau=0.95, n_cells=2, max_cell_rows=4)


def test_minmax_mv_maintenance_exact(spark, tmp_path):
    """MIN/MAX IVM (maintain_minmax_mv): algebraic maintenance for
    inserts and interior deletes, rescan ONLY for boundary-touching
    deletes — including the duplicate-boundary case a non-rescanning
    rule gets wrong — always equal to the full recompute. The rescan
    set is pinned exactly."""
    import random

    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.operators.incremental import (
        maintain_minmax_mv,
        minmax_delta_plan,
        minmax_mv_of,
    )
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    v1 = snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame(
            [
                (1, "a", 5), (2, "a", 5), (3, "a", 9),
                (4, "b", 1), (5, "b", 8), (6, "b", 4),
                (7, "c", 7),
            ],
            "__row_id long, k string, amount long",
        ),
    )
    mv1 = minmax_mv_of(
        snap.read_snapshot(wh, "db", "t", version=v1), ["k"], "amount"
    )
    snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame(
            [(8, "a", 2), (9, "d", 4)],
            "__row_id long, k string, amount long",
        ),
    )
    snap.delete_where(wh, "db", "t", F.col("amount") == 5)  # dup mins
    snap.delete_where(
        wh, "db", "t", (F.col("k") == "b") & (F.col("amount") == 4)
    )  # interior: no rescan
    snap.delete_where(wh, "db", "t", F.col("k") == "c")  # group drop
    changes = snap.read_changes(wh, "db", "t", from_version=v1)

    # rescan set is EXACTLY the boundary-touched surviving group 'a':
    # b's delete (4) is strictly inside (1, 8); c nets to zero; d is
    # insert-only
    _, rescan = minmax_delta_plan(mv1, changes, ["k"], "amount")
    assert {r["k"] for r in rescan.collect()} == {"a"}

    base = snap.read_snapshot(wh, "db", "t")
    got = maintain_minmax_mv(mv1, changes, base, ["k"], "amount")
    want = minmax_mv_of(base, ["k"], "amount")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )

    # randomized DML histories: maintained == recompute, always
    rnd = random.Random(11)
    wh2 = Warehouse(spark, str(tmp_path / "wh2"))
    rows = [
        (i, rnd.choice("pqrs"), rnd.randrange(20)) for i in range(40)
    ]
    v1 = snap.append_versioned(
        wh2, "db", "t",
        spark.createDataFrame(rows, "__row_id long, k string, amount long"),
    )
    mv = minmax_mv_of(
        snap.read_snapshot(wh2, "db", "t", version=v1), ["k"], "amount"
    )
    nxt = 100
    last = v1
    for step in range(4):
        op = rnd.choice(["append", "delete", "delete_val"])
        if op == "append":
            batch = [
                (nxt + i, rnd.choice("pqrst"), rnd.randrange(20))
                for i in range(5)
            ]
            nxt += 5
            snap.append_versioned(
                wh2, "db", "t",
                spark.createDataFrame(
                    batch, "__row_id long, k string, amount long"
                ),
            )
        elif op == "delete":
            snap.delete_where(
                wh2, "db", "t", F.col("k") == rnd.choice("pqrs")
            )
        else:
            snap.delete_where(
                wh2, "db", "t", F.col("amount") == rnd.randrange(20)
            )
        changes = snap.read_changes(wh2, "db", "t", from_version=last)
        last = snap.versions(wh2, "db", "t")[-1]
        base = snap.read_snapshot(wh2, "db", "t")
        mv = maintain_minmax_mv(mv, changes, base, ["k"], "amount")
        want = minmax_mv_of(base, ["k"], "amount")
        assert sorted(map(tuple, mv.collect())) == sorted(
            map(tuple, want.collect())
        ), f"step {step} ({op})"


def test_distinct_support_mv_exact(spark, tmp_path):
    """Exact COUNT(DISTINCT) IVM via the support multiset: never
    rescans, equals the full recompute across randomized DML
    histories, and handles the duplicate-value traps (deleting one
    of two copies keeps the value; deleting the last copy drops
    it)."""
    import random

    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.operators.incremental import (
        distinct_counts_of,
        distinct_support_of,
        maintain_distinct_support,
    )
    from scratchdb_spark.tables import Warehouse

    rnd = random.Random(23)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    rows = [
        (i, rnd.choice("pqr"), rnd.randrange(6)) for i in range(30)
    ]
    v1 = snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame(
            rows, "__row_id long, k string, amount long"
        ),
    )
    sup = distinct_support_of(
        snap.read_snapshot(wh, "db", "t", version=v1), ["k"], "amount"
    )
    nxt, last = 100, v1
    for step in range(4):
        if rnd.random() < 0.5:
            batch = [
                (nxt + i, rnd.choice("pqrs"), rnd.randrange(6))
                for i in range(4)
            ]
            nxt += 4
            snap.append_versioned(
                wh, "db", "t",
                spark.createDataFrame(
                    batch, "__row_id long, k string, amount long"
                ),
            )
        else:
            snap.delete_where(
                wh, "db", "t", F.col("amount") == rnd.randrange(6)
            )
        changes = snap.read_changes(wh, "db", "t", from_version=last)
        last = snap.versions(wh, "db", "t")[-1]
        sup = maintain_distinct_support(sup, changes, ["k"], "amount")
        base = snap.read_snapshot(wh, "db", "t")
        want = base.groupBy("k").agg(
            F.countDistinct("amount").alias("n_distinct")
        )
        got = distinct_counts_of(sup, ["k"])
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        ), f"step {step}"
        # support multiplicities equal the base's value counts
        want_sup = base.groupBy("k", "amount").count()
        assert sorted(map(tuple, sup.collect())) == sorted(
            map(tuple, want_sup.collect())
        )


def test_topk_sketch_exact_and_bounded(spark, sf_dir):
    """Misra-Gries top-k: exact (err=0) when capacity >= NDV; in the
    approximate regime est_n <= true <= est_n + err with
    err <= N/(capacity+1), bounds hold under adversarial
    repartitioning, and every item with true count > err surfaces."""
    from scratchdb_spark.operators.sketch import topk_sketch
    from scratchdb_spark.tables import table

    li = table(spark, sf_dir, "lineitem")
    exact_rows = li.groupBy("l_suppkey").count().collect()
    exact = {str(r["l_suppkey"]): r["count"] for r in exact_rows}
    stream_len = sum(exact.values())

    # exact regime: capacity dwarfs NDV, no prune ever fires
    wide = {
        r["item"]: (r["est_n"], r["err"])
        for r in topk_sketch(li, "l_suppkey", k=5, capacity=100_000).collect()
    }
    top5 = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert wide == {i: (c, 0) for i, c in top5}

    # approximate regime: capacity far below NDV forces prunes
    capacity = 8
    for parts in (3, 17):
        rows = topk_sketch(
            li.repartition(parts), "l_suppkey", k=50, capacity=capacity
        ).collect()
        assert rows, "summary must not be empty"
        err = rows[0]["err"]
        assert err > 0, "capacity << NDV must prune"
        assert all(r["err"] == err for r in rows), "err is global"
        # MG mass bound: sum of prune decrements <= N/(capacity+1),
        # but summed over P partitions each pruning independently
        assert err <= parts * stream_len // (capacity + 1) + parts
        for r in rows:
            true_n = exact.get(r["item"], 0)
            assert r["est_n"] <= true_n <= r["est_n"] + err, r
        # frequent-items guarantee: true count > err => present
        present = {r["item"] for r in rows}
        guaranteed = {i for i, c in exact.items() if c > err}
        assert guaranteed <= present | {
            i for i, _ in sorted(
                exact.items(), key=lambda kv: (-kv[1], kv[0])
            )[50:]
        }, "an item above the error bound fell out of the summary"


def test_topk_sketch_streaming_prune_bound(spark):
    """A single hot partition with unbounded NDV stays within the 4x
    capacity working-set bound and still surfaces the heavy hitter."""
    from scratchdb_spark.operators.sketch import topk_sketch

    n_noise, hot = 5_000, 800
    df = spark.range(n_noise).select(
        F.concat(F.lit("u"), F.col("id")).alias("k")
    ).union(
        spark.range(hot).select(F.lit("HOT").alias("k"))
    ).coalesce(1)
    rows = topk_sketch(df, "k", k=3, capacity=64).collect()
    assert rows[0]["item"] == "HOT"
    err = rows[0]["err"]
    assert rows[0]["est_n"] <= hot <= rows[0]["est_n"] + err


def test_kmv_state_mv_maintenance(spark, tmp_path):
    """KMV sketch-state MV (AggregatingMergeTree -State/-Merge
    pattern): insert-maintained state is BYTE-EQUAL to a rebuilt one
    across multi-batch histories (KMV merge is lossless wrt the
    final state), the exact regime holds below k, truncation holds
    at k, estimates stay within the theoretical band, delete rows
    raise unless explicitly ignored, and the state is
    partition-invariant."""
    import random

    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.operators.incremental import (
        kmv_estimates_of,
        kmv_state_of,
        maintain_kmv_state,
    )
    from scratchdb_spark.tables import Warehouse

    rnd = random.Random(7)
    k = 16
    wh = Warehouse(spark, str(tmp_path / "wh"))
    rows = [
        (i, rnd.choice("ab"), rnd.randrange(200)) for i in range(60)
    ]
    v1 = snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame(
            rows, "__row_id long, k string, v long"
        ),
    )
    state = kmv_state_of(
        snap.read_snapshot(wh, "db", "t", version=v1), ["k"], "v", k
    )
    nxt, last = 100, v1
    for step in range(3):
        batch = [
            (nxt + i, rnd.choice("abc"), rnd.randrange(200))
            for i in range(25)
        ]
        nxt += 25
        snap.append_versioned(
            wh, "db", "t",
            spark.createDataFrame(
                batch, "__row_id long, k string, v long"
            ),
        )
        changes = snap.read_changes(wh, "db", "t", from_version=last)
        last = snap.versions(wh, "db", "t")[-1]
        state = maintain_kmv_state(state, changes, ["k"], "v", k)
        base = snap.read_snapshot(wh, "db", "t")
        rebuilt = kmv_state_of(base, ["k"], "v", k)
        got = {
            r["k"]: (tuple(r["kmv"]), r["n_mins"])
            for r in state.collect()
        }
        want = {
            r["k"]: (tuple(r["kmv"]), r["n_mins"])
            for r in rebuilt.collect()
        }
        assert got == want, f"step {step}"
    # truncation + estimate band: groups saw ~100 distinct >> k=16
    exact = {
        r["k"]: r["e"]
        for r in base.groupBy("k")
        .agg(F.countDistinct("v").alias("e"))
        .collect()
    }
    for r in kmv_estimates_of(state, k).collect():
        assert len(got[r["k"]][0]) == min(k, exact[r["k"]])
        if exact[r["k"]] >= k:
            # KMV relative error std ~ 1/sqrt(k-2); allow 4 sigma
            assert abs(r["est_distinct"] - exact[r["k"]]) <= (
                4.0 / (k - 2) ** 0.5
            ) * exact[r["k"]]
        else:
            assert r["est_distinct"] == float(exact[r["k"]])
    # exact regime: tiny group below k is the full hash set
    small = kmv_state_of(
        spark.createDataFrame(
            [(1, "z", 1), (2, "z", 2), (3, "z", 2)],
            "__row_id long, k string, v long",
        ),
        ["k"], "v", k,
    ).collect()[0]
    assert small["n_mins"] == 2
    est = kmv_estimates_of(
        kmv_state_of(
            spark.createDataFrame(
                [(1, "z", 1), (2, "z", 2), (3, "z", 2)],
                "__row_id long, k string, v long",
            ),
            ["k"], "v", k,
        ),
        k,
    ).collect()[0]["est_distinct"]
    assert est == 2.0
    # delete rows raise unless explicitly ignored
    snap.delete_where(wh, "db", "t", F.col("__row_id") == 0)
    changes = snap.read_changes(wh, "db", "t", from_version=last)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="insert-only"):
        maintain_kmv_state(state, changes, ["k"], "v", k)
    ignored = maintain_kmv_state(
        state, changes, ["k"], "v", k, allow_delete_rows=True
    )
    assert {
        r["k"]: tuple(r["kmv"]) for r in ignored.collect()
    } == {r: t[0] for r, t in got.items()}
    # partition invariance
    repart = kmv_state_of(base.repartition(13), ["k"], "v", k)
    assert {
        r["k"]: (tuple(r["kmv"]), r["n_mins"])
        for r in repart.collect()
    } == want


def test_triangle_counts_exact(spark):
    """Degree-oriented triangle counting: exact per-node counts vs a
    brute-force itertools oracle on a random graph, K4/star/chain
    shape cases, duplicate+reversed edge robustness, and partition
    invariance."""
    import itertools
    import random

    from scratchdb_spark.operators.graph import triangle_counts

    def run(edges, parts=1):
        df = spark.createDataFrame(edges, "src long, dst long")
        if parts > 1:
            df = df.repartition(parts)
        return {
            r["node"]: r["n_triangles"]
            for r in triangle_counts(df).collect()
        }

    # K4: every node is in C(3,2) = 3 triangles
    k4 = [(a, b) for a, b in itertools.combinations(range(4), 2)]
    assert run(k4) == {0: 3, 1: 3, 2: 3, 3: 3}
    # star (hub + leaves): no triangles at all
    assert run([(0, i) for i in range(1, 8)]) == {}
    # chain: no triangles
    assert run([(i, i + 1) for i in range(6)]) == {}
    # duplicates, reversed duplicates, self-loops are ignored
    assert run([(0, 1), (1, 0), (1, 2), (2, 0), (0, 0), (2, 0)]) == {
        0: 1, 1: 1, 2: 1
    }
    # random graph vs brute force, adversarially repartitioned
    rnd = random.Random(11)
    nodes = list(range(24))
    edges = [
        (u, v)
        for u, v in itertools.combinations(nodes, 2)
        if rnd.random() < 0.25
    ]
    eset = {frozenset(e) for e in edges}
    want: dict = {}
    for a, b, c in itertools.combinations(nodes, 3):
        if (
            frozenset((a, b)) in eset
            and frozenset((b, c)) in eset
            and frozenset((a, c)) in eset
        ):
            for n in (a, b, c):
                want[n] = want.get(n, 0) + 1
    assert run(edges) == want
    assert run(edges, parts=7) == want


def test_pca_fit_project(spark, sf_dir):
    """Distributed PCA: exact-integer accumulation makes the fit
    bit-identical under adversarial repartitioning; the basis is
    orthonormal and matches a local numpy eigensolve; projection is
    centered (column means ~ 0) and reproduces numpy's scores; scale
    guard and empty-corpus guard raise."""
    import numpy as np
    import pytest as _pytest

    from scratchdb_spark.operators.pca import pca_fit, pca_project
    from scratchdb_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    mean, comps, evr = pca_fit(emb, 4)
    m2, c2, e2 = pca_fit(emb.repartition(13), 4)
    assert np.array_equal(mean, m2)
    assert np.array_equal(comps, c2)
    assert np.allclose(comps @ comps.T, np.eye(4), atol=1e-9)
    assert (evr > 0).all() and evr.sum() <= 1.0 + 1e-9

    pdf = emb.orderBy("vec_id").toPandas()
    V = np.array([np.asarray(x, dtype=np.float64) for x in pdf["embedding"]])
    mu = V.mean(axis=0)
    assert np.allclose(mu, mean, atol=2e-6)  # 1e-6 quantization grid
    cov = np.cov(V.T, bias=True)
    ev = np.linalg.eigh(cov)[0][::-1][:4]
    assert np.allclose(ev / np.trace(cov), evr, atol=1e-4)

    proj = pca_project(emb, mean, comps)
    P = (
        proj.orderBy("vec_id")
        .toPandas()[["pc1", "pc2", "pc3", "pc4"]]
        .to_numpy()
    )
    want = (V - mean) @ comps.T
    assert np.abs(P - want).max() <= 1e-5
    assert np.abs(P.mean(axis=0)).max() <= 1e-4  # centered

    # worker-side guard surfaces as a PythonException wrapper
    with _pytest.raises(Exception, match="unit-scale"):
        pca_fit(
            emb.withColumn(
                "embedding",
                F.transform("embedding", lambda x: x * 1000.0),
            ),
            2,
        )
    with _pytest.raises(ValueError, match="empty"):
        pca_fit(emb.filter(F.lit(False)), 2)


def test_topk_weighted_sketch_bounds(spark, sf_dir):
    """Weighted Misra-Gries: exact (err=0) when capacity >= NDV; in
    the approximate regime est_w <= true <= est_w + err under
    adversarial repartitioning, every item whose true weight exceeds
    err surfaces, and negative weights are rejected."""
    import pytest as _pytest

    from scratchdb_spark.operators.sketch import topk_weighted_sketch
    from scratchdb_spark.tables import table

    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity"
    )
    truth = {
        str(r["l_partkey"]): int(r["w"])
        for r in li.groupBy("l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("w"))
        .collect()
    }
    # exact regime
    exact = topk_weighted_sketch(
        li, "l_partkey", "l_quantity", k=10, capacity=100_000
    ).collect()
    want = sorted(
        truth.items(), key=lambda kv: (-kv[1], kv[0])
    )[:10]
    assert [(r["item"], r["est_w"], r["err"]) for r in exact] == [
        (i, w, 0) for i, w in want
    ]
    # approximate regime, adversarially repartitioned
    for parts in (3, 17):
        rows = topk_weighted_sketch(
            li.repartition(parts),
            "l_partkey", "l_quantity", k=50, capacity=64,
        ).collect()
        err = rows[0]["err"]
        assert err > 0
        got = {r["item"]: r["est_w"] for r in rows}
        for item, est in got.items():
            assert est <= truth[item] <= est + err, item
        # every item with true weight > err must surface in the
        # summary (standard MG guarantee); check within returned k
        top_true = max(truth.values())
        assert any(truth[i] == top_true for i in got)
    with _pytest.raises(Exception, match="negative"):
        topk_weighted_sketch(
            li.withColumn("l_quantity", -F.col("l_quantity")),
            "l_partkey", "l_quantity",
        ).collect()


def test_phrase_search_positional(spark):
    """Positional-posting phrase search: exact adjacency semantics
    incl. overlapping occurrences, 3-token phrases, absent phrases,
    single-token degenerate case, and the empty-phrase guard."""
    import pytest as _pytest

    from scratchdb_spark.operators.text import (
        phrase_search,
        positional_postings,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "quick brown quick brown fox"),
            (3, "a a a a"),
            (4, "brown quick"),
            (5, "Quick   BROWN fox!"),
        ],
        "doc_id long, text string",
    )
    p = positional_postings(docs)

    def hits(phrase):
        return {
            r["doc_id"]: r["n_hits"]
            for r in phrase_search(p, phrase).collect()
        }

    assert hits(["quick", "brown"]) == {1: 1, 2: 2, 5: 1}
    # doc 5's "fox!" keeps punctuation (normalize_text collapses
    # whitespace + lowercases only), so the 3-token phrase misses it
    assert hits(["quick", "brown", "fox"]) == {1: 1, 2: 1}
    assert hits(["a", "a"]) == {3: 3}  # overlapping occurrences
    assert hits(["a", "a", "a", "a"]) == {3: 1}
    assert hits(["fox", "jumps"]) == {1: 1}
    assert hits(["jumps", "fox"]) == {}
    assert hits(["brown"]) == {1: 1, 2: 2, 4: 1, 5: 1}
    with _pytest.raises(ValueError, match="phrase"):
        phrase_search(p, [])


def test_mmr_rerank_diversifies(spark, sf_dir):
    """MMR re-rank: rank 1 is the plain-relevance top-1, the selected
    set's internal redundancy (mean pairwise max-sim) does not exceed
    the un-reranked top-k's, lam=1.0 degenerates to pure relevance
    order, and the output is partition-invariant."""
    import numpy as np

    from scratchdb_spark.operators.similarity import (
        brute_force_topk,
        mmr_rerank,
    )
    from scratchdb_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    got = mmr_rerank(emb, queries, k=8, pool=25, lam=0.7).collect()
    plain = brute_force_topk(emb, queries, k=8).collect()
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }

    def unit(v):
        return v / np.linalg.norm(v)

    def redundancy(ids):
        V = np.array([unit(vecs[i]) for i in ids])
        S = V @ V.T
        np.fill_diagonal(S, -np.inf)
        return S.max(axis=1).mean()

    by_q_mmr: dict = {}
    for r in got:
        by_q_mmr.setdefault(r["query_id"], []).append(
            (r["rank"], r["neighbor_id"])
        )
    by_q_plain: dict = {}
    for r in plain:
        by_q_plain.setdefault(r["query_id"], []).append(
            (r["rank"], r["neighbor_id"])
        )
    assert set(by_q_mmr) == set(by_q_plain)
    for q in by_q_mmr:
        mmr_ids = [i for _, i in sorted(by_q_mmr[q])]
        plain_ids = [i for _, i in sorted(by_q_plain[q])]
        assert len(mmr_ids) == 8
        assert mmr_ids[0] == plain_ids[0]  # rank 1 = top relevance
        assert redundancy(mmr_ids) <= redundancy(plain_ids) + 1e-9

    # lam=1.0 -> pure relevance order == brute-force ranking
    pure = mmr_rerank(emb, queries, k=8, pool=25, lam=1.0).collect()
    by_q_pure: dict = {}
    for r in pure:
        by_q_pure.setdefault(r["query_id"], []).append(
            (r["rank"], r["neighbor_id"])
        )
    for q in by_q_pure:
        assert [i for _, i in sorted(by_q_pure[q])] == [
            i for _, i in sorted(by_q_plain[q])
        ]

    # partition invariance
    got2 = mmr_rerank(
        emb.repartition(11), queries, k=8, pool=25, lam=0.7
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, got2))


def test_cooccurrence_edges_guarded(spark):
    """Co-occurrence pair expansion: exact undirected pairs per
    shared cell, and the hot-cell guard fails loudly when one cell
    exceeds max_cell_nodes (the rehearsal-measured 9,400x-shuffle
    hazard) while max_cell_nodes=None opts out."""
    import itertools

    import pytest as _pytest

    from scratchdb_spark.operators.graph import cooccurrence_edges
    from scratchdb_spark.operators.guards import HotGroupError

    occ = spark.createDataFrame(
        [(u, "c1") for u in (1, 2, 3)]
        + [(u, "c2") for u in (3, 4)]
        + [(5, "c3")]
        + [(1, "c1")],  # duplicate occurrence must not duplicate edges
        "node long, cell string",
    )
    got = {
        (r["u"], r["v"])
        for r in cooccurrence_edges(occ, "node", ["cell"]).collect()
    }
    assert got == {(1, 2), (1, 3), (2, 3), (3, 4)}

    hot = spark.createDataFrame(
        [(u, "viral") for u in range(50)], "node long, cell string"
    )
    with _pytest.raises(HotGroupError):
        cooccurrence_edges(hot, "node", ["cell"], max_cell_nodes=10)
    n = cooccurrence_edges(
        hot, "node", ["cell"], max_cell_nodes=None
    ).count()
    assert n == len(list(itertools.combinations(range(50), 2)))


def test_txn_append_exactly_once(spark, tmp_path):
    """Idempotent appends (txn=(app, version) — Delta txnAppId/
    txnVersion semantics): replays no-op at zero writes, watermarks
    are per-app, the crash window (files landed, manifest PUT never
    happened) leaves debris that listing-based commits never adopt so
    the replay commits exactly once, the CDC feed sees single
    inserts, and watermarks survive unrelated commits, COW deletes,
    and maintenance."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.snapshots import ConcurrentTxnError
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))

    def df(rows):
        return spark.createDataFrame(rows, "__row_id long, v long")

    v1 = snap.append_versioned(wh, "db", "t", df([(1, 10)]), txn=("a", 1))
    assert snap.append_versioned(
        wh, "db", "t", df([(1, 10)]), txn=("a", 1)
    ) == v1  # replay no-ops, returns current version
    assert snap.read_snapshot(wh, "db", "t").count() == 1
    # per-app watermarks: app b at version 1 still applies
    snap.append_versioned(wh, "db", "t", df([(2, 20)]), txn=("b", 1))
    assert snap.read_snapshot(wh, "db", "t").count() == 2
    # stale version (<= watermark) no-ops even after other commits
    snap.append_versioned(wh, "db", "t", df([(3, 30)]))  # plain
    n0 = snap.read_snapshot(wh, "db", "t").count()
    snap.append_versioned(wh, "db", "t", df([(99, 0)]), txn=("a", 1))
    assert snap.read_snapshot(wh, "db", "t").count() == n0
    # crash window: txn files landed but never committed -> the next
    # plain commit must NOT adopt them; the replay applies them once
    wh.append_aligned("db", "t", df([(7, 70)]), file_prefix="txnappend-")
    snap.append_versioned(wh, "db", "t", df([(4, 40)]))
    got = sorted(
        r["__row_id"] for r in snap.read_snapshot(wh, "db", "t").collect()
    )
    assert 7 not in got
    pre = snap.versions(wh, "db", "t")[-1]
    snap.append_versioned(wh, "db", "t", df([(7, 70)]), txn=("a", 2))
    got = sorted(
        r["__row_id"] for r in snap.read_snapshot(wh, "db", "t").collect()
    )
    assert got.count(7) == 1
    ch = snap.read_changes(wh, "db", "t", from_version=pre)
    assert sorted(
        (r["__row_id"], r["_change_type"]) for r in ch.collect()
    ) == [(7, "insert")]
    # watermark survives COW delete + maintenance (history truncation)
    snap.delete_where(wh, "db", "t", F.col("__row_id") == 3)
    snap.maintain_table(wh, "db", "t")
    n1 = snap.read_snapshot(wh, "db", "t").count()
    assert snap.append_versioned(
        wh, "db", "t", df([(7, 70)]), txn=("a", 2)
    ) == snap.versions(wh, "db", "t")[-1]
    assert snap.read_snapshot(wh, "db", "t").count() == n1
    # the sequential-per-app contract's loud failure: _txn_commit
    # called directly with an already-applied version (the state a
    # lost CAS against a concurrent same-app writer produces)
    with _pytest.raises(ConcurrentTxnError):
        snap._txn_commit(wh, "db", "t", [], ("a", 2))


def test_asof_join_tolerance(spark):
    """tolerance= bounds match staleness (merge_asof semantics):
    within-tolerance matches carry, stale ones NULL, exact-boundary
    matches count as within, forward direction mirrors, and
    tolerance=None is the unbounded behavior."""
    from datetime import datetime

    from scratchdb_spark.operators.asof import asof_join

    def ts(m):
        return datetime(2024, 1, 1, 0, m)

    left = spark.createDataFrame(
        [(1, ts(10)), (1, ts(30)), (2, ts(5))],
        "k long, t timestamp",
    )
    right = spark.createDataFrame(
        [(1, ts(9), 90.0), (1, ts(20), 200.0), (2, ts(0), 5.0)],
        "k long, t timestamp, v double",
    )

    def run(**kw):
        return {
            (r["k"], r["t"].minute): r["asof_v"]
            for r in asof_join(
                left, right, on=["k"], left_time="t",
                right_time="t", value_cols=["v"], **kw,
            ).collect()
        }

    assert run() == {(1, 10): 90.0, (1, 30): 200.0, (2, 5): 5.0}
    # 5-minute staleness bound: (1, 30)'s nearest click is 10 min old
    assert run(tolerance="5 MINUTES") == {
        (1, 10): 90.0, (1, 30): None, (2, 5): 5.0
    }
    # boundary is inclusive: exactly 5 minutes old still matches
    assert run(tolerance="5 MINUTES")[(2, 5)] == 5.0
    # forward mirrors: next right at-or-after, bounded ahead
    fwd = run(direction="forward", tolerance="5 MINUTES")
    assert fwd == {(1, 10): None, (1, 30): None, (2, 5): None}
    fwd2 = run(direction="forward", tolerance="15 MINUTES")
    assert fwd2 == {(1, 10): 200.0, (1, 30): None, (2, 5): None}


def test_txn_commit_cas_retry(spark, tmp_path, monkeypatch):
    """A txn commit that loses the manifest CAS to a concurrent plain
    commit retries against the fresh snapshot and commits the SAME
    landed files exactly once — carrying the winner's files and
    advancing the watermark in the retried PUT."""
    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))

    def df(rows):
        return spark.createDataFrame(rows, "__row_id long, v long")

    snap.append_versioned(wh, "db", "t", df([(1, 10)]))

    real_put = snap._put_manifest
    state = {"failed": False}

    def racing_put(wh_, database, table, manifest, overwrite=False):
        if not state["failed"] and manifest.get("txns"):
            state["failed"] = True
            # a concurrent plain append wins THIS version number
            snap.append_versioned(wh_, database, table, df([(2, 20)]))
            raise snap.CommitConflictError("lost the race (injected)")
        return real_put(wh_, database, table, manifest, overwrite)

    monkeypatch.setattr(snap, "_put_manifest", racing_put)
    v = snap.append_versioned(
        wh, "db", "t", df([(3, 30)]), txn=("a", 1)
    )
    monkeypatch.setattr(snap, "_put_manifest", real_put)
    assert state["failed"]  # the injected conflict actually fired
    got = sorted(
        r["__row_id"] for r in snap.read_snapshot(wh, "db", "t").collect()
    )
    assert got == [1, 2, 3]  # winner's row carried, txn row exactly once
    assert v == snap.versions(wh, "db", "t")[-1]
    # watermark landed with the retried PUT
    assert snap.append_versioned(
        wh, "db", "t", df([(3, 30)]), txn=("a", 1)
    ) == v
    assert snap.read_snapshot(wh, "db", "t").count() == 3


def test_epoch_shuffle_deterministic(spark, sf_dir):
    """Epoch shuffle: a bijective rank over the corpus, identical
    under adversarial repartitioning, different (and dissimilar)
    across epochs, reproducible run-to-run."""
    from scratchdb_spark.operators.split import epoch_shuffle
    from scratchdb_spark.tables import table

    docs = table(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()

    def perm(epoch, df=docs):
        return {
            r["doc_id"]: r["shuffle_rank"]
            for r in epoch_shuffle(df, epoch).collect()
        }

    p0 = perm(0)
    assert sorted(p0.values()) == list(range(1, n + 1))  # bijection
    assert perm(0) == p0  # run-to-run
    assert perm(0, docs.repartition(13)) == p0  # layout-invariant
    p1 = perm(1)
    assert p1 != p0
    same = sum(1 for d in p0 if p0[d] == p1[d])
    assert same < n * 0.05  # epochs give genuinely different orders


def test_epoch_shuffle_plan_no_single_partition(spark, sf_dir):
    """The r8 form ranked through a PARTITIONLESS window — one
    single-partition sort task at 100 TB (the r8 verdict's only
    plan-shape weak). The two-pass prefix-bucket construction must
    (a) produce the bit-identical global rank and (b) plan with no
    SinglePartition exchange anywhere: the only window is partitioned
    by the key-prefix bucket."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from scratchdb_spark.operators.split import epoch_shuffle
    from scratchdb_spark.tables import table

    docs = table(spark, sf_dir, "documents").select("doc_id")
    out = epoch_shuffle(docs, epoch=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert "Window" in plan  # the partitioned rank window is there

    # bit-identical to the global-rank reference formulation
    key = F.md5(F.concat(F.lit("3:"), F.col("doc_id").cast("string")))
    ref = docs.withColumn("shuffle_key", key).withColumn(
        "shuffle_rank",
        F.row_number()
        .over(Window.orderBy("shuffle_key", "doc_id"))
        .cast("long"),
    )
    got = {r["doc_id"]: r["shuffle_rank"] for r in out.collect()}
    want = {r["doc_id"]: r["shuffle_rank"] for r in ref.collect()}
    assert got == want


def test_asof_tolerance_nearest_row_null_value(spark):
    """Time and values must come from the SAME right row (r9 advice):
    when the nearest right row's value is NULL, the match is that
    row's NULL — not an older row's non-null value sneaking past a
    tolerance judged on the newer row's time (pandas merge_asof
    matches the nearest row regardless of value nullness)."""
    from datetime import datetime

    from scratchdb_spark.operators.asof import asof_join

    def ts(m):
        return datetime(2024, 1, 1, 0, m)

    left = spark.createDataFrame([(1, ts(30))], "k long, t timestamp")
    right = spark.createDataFrame(
        [(1, ts(0), 7.0), (1, ts(29), None)],
        "k long, t timestamp, v double",
    )

    def run(**kw):
        return asof_join(
            left, right, on=["k"], left_time="t", right_time="t",
            value_cols=["v"], **kw,
        ).collect()[0]["asof_v"]

    # unbounded: nearest row (t=29) matched, its value IS NULL
    assert run() is None
    # 5-minute tolerance: t=29 is within, t=0 is stale — the stale
    # row's 7.0 must NOT leak through the gate
    assert run(tolerance="5 MINUTES") is None
    # non-null nearest still carries normally
    right2 = spark.createDataFrame(
        [(1, ts(0), 7.0), (1, ts(29), 9.0)],
        "k long, t timestamp, v double",
    )
    got = asof_join(
        left, right2, on=["k"], left_time="t", right_time="t",
        value_cols=["v"], tolerance="5 MINUTES",
    ).collect()[0]["asof_v"]
    assert got == 9.0


def test_rollback_preserves_txn_watermarks(spark, tmp_path):
    """rollback_table must carry the per-app txn watermarks (r9
    advice, medium): after a rollback, a checkpoint-replayed stream
    batch that was already applied must still no-op — dropping
    'txns' from the rollback manifest would re-apply it and break
    exactly-once."""
    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))

    def df(rows):
        return spark.createDataFrame(rows, "__row_id long, v long")

    v1 = snap.append_versioned(wh, "db", "t", df([(1, 10)]), txn=("app", 1))
    snap.append_versioned(wh, "db", "t", df([(2, 20)]))
    rb = snap.rollback_table(wh, "db", "t", v1)
    # the rolled-back manifest still knows batch 1 was applied
    assert snap.append_versioned(
        wh, "db", "t", df([(1, 10)]), txn=("app", 1)
    ) == rb  # replay no-ops at the rollback version
    rows = sorted(
        (r["__row_id"], r["v"])
        for r in snap.read_snapshot(wh, "db", "t").collect()
    )
    assert rows == [(1, 10)]  # batch 1 exactly once, batch 2 rolled off


def test_ivfpq_kmeans_quantizer_beats_smallest_id_on_clustered(spark):
    """quantizer='kmeans' (r9): on a clustered corpus whose SMALLEST
    IDS all live in one cluster (sequential ids — the common case for
    ingest-ordered corpora), smallest-id centroids collapse into that
    cluster and probing misses everyone else; Lloyd iterations spread
    the centroids toward the data's actual mass, so kmeans recall at
    equal (nprobe, overfetch) must be >= smallest-id (and strictly
    above by a wide margin here). Determinism: two runs and an
    adversarial repartitioning produce identical rows (the
    golden-fixture-oracle prerequisite — kmeans_fit's exact
    integer-sum contract carries through)."""
    from scratchdb_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_topk,
    )

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(8, 32))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for ci in range(8):
        P = centers[ci] + 0.12 * rng.normal(size=(40, 32))
        for j in range(40):
            # SEQUENTIAL ids: cluster ci owns ids [40*ci, 40*ci+40) —
            # the 8 smallest ids are ALL in cluster 0
            rows.append((ci * 40 + j, [float(x) for x in P[j]]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") % 40 == 37)  # one query per cluster
    # overfetch=8: with kmeans cells the probe COVERAGE is 1.0 (vs
    # 0.75 smallest-id, measured), so the exact re-rank budget — not
    # the quantizer — caps recall; 8x clears the ADC noise here
    kw = dict(k=5, overfetch=8, n_centroids=8, nprobe=2, m=4, codes=16)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, q, k=5).collect()
    }
    sid = {
        (r["query_id"], r["neighbor_id"])
        for r in ivfpq_topk(emb, q, **kw).collect()
    }
    km_rows = ivfpq_topk(emb, q, quantizer="kmeans", **kw).collect()
    km = {(r["query_id"], r["neighbor_id"]) for r in km_rows}
    recall_sid = len(sid & exact) / len(exact)
    recall_km = len(km & exact) / len(exact)
    assert recall_km >= recall_sid, (
        f"kmeans recall {recall_km} below smallest-id {recall_sid} on "
        "a clustered corpus with sequential ids — kmeans' home regime"
    )
    assert recall_km >= 0.9  # absolute floor (measured 0.975)
    # determinism + partition invariance
    again = ivfpq_topk(emb.repartition(7), q, quantizer="kmeans", **kw)
    assert sorted(map(str, again.collect())) == sorted(map(str, km_rows))


def test_ann_index_kmeans_quantizer_matches_in_memory(spark, tmp_path):
    """build_ann_index(quantizer='kmeans'): the persisted index must
    return EXACTLY the in-memory ivfpq_topk(quantizer='kmeans') rows
    at equal settings — the sidecar freezes the kmeans centroids, so
    index and pipeline can never disagree — and the sidecar records
    the quantizer choice for auditability."""
    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.operators import ann_index as ai
    from scratchdb_spark.operators.similarity import ivfpq_topk
    from scratchdb_spark.tables import Warehouse

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(8, 32))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for ci in range(8):
        P = centers[ci] + 0.12 * rng.normal(size=(40, 32))
        for j in range(40):
            rows.append((ci * 40 + j, [float(x) for x in P[j]]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") % 40 == 37)

    wh = Warehouse(spark, str(tmp_path / "wh"))
    snap.append_versioned(wh, "db", "emb", emb)
    ai.build_ann_index(
        wh, "db", "emb", "emb_idx",
        n_centroids=8, quantizer="kmeans",
    )
    assert ai._load_meta(wh, "db", "emb_idx")["quantizer"] == "kmeans"
    mem = ivfpq_topk(
        emb, q, k=5, overfetch=8, n_centroids=8, nprobe=2,
        quantizer="kmeans",
    ).collect()
    idx = ai.query_ann_index(
        wh, "db", "emb_idx", q, k=5, nprobe=2, overfetch=8
    ).collect()
    assert sorted(map(str, idx)) == sorted(map(str, mem))


def test_minmax_mv_mass_delete_guard(spark, tmp_path):
    """max_rescan_groups (r9): a MASS delete turns the rescan set
    into ALL groups — past the crossover the maintain path costs
    MORE than a plain recompute (measured: 2.4 s maintain vs 0.81 s
    recompute at 10M rows, ivm_rehearsal_r8 at e9bc22d). The guard
    must (a) fall back to one full recompute when the probe crosses the
    threshold, (b) stay on the maintain path below it, and (c)
    return the exact recompute answer either way."""
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.operators.incremental import (
        maintain_minmax_mv,
        minmax_delta_plan,
        minmax_mv_of,
    )
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    rows = [
        (i, f"g{i % 10}", (i * 7) % 100) for i in range(200)
    ]
    v1 = snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame(rows, "__row_id long, k string, amount long"),
    )
    mv1 = minmax_mv_of(
        snap.read_snapshot(wh, "db", "t", version=v1), ["k"], "amount"
    )
    # mass delete: every group loses its max (amount >= 93 hits the
    # boundary row of each of the 10 groups)
    snap.delete_where(wh, "db", "t", F.col("amount") >= 80)
    changes = snap.read_changes(wh, "db", "t", from_version=v1)
    _, rescan = minmax_delta_plan(mv1, changes, ["k"], "amount")
    n_rescan = rescan.count()
    assert n_rescan == 10  # ALL groups — the guarded regime

    base = snap.read_snapshot(wh, "db", "t")
    want = sorted(
        map(tuple, minmax_mv_of(base, ["k"], "amount").collect())
    )
    # below the threshold -> maintain path; above -> recompute path;
    # both exact
    for cap in (3, 100):
        got = maintain_minmax_mv(
            mv1, changes, base, ["k"], "amount",
            max_rescan_groups=cap,
        )
        assert sorted(map(tuple, got.collect())) == want, cap
    # the guard must not consume base_for_keys' pruning path when it
    # trips (base_for_keys is only for the bounded-rescan regime)
    calls = []

    def pruned(ks):
        calls.append(ks)
        return base

    got = maintain_minmax_mv(
        mv1, changes, base, ["k"], "amount",
        base_for_keys=pruned, max_rescan_groups=3,
    )
    assert sorted(map(tuple, got.collect())) == want
    assert calls == []  # recompute fallback never collected keys


def test_window_funnel_modes_hand_computed(spark):
    """windowFunnel mode parity (operators/funnel.py, r9): the
    documented ClickHouse single-pass semantics pinned on a micro
    fixture where every mode diverges for a known reason —
    strict_order stops at a non-matching event (A->B->D->C gives 2),
    strict_deduplication interrupts on a stage repeat and reports
    THAT stage (view,click,click,purchase gives 2), strict_increase
    rejects equal-timestamp chains (view and click at the same
    instant give 1), and the 24h window bounds every chain from its
    anchor."""
    from datetime import datetime, timedelta

    from scratchdb_spark.operators.funnel import window_funnel_levels

    t0 = datetime(2024, 1, 1)

    def ts(minutes=0, hours=0):
        return t0 + timedelta(minutes=minutes, hours=hours)

    rows = [
        # u1: view, click, ERROR, purchase  (A->B->D->C)
        (1, ts(0), "view"), (1, ts(10), "click"),
        (1, ts(15), "error"), (1, ts(20), "purchase"),
        # u2: view, click, click-REPEAT, purchase
        (2, ts(0), "view"), (2, ts(10), "click"),
        (2, ts(15), "click"), (2, ts(20), "purchase"),
        # u3: view and click at the SAME instant, then purchase
        (3, ts(0), "view"), (3, ts(0), "click"),
        (3, ts(10), "purchase"),
        # u4: click 25h after the only view (outside the window)
        (4, ts(0), "view"), (4, ts(0, 25), "click"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    conds = [
        F.col("event_type") == "view",
        F.col("event_type") == "click",
        F.col("event_type") == "purchase",
    ]
    W = 24 * 3600 * 1_000_000
    want = {
        (): {1: 3, 2: 3, 3: 3, 4: 1},
        ("strict_order",): {1: 2, 2: 3, 3: 3, 4: 1},
        ("strict_deduplication",): {1: 3, 2: 2, 3: 3, 4: 1},
        ("strict_increase",): {1: 3, 2: 3, 3: 1, 4: 1},
    }
    for modes, exp in want.items():
        got = {
            r["user_id"]: r["level"]
            for r in window_funnel_levels(
                ev, "user_id", "ts", conds, W, modes=modes
            ).collect()
        }
        assert got == exp, (modes, got, exp)
    # partition invariance (oracle prerequisite)
    got = {
        r["user_id"]: r["level"]
        for r in window_funnel_levels(
            ev.repartition(7), "user_id", "ts", conds, W,
            modes=("strict_deduplication",),
        ).collect()
    }
    assert got == want[("strict_deduplication",)]


def test_mixture_sample_contract(spark, sf_dir):
    """mixture_sample (r9): the binding-domain budget rule, exact
    integer thresholds, determinism under repartitioning, and loud
    errors for infeasible recipes."""
    import pytest as _pytest

    from scratchdb_spark.operators.curation import mixture_sample
    from scratchdb_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    shares = {"src0": 0.35, "src1": 0.3, "src2": 0.15, "src3": 0.2}
    kept = mixture_sample(docs, shares)
    rows = kept.collect()
    per = {}
    for r in rows:
        d = per.setdefault(
            r["domain"], {"docs": 0, "tok": 0, "tgt": r["target_tokens"]}
        )
        d["docs"] += 1
        d["tok"] += r["n_tok"]
    assert set(per) == set(shares)  # every domain sampled
    # kept tokens never exceed the domain target by more than the
    # sampling granularity allows... they can run OVER or UNDER by
    # hash luck, but the TARGETS must realize the exact share ratios
    # of one common budget
    tgts = {d: per[d]["tgt"] for d in per}
    budget = sum(tgts.values()) / sum(shares.values())
    for d, s in shares.items():
        assert abs(tgts[d] - s * budget) <= 1  # integer-floor slack
    # deterministic under adversarial repartitioning
    again = {
        (r["domain"], r["doc_id"])
        for r in mixture_sample(docs.repartition(13), shares).collect()
    }
    assert again == {(r["domain"], r["doc_id"]) for r in rows}
    # infeasible recipes fail loudly
    with _pytest.raises(ValueError, match="absent"):
        mixture_sample(docs, {"src0": 0.5, "no_such_source": 0.5})
    with _pytest.raises(ValueError, match="sum"):
        mixture_sample(docs, {"src0": 0.7, "src1": 0.7})


def test_window_funnel_matches_python_reference_all_mode_combos(spark):
    """The funnel fold vs an independent pure-Python implementation
    of the documented algorithm, over 200 random users with tie-heavy
    timestamps, for ALL 8 mode combinations (the micro fixture pins
    each mode's signature divergence; this pins the full state
    machine — including mode interactions — across arbitrary
    streams)."""
    import random
    from datetime import datetime, timedelta

    from scratchdb_spark.operators.funnel import window_funnel_levels

    N = 3
    W_UNITS = 8
    UNIT_US = 60_000_000  # 1 minute
    rng = random.Random(99)
    rows = []
    per_user: dict = {}
    t0 = datetime(2024, 1, 1)
    for u in range(200):
        evs = []
        for _ in range(rng.randrange(3, 16)):
            t = rng.randrange(0, 21)  # ties ARE likely
            e = rng.choices([0, 1, 2, 3], weights=[2, 3, 3, 2])[0]
            evs.append((t, e))
            rows.append(
                (u, t0 + timedelta(minutes=t),
                 {0: "error", 1: "view", 2: "click", 3: "purchase"}[e])
            )
        per_user[u] = sorted(evs)
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    conds = [
        F.col("event_type") == "view",
        F.col("event_type") == "click",
        F.col("event_type") == "purchase",
    ]

    def ref(evs, strict_order, strict_dedup, strict_increase):
        ts = [None] * (N + 1)
        fe = False
        for t, e in evs:
            if e == 0:
                if strict_order and fe:
                    break
                continue
            if e == 1:
                ts[1] = (t, t)
                fe = True
            elif strict_dedup and ts[e] is not None:
                return e
            elif ts[e - 1] is not None:
                first, last = ts[e - 1]
                ok = t <= first + W_UNITS
                if strict_increase:
                    ok = ok and last < t
                if ok:
                    ts[e] = (first, t)
                    if e == N:
                        return N
        for k in range(N, 0, -1):
            if ts[k] is not None:
                return k
        return 0

    all_modes = ("strict_order", "strict_deduplication", "strict_increase")
    for mask in range(8):
        modes = tuple(m for i, m in enumerate(all_modes) if mask >> i & 1)
        got = {
            r["user_id"]: r["level"]
            for r in window_funnel_levels(
                ev, "user_id", "ts", conds, W_UNITS * UNIT_US,
                modes=modes,
            ).collect()
        }
        so, sd, si = (m in modes for m in all_modes)
        for u, evs in per_user.items():
            kept = evs if so else [x for x in evs if x[1] > 0]
            if not kept:
                assert u not in got, (modes, u)
                continue
            want = ref(evs, so, sd, si)
            assert got.get(u) == want, (modes, u, evs, got.get(u), want)


def test_window_funnel_four_stages(spark):
    """The fold generator is generic in N (state fields f1..fN are
    emitted programmatically); guard the N=4 path the 3-stage parity
    queries never execute: full chain, window-bounded chain, and a
    strict_deduplication interrupt at stage 4."""
    from datetime import datetime, timedelta

    from scratchdb_spark.operators.funnel import window_funnel_levels

    t0 = datetime(2024, 1, 1)

    def ts(m):
        return t0 + timedelta(minutes=m)

    rows = [
        # u1: s -> v -> c -> p inside the window: level 4
        (1, ts(0), "signup"), (1, ts(5), "view"),
        (1, ts(10), "click"), (1, ts(15), "purchase"),
        # u2: purchase lands outside the 30-min window of the anchor
        (2, ts(0), "signup"), (2, ts(5), "view"),
        (2, ts(10), "click"), (2, ts(45), "purchase"),
        # u3: second purchase while level 4 already reached -> the
        # early-return freeze keeps 4 (not a dedup interrupt)
        (3, ts(0), "signup"), (3, ts(1), "view"), (3, ts(2), "click"),
        (3, ts(3), "purchase"), (3, ts(4), "purchase"),
        # u4: dup CLICK before purchase under strict_dedup -> 3
        (4, ts(0), "signup"), (4, ts(1), "view"), (4, ts(2), "click"),
        (4, ts(3), "click"), (4, ts(4), "purchase"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    conds = [
        F.col("event_type") == "signup",
        F.col("event_type") == "view",
        F.col("event_type") == "click",
        F.col("event_type") == "purchase",
    ]
    W = 30 * 60 * 1_000_000
    got = {
        r["user_id"]: r["level"]
        for r in window_funnel_levels(
            ev, "user_id", "ts", conds, W
        ).collect()
    }
    assert got == {1: 4, 2: 3, 3: 4, 4: 4}
    got_dd = {
        r["user_id"]: r["level"]
        for r in window_funnel_levels(
            ev, "user_id", "ts", conds, W,
            modes=("strict_deduplication",),
        ).collect()
    }
    assert got_dd == {1: 4, 2: 3, 3: 4, 4: 3}


def test_pii_scrub_semantics(spark):
    """pii_scrub (r9): every category redacts to its typed token,
    counts are per-category and measured before that category's
    replacement, rule order protects specific shapes (a 16-digit
    card is ONE card, never two phones), and clean text passes
    through untouched."""
    from scratchdb_spark.operators.text import pii_scrub

    rows = [
        (1, "mail a.b+c@corp.example.org and x@y.io twice"),
        (2, "ssn 123-45-6789 card 4111 1111 1111 1111"),
        (3, "call 415-555-1234 from 10.0.0.7 ok"),
        (4, "clean text with numbers 12345 and words"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert got[1]["n_email"] == 2
    assert got[1]["redacted"] == "mail <EMAIL> and <EMAIL> twice"
    assert (got[2]["n_ssn"], got[2]["n_card"], got[2]["n_phone"]) == (
        1, 1, 0,  # the card is ONE card, not two phones
    )
    assert got[2]["redacted"] == "ssn <SSN> card <CARD>"
    assert (got[3]["n_phone"], got[3]["n_ipv4"]) == (1, 1)
    assert got[3]["redacted"] == "call <PHONE> from <IP> ok"
    assert got[4]["pii_total"] == 0
    assert got[4]["redacted"] == rows[3][1]


def test_dedup_index_build_refresh_query(spark, tmp_path, sf_dir):
    """Persistent minhash-LSH dedup index (operators/dedup_index.py,
    r9): probe batches find their corpus near-dups through the band
    table; CDC refresh (appends + COW deletes + text UPDATES) leaves
    the index BYTE-EQUAL to a fresh rebuild (band rows are a pure
    function of text); corpus-resident probes never self-pair."""
    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.operators import dedup_index as di
    from scratchdb_spark.tables import Warehouse, table

    wh = Warehouse(spark, str(tmp_path / "wh"))
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    snap.append_versioned(wh, "db", "docs", docs)
    di.build_dedup_index(wh, "db", "docs", "docs_lsh")

    # probe: exact copies of docs 0..4 under new ids + reversed-text
    # negatives
    probe = docs.filter(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    ).unionByName(
        docs.filter((F.col("doc_id") >= 5) & (F.col("doc_id") < 8))
        .select(
            (F.col("doc_id") + 2000).alias("doc_id"),
            F.array_join(
                F.reverse(F.split(F.col("text"), " ")), " "
            ).alias("text"),
        )
    )
    pairs = di.query_dedup_index(wh, "db", "docs_lsh", probe).collect()
    got = {(r["probe_id"], r["corpus_id"]) for r in pairs}
    # each copy matches its source doc (jaccard 1.0) — plus any other
    # corpus doc whose text is a near-dup of it, which the exact
    # verify also reports
    for i in range(5):
        assert (1000 + i, i) in got
    assert all(
        r["jaccard_sim"] == 1.0
        for r in pairs
        if r["corpus_id"] == r["probe_id"] - 1000
    )

    # churn: append 3 new docs, DELETE 2, UPDATE 1's text via
    # delete+append under the same id
    snap.append_versioned(
        wh, "db", "docs",
        probe.filter(F.col("doc_id") >= 2000),
    )
    snap.delete_where(wh, "db", "docs", F.col("doc_id").isin(3, 4))
    snap.delete_where(wh, "db", "docs", F.col("doc_id") == 2)
    snap.append_versioned(
        wh, "db", "docs",
        spark.createDataFrame(
            [(2, "totally new text for doc two rewritten")],
            "doc_id long, text string",
        ),
    )
    stats = di.refresh_dedup_index(wh, "db", "docs_lsh")
    assert stats["n_deleted"] > 0 and stats["n_inserted"] > 0

    di.build_dedup_index(wh, "db", "docs", "docs_lsh_rebuild")
    refreshed = {
        tuple(r)
        for r in snap.read_snapshot(wh, "db", "docs_lsh").collect()
    }
    rebuilt = {
        tuple(r)
        for r in snap.read_snapshot(
            wh, "db", "docs_lsh_rebuild"
        ).collect()
    }
    assert refreshed == rebuilt  # pure-function-of-text invariant

    # post-refresh: a copy of a REVERSED doc now finds its corpus twin
    probe2 = probe.filter(F.col("doc_id") == 2005).select(
        (F.col("doc_id") + 7000).alias("doc_id"), "text"
    )
    got2 = {
        (r["probe_id"], r["corpus_id"])
        for r in di.query_dedup_index(
            wh, "db", "docs_lsh", probe2
        ).collect()
    }
    assert (9005, 2005) in got2
    # deleted docs are gone from the index: a copy of old doc 3 must
    # not match doc 3 anymore
    probe3 = docs.filter(F.col("doc_id") == 3).select(
        F.lit(8003).alias("doc_id"), "text"
    )
    got3 = {
        r["corpus_id"]
        for r in di.query_dedup_index(
            wh, "db", "docs_lsh", probe3
        ).collect()
    }
    assert 3 not in got3


def test_epoch_shuffle_wide_prefix_broadcast_offsets(spark, sf_dir):
    """prefix_chars=3 (4096 buckets) takes the broadcast-offsets path
    (a 4k-entry literal map would bloat the Catalyst plan): ranks must
    stay bit-identical to the default 2-char form, and the plan must
    still contain no SinglePartition exchange."""
    from scratchdb_spark.operators.split import epoch_shuffle
    from scratchdb_spark.tables import table

    docs = table(spark, sf_dir, "documents").select("doc_id")
    base = {
        r["doc_id"]: r["shuffle_rank"]
        for r in epoch_shuffle(docs, epoch=3).collect()
    }
    wide_df = epoch_shuffle(docs, epoch=3, prefix_chars=3)
    plan = wide_df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    wide = {r["doc_id"]: r["shuffle_rank"] for r in wide_df.collect()}
    assert wide == base


def test_dedup_index_threshold_gates_unrounded_jaccard(
    spark, tmp_path
):
    """r10 ADVICE fix: the threshold must gate the UNROUNDED jaccard
    (matching the exact oracle); 4dp rounding happens only in the
    output projection. Constructed pair: 30 distinct words with one
    mid-doc substitution -> 25/31 shared shingles, true j =
    0.80645... which ROUNDS UP to 0.8065 — at threshold=0.8065 the
    pair must be excluded (round-before-filter kept it). Also pins
    the r10 cache discipline: probe calls leave no persisted blocks
    behind."""
    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.operators import dedup_index as di
    from scratchdb_spark.operators.dedup import hashed_shingles, jaccard
    from scratchdb_spark.tables import Warehouse

    words = [f"w{i:02d}" for i in range(30)]
    corpus_text = " ".join(words)
    probe_words = list(words)
    probe_words[15] = "zzz"
    probe_text = " ".join(probe_words)

    j = (
        spark.createDataFrame(
            [(corpus_text, probe_text)], "a string, b string"
        )
        .select(
            jaccard(
                hashed_shingles(F.col("a"), 3),
                hashed_shingles(F.col("b"), 3),
            ).alias("j")
        )
        .collect()[0]["j"]
    )
    assert abs(j - 25 / 31) < 1e-12
    assert round(j, 4) > j  # the rounding really does cross upward

    wh = Warehouse(spark, str(tmp_path / "wh"))
    snap.append_versioned(
        wh, "db", "docs",
        spark.createDataFrame(
            [(1, corpus_text)], "doc_id long, text string"
        ),
    )
    di.build_dedup_index(wh, "db", "docs", "docs_lsh")
    probe = spark.createDataFrame(
        [(100, probe_text)], "doc_id long, text string"
    )

    n_persisted_before = len(
        spark.sparkContext._jsc.sc().getRDDStorageInfo()
    )
    # sanity: the pair IS a band candidate (reported at a lower
    # threshold, with the rounded display value)
    low = di.query_dedup_index(
        wh, "db", "docs_lsh", probe, threshold=0.8
    ).collect()
    assert [(r["probe_id"], r["corpus_id"], r["jaccard_sim"])
            for r in low] == [(100, 1, 0.8065)]
    # at the rounded value as threshold the unrounded j fails the gate
    hi = di.query_dedup_index(
        wh, "db", "docs_lsh", probe, threshold=0.8065
    ).collect()
    assert hi == []
    n_persisted_after = len(
        spark.sparkContext._jsc.sc().getRDDStorageInfo()
    )
    assert n_persisted_after <= n_persisted_before


def test_kmeans_maxmin_pad_fills_k_on_tiny_corpus(spark):
    """r10 ADVICE fix: maxmin init on a corpus with fewer than k/2
    vectors must still pad to exactly k centroids (the single-vstack
    pad under-filled, leaving all-zero centroid rows downstream in
    _coarse_centroids' zeros matrix — cosine 0 to everything)."""
    import numpy as np

    from scratchdb_spark.operators.similarity import (
        _coarse_centroids,
        kmeans_fit,
    )

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0, 0.0]),
            (3, [0.0, 0.0, 1.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    k = 8  # 3 < k/2: the old pad produced 6 rows, not 8
    rows = kmeans_fit(
        corpus, k=k, iters=1, init="maxmin"
    ).collect()
    by_cid: dict = {}
    for r in rows:
        by_cid.setdefault(r["centroid_id"], {})[r["dim"]] = r["c_val"]
    assert set(by_cid) == set(range(k))
    cent_ids, C = _coarse_centroids(
        corpus, k, "vec_id", "embedding", quantizer="kmeans",
        kmeans_iters=1,
    )
    assert C.shape[0] == k
    norms = np.linalg.norm(C, axis=1)
    assert (norms > 0.5).all(), norms  # no all-zero centroid rows


def test_balance_classes_salted_two_phase_output_equality(spark):
    """r10 (the r9 verdict's only weak): balance_classes' salted
    two-phase top-cap must return exactly the rows of the per-label
    single-window rank — including on SKEWED data where one label
    dominates (the case the salting exists for) and on labels smaller
    than the cap (pass whole)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from scratchdb_spark.operators.split import balance_classes

    # 10_000 'en' rows (dominant), 300 'fr', 12 'is' (below cap)
    df = (
        spark.range(10_312)
        .select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") < 10_000, "en")
            .when(F.col("id") < 10_300, "fr")
            .otherwise("is")
            .alias("lang"),
        )
        .repartition(16)
    )
    cap = 60
    got = balance_classes(df, "lang", "doc_id", cap=cap).collect()
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    want = (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    by_lang: dict = {}
    for r in got:
        by_lang[r["lang"]] = by_lang.get(r["lang"], 0) + 1
    assert by_lang == {"en": cap, "fr": cap, "is": 12}
    # layout-invariance: same rows under a different partitioning
    got2 = balance_classes(
        df.repartition(3), "lang", "doc_id", cap=cap
    ).collect()
    assert sorted(map(tuple, got2)) == sorted(map(tuple, want))


def test_balance_classes_plan_windows_partition_on_label_salt(
    spark, sf_dir
):
    """Plan shape for the r10 fix: phase 1's rank window partitions on
    (label, salt) — never label alone over the raw data — so a
    dominant class spreads over 16^salt_chars concurrent sorts; the
    phase-2 window (label only) ranks a cap x 16^salt_chars-bounded
    survivor set. No SinglePartition exchange anywhere."""
    import re

    from scratchdb_spark.operators.split import balance_classes
    from scratchdb_spark.tables import table

    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    out = balance_classes(docs, "lang", "doc_id", cap=60)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    # two window operators: the first (innermost) partitions on
    # (lang, __salt); hashpartitioning keys prove the exchanges
    assert "__salt" in plan
    assert len(re.findall(r"\bWindow\b", plan)) >= 2
    salted = re.findall(r"hashpartitioning\(lang[^)]*__salt", plan)
    assert salted, plan


def test_ivfpq_adaptive_overfetch_recall_monotone_in_nprobe(spark):
    """r10 (verdict item #5): with adaptive_overfetch=True the ADC
    stage keeps k*overfetch candidates per (query, probed cell), so
    the candidate set is NESTED in nprobe (prefix-nested probe lists,
    per-cell independence) and exact-refined recall is monotone
    non-decreasing — the fixed global budget measurably is not
    (impostor crowding, ann_quality_r9.json at e9bc22d). Also pins:
    at nprobe=1 the two modes coincide (one cell: per-cell == global
    budget)."""
    import numpy as np

    from scratchdb_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_topk,
    )

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(8, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for ci in range(8):
        P = centers[ci] + 0.15 * rng.normal(size=(60, 16))
        for j in range(60):
            rows.append((ci * 60 + j, [float(x) for x in P[j]]))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    q = emb.filter(F.col("vec_id") % 60 == 7)
    k = 5
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, q, k=k).collect()
    }

    def run(nprobe, adaptive):
        return {
            (r["query_id"], r["neighbor_id"])
            for r in ivfpq_topk(
                emb, q, k=k, overfetch=2, n_centroids=8,
                nprobe=nprobe, quantizer="kmeans", kmeans_iters=2,
                adaptive_overfetch=adaptive,
            ).collect()
        }

    recalls = []
    for nprobe in (1, 2, 4, 8):
        got = run(nprobe, True)
        recalls.append(len(got & exact) / len(exact))
    assert all(
        b >= a - 1e-9 for a, b in zip(recalls, recalls[1:])
    ), recalls
    assert recalls[-1] > recalls[0]  # probing more genuinely helps
    assert run(1, True) == run(1, False)  # modes coincide at nprobe=1


def test_ann_index_adaptive_overfetch_matches_in_memory(
    spark, tmp_path
):
    """query_ann_index(adaptive_overfetch=True) must return EXACTLY
    the in-memory ivfpq_topk(adaptive_overfetch=True) rows at equal
    settings (frozen quantizers; the per-cell budget changes the ADC
    candidate stage identically on both paths), and its recall at
    nprobe=4 must be >= the fixed-budget index query's (the r10
    monotonicity property, exercised through the persisted path)."""
    import numpy as np

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.operators import ann_index as ai
    from scratchdb_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_topk,
    )
    from scratchdb_spark.tables import Warehouse

    rng = np.random.default_rng(13)
    V = rng.normal(size=(320, 16))
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(320)],
        "vec_id long, embedding array<double>",
    )
    q = emb.filter(F.col("vec_id") % 40 == 7)

    wh = Warehouse(spark, str(tmp_path / "wh"))
    snap.append_versioned(wh, "db", "emb", emb)
    ai.build_ann_index(
        wh, "db", "emb", "emb_idx", n_centroids=8, quantizer="kmeans"
    )
    mem = ivfpq_topk(
        emb, q, k=5, overfetch=2, n_centroids=8, nprobe=4,
        quantizer="kmeans", adaptive_overfetch=True,
    ).collect()
    idx = ai.query_ann_index(
        wh, "db", "emb_idx", q, k=5, nprobe=4, overfetch=2,
        adaptive_overfetch=True,
    ).collect()
    assert sorted(map(str, idx)) == sorted(map(str, mem))

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, q, k=5).collect()
    }
    fixed = {
        (r["query_id"], r["neighbor_id"])
        for r in ai.query_ann_index(
            wh, "db", "emb_idx", q, k=5, nprobe=4, overfetch=2
        ).collect()
    }
    adaptive = {(r["query_id"], r["neighbor_id"]) for r in idx}
    assert len(adaptive & exact) >= len(fixed & exact)


def test_append_deduped_gates_and_is_idempotent(spark, tmp_path, sf_dir):
    """append_deduped (r10): within-batch drop-if-dups-any-smaller,
    corpus near-dups dropped, survivors appended + index refreshed —
    and re-submitting the SAME batch under fresh ids appends NOTHING
    (every row now near-dups the corpus the first call created): the
    gate makes ingest idempotent under at-least-once delivery."""
    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.operators import dedup_index as di
    from scratchdb_spark.tables import Warehouse, table

    wh = Warehouse(spark, str(tmp_path / "wh"))
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < 100)
    snap.append_versioned(wh, "db", "docs", corpus)
    di.build_dedup_index(wh, "db", "docs", "docs_lsh")

    def mk_batch(shift):
        return docs.filter(F.col("doc_id") < 3).select(
            (F.col("doc_id") + shift).alias("doc_id"), "text"
        ).unionByName(
            spark.createDataFrame(
                [
                    (shift + 100, "qq fresh synthetic words one two "
                                  "three four five six"),
                    (shift + 101, "qq fresh synthetic words one two "
                                  "three four five six"),
                ],
                "doc_id long, text string",
            )
        )

    s1 = di.append_deduped(wh, "db", "docs_lsh", mk_batch(500_000))
    assert s1["n_batch"] == 5
    assert s1["n_dropped_vs_corpus"] == 3  # the corpus copies
    assert s1["n_dropped_in_batch"] == 1  # larger id of the twin pair
    assert s1["n_appended"] == 1  # the smaller twin survives
    assert snap.read_snapshot(wh, "db", "docs").count() == 101

    # same content, new ids: everything now dups the corpus
    s2 = di.append_deduped(wh, "db", "docs_lsh", mk_batch(600_000))
    assert s2["n_appended"] == 0
    assert s2["n_dropped_in_batch"] == 1
    assert s2["n_dropped_vs_corpus"] == 4
    assert snap.read_snapshot(wh, "db", "docs").count() == 101
    # refreshed index still equals a rebuild
    di.build_dedup_index(wh, "db", "docs", "docs_lsh_rb")
    a = snap.read_snapshot(wh, "db", "docs_lsh")
    b = snap.read_snapshot(wh, "db", "docs_lsh_rb")
    assert a.exceptAll(b).limit(1).count() == 0
    assert b.exceptAll(a).limit(1).count() == 0


# ---------------------------------------------------------------------------
# round 10 (continuation): exact-substring REMOVAL stage + maxIntersections
# ---------------------------------------------------------------------------


def test_span_dedup_rewrite_semantics(spark):
    """Chunk-level ExactSubstr removal: the corpus-FIRST occurrence of
    each 8-token chunk survives (in (doc_id, pos) order), every later
    occurrence — in another doc OR later in the same doc — is cut,
    fully-duplicated docs collapse to '', and reassembly preserves
    position order. Layout-invariant (first-occurrence order is a
    total order on (doc_id, pos), not partitioning)."""
    from scratchdb_spark.operators.dedup import span_dedup_rewrite

    c0 = "a b c d e f g h"          # chunk shared by d0/d1/d2
    c1 = "i j k l m n o p"          # chunk shared by d0/d1
    c2 = "x y z w"                  # short tail chunk, unique to d2
    c4 = "q r s t u v q2 r2"        # chunk unique to d4, repeated in-doc
    rows = [
        (0, f"{c0} {c1}"),          # both chunks first here
        (1, f"{c0} {c1}"),          # exact dup of d0 -> ''
        (2, f"{c0} {c2}"),          # head dup, tail novel
        (3, "p q"),                 # single short chunk, unique
        (4, f"{c4} {c4}"),          # within-doc repeat: pos 1 cut
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def run(df):
        return {
            r["doc_id"]: (
                r["clean_text"], r["n_chunks"], r["kept_chunks"]
            )
            for r in span_dedup_rewrite(df).collect()
        }

    out = run(docs)
    assert out[0] == (f"{c0} {c1}", 2, 2)
    assert out[1] == ("", 2, 0)
    assert out[2] == (c2, 2, 1)
    assert out[3] == ("p q", 1, 1)
    assert out[4] == (c4, 2, 1)
    # same-corpus reruns and layouts agree (total order, not luck)
    assert run(docs.repartition(7)) == out


def test_max_concurrent_intervals_matches_bruteforce(spark):
    """Closed-interval sweep == brute force on a deterministic mix of
    overlapping / nested / zero-length / tied intervals, across three
    bucket widths: one-bucket (offsets trivial), many-bucket
    (cross-boundary offsets), and >1024 buckets (the broadcast-join
    offsets branch)."""
    from scratchdb_spark.operators.resample import (
        max_concurrent_intervals,
    )

    # deterministic congruential mix; guarantees ties + zero-lengths
    ivals = []
    x = 7
    for i in range(200):
        x = (x * 1103515245 + 12345) % 2**31
        s = x % 2000
        ln = (x >> 8) % 50
        if i % 7 == 0:
            ln = 0                      # zero-length sessions
        if i % 11 == 0:
            s = 500                     # pile ties onto one instant
        ivals.append((s, s + ln))
    df = spark.createDataFrame(ivals, "start_us long, end_us long")

    # brute force: closed active count peaks at a start instant
    starts = sorted({s for s, _ in ivals})
    active = {
        t: sum(1 for s, e in ivals if s <= t <= e) for t in starts
    }
    peak = max(active.values())
    peak_at = min(t for t in starts if active[t] == peak)

    for bucket_us in (10**12, 100, 1):
        row = max_concurrent_intervals(
            df, bucket_us=bucket_us
        ).collect()[0]
        assert (row["peak_concurrency"], row["peak_at_us"]) == (
            peak, peak_at,
        ), f"bucket_us={bucket_us}"


def test_max_concurrent_intervals_window_is_partitioned(spark):
    """The sweep's running sum must ride a PARTITIONED window (time
    buckets), never a partitionless one — the single-task pattern
    class the epoch_shuffle/balance_classes fixes killed. The only
    SinglePartition exchange allowed in the plan is the final
    one-row min(struct) aggregate (a few bytes per partition)."""
    from scratchdb_spark.operators.resample import (
        max_concurrent_intervals,
    )

    df = spark.range(0, 5000).select(
        (F.col("id") * 37 % 100000).alias("start_us"),
        (F.col("id") * 37 % 100000 + 500).alias("end_us"),
    )
    out = max_concurrent_intervals(df, bucket_us=1000)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(__bkt" in plan  # the sweep window's key
    # the Window operator itself must not sort a single partition:
    # every Sort above a SinglePartition exchange would name it here
    for block in plan.split("Window")[1:]:
        head = block.split("\n")[0]
        assert "__bkt" in head


def test_interval_length_sum_matches_bruteforce(spark):
    """Union length == brute force (point-count over the integer
    grid) on overlapping / nested / zero-length / tied intervals,
    across one-bucket, many-bucket (cross-boundary segments), and
    >1024-bucket (broadcast offsets branch) widths."""
    from scratchdb_spark.operators.resample import interval_length_sum

    ivals = []
    x = 3
    for i in range(150):
        x = (x * 1103515245 + 12345) % 2**31
        s = x % 3000
        ln = (x >> 7) % 40
        if i % 6 == 0:
            ln = 0
        ivals.append((s, s + ln))

    covered_pts = set()
    for s, e in ivals:
        covered_pts.update(range(s, e))  # [s, e) unit segments
    covered = len(covered_pts)
    raw = sum(e - s for s, e in ivals)

    df = spark.createDataFrame(ivals, "start_us long, end_us long")
    for bucket_us in (10**12, 128, 1):
        row = interval_length_sum(df, bucket_us=bucket_us).collect()[0]
        assert row["covered_us"] == covered, f"bucket_us={bucket_us}"
        assert row["sum_lengths_us"] == raw
        assert row["n_intervals"] == len(ivals)


# ---------------------------------------------------------------------------
# merge-on-read deletion vectors (Delta DVs / Iceberg position deletes)
# ---------------------------------------------------------------------------


def _dv_table(spark, tmp_path, n=100, name="t"):
    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    # an explicit slice count fixes the file layout (32 files) on any
    # host; the default follows the core count
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(i, f"u{i}", i % 5) for i in range(n)], 32
        ),
        "__row_id long, name string, grp long",
    )
    snap.append_versioned(wh, "db", name, df)
    return wh, snap


def test_delete_where_mor_masks_rows_not_files(spark, tmp_path):
    """A MoR delete removes rows from the CURRENT view without
    touching any data file: same file list before and after, time
    travel still sees the rows, the CDC feed carries the exact
    deletes at the MoR commit, and a later append does not resurrect
    them."""
    from pyspark.sql import functions as F

    wh, snap = _dv_table(spark, tmp_path)
    m1 = snap._manifest(wh, "db", "t", 1)
    files_before = set(snap._manifest_files(wh, "db", "t", m1))

    v, n = snap.delete_where_mor(wh, "db", "t", "grp = 3")
    assert n == 20
    m2 = snap._manifest(wh, "db", "t", v)
    assert set(snap._manifest_files(wh, "db", "t", m2)) == files_before
    assert m2.get("dv_rows") == 20 and m2.get("dvs")

    cur = snap.read_snapshot(wh, "db", "t")
    assert cur.count() == 80
    assert cur.filter("grp = 3").count() == 0
    assert snap.read_snapshot(wh, "db", "t", version=1).count() == 100

    ch = snap.read_changes(wh, "db", "t", 1, v)
    got = {
        r["_change_type"]: r["n"]
        for r in ch.groupBy("_change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == {"delete": 20}

    more = spark.createDataFrame(
        [(1000 + i, f"n{i}", 3) for i in range(10)],
        "__row_id long, name string, grp long",
    )
    snap.append_versioned(wh, "db", "t", more)
    after = snap.read_snapshot(wh, "db", "t")
    assert after.count() == 90                       # 80 + 10 new
    assert after.filter("grp = 3").count() == 10     # only the new rows


def test_cow_dml_after_mor_no_resurrection_no_double_cdc(
    spark, tmp_path
):
    """COW delete / merge racing standing tombstones: the rewrite
    must not copy tombstoned rows into fresh files, and the CDC
    preimages must not re-emit their deletes."""
    from pyspark.sql import functions as F

    wh, snap = _dv_table(spark, tmp_path)
    v_mor, _ = snap.delete_where_mor(wh, "db", "t", "grp = 3")
    # COW delete over a predicate that OVERLAPS the tombstoned rows:
    # grp in (1, 3) — the grp=3 rows are already MoR-deleted
    v_cow, n = snap.delete_where(wh, "db", "t", "grp IN (1, 3)")
    assert n == 20  # only the grp=1 rows still existed
    ch = snap.read_changes(wh, "db", "t", v_mor, v_cow)
    dels = ch.filter("_change_type = 'delete'")
    assert dels.count() == 20
    assert dels.filter("grp = 3").count() == 0
    assert snap.read_snapshot(wh, "db", "t").count() == 60

    # merge over a tombstoned key must INSERT (the row is invisible),
    # not update a ghost
    upd = spark.createDataFrame(
        [(3, "ghost", 9)], "__row_id long, name string, grp long"
    )  # row_id 3 had grp=3 -> tombstoned
    snap.merge_upsert(wh, "db", "t", upd, "__row_id")
    cur = snap.read_snapshot(wh, "db", "t")
    assert cur.filter("__row_id = 3").count() == 1
    assert cur.filter("name = 'ghost'").count() == 1
    assert cur.count() == 61


def test_apply_deletion_vectors_physical_rewrite(spark, tmp_path):
    """apply_deletion_vectors physically rewrites only the files the
    vectors name, clears the manifest vectors, preserves visible
    content exactly, and emits zero CDC rows; a second apply no-ops."""
    wh, snap = _dv_table(spark, tmp_path)
    snap.delete_where_mor(wh, "db", "t", "grp = 3")
    before = snap.read_snapshot(wh, "db", "t")
    assert before.count() == 80

    v, nf = snap.apply_deletion_vectors(wh, "db", "t")
    assert nf >= 1
    m = snap._manifest(wh, "db", "t", v)
    assert not m.get("dvs") and not m.get("dv_rows")
    after = snap.read_snapshot(wh, "db", "t")
    assert after.count() == 80
    assert (
        after.exceptAll(before).count()
        + before.exceptAll(after).count()
        == 0
    )
    ch = snap.read_changes(wh, "db", "t", v - 1, v)
    assert ch.count() == 0  # content-preserving
    # idempotent: second apply no-ops at the same version
    v2, nf2 = snap.apply_deletion_vectors(wh, "db", "t")
    assert (v2, nf2) == (v, 0)


def test_pack_after_mor_drops_rows_apply_clears_metadata_only(
    spark, tmp_path
):
    """The rewrite-must-mask invariant: compaction reads through the
    mask, so tombstoned rows are PHYSICALLY dropped at the move and
    their (file, row) entries go dead — content is preserved at the
    visible level, the CDC feed emits nothing, and the subsequent
    apply_deletion_vectors is a metadata-only clear (no file
    rewritten)."""
    wh, snap = _dv_table(spark, tmp_path)
    v_mor, _ = snap.delete_where_mor(wh, "db", "t", "grp = 3")
    # auto_fold_dvs off: this test pins the CARRIED-vector pack path
    # (rewrite-must-mask); the auto-fold path has its own test
    res = snap.compact_small_files(
        wh, "db", "t", small_file_bytes=1024 * 1024 * 1024,
        auto_fold_dvs=False,
    )
    assert res["files_rewritten"] >= 1
    v_pack = res["version"]
    cur = snap.read_snapshot(wh, "db", "t")
    assert cur.count() == 80
    assert cur.filter("grp = 3").count() == 0
    # the packed files physically lack the tombstoned rows
    assert snap.read_changes(wh, "db", "t", v_mor, v_pack).count() == 0

    v, nf = snap.apply_deletion_vectors(wh, "db", "t")
    assert nf == 0  # every entry dead: metadata-only clear
    m = snap._manifest(wh, "db", "t", v)
    assert not m.get("dvs")
    assert snap.read_snapshot(wh, "db", "t").count() == 80


def test_rollback_restores_mor_deleted_rows(spark, tmp_path):
    """Rolling back over a MoR delete restores the target version's
    (smaller) tombstone set; the CDC diff emits the restored rows as
    inserts."""
    from pyspark.sql import functions as F

    wh, snap = _dv_table(spark, tmp_path)
    v_m1, _ = snap.delete_where_mor(wh, "db", "t", "grp = 3")
    v_m2, _ = snap.delete_where_mor(wh, "db", "t", "grp = 1")
    assert snap.read_snapshot(wh, "db", "t").count() == 60
    v_rb = snap.rollback_table(wh, "db", "t", v_m1)
    cur = snap.read_snapshot(wh, "db", "t")
    assert cur.count() == 80
    assert cur.filter("grp = 1").count() == 20
    assert cur.filter("grp = 3").count() == 0  # v_m1's tombstones kept
    ch = snap.read_changes(wh, "db", "t", v_m2, v_rb)
    got = {
        r["_change_type"]: r["n"]
        for r in ch.groupBy("_change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == {"insert": 20}


def test_maintain_table_applies_dvs_and_reclaims_dv_dirs(
    spark, tmp_path
):
    """maintain_table's full rewrite reads through the mask, commits
    a manifest with no vectors, and its reclaim pass deletes the dead
    dv dirs (grace=0 for the quiesced test table)."""
    from scratchdb_spark import fs as hfs

    wh, snap = _dv_table(spark, tmp_path)
    snap.delete_where_mor(wh, "db", "t", "grp = 3")
    res = snap.maintain_table(wh, "db", "t", reclaim_grace_ms=0)
    m = snap._manifest(wh, "db", "t", res["version"])
    assert not m.get("dvs")
    assert snap.read_snapshot(wh, "db", "t").count() == 80
    dv_root = f"{snap._snap_dir(wh, 'db', 't')}/{snap._DV_DIR}"
    assert hfs.list_names(spark, dv_root, dirs_only=True) == []
    audit = snap.orphan_files(wh, "db", "t")
    assert audit["dv_dirs_orphaned"] == []


def test_read_changes_across_metadata_only_clear_no_phantoms(
    spark, tmp_path
):
    """r11 advisory fix: a vector whose file retired in an EARLIER
    span (pack dropped its rows through the mask; the entry went
    dead) followed by a LATER metadata-only clear must emit ZERO
    change rows — dv-delta reads are restricted to files live in
    BOTH manifests. Before the fix, read_changes(v_pack, v_clear)
    read the RETIRED file and emitted the MoR-deleted rows as
    phantom inserts (resurrecting taken-down rows downstream), and
    failed outright once maintenance reclaimed the file."""
    from pyspark.sql import functions as F

    wh, snap = _dv_table(spark, tmp_path)
    v_mor, _ = snap.delete_where_mor(wh, "db", "t", "grp = 3")
    res = snap.compact_small_files(
        wh, "db", "t", small_file_bytes=1024 * 1024 * 1024,
        auto_fold_dvs=False,
    )
    v_pack = res["version"]
    assert snap._manifest(wh, "db", "t", v_pack).get("dvs")
    v_clear, nf = snap.apply_deletion_vectors(wh, "db", "t")
    assert nf == 0 and v_clear > v_pack  # metadata-only clear
    assert (
        snap.read_changes(wh, "db", "t", v_pack, v_clear).count() == 0
    )
    # the full span still nets to exactly the original deletes
    ch = snap.read_changes(wh, "db", "t", 1, v_clear)
    got = {
        r["_change_type"]: r["n"]
        for r in ch.groupBy("_change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == {"delete": 20}


def test_read_snapshot_masks_only_dv_named_files(spark, tmp_path):
    """File-scoped MoR masking (r11): the manifest's dv_files names
    every affected file, so the read plans (dv-named files -> masked)
    ∪ (rest -> raw) — unaffected files skip the per-row basename
    projection and the anti-join probe entirely. Rows identical to
    the mask-everything read; exactly one anti-join in the plan and a
    Union whose other branch is a bare scan."""
    wh, snap = _dv_table(spark, tmp_path, n=400)
    v, n = snap.delete_where_mor(wh, "db", "t", "__row_id = 7")
    assert n == 1
    m = snap._manifest(wh, "db", "t", v)
    assert m.get("dv_files") and len(m["dv_files"]) == 1
    assert len(snap._manifest_files(wh, "db", "t", m)) > 1
    cur = snap.read_snapshot(wh, "db", "t")
    assert cur.count() == 399
    assert cur.filter("__row_id = 7").count() == 0
    plan = cur._jdf.queryExecution().executedPlan().toString()
    assert "Union" in plan
    assert plan.count("LeftAnti") == 1
    # appends carry dv_files; the split read survives them
    more = spark.createDataFrame(
        [(9000, "x", 0)], "__row_id long, name string, grp long"
    )
    snap.append_versioned(wh, "db", "t", more)
    assert snap.read_snapshot(wh, "db", "t").count() == 400


def test_compact_auto_folds_vectors_when_due(spark, tmp_path):
    """dv_fold_due as code (r10 verdict item): below the signal the
    steady-state compactor leaves the vectors standing (MoR's whole
    point); past it (vectors naming >= 10% of live files) compaction
    folds them first — manifest cleared, visible content unchanged,
    CDC silent across both commits."""
    wh, snap = _dv_table(spark, tmp_path)
    v1, _ = snap.delete_where_mor(wh, "db", "t", "__row_id = 7")
    m1 = snap._manifest(wh, "db", "t", v1)
    assert not snap.dv_fold_due(m1)
    res = snap.compact_small_files(
        wh, "db", "t", small_file_bytes=1024 * 1024 * 1024
    )
    m = snap._manifest(wh, "db", "t", res["version"])
    assert m.get("dvs")  # below signal: vectors ride along
    assert snap.read_snapshot(wh, "db", "t").count() == 99

    # now a delete spread across most files trips the file fraction
    v2, n2 = snap.delete_where_mor(wh, "db", "t", "grp = 3")
    assert n2 == 20
    m2 = snap._manifest(wh, "db", "t", v2)
    assert snap.dv_fold_due(m2)
    res2 = snap.compact_small_files(
        wh, "db", "t", small_file_bytes=1024 * 1024 * 1024
    )
    m3 = snap._manifest(wh, "db", "t", res2["version"])
    assert not m3.get("dvs") and not m3.get("dv_rows")
    cur = snap.read_snapshot(wh, "db", "t")
    assert cur.count() == 79
    assert cur.filter("grp = 3").count() == 0
    assert snap.read_changes(wh, "db", "t", v2, res2["version"]).count() == 0


def test_stats_agg_exact_under_standing_deletion_vectors(
    spark, tmp_path
):
    """r10 advisory (medium): metadata-only stats under standing
    vectors would count tombstoned rows and report min/max from
    deleted rows. Files the vectors name now aggregate through the
    mask (bounded by affected files); allow_scan=False refuses
    loudly instead of answering wrong; after a fold the zero-IO path
    is exact again."""
    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(i, f"u{i}", i % 5) for i in range(100)],
        "__row_id long, name string, grp long",
    )
    snap.append_versioned(
        wh, "db", "s", df, stat_cols=["grp"],
        bloom_cols=["name:ndv"],
    )
    snap.delete_where_mor(wh, "db", "s", "grp = 4")
    row = snap.stats_agg(wh, "db", "s", ["grp"]).collect()[0]
    assert row["row_count"] == 80
    assert row["max_grp"] == 3  # raw metadata would say 4
    assert row["min_grp"] == 0
    assert row["null_count_grp"] == 0
    with pytest.raises(ValueError, match="deletion vectors"):
        snap.stats_agg(wh, "db", "s", ["grp"], allow_scan=False)
    ndv = snap.stats_agg_ndv(wh, "db", "s", ["name"]).collect()[0]
    assert 76 <= ndv["approx_ndv_name"] <= 84  # 80 live names
    with pytest.raises(ValueError, match="deletion vectors"):
        snap.stats_agg_ndv(wh, "db", "s", ["name"], allow_scan=False)

    snap.apply_deletion_vectors(wh, "db", "s")
    row2 = snap.stats_agg(
        wh, "db", "s", ["grp"], allow_scan=False
    ).collect()[0]
    assert row2["row_count"] == 80 and row2["max_grp"] == 3


def test_delete_where_mor_requires_row_id(spark, tmp_path):
    """Every ingest-created table carries the __row_id stamp; the
    guard protects ADOPTED external parquet (commit_snapshot over a
    directory written by another engine), where MoR tombstones have
    no stable row identity to bind to."""
    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame([(1, "a")], "id long, name string")
    df.write.parquet(f"{tmp_path}/wh/db/bare")  # foreign files, no stamp
    snap.commit_snapshot(wh, "db", "bare")
    with pytest.raises(ValueError, match="__row_id"):
        snap.delete_where_mor(wh, "db", "bare", "id = 1")


def test_lttb_downsample_properties_and_spike(spark):
    """LTTB contract: first/last always kept, output size is
    min(n, n_out), points are a time-ordered subset of the input —
    and a large spike in an otherwise-flat series MUST survive
    downsampling (the property LTTB exists to guarantee; uniform
    sampling would drop it). Layout-invariant."""
    import datetime

    from scratchdb_spark.operators.resample import lttb_downsample

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    for uid in (1, 2):
        for i in range(200):
            val = 10.0
            if i == 137:
                val = 500.0  # the spike
            rows.append(
                (uid, i + uid * 1000, t0 + datetime.timedelta(minutes=i), val)
            )
    # plus a short series kept whole
    for i in range(5):
        rows.append((3, 3000 + i, t0 + datetime.timedelta(minutes=i), 1.0))
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double"
    )

    def run(d):
        out = {}
        for r in lttb_downsample(
            d, n_out=20, num_buckets=7
        ).collect():
            out.setdefault(r["user_id"], []).append(
                (r["pt_idx"], r["us"], r["value_e2"])
            )
        return {u: sorted(v) for u, v in out.items()}

    got = run(df)
    for uid in (1, 2):
        pts = got[uid]
        assert len(pts) == 20
        us = [p[1] for p in pts]
        assert us == sorted(us)
        # first and last survive
        assert pts[0][1] == int(t0.timestamp() * 1e6)
        assert pts[-1][1] == int(
            (t0 + datetime.timedelta(minutes=199)).timestamp() * 1e6
        )
        # the spike survives
        assert any(p[2] == 50000 for p in pts), pts
    assert len(got[3]) == 5  # short series kept whole
    assert run(df.repartition(13)) == got


def test_bucketed_running_sum_exact_and_partitioned(spark):
    """operators/prefix_sum.py (r11, the r10 verdict's weak item):
    the inclusive running sum matches a driver-computed prefix fold
    exactly on a HIGH-CARDINALITY order column (every value distinct
    — the continuous-metric shape that made the old partitionless
    windows data-sized), the grand total from pass 1 matches, and
    every Window operator in the plan partitions on the range bucket
    (no SinglePartition sort anywhere in the frame's lineage)."""
    from scratchdb_spark.operators.prefix_sum import (
        bucketed_running_sum,
    )

    n = 50_000
    # non-contiguous, non-uniform distinct values (quadratic spacing
    # spreads mass unevenly across range buckets)
    df = spark.range(n).select(
        (F.col("id") * F.col("id") % 999_983).alias("x"),
        (F.col("id") % 97 + 1).alias("v"),
    ).groupBy("x").agg(F.sum("v").alias("v"))
    out, total = bucketed_running_sum(df, "x", "v", "run")
    rows = sorted(
        (r["x"], r["v"], r["run"]) for r in out.collect()
    )
    cum = 0
    for x, v, run in rows:
        cum += v
        assert run == cum, (x, run, cum)
    assert total == cum
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    for block in plan.split("Window")[1:]:
        assert "__psb" in block.split("\n")[0]
    # layout-invariance: identical sums under another partitioning
    out2, total2 = bucketed_running_sum(
        df.repartition(17), "x", "v", "run"
    )
    assert total2 == total
    assert sorted(
        (r["x"], r["v"], r["run"]) for r in out2.collect()
    ) == rows


def test_bucketed_running_sums_multi_matches_stacked_singles(spark):
    """r14b: the multi-column form must be bit-identical to stacking
    two single-column constructions (buckets/re-splits/window are
    pure functions of the order column and row counts, never of the
    value columns) while paying pass 1 once — the KS query's two
    stacked calls re-executed the grouped subtree per call."""
    from scratchdb_spark.operators.prefix_sum import (
        bucketed_running_sum,
        bucketed_running_sums,
    )

    df = spark.range(20_000).select(
        (F.col("id") * 37 % 99_991).alias("x"),
        (F.col("id") % 13 + 1).alias("a"),
        (F.col("id") % 7).alias("b"),
    ).groupBy("x").agg(
        F.sum("a").alias("a"), F.sum("b").alias("b")
    )
    fused, (ta, tb) = bucketed_running_sums(
        df, "x", [("a", "cum_a"), ("b", "cum_b")]
    )
    s1, ta1 = bucketed_running_sum(df, "x", "a", "cum_a")
    s2, tb1 = bucketed_running_sum(s1, "x", "b", "cum_b")
    assert (ta, tb) == (ta1, tb1)
    assert sorted(
        tuple(r) for r in fused.select("x", "cum_a", "cum_b").collect()
    ) == sorted(
        tuple(r) for r in s2.select("x", "cum_a", "cum_b").collect()
    )
    # empty input: every requested column lands with a zero total
    empty = spark.createDataFrame([], "x long, a long, b long")
    out_e, totals_e = bucketed_running_sums(
        empty, "x", [("a", "cum_a"), ("b", "cum_b")]
    )
    assert totals_e == [0, 0]
    assert {"cum_a", "cum_b"} <= set(out_e.columns)


def test_bucketed_running_sum_fractional_and_empty(spark):
    """Double-typed order columns ride the fractional-width branch
    (monotone bucket, last-bucket clamp); empty input returns the
    column plus a zero total instead of throwing."""
    from scratchdb_spark.operators.prefix_sum import (
        bucketed_running_sum,
    )

    df = spark.createDataFrame(
        [(i / 7.0, i % 5 + 1) for i in range(400)], "x double, v long"
    )
    out, total = bucketed_running_sum(df, "x", "v", "run")
    rows = sorted((r["x"], r["v"], r["run"]) for r in out.collect())
    cum = 0
    for x, v, run in rows:
        cum += v
        assert run == cum
    assert total == cum
    empty = spark.createDataFrame([], "x double, v long")
    out_e, total_e = bucketed_running_sum(empty, "x", "v", "run")
    assert total_e == 0
    assert out_e.count() == 0
    assert "run" in out_e.columns


def test_bucketed_running_sum_hot_bucket_resplit(spark):
    """r12, closing the r11 verdict's only weak: an outlier-stretched
    value span (99.9%+ of the mass inside <1/256 of the range, one
    extreme max — the long-tail latency/token-count shape) used to
    collapse every row into range bucket 0 and degenerate pass 2 to a
    single data-sized sort task. The hot-bucket re-split must, UNDER
    DEFAULT PARAMETERS, (a) detect the hot bucket from pass 1's
    bounded stats, (b) re-split it deterministically on its own
    observed sub-range into a multi-bucket pass-2 window (no
    SinglePartition anywhere), and (c) stay bit-identical to the
    driver-computed prefix fold and layout-invariant."""
    from scratchdb_spark.operators.prefix_sum import (
        bucketed_running_sum,
    )

    n = 150_000  # > default min_split_rows so the DEFAULTS are pinned
    df = spark.range(n).select(
        F.when(F.col("id") == 0, F.lit(10**12))
        .otherwise(F.col("id"))
        .alias("x"),
        (F.col("id") % 97 + 1).alias("v"),
    )
    diag: dict = {}
    out, total = bucketed_running_sum(df, "x", "v", "run", diag=diag)
    # without the re-split: 2 effective buckets, 149,999 rows in one.
    assert diag["levels"] == 1 and diag["splits_per_level"] == [1]
    assert diag["n_final_buckets"] > 200, diag
    assert diag["n_frame_rows"] == n
    rows = sorted((r["x"], r["v"], r["run"]) for r in out.collect())
    cum = 0
    for x, v, run in rows:
        cum += v
        assert run == cum, (x, run, cum)
    assert total == cum
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    for block in plan.split("Window")[1:]:
        assert "__psb" in block.split("\n")[0]
    # layout-invariance: boundaries are pure functions of the exact
    # observed (min, max), so another partitioning yields identical
    # splits and identical sums
    diag2: dict = {}
    out2, total2 = bucketed_running_sum(
        df.repartition(17), "x", "v", "run", diag=diag2
    )
    assert diag2 == diag
    assert total2 == total
    assert sorted(
        (r["x"], r["v"], r["run"]) for r in out2.collect()
    ) == rows


def test_bucketed_running_sum_resplit_edges(spark):
    """Re-split edge shapes: a NESTED outlier (an outlier inside the
    hot bucket) recurses one more depth-capped level; a fractional
    (double) order column rides the clamped sub-bucket branch; mass
    tied on ONE distinct value is NOT splittable (the documented
    semantic floor — tied rows must colocate) and terminates without
    burning levels; a balanced frame pays zero extra passes."""
    from scratchdb_spark.operators.prefix_sum import (
        bucketed_running_sum,
    )

    # nested outlier -> two levels, still exact
    df = spark.range(100_000).select(
        F.when(F.col("id") == 0, F.lit(10**12))
        .when(F.col("id") == 1, F.lit(10**9))
        .otherwise(F.col("id"))
        .alias("x"),
        F.lit(1).alias("v"),
    )
    diag: dict = {}
    out, total = bucketed_running_sum(
        df, "x", "v", "run", min_split_rows=10_000, diag=diag
    )
    assert diag["levels"] == 2 and diag["splits_per_level"] == [1, 1]
    got = sorted((r["x"], r["run"]) for r in out.collect())
    assert all(run == i + 1 for i, (_, run) in enumerate(got))
    assert total == 100_000

    # fractional order column with an extreme outlier
    dff = spark.createDataFrame(
        [(float(i), 1) for i in range(3000)] + [(1e15, 1)],
        "x double, v long",
    )
    diag_f: dict = {}
    out_f, total_f = bucketed_running_sum(
        dff, "x", "v", "run", min_split_rows=500, diag=diag_f
    )
    assert diag_f["levels"] == 1
    got_f = sorted((r["x"], r["run"]) for r in out_f.collect())
    assert all(run == i + 1 for i, (_, run) in enumerate(got_f))
    assert total_f == 3001

    # one-value mass: hot but bmn == bmx -> no split, no level burn
    df1 = spark.range(50_000).select(
        F.lit(7).alias("x"), F.lit(1).alias("v"), F.col("id")
    )
    diag_1: dict = {}
    out_1, total_1 = bucketed_running_sum(
        df1,
        "x",
        "v",
        "run",
        tiebreak_cols=("id",),
        min_split_rows=1_000,
        diag=diag_1,
    )
    assert diag_1["levels"] == 0 and diag_1["n_final_buckets"] == 1
    assert total_1 == 50_000
    assert out_1.filter(F.col("id") == 49_999).collect()[0][
        "run"
    ] == 50_000

    # balanced frame under defaults: zero split levels
    dfb = spark.range(50_000).select(
        (F.col("id") * 7).alias("x"), F.lit(1).alias("v")
    )
    diag_b: dict = {}
    bucketed_running_sum(dfb, "x", "v", "run", diag=diag_b)
    assert diag_b["levels"] == 0 and diag_b["splits_per_level"] == []


def test_spearman_rank_join_strategies_agree(spark, sf_dir, monkeypatch):
    """r12 size-aware rank joins (verdict item 6): the production
    path broadcasts a rank frame whose cardinality pass 1 PROVED
    small; forcing the budget to 0 must flip BOTH joins onto the
    salted fallback (operators/skew.salted_join — 8x replicated rank
    frame, whole-row-hash salt) and the result must be IDENTICAL —
    the strategy is purely physical."""
    from scratchdb_spark.catalog import analytics as an

    base = an.agg_spearman_rank_corr(spark, sf_dir).collect()[0]
    plan_b = (
        an.agg_spearman_rank_corr(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan_b

    monkeypatch.setattr(an, "_RANK_BROADCAST_ROWS", 0)
    salted_df = an.agg_spearman_rank_corr(spark, sf_dir)
    plan_s = (
        salted_df._jdf.queryExecution().executedPlan().toString()
    )
    assert "xxhash64" in plan_s  # the whole-row salt
    salted = salted_df.collect()[0]
    assert (salted["n"], salted["spearman_rho"]) == (
        base["n"],
        base["spearman_rho"],
    )


def test_bucketed_running_sum_broadcast_offset_path(spark):
    """Above 1024 final buckets the offsets ride a broadcast-joined
    frame instead of a literal map (epoch_shuffle threshold) — pin
    that path COMBINED with a re-split, which is how a real frame
    crosses it: with n_buckets=1100 the outlier collapses level 0 to
    2 PRESENT buckets, and the hot bucket's split fans them to ~1101
    — past the literal-map cap only BECAUSE of the re-split.
    Exactness and the no-SinglePartition plan must hold through the
    join."""
    from scratchdb_spark.operators.prefix_sum import (
        bucketed_running_sum,
    )

    n = 200_000
    df = spark.range(n).select(
        F.when(F.col("id") == 0, F.lit(10**12))
        .otherwise(F.col("id"))
        .alias("x"),
        F.lit(1).alias("v"),
    )
    diag: dict = {}
    out, total = bucketed_running_sum(
        df, "x", "v", "run",
        n_buckets=1100, min_split_rows=50_000, diag=diag,
    )
    assert diag["levels"] == 1
    assert diag["n_final_buckets"] > 1024, diag
    got = sorted((r["x"], r["run"]) for r in out.collect())
    assert all(run == i + 1 for i, (_, run) in enumerate(got))
    assert total == n
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    for block in plan.split("Window")[1:]:
        assert "__psb" in block.split("\n")[0]


def test_prefix_sum_backed_queries_partition_on_bucket(
    spark, sf_dir
):
    """Plan pin for the r11 close-out of the partitionless-window
    class: every catalog query whose cumulative rides the
    prefix-bucket running sum — the two r10 weak items
    (events_ab_mann_whitney, agg_quantile_exact_weighted) plus the
    audit's finds (rollup_histogram_quantiles' value-range bucket
    frame, curate_domain_token_budget's domain frame — both
    data-sized at 100 TB) and the new KS test — windows ONLY on the
    range bucket. The only SinglePartition exchange allowed is each
    query's final one-row aggregate."""
    from scratchdb_spark.catalog.analytics import (
        agg_quantile_exact_weighted,
        agg_spearman_rank_corr,
        rollup_histogram_quantiles,
    )
    from scratchdb_spark.catalog.curation_queries import (
        curate_domain_token_budget,
    )
    from scratchdb_spark.catalog.lakehouse_misc import (
        events_ab_kolmogorov_smirnov,
        events_ab_mann_whitney,
    )

    for fn in (
        events_ab_mann_whitney,
        agg_quantile_exact_weighted,
        rollup_histogram_quantiles,
        curate_domain_token_budget,
        events_ab_kolmogorov_smirnov,
        agg_spearman_rank_corr,
    ):
        out = fn(spark, sf_dir)
        plan = out._jdf.queryExecution().executedPlan().toString()
        blocks = plan.split("Window")[1:]
        assert blocks, f"{fn.__name__}: no window found"
        for block in blocks:
            head = block.split("\n")[0]
            assert "__psb" in head, f"{fn.__name__}: {head}"


def test_update_where_cow_semantics_and_cdc(spark, tmp_path):
    """update_where (r11 — the predicate UPDATE DML the warehouse
    lacked): matching rows rewrite with the SET applied, NULL
    predicate rows stay untouched (Delta semantics), values cast to
    the column's existing type, CDC carries preimage-delete +
    postimage-insert pairs, time travel still sees the old values,
    and guards refuse __row_id / unknown columns."""
    from pyspark.sql import functions as F

    wh, snap = _dv_table(spark, tmp_path)
    v1 = 1
    v, n = snap.update_where(
        wh, "db", "t", "grp = 3", {"name": F.lit("fixed"), "grp": "grp + 10"}
    )
    assert n == 20
    cur = snap.read_snapshot(wh, "db", "t")
    assert cur.count() == 100  # updates never change row count
    assert cur.filter("grp = 3").count() == 0
    assert cur.filter("grp = 13 AND name = 'fixed'").count() == 20
    # untouched rows keep their values
    assert cur.filter("grp = 2 AND name LIKE 'u%'").count() == 20
    # time travel: the audit trail keeps old values
    assert (
        snap.read_snapshot(wh, "db", "t", version=v1)
        .filter("grp = 3")
        .count()
        == 20
    )
    # CDC: exactly 20 delete preimages + 20 insert postimages
    ch = snap.read_changes(wh, "db", "t", v1, v)
    got = {
        r["_change_type"]: r["n"]
        for r in ch.groupBy("_change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == {"delete": 20, "insert": 20}
    assert ch.filter("_change_type = 'insert' AND grp = 13").count() == 20
    assert ch.filter("_change_type = 'delete' AND grp = 3").count() == 20

    # NULL predicate = not updated (exact complement discipline)
    v2, n2 = snap.update_where(
        wh, "db", "t",
        F.when(F.col("grp") == 13, F.lit(None).cast("boolean")),
        {"name": F.lit("ghost")},
    )
    assert n2 == 0 and snap.read_snapshot(wh, "db", "t").filter(
        "name = 'ghost'"
    ).count() == 0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="__row_id"):
        snap.update_where(wh, "db", "t", "grp = 1", {"__row_id": "0"})
    with _pytest.raises(ValueError, match="not a column"):
        snap.update_where(wh, "db", "t", "grp = 1", {"nope": "1"})


def test_update_where_mor_tombstone_plus_postimage(spark, tmp_path):
    """update_where_mor (r11 — Iceberg's MoR UPDATE shape): ONE
    commit tombstones the matched rows and appends their updated
    copies; readers see the update immediately through the mask
    (pair-bound tombstones keep the same-__row_id copies visible);
    CDC pairs match the COW form; apply_deletion_vectors later drops
    the stale physical copies with zero visible change; COW-vs-MoR
    visible results are identical."""
    from pyspark.sql import functions as F

    wh, snap = _dv_table(spark, tmp_path)
    m1 = snap._manifest(wh, "db", "t", 1)
    files_before = set(snap._manifest_files(wh, "db", "t", m1))
    v, n = snap.update_where_mor(
        wh, "db", "t", "grp = 3", {"name": F.lit("fixed"), "grp": "grp + 10"}
    )
    assert n == 20
    m = snap._manifest(wh, "db", "t", v)
    # old files untouched, postimage file(s) appended, vector standing
    assert files_before < set(snap._manifest_files(wh, "db", "t", m))
    assert m.get("dv_rows") == 20 and m.get("dvs")
    assert m.get("dv_files")  # coverage recorded for file-scoped reads
    cur = snap.read_snapshot(wh, "db", "t")
    assert cur.count() == 100
    assert cur.filter("grp = 3").count() == 0
    assert cur.filter("grp = 13 AND name = 'fixed'").count() == 20
    # updated copies kept their identity
    assert cur.select("__row_id").distinct().count() == 100
    ch = snap.read_changes(wh, "db", "t", 1, v)
    got = {
        r["_change_type"]: r["n"]
        for r in ch.groupBy("_change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == {"delete": 20, "insert": 20}

    # the deferred physical rewrite drops the stale copies silently
    before = sorted(map(tuple, cur.collect()))
    v_apply, nf = snap.apply_deletion_vectors(wh, "db", "t")
    assert nf >= 1
    after_df = snap.read_snapshot(wh, "db", "t")
    assert sorted(map(tuple, after_df.collect())) == before
    assert snap.read_changes(wh, "db", "t", v, v_apply).count() == 0
    assert not snap._manifest(wh, "db", "t", v_apply).get("dvs")

    # COW twin on a fresh table: identical visible result
    wh2, _ = _dv_table(spark, tmp_path / "w2", name="t2")
    snap.update_where(
        wh2, "db", "t2", "grp = 3",
        {"name": F.lit("fixed"), "grp": "grp + 10"},
    )
    cow_rows = sorted(
        map(tuple, snap.read_snapshot(wh2, "db", "t2").collect())
    )
    assert cow_rows == before


def test_merge_upsert_mor_matches_cow_and_defers_rewrite(
    spark, tmp_path
):
    """merge_upsert_mor (r11 — completes the MoR DML family): visible
    result row-for-row equal to the COW merge (replace matched keys,
    insert unmatched, ghost-merge semantics through standing
    tombstones), but the commit leaves every pre-existing file
    untouched — a deletion vector plus the appended update batch.
    CDC pairs match the COW form; apply_deletion_vectors reclaims the
    replaced copies with zero visible change."""
    from pyspark.sql import functions as F

    upd = [
        (3, "updated3", 99),     # replaces an existing row
        (1000, "fresh", 7),      # inserts
        (8, "updated8", 99),     # replaces
    ]

    wh_cow, snap = _dv_table(spark, tmp_path / "cow")
    u1 = spark.createDataFrame(
        upd, "__row_id long, name string, grp long"
    )
    v_c, nu_c, ni_c = snap.merge_upsert(wh_cow, "db", "t", u1, "__row_id")
    cow_rows = sorted(
        map(tuple, snap.read_snapshot(wh_cow, "db", "t").collect())
    )

    wh_mor, _ = _dv_table(spark, tmp_path / "mor")
    m1 = snap._manifest(wh_mor, "db", "t", 1)
    files_before = set(snap._manifest_files(wh_mor, "db", "t", m1))
    v_m, nu_m, ni_m = snap.merge_upsert_mor(
        wh_mor, "db", "t", u1, "__row_id"
    )
    assert (nu_m, ni_m) == (nu_c, ni_c) == (2, 1)
    m = snap._manifest(wh_mor, "db", "t", v_m)
    # old files untouched; the update batch appended; vector standing
    assert files_before < set(snap._manifest_files(wh_mor, "db", "t", m))
    assert files_before == set(
        snap._manifest_files(wh_mor, "db", "t", m)
    ) & files_before
    assert m.get("dv_rows") == 2 and m.get("dvs") and m.get("dv_files")
    mor_rows = sorted(
        map(tuple, snap.read_snapshot(wh_mor, "db", "t").collect())
    )
    assert mor_rows == cow_rows

    ch = snap.read_changes(wh_mor, "db", "t", 1, v_m)
    got = {
        r["_change_type"]: r["n"]
        for r in ch.groupBy("_change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == {"delete": 2, "insert": 3}

    v_apply, nf = snap.apply_deletion_vectors(wh_mor, "db", "t")
    assert nf >= 1
    assert sorted(
        map(tuple, snap.read_snapshot(wh_mor, "db", "t").collect())
    ) == cow_rows
    assert snap.read_changes(wh_mor, "db", "t", v_m, v_apply).count() == 0

    # ghost-merge through a standing tombstone: MoR-delete a row, then
    # MoR-merge the same key — it must INSERT (the row is invisible),
    # not resurrect or double-count an update
    snap.delete_where_mor(wh_mor, "db", "t", "__row_id = 10")
    v2, nu2, ni2 = snap.merge_upsert_mor(
        wh_mor, "db", "t",
        spark.createDataFrame(
            [(10, "ghost", 1)], "__row_id long, name string, grp long"
        ),
        "__row_id",
    )
    assert (nu2, ni2) == (0, 1)
    cur = snap.read_snapshot(wh_mor, "db", "t")
    assert cur.filter("__row_id = 10").count() == 1
    assert cur.filter("name = 'ghost'").count() == 1


@pytest.mark.parametrize("op", ["delete", "update", "merge"])
def test_cow_mor_parity_exact_rows(spark, tmp_path, op):
    """The COW and MoR forms of each DML, run on twin tables, leave
    the same visible rows and the same change rows — every
    ``_change_type`` and data column, not just the counts."""
    from pyspark.sql import functions as F

    cols = ["__row_id", "name", "grp"]
    upd = [(3, "updated3", 99), (1000, "fresh", 7), (8, "updated8", 99)]
    out = {}
    for mode in ("cow", "mor"):
        wh, snap = _dv_table(spark, tmp_path / mode)
        sfx = "" if mode == "cow" else "_mor"
        if op == "delete":
            res = getattr(snap, "delete_where" + sfx)(
                wh, "db", "t", "grp = 3 OR __row_id = 1"
            )
        elif op == "update":
            res = getattr(snap, "update_where" + sfx)(
                wh, "db", "t", "grp = 3",
                {"name": F.concat(F.col("name"), F.lit("!")),
                 "grp": "grp + 10"},
            )
        else:
            res = getattr(snap, "merge_upsert" + sfx)(
                wh, "db", "t",
                spark.createDataFrame(
                    upd, "__row_id long, name string, grp long"
                ),
                "__row_id",
            )
        ch = snap.read_changes(wh, "db", "t", 1, res[0])
        out[mode] = (
            res[1:],
            sorted(
                map(tuple, snap.read_snapshot(wh, "db", "t")
                    .select(cols).collect())
            ),
            sorted(
                map(tuple, ch.select("_change_type", *cols).collect())
            ),
        )
    assert out["cow"] == out["mor"]
    counts, _live, changes = out["cow"]
    n_del = sum(1 for c in changes if c[0] == "delete")
    assert n_del == counts[0] > 0


def test_dedup_index_above_cap_probe_exact_pairs(spark, tmp_path):
    """End-to-end insurance on the r13 above-cap probe path
    (operators/dedup_index.py): a probe batch carrying MORE distinct
    band hashes than the historical _PRUNE_MAX_HASHES cap — the shape
    that used to full-scan the index (r12 weak) and now prunes
    through the normalized IN-list — returns EXACTLY the planted
    near-dup pairs, nothing more, nothing missing."""
    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.operators import dedup_index as di
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    # every corpus/probe text is globally unique word-wise, so the
    # ONLY jaccard>=0.8 pairs are the 10 planted exact copies (no
    # modulus anywhere -> no token aliasing, per the r12c lesson)
    corpus = spark.createDataFrame(
        [
            (i, " ".join(f"c{i}x{j}" for j in range(12)))
            for i in range(600)
        ],
        "doc_id long, text string",
    )
    snap.append_versioned(wh, "db", "docs", corpus)
    di.build_dedup_index(wh, "db", "docs", "docs_lsh", n_files=32)

    probe = spark.createDataFrame(
        [
            (10000 + i, " ".join(f"c{i}x{j}" for j in range(12)))
            for i in range(10)
        ]
        + [
            (20000 + i, " ".join(f"p{i}x{j}" for j in range(12)))
            for i in range(340)
        ],
        "doc_id long, text string",
    )
    meta = di._load_dedup_meta(wh, "db", "docs_lsh")
    n_hashes = (
        di._band_rows(
            probe.selectExpr("doc_id as pid", "text as ptext"),
            "ptext", "pid", meta["n"], meta["num_hashes"],
            meta["bands"],
        )
        .select("band_hash")
        .distinct()
        .count()
    )
    assert n_hashes > di._PRUNE_MAX_HASHES  # genuinely above-cap

    pairs = di.query_dedup_index(
        wh, "db", "docs_lsh", probe
    ).collect()
    assert {(r["probe_id"], r["corpus_id"]) for r in pairs} == {
        (10000 + i, i) for i in range(10)
    }
    assert all(r["jaccard_sim"] == 1.0 for r in pairs)


def test_spearman_duplicate_heavy_all_strategies_agree(
    spark, monkeypatch
):
    """r13 duplicate pre-aggregation (verdict item 3): on a fixture
    that is almost ALL duplicate (x, y) rows — the exact shape whose
    whole-row salt used to collapse onto single reducers — rho and n
    must be identical across broadcast, salted, and plain-shuffle
    rank joins, and must equal the pure-Python average-rank Pearson
    computed from the (x, y, count) distribution. Also pins that the
    join input really did shrink: the weighted pair frame, not the
    raw rows, feeds the rank joins."""
    import math
    from collections import Counter

    from scratchdb_spark.catalog import analytics as an
    from scratchdb_spark.operators import skew

    # 60_000 rows over 60 distinct (x, y) pairs: ~1000 exact
    # duplicates each, y anti-monotone in x with deliberate ties
    data = [
        (i % 12, (11 - (i % 12)) // 2) for i in range(60_000)
    ]
    rows = spark.createDataFrame(data, "x long, y long")

    # pure-Python oracle: average ranks (doubled-rank construction is
    # a linear map, so plain average ranks give the same rho)
    def avg_ranks(vals):
        cnt = Counter(vals)
        out, below = {}, 0
        for v in sorted(cnt):
            out[v] = below + (cnt[v] + 1) / 2
            below += cnt[v]
        return out

    xs = [x for x, _ in data]
    ys = [y for _, y in data]
    rx, ry = avg_ranks(xs), avg_ranks(ys)
    n = len(data)
    sa = sum(rx[x] for x in xs)
    sb = sum(ry[y] for y in ys)
    saa = sum(rx[x] ** 2 for x in xs)
    sbb = sum(ry[y] ** 2 for y in ys)
    sab = sum(rx[x] * ry[y] for x, y in data)
    expect = round(
        (n * sab - sa * sb)
        / math.sqrt((n * saa - sa**2) * (n * sbb - sb**2)),
        6,
    )

    got = {}
    # strategy 1: broadcast (default — 12/6-value rank frames)
    got["broadcast"] = an._spearman_from_rows(rows).collect()[0]
    # strategy 2: salted fallback (budget forced to 0)
    monkeypatch.setattr(an, "_RANK_BROADCAST_ROWS", 0)
    got["salted"] = an._spearman_from_rows(rows).collect()[0]
    # strategy 3: plain shuffle (salted_join swapped for a bare join)
    monkeypatch.setattr(
        skew,
        "salted_join",
        lambda big, small, key_col, salt_buckets=8: big.join(
            small, key_col
        ),
    )
    got["shuffle"] = an._spearman_from_rows(rows).collect()[0]

    for name, r in got.items():
        assert r["n"] == n, name
        assert r["spearman_rho"] == expect, (name, r)

    # the rank joins consume the weighted PAIR frame: 60 rows in,
    # not 60_000 — visible as the __w weight column in the plan
    plan = (
        an._spearman_from_rows(rows)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "__w" in plan


def test_dedup_refresh_append_only_skips_delete_scan(
    spark, tmp_path, monkeypatch
):
    """r13 refresh scoping: an APPEND-ONLY CDC window (the dedup-gate
    cadence shape — every micro-batch appends survivors) must not
    call delete_keys at all, because delete_keys discovers 'nothing
    affected' by tagging EVERY index row with its file — a full index
    scan per refresh. A window with real deletes must still call it,
    and both refreshes must leave the index byte-equal to a rebuild."""
    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.operators import dedup_index as di
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    docs = spark.createDataFrame(
        [
            (i, " ".join(f"c{i}x{j}" for j in range(12)))
            for i in range(80)
        ],
        "doc_id long, text string",
    )
    snap.append_versioned(wh, "db", "docs", docs)
    di.build_dedup_index(wh, "db", "docs", "docs_lsh")

    calls = []
    real = snap.delete_keys

    def counting(*a, **k):
        calls.append(a[2])
        return real(*a, **k)

    monkeypatch.setattr(snap, "delete_keys", counting)

    # append-only window: no delete preimages -> no delete_keys call
    snap.append_versioned(
        wh, "db", "docs",
        spark.createDataFrame(
            [
                (100 + i, " ".join(f"n{i}x{j}" for j in range(12)))
                for i in range(5)
            ],
            "doc_id long, text string",
        ),
    )
    stats = di.refresh_dedup_index(wh, "db", "docs_lsh")
    assert stats["n_deleted"] == 0 and stats["n_inserted"] > 0
    assert calls == []

    # delete-bearing window: delete_keys runs, scoped to stale ids
    snap.delete_where(wh, "db", "docs", F.col("doc_id") < 3)
    stats2 = di.refresh_dedup_index(wh, "db", "docs_lsh")
    assert stats2["n_deleted"] > 0
    assert calls == ["docs_lsh"]

    # both paths leave the index byte-equal to a rebuild
    di.build_dedup_index(wh, "db", "docs", "docs_lsh_rb")
    a = snap.read_snapshot(wh, "db", "docs_lsh")
    b = snap.read_snapshot(wh, "db", "docs_lsh_rb")
    assert a.exceptAll(b).limit(1).count() == 0
    assert b.exceptAll(a).limit(1).count() == 0


def test_spearman_broadcast_path_skips_preagg(spark):
    """r14 (verdict item 2): when pass-1 diag proves both rank frames
    broadcast-sized, the duplicate pre-aggregation must be SKIPPED —
    on a continuous shape (all pairs distinct) the groupBy(x, y)
    exchange shuffles the whole frame for zero dedup benefit (+59%
    wall, 14x shuffle bytes measured on the registry query in r13).
    The broadcast plan must carry no __w weight column and no
    pair-keyed exchange; rho must still equal the weighted path's."""
    from pyspark.sql import functions as F

    from scratchdb_spark.catalog import analytics as an

    rows = spark.range(5_000).select(
        F.col("id").alias("x"),
        ((F.col("id") * 37) % 4999).alias("y"),
    )
    df = an._spearman_from_rows(rows)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "__w" not in plan  # no pre-agg on the broadcast path
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in phys
    base = df.collect()[0]

    # the weighted (salted-regime) path on the SAME frame agrees
    import pytest as _pytest

    with _pytest.MonkeyPatch.context() as mp:
        mp.setattr(an, "_RANK_BROADCAST_ROWS", 0)
        weighted = an._spearman_from_rows(rows).collect()[0]
    assert (weighted["n"], weighted["spearman_rho"]) == (
        base["n"],
        base["spearman_rho"],
    )


def test_append_deduped_deferred_refresh_matches_inline(spark, tmp_path):
    """r14 gate-cadence decoupling: refresh='defer' must produce
    BATCH-FOR-BATCH identical gate decisions to inline mode — the
    un-indexed source tail is probed with the same LSH+verify
    machinery, so index ∪ tail == full source at every batch — while
    committing only the source append (index versions frozen between
    refreshes). A later refresh converges the index to a fresh
    rebuild row-for-row."""
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.operators import dedup_index as di
    from scratchdb_spark.tables import Warehouse

    def doc(i):  # unique, non-overlapping 8-token text per id
        return " ".join(f"w{i}t{j}" for j in range(8))

    corpus = [(i, doc(i)) for i in range(100)]
    batches = [
        # (id, text): fresh rows, one corpus copy, one in-batch pair
        [(1000 + k, doc(10000 + k)) for k in range(10)]
        + [(1010, doc(5)), (1011, doc(20000)), (1012, doc(20000))],
        # fresh rows + a copy of b1 survivor 1000 (TAIL catch) + a
        # corpus copy (index catch)
        [(2000 + k, doc(30000 + k)) for k in range(5)]
        + [(2005, doc(10000)), (2006, doc(7))],
        # copies of b2 + b1 survivors (tail 1 and 2 batches deep)
        [(3000, doc(30000)), (3001, doc(10001)), (3002, doc(40000))],
    ]
    # per batch: b1 = 1 in-batch (1012) + 1 corpus copy (1010);
    # b2 = 1 tail copy (2005) + 1 corpus copy (2006);
    # b3 = 2 tail copies (3000, 3001)
    expect_drops = [2, 2, 2]

    stats = {"inline": [], "defer": []}
    for mode in ("inline", "defer"):
        wh = Warehouse(spark, str(tmp_path / f"wh_{mode}"))
        snap.append_versioned(
            wh, "db", "docs",
            spark.createDataFrame(corpus, "doc_id long, text string"),
        )
        di.build_dedup_index(wh, "db", "docs", "lsh")
        for rows in batches:
            stats[mode].append(
                di.append_deduped(
                    wh, "db", "lsh",
                    spark.createDataFrame(
                        rows, "doc_id long, text string"
                    ),
                    refresh=mode,
                )
            )
        if mode == "defer":
            # index commits frozen between refreshes: build's version
            # only (build_dedup_index may commit once or twice; pin
            # that the 3 gate batches added ZERO index versions)
            n_idx_vs = len(snap.versions(wh, "db", "lsh"))
            di.refresh_dedup_index(wh, "db", "lsh")
            assert len(snap.versions(wh, "db", "lsh")) == n_idx_vs + 1
            di.build_dedup_index(wh, "db", "docs", "lsh_rb")
            a = snap.read_snapshot(wh, "db", "lsh")
            b = snap.read_snapshot(wh, "db", "lsh_rb")
            assert a.exceptAll(b).limit(1).count() == 0
            assert b.exceptAll(a).limit(1).count() == 0
        final = sorted(
            r["doc_id"]
            for r in snap.read_snapshot(wh, "db", "docs")
            .select("doc_id")
            .collect()
        )
        stats[mode + "_final"] = final

    for i, (si, sd) in enumerate(zip(stats["inline"], stats["defer"])):
        for k in (
            "n_batch", "n_dropped_in_batch", "n_dropped_vs_corpus",
            "n_appended",
        ):
            assert si[k] == sd[k], (i, k, si, sd)
        total_dropped = (
            si["n_dropped_in_batch"] + si["n_dropped_vs_corpus"]
        )
        assert total_dropped == expect_drops[i], (i, si)
    assert stats["inline"][0]["n_tail"] == 0  # inline never tails
    assert stats["defer"][1]["n_tail"] > 0  # the gap really existed
    assert stats["inline_final"] == stats["defer_final"]


def test_parallelize_rightsized_default(spark):
    """r15: sc.parallelize's DEFAULT slice count is capped at len(c)
    (session._install_rightsized_parallelize) so tiny literal frames
    stop scheduling one (almost always empty) write task per core.
    Pins: (1) the cap, (2) explicit numSlices untouched, (3) un-sized
    iterables untouched, (4) values identical to the stock path."""
    sc = spark.sparkContext
    par = sc.defaultParallelism
    assert sc.parallelize([(1,), (2,)]).getNumPartitions() == min(2, par)
    big = [(i,) for i in range(par + 3)]
    assert sc.parallelize(big).getNumPartitions() == par
    assert sc.parallelize([1, 2, 3], 7).getNumPartitions() == 7
    # generators have no len(): the stock default applies
    gen = (i for i in range(3))
    assert sc.parallelize(gen).getNumPartitions() == par
    # createDataFrame funnels through the same default, rows unchanged
    df = spark.createDataFrame([(1, 10), (2, 20)], "a long, b long")
    assert df.rdd.getNumPartitions() == min(2, par)
    assert sorted((r.a, r.b) for r in df.collect()) == [(1, 10), (2, 20)]
