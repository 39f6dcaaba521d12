"""Round-11 additions: ADVICE regression fixes (gini int64 overflow,
mips_ivf_topk empty input, holt_linear window validation) plus the
round's new operators.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from graph_etl_spark import operators as ops

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def test_gini_rank_value_product_survives_int64(spark):
    """ADVICE r10: Σ(r·x) must not wrap int64. Two docs whose ranks
    multiply huge values past 2^63 — the decimal(38,0) product-sum
    keeps the numerator exact where a long·long sum would go negative.
    """
    big = 2**62  # r=2 -> r*x = 2^63, one past int64 max
    df = spark.createDataFrame(
        [("a", 1), ("b", big)], "doc_id string, v long"
    )
    row = ops.gini_coefficient(df, "v", "doc_id").collect()[0]
    assert row["n"] == 2 and row["total"] == big + 1
    # exact formula: G = 2*(1*1 + 2*big)/(2*(big+1)) - 3/2
    expect = 2.0 * (1 + 2 * big) / (2.0 * (big + 1)) - 1.5
    assert row["gini"] == pytest.approx(expect, abs=1e-6)
    assert row["gini"] > 0  # the int64-wrapped sum went negative here


def test_mips_ivf_topk_empty_data_raises(spark):
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>"
    )
    q = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="non-empty"):
        ops.mips_ivf_topk(empty, q, k=1, nlist=2, nprobe=1)


def test_holt_linear_rejects_zero_window(spark):
    df = spark.createDataFrame(
        [("u", 1, 1.0)], "user_id string, ts int, v double"
    )
    with pytest.raises(ValueError, match="window_size"):
        ops.holt_linear(df, "user_id", "ts", "v", window_size=0)


def test_peak_concurrency_hand_computed(spark):
    # u1: 10:00-10:05 -> [10:00, 10:35); u2: 10:10 -> [10:10, 10:40)
    # u3: 10:50 -> [10:50, 11:20) — peak is 2 while u1/u2 overlap
    df = spark.createDataFrame(
        [
            ("u1", "2024-01-01 10:00:00"),
            ("u1", "2024-01-01 10:05:00"),
            ("u2", "2024-01-01 10:10:00"),
            ("u3", "2024-01-01 10:50:00"),
        ],
        "user_id string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    rows = (
        ops.peak_concurrency(df, gap_minutes=30)
        .orderBy("ts", "delta", "user")
        .collect()
    )
    assert [r["concurrent"] for r in rows] == [1, 2, 1, 0, 1, 0]
    assert max(r["concurrent"] for r in rows) == 2
    with pytest.raises(ValueError, match="gap_minutes"):
        ops.peak_concurrency(df, gap_minutes=0)


def test_peak_concurrency_end_before_start_at_same_instant(spark):
    # u1's session ends exactly when u2's starts: end-exclusive means
    # the count returns to 0 before the +1 lands — never 2
    df = spark.createDataFrame(
        [("u1", "2024-01-01 10:00:00"), ("u2", "2024-01-01 10:30:00")],
        "user_id string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    rows = (
        ops.peak_concurrency(df, gap_minutes=30)
        .orderBy("ts", "delta", "user")
        .collect()
    )
    assert [(r["delta"], r["concurrent"]) for r in rows] == [
        (1, 1), (-1, 0), (1, 1), (-1, 0),
    ]


def test_cusum_changepoint_level_shift(spark):
    # 6 hourly buckets: rate 2/h for 3 hours then 10/h — the cumulative
    # deviation |S'| peaks at the last low bucket (hour 02)
    rows = []
    eid = 0
    for h, n in [(0, 2), (1, 2), (2, 2), (3, 10), (4, 10), (5, 10)]:
        for i in range(n):
            rows.append((eid, f"2024-01-01 0{h}:{i:02d}:00", "click"))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = ops.cusum_changepoint(df, bucket="hour").collect()
    assert len(out) == 1
    r = out[0]
    assert r["change_ts"].hour == 2
    assert r["n_buckets"] == 6 and r["total"] == 36
    # S'_3 = sum of (6*2 - 36) over 3 buckets = -72
    assert r["cusum_abs"] == 72


def test_ab_ztest_counts_and_sign(spark):
    # users 1..40; conversion only for variant-1 users -> z > 0 and
    # the four counts partition the user set
    from graph_etl_spark.operators.text import h56

    base = spark.range(1, 41).select(F.col("id").alias("user_id"))
    variant = base.withColumn(
        "v", h56(F.col("user_id").cast("string")) % 2
    )
    ev = variant.select(
        "user_id",
        F.when(F.col("v") == 1, F.lit("purchase"))
        .otherwise(F.lit("view"))
        .alias("event_type"),
    )
    r = ops.ab_ztest(ev, conv_type="purchase").collect()[0]
    assert r["n_control"] + r["n_treatment"] == 40
    assert r["conv_control"] == 0
    assert r["conv_treatment"] == r["n_treatment"]
    assert r["rate_treatment"] == 1.0 and r["rate_control"] == 0.0
    assert r["z"] > 5


def test_table_checksum_order_free_and_value_sensitive(spark):
    import graph_etl_spark.functions as fn

    a = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, None)], "k long, s string"
    )
    b = spark.createDataFrame(
        [(3, None), (1, "x"), (2, "y")], "k long, s string"
    ).repartition(7)
    ca = fn.table_checksum(a, ["k", "s"]).collect()[0]
    cb = fn.table_checksum(b, ["k", "s"]).collect()[0]
    assert (ca["n_rows"], ca["checksum"]) == (cb["n_rows"], cb["checksum"])
    c = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z")], "k long, s string"
    )
    assert fn.table_checksum(c, ["k", "s"]).collect()[0]["checksum"] != ca[
        "checksum"
    ]
    # NULL sentinel: ('a', NULL) must not collide with ('a<sep>', ...)
    d1 = spark.createDataFrame([("a", None)], "x string, y string")
    d2 = spark.createDataFrame([("a", "")], "x string, y string")
    assert (
        fn.table_checksum(d1, ["x", "y"]).collect()[0]["checksum"]
        != fn.table_checksum(d2, ["x", "y"]).collect()[0]["checksum"]
    )


def test_modularity_clean_partition_beats_mixed(spark):
    # two 3-cliques joined by one bridge edge
    tri1 = [(1, 2), (1, 3), (2, 3)]
    tri2 = [(4, 5), (4, 6), (5, 6)]
    edges = spark.createDataFrame(
        tri1 + tri2 + [(3, 4)], "src long, dst long"
    )
    good = spark.createDataFrame(
        [(i, "a" if i <= 3 else "b") for i in range(1, 7)],
        "id long, community string",
    )
    bad = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(1, 7)],
        "id long, community string",
    )
    q_good = sum(r["q"] for r in ops.modularity(edges, good).collect())
    q_bad = sum(r["q"] for r in ops.modularity(edges, bad).collect())
    assert q_good > 0.3 and q_good > q_bad
    rows = {r["community"]: r for r in ops.modularity(edges, good).collect()}
    assert rows["a"]["inner_edges"] == 3 and rows["a"]["n_nodes"] == 3
    assert rows["a"]["degree_sum"] == 7  # 2+2+3 (bridge endpoint)


def test_kneser_ney_francisco_effect(spark):
    # "san francisco" x5: 'francisco' is frequent but single-context;
    # 'road' appears 3x in 3 distinct contexts -> higher P_cont means
    # a better (less negative) first-token score for 'road'
    docs = spark.createDataFrame(
        [
            (1, "san francisco san francisco san francisco san francisco san francisco"),
            (2, "old road new road gravel road"),
            (3, "francisco starts this doc"),
            (4, "road starts this doc"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in ops.kneser_ney_logprob(docs).collect()}
    assert out[1]["n_tokens"] == 10
    # first-token-only comparison: doc 3 starts with 'francisco'
    # (P_cont = 1/nb), doc 4 with 'road' (P_cont = 3/nb); the shared
    # remainder 'starts this doc' cancels, so doc4 scores higher
    assert out[4]["avg_logprob"] > out[3]["avg_logprob"]


def test_mmr_rerank_prefers_diverse_over_neardup(spark):
    # q: query at [1,0]; a,b near-duplicates close to q; c orthogonal-ish
    # relevance order a > b > c, but MMR step 2 must pick c over b
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),        # query
            (1, [0.99, 0.14]),      # a — most relevant
            (2, [0.985, 0.17]),     # b — near-dup of a
            (3, [0.7, 0.71]),       # c — diverse
        ],
        "vec_id long, embedding array<float>",
    )
    out = ops.mmr_rerank(
        emb, emb.filter(F.col("vec_id") == 0), k=3, pool=3, lam=0.3
    ).orderBy("step").collect()
    assert [r["neighbor_id"] for r in out] == [1, 3, 2]
    with pytest.raises(ValueError, match="pool"):
        ops.mmr_rerank(emb, emb.filter(F.col("vec_id") == 0), k=5, pool=3)


def test_binarize_and_hamming_exact(spark):
    # 4-dim vectors, 2-bit words: packing and distances fully hand-checked
    emb = spark.createDataFrame(
        [
            (0, [1.0, -1.0, 1.0, -1.0]),   # bits 1010 -> words [1, 1]
            (1, [1.0, 1.0, 1.0, 1.0]),     # bits 1111 -> words [3, 3]
            (2, [-1.0, -1.0, -1.0, -1.0]), # bits 0000 -> words [0, 0]
        ],
        "vec_id long, embedding array<float>",
    )
    packed = {
        r["vec_id"]: r["words"]
        for r in ops.binarize_embeddings(emb, dim=4, word_bits=2).collect()
    }
    assert packed == {0: [1, 1], 1: [3, 3], 2: [0, 0]}
    out = ops.hamming_topk(emb, emb.filter(F.col("vec_id") == 0), dim=4, k=2)
    rows = {r["neighbor_id"]: r for r in out.collect()}
    assert rows[1]["hamming"] == 2 and rows[2]["hamming"] == 2
    # tie at distance 2 -> neighbor 1 ranks first
    assert rows[1]["rank"] == 1 and rows[2]["rank"] == 2


def test_ab_cuped_perfect_covariate_kills_variance(spark):
    # y = 2x exactly: theta = 2 and every adjusted value collapses to
    # the global adjusted mean -> both variants' mean_y_cuped equal
    rows = []
    for u in range(1, 21):
        rows.append((u, "2024-01-10 00:00:00", float(u)))        # pre: x = u
        rows.append((u, "2024-01-20 00:00:00", float(2 * u)))    # post: y = 2u
    ev = spark.createDataFrame(
        rows, "user_id long, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = ops.ab_cuped(ev, cutoff_ts="2024-01-15 00:00:00").collect()
    assert len(out) == 2
    thetas = {r["theta"] for r in out}
    assert thetas == {2.0}
    adj = [r["mean_y_cuped"] for r in out]
    assert adj[0] == pytest.approx(adj[1], abs=1e-6)
    assert adj[0] == pytest.approx(21.0, abs=1e-6)  # 2 * mean(x) = 2*10.5


def test_rrf_fuse_hand_scores(spark):
    r1 = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)],
        "query_id long, neighbor_id long, rank int",
    )
    r2 = spark.createDataFrame(
        [(1, 11, 1), (1, 13, 2)],
        "query_id long, neighbor_id long, rank int",
    )
    out = {r["neighbor_id"]: r for r in ops.rrf_fuse([r1, r2], k=4).collect()}
    # 11 appears in both (1/62 + 1/61) and must beat 10 (1/61 alone)
    assert out[11]["rank"] == 1 and out[10]["rank"] == 2
    assert out[11]["rrf_score"] == pytest.approx(
        round(1 / 62, 12) + round(1 / 61, 12), abs=1e-12
    )
    with pytest.raises(ValueError, match="at least one"):
        ops.rrf_fuse([])


def test_ngram_novelty_boilerplate_vs_unique(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "the quick brown fox sleeps"),   # shares 2 of its 3 shingles
            (3, "completely novel text here now"),
            (4, "tiny doc"),                      # < 3 tokens -> whole-text shingle
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in ops.ngram_novelty(docs, n=3).collect()}
    assert out[3]["novelty"] == 1.0
    assert out[4]["n_shingles"] == 1 and out[4]["novelty"] == 1.0
    # docs 1/2 share 'the quick brown' and 'quick brown fox'
    assert out[1]["n_novel"] == 1 and out[1]["n_shingles"] == 3
    assert out[1]["novelty"] == pytest.approx(1 / 3, abs=1e-6)


def test_resize_image_real_nearest_neighbor(spark):
    from graph_etl_spark.operators import multimodal as mm
    import numpy as np

    # 6x4 RGB image with known pixels, resized to 3x2: nearest
    # neighbor picks sy = y*4//2, sx = x*6//3
    w, h, c = 6, 4, 3
    yy, xx, cc = np.meshgrid(
        np.arange(h), np.arange(w), np.arange(c), indexing="ij"
    )
    px = ((yy * 50 + xx * 7 + cc) % 256).astype(np.uint8)
    payload = mm.encode_png(w, h, px.tobytes())
    df = spark.createDataFrame([(1, bytearray(payload))], "doc_id long, payload binary")
    r = mm.resize_image(df, target_width=3, target_height=2).collect()[0]
    sy = (np.arange(2) * h) // 2
    sx = (np.arange(3) * w) // 3
    out = px[sy][:, sx].astype(np.int64)
    weights = np.arange(2 * 3 * 3, dtype=np.int64).reshape(2, 3, 3) + 1
    assert r["media_type"] == "png"
    assert (r["src_width"], r["src_height"]) == (w, h)
    assert (r["width"], r["height"], r["channels"]) == (3, 2, 3)
    assert r["pixel_sum"] == int(out.sum())
    assert r["weighted_sum"] == int((out * weights).sum())
    # non-PNG payload falls back to the declared stub row
    junk = spark.createDataFrame(
        [(2, bytearray(b"not a png"))], "doc_id long, payload binary"
    )
    s = mm.resize_image(junk, target_width=3, target_height=2).collect()[0]
    assert s["media_type"] == "stub" and s["pixel_sum"] == 0
    with pytest.raises(ValueError, match="geometry"):
        mm.resize_image(df, target_width=0)


def test_survival_km_hand_curve(spark):
    # one cohort, 4 users: lifetimes 1d (churn), 2d (churn), 3d
    # (censored at corpus end), plus the anchor user defining 'now'.
    rows = [
        (1, "2024-01-01 00:00:00"), (1, "2024-01-02 00:00:00"),
        (2, "2024-01-01 00:00:00"), (2, "2024-01-03 00:00:00"),
        (3, "2024-01-01 00:00:00"), (3, "2024-01-04 00:00:00"),
        (4, "2024-01-01 00:00:00"), (4, "2024-01-04 00:00:00"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = (
        ops.survival_km(ev, churn_after_s=3600).orderBy("day").collect()
    )
    # deaths at day 1 (u1, risk 4) and day 2 (u2, risk 3); users 3/4
    # end at corpus max -> censored
    assert [(r["day"], r["at_risk"], r["churned"]) for r in out] == [
        (1, 4, 1), (2, 3, 1)
    ]
    assert out[0]["survival"] == pytest.approx(0.75, abs=1e-6)
    assert out[1]["survival"] == pytest.approx(0.75 * (2 / 3), abs=1e-6)


def test_survival_km_zero_factor_hits_exact_zero(spark):
    # both users churn on the same day: d == n -> survival exactly 0.0
    rows = [
        (1, "2024-01-01 00:00:00"), (1, "2024-01-02 00:00:00"),
        (2, "2024-01-01 00:00:00"), (2, "2024-01-02 00:00:00"),
        (9, "2024-01-20 00:00:00"),  # anchor keeps 'now' far out
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = ops.survival_km(ev, churn_after_s=3600).orderBy("day").collect()
    death = [r for r in out if r["day"] == 1][0]
    assert death["churned"] == 2 and death["at_risk"] == 2
    assert death["survival"] == 0.0


def test_cms_estimate_dominates_exact(spark):
    ev = spark.createDataFrame(
        [(i % 7,) for i in range(100)], "user_id long"
    )
    out = ops.cms_counts(ev, "user_id", depth=4, width=64).collect()
    assert len(out) == 7
    assert all(r["estimate"] >= r["exact"] for r in out)
    # width=1 forces every value into one bucket: estimate == total
    squeezed = ops.cms_counts(ev, "user_id", depth=2, width=1).collect()
    assert all(r["estimate"] == 100 for r in squeezed)
    with pytest.raises(ValueError, match="depth/width"):
        ops.cms_counts(ev, "user_id", depth=0)


def test_bloom_semi_join_no_false_negatives_keeps_duplicates(spark):
    dim = spark.createDataFrame([(i,) for i in range(1, 21)], "k long")
    # fact: every dim key twice (duplicates must survive) + misses
    fact_rows = [(i,) for i in range(1, 21)] * 2 + [
        (i,) for i in range(1000, 1200)
    ]
    fact = spark.createDataFrame(fact_rows, "fk long")
    out = ops.bloom_semi_join(fact, dim, "fk", "k", n_bits=256, n_hashes=3)
    got = out.collect()
    true_hits = [r for r in got if r["fk"] <= 20]
    assert len(true_hits) == 40  # no false negatives, multiplicity kept
    # false positives allowed but the filter must actually filter
    assert len(got) < len(fact_rows)
    assert all(r["bloom_pass"] for r in got)
    with pytest.raises(ValueError, match="n_bits"):
        ops.bloom_semi_join(fact, dim, "fk", "k", n_bits=100)


def test_dsir_weights_prefer_target_like_docs(spark):
    # target: fruit vocabulary; source doc 1 is fruit-like, doc 2 is
    # metal-like -> doc 1 must carry the higher log weight
    src = spark.createDataFrame(
        [
            (1, "apple banana cherry apple banana"),
            (2, "iron copper zinc iron copper"),
        ],
        "doc_id long, text string",
    )
    tgt = spark.createDataFrame(
        [(10, "apple banana cherry date elderberry fig")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in ops.dsir_weights(src, tgt, n_buckets=64).collect()}
    assert out[1]["log_weight"] > out[2]["log_weight"]
    assert out[1]["n_tokens"] == 5
    with pytest.raises(ValueError, match="n_buckets"):
        ops.dsir_weights(src, tgt, n_buckets=0)


def test_matryoshka_recall_full_prefix_is_perfect(spark):
    import numpy as np

    rng = [(i, [float(((i * 13 + j * 7) % 17) - 8) for j in range(8)]) for i in range(30)]
    emb = spark.createDataFrame(rng, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") < 3)
    # prefix = full dimension -> identical rankings, recall 1.0
    full = ops.matryoshka_recall(emb, q, prefix_dim=8, k=5).collect()
    assert all(r["recall"] == 1.0 for r in full)
    # tiny prefix -> recall in [0, 1], n_hits consistent
    small = ops.matryoshka_recall(emb, q, prefix_dim=2, k=5).collect()
    assert all(0.0 <= r["recall"] <= 1.0 for r in small)
    assert all(r["n_hits"] == round(r["recall"] * 5) for r in small)
    with pytest.raises(ValueError, match="prefix_dim"):
        ops.matryoshka_recall(emb, q, prefix_dim=0)


def test_rrf_fuse_rejects_single_key(spark):
    r = spark.createDataFrame([(1, 1)], "doc_id long, rank int")
    with pytest.raises(ValueError, match="query grouping"):
        ops.rrf_fuse([r], keys=["doc_id"])


def test_top_paths_hand_sequences(spark):
    rows = []
    # u1..u3 all do signup>view>purchase; u4 does view>view>view
    eid = 0
    for u in (1, 2, 3):
        for i, et in enumerate(["signup", "view", "purchase"]):
            rows.append((eid, u, f"2024-01-01 10:0{i}:00", et)); eid += 1
    for i in range(3):
        rows.append((eid, 4, f"2024-01-01 10:0{i}:00", "view")); eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = ops.top_paths(ev, depth=3, k=5).collect()
    assert (out[0]["path"], out[0]["n"]) == ("signup>view>purchase", 3)
    assert (out[1]["path"], out[1]["n"]) == ("view>view>view", 1)
    with pytest.raises(ValueError, match="depth"):
        ops.top_paths(ev, depth=1)


def test_freshness_report_staleness(spark):
    import graph_etl_spark.functions as fn

    ev = spark.createDataFrame(
        [
            ("a", "2024-01-01 00:00:00"),
            ("a", "2024-01-01 10:00:00"),
            ("b", "2024-01-01 12:00:00"),
        ],
        "src string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r["src"]: r for r in fn.freshness_report(ev, "src", "ts").collect()}
    assert out["b"]["staleness_s"] == 0
    assert out["a"]["staleness_s"] == 7200
    assert out["a"]["n_rows"] == 2
    # explicit anchor
    out2 = {
        r["src"]: r
        for r in fn.freshness_report(
            ev, "src", "ts", anchor_ts="2024-01-02 00:00:00"
        ).collect()
    }
    assert out2["b"]["staleness_s"] == 43200


def test_domain_shift_properties(spark):
    a = spark.createDataFrame(
        [(1, "apple banana cherry date")], "doc_id long, text string"
    )
    b = spark.createDataFrame(
        [(2, "iron copper zinc lead")], "doc_id long, text string"
    )
    # identical corpora -> ~0; disjoint vocab -> clearly positive,
    # bounded by ln 2
    import math
    same = ops.domain_shift(a, a, n_buckets=32).collect()[0]
    diff = ops.domain_shift(a, b, n_buckets=32).collect()[0]
    assert abs(same["js_divergence"]) < 1e-9
    assert 0.0 < diff["js_divergence"] <= math.log(2) + 1e-9
    assert diff["js_divergence"] > same["js_divergence"]
    with pytest.raises(ValueError, match="n_buckets"):
        ops.domain_shift(a, b, n_buckets=0)


def test_hamming_topk_matches_popcount_reference(spark, nan_null_vectors):
    """hamming_topk equals a Python popcount of the sign bits (bit j set
    iff component j > 0), ranked by (distance, neighbor id), self
    excluded."""
    vecs = [[float(((i * 13 + j * 7) % 17) - 8) for j in range(64)] for i in range(40)]
    emb = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<float>"
    ).repartition(6)
    q = emb.filter(F.col("vec_id") < 4)
    got = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["hamming"])
        for r in ops.hamming_topk(emb, q, dim=64, k=5).collect()
    )
    bits = [sum(1 << j for j, x in enumerate(v) if x > 0) for v in vecs]
    want = []
    for qid in range(4):
        dists = sorted(
            (bin(bits[qid] ^ bits[n]).count("1"), n) for n in range(40) if n != qid
        )
        want += [(qid, rank, n, d) for rank, (d, n) in enumerate(dists[:5], 1)]
    assert got == want

    # Spark orders NaN above every number, so a NaN component sets its
    # bit (id 4 is [1, 1]); the distance stays an integer
    df, q = nan_null_vectors
    got = ops.hamming_topk(df, q, dim=2, k=3).orderBy("rank").collect()
    assert [tuple(r) for r in got] == [(0, 1, 1, 1), (0, 3, 1, 2), (0, 4, 1, 3)]


def test_as_of_join_directions(spark):
    left = spark.createDataFrame(
        [("u", "2024-01-01 10:00:00", 1)], "k string, ts string, lid int"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [
            ("u", "2024-01-01 09:59:00", "before"),
            ("u", "2024-01-01 10:00:30", "after"),
        ],
        "k string, ts string, tag string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    back = ops.as_of_join(left, right, "k").collect()[0]
    fwd = ops.as_of_join(left, right, "k", direction="forward").collect()[0]
    near = ops.as_of_join(left, right, "k", direction="nearest").collect()[0]
    assert back["tag_right"] == "before"
    assert fwd["tag_right"] == "after"
    assert near["tag_right"] == "after"  # 30s forward beats 60s back
    # equidistant -> backward (pandas tie convention)
    right2 = spark.createDataFrame(
        [
            ("u", "2024-01-01 09:59:00", "before"),
            ("u", "2024-01-01 10:01:00", "after"),
        ],
        "k string, ts string, tag string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    near2 = ops.as_of_join(left, right2, "k", direction="nearest").collect()[0]
    assert near2["tag_right"] == "before"
    with pytest.raises(ValueError, match="direction"):
        ops.as_of_join(left, right, "k", direction="sideways")


def test_louvain_move_improves_bad_seed(spark):
    # two 4-cliques joined by one bridge; seed puts node 4 in the
    # WRONG community — one synchronized move round must pull it back
    # and modularity must strictly improve
    c1 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    c2 = [(a, b) for a in range(5, 9) for b in range(a + 1, 9)]
    edges = spark.createDataFrame(c1 + c2 + [(4, 5)], "src long, dst long")
    seed = spark.createDataFrame(
        [(i, "a" if i <= 3 else ("b" if i >= 5 else "b")) for i in range(1, 9)],
        "id long, community string",
    )  # node 4 wrongly in b
    moves = ops.louvain_move(edges, seed)
    got = {r["id"]: r for r in moves.collect()}
    assert got[4]["moved"] and got[4]["new_community"] == "a"
    new_comm = moves.select(
        F.col("id"), F.col("new_community").alias("community")
    )
    q_before = sum(r["q"] for r in ops.modularity(edges, seed).collect())
    q_after = sum(r["q"] for r in ops.modularity(edges, new_comm).collect())
    assert q_after > q_before
    # a clean partition is a fixpoint: nobody moves
    clean = spark.createDataFrame(
        [(i, "a" if i <= 4 else "b") for i in range(1, 9)],
        "id long, community string",
    )
    assert ops.louvain_move(edges, clean).filter("moved").count() == 0
    with pytest.raises(ValueError, match="empty"):
        ops.louvain_move(
            spark.createDataFrame([], "src long, dst long"), clean
        )


def test_minhash_audit_exact_on_identical_and_consistent(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),                          # identical -> J = 1.0
            (3, base + " extra tail words"),    # near-dup of 1/2
            (4, "totally different content entirely here now"),
        ],
        "doc_id long, text string",
    )
    out = ops.minhash_jaccard_audit(docs, num_perm=16, bands=8).collect()
    rows = {(r["id_a"], r["id_b"]): r for r in out}
    assert (1, 2) in rows
    ident = rows[(1, 2)]
    assert ident["est_jaccard"] == 1.0 and ident["exact_jaccard"] == 1.0
    assert ident["abs_err"] == 0.0
    for r in out:
        assert 0.0 <= r["est_jaccard"] <= 1.0
        assert 0.0 <= r["exact_jaccard"] <= 1.0
        assert r["abs_err"] == pytest.approx(
            abs(r["est_jaccard"] - r["exact_jaccard"]), abs=1e-6
        )


def test_langid_confusion_matrix(spark):
    docs = spark.createDataFrame(
        [
            (1, "the of and to in it is that", "en"),   # english stopwords
            (2, "der die und das ist nicht ein", "de"),
            (3, "xyzzy qwerty plugh", "fr"),            # no hits -> 'und'
        ],
        "doc_id long, text string, lang string",
    )
    out = {(r["label"], r["predicted"]): r for r in ops.langid_confusion(docs).collect()}
    assert out[("en", "en")]["n"] == 1 and out[("en", "en")]["correct"]
    assert out[("de", "de")]["n"] == 1
    assert not out[("fr", "und")]["correct"]


def test_tokenizer_fertility_penalizes_symbol_text(spark):
    docs = spark.createDataFrame(
        [
            (1, "plain four char word text here", "en"),
            (2, "internationalization comprehensibility", "de"),  # long words split
        ],
        "doc_id long, text string, lang string",
    )
    out = {r["lang"]: r for r in ops.tokenizer_fertility(docs).collect()}
    assert out["en"]["n_docs"] == 1 and out["en"]["n_words"] == 6
    # 'internationalization' (20 letters) -> 5 BPE-ish pieces
    assert out["de"]["fertility"] > out["en"]["fertility"]
    assert out["de"]["n_bpe_tokens"] == 10 and out["de"]["n_words"] == 2


def test_markov_steady_state_two_state_chain(spark):
    # one user cycling A A B: P(A->A)=P(A->B)=1/2, P(B->A)=1 ->
    # stationary (2/3, 1/3)
    seq = ["A", "A", "B"] * 12
    rows = [
        (i, 1, f"2024-01-01 10:{i:02d}:00", et) for i, et in enumerate(seq)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r["state"]: r for r in ops.markov_steady_state(ev, iters=30).collect()}
    assert out["A"]["stationary"] == pytest.approx(2 / 3, abs=2e-3)
    assert out["B"]["stationary"] == pytest.approx(1 / 3, abs=2e-3)
    # exact integer masses nearly conserve (floor drift only)
    total = out["A"]["stationary_micro"] + out["B"]["stationary_micro"]
    assert 10**12 - total < 1000
    with pytest.raises(ValueError, match="iters"):
        ops.markov_steady_state(ev, iters=0)
