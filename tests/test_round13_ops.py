"""Round-13 additions: Louvain phase 2 (contraction + two-level),
weighted louvain_move, the guarded CDC production twin, plus ADVICE
regression fixes (assortativity reversed-orientation dedup,
timestamp-granularity-proof cohort bucketing, image_ahash id_col
schema).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F

from graph_etl_spark import operators as ops

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _two_triangles(spark):
    """Two triangles joined by one bridge edge — the textbook
    two-community graph."""
    return spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src long, dst long",
    )


def test_louvain_coarsen_weights_and_self_loops(spark):
    """Contraction under an A/B split of the two-triangle graph: 3
    inner edges each side become self-loops, the bridge a weight-1
    cross edge; canonical c_src <= c_dst."""
    comm = spark.createDataFrame(
        [(1, "A"), (2, "A"), (3, "A"), (4, "B"), (5, "B"), (6, "B")],
        "id long, community string",
    )
    got = sorted(
        (r["c_src"], r["c_dst"], r["weight"])
        for r in ops.louvain_coarsen(_two_triangles(spark), comm).collect()
    )
    assert got == [("A", "A", 3), ("A", "B", 1), ("B", "B", 3)]


def test_louvain_coarsen_unlabeled_endpoint_is_singleton(spark):
    """An endpoint missing from the labeling keeps its own id (cast to
    the community type) as a singleton community."""
    edges = spark.createDataFrame([(1, 9), (1, 2)], "src long, dst long")
    comm = spark.createDataFrame(
        [(1, "A"), (2, "A")], "id long, community string"
    )
    got = sorted(
        (r["c_src"], r["c_dst"], r["weight"])
        for r in ops.louvain_coarsen(edges, comm).collect()
    )
    assert got == [("9", "A", 1), ("A", "A", 1)]


def test_louvain_move_weighted_matches_expanded_multigraph(spark):
    """Integer-weighted louvain_move must equal the unweighted move on
    the edge list with every edge repeated weight times (the
    multigraph it abbreviates)."""
    wedges = spark.createDataFrame(
        [("A", "A", 3), ("A", "B", 1), ("B", "B", 3), ("B", "C", 2)],
        "src string, dst string, w long",
    )
    expanded = spark.createDataFrame(
        [("A", "A")] * 3 + [("A", "B")] + [("B", "B")] * 3 + [("B", "C")] * 2,
        "src string, dst string",
    )
    seed = spark.createDataFrame(
        [("A", "A"), ("B", "B"), ("C", "C")], "id string, community string"
    )
    got_w = sorted(
        tuple(r)
        for r in ops.louvain_move(wedges, seed, weight_col="w").collect()
    )
    got_x = sorted(
        tuple(r) for r in ops.louvain_move(expanded, seed).collect()
    )
    assert got_w == got_x


def test_louvain_two_level_recovers_triangles_from_singletons(spark):
    """move -> contract -> move from singleton seeds must land each
    triangle in one community (phase 1 alone can stall here — the
    coarse-level merge is phase 2's whole point)."""
    seed = spark.createDataFrame(
        [(i, i) for i in range(1, 7)], "id long, community long"
    )
    got = {
        r["id"]: r["community"]
        for r in ops.louvain_two_level(
            _two_triangles(spark), seed, rounds1=3, rounds2=2
        ).collect()
    }
    assert len(got) == 6
    assert len({got[1], got[2], got[3]}) == 1
    assert len({got[4], got[5], got[6]}) == 1
    assert got[1] != got[4]


def test_assortativity_reversed_orientation_dedup(spark):
    """ADVICE r12: an input carrying both (a,b) and (b,a) must count
    the edge once — identical r to the canonical single-orientation
    input."""
    canon = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    both = canon.unionByName(
        canon.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    r1 = ops.degree_assortativity(canon).collect()[0]
    r2 = ops.degree_assortativity(both).collect()[0]
    assert tuple(r1) == tuple(r2)
    assert r1["m_edges"] == 3


def test_cohort_buckets_exact_at_microsecond_granularity(spark):
    """ADVICE r12: bucketing rides unix_micros integer division, so
    a microsecond before a 7-day boundary stays in the earlier period
    and the boundary instant opens the next one."""
    day7 = 7 * 86400
    rows = [
        (1, day7 * 1_000_000 - 1),  # 1 us before period 1
        (1, day7 * 1_000_000),  # exactly period 1
        (2, 0),
    ]
    df = spark.createDataFrame(rows, "user_id long, us long").select(
        "user_id", F.timestamp_micros(F.col("us")).alias("ts")
    )
    got = sorted(
        (r["cohort_period"], r["period_offset"], r["n_users"])
        for r in ops.retention_cohorts(df).collect()
    )
    assert got == [(0, 0, 2), (0, 1, 1)]


def test_image_ahash_preserves_custom_id_col(spark):
    """ADVICE r12: a custom id_col must come back under its own name,
    not renamed to doc_id."""
    from graph_etl_spark.operators.multimodal import synth_png_column

    df = synth_png_column(
        spark.range(3).select(F.col("id").alias("img_id")), id_col="img_id"
    )
    out = ops.image_ahash(df, bin_col="payload", id_col="img_id")
    assert out.columns[0] == "img_id"
    assert out.count() == 3


def _docs(spark, n=40):
    return (
        spark.read.parquet(f"{SF}/documents.parquet")
        .limit(n)
        .select("doc_id", "text")
    )


def test_cdc_guarded_twin_matches_batch_when_guard_free(spark):
    """VERDICT r12 #6: with a guard that never binds (``min_tokens=1``,
    no cap), the guarded pass must be ROW-IDENTICAL to the declarative
    window path on real docs."""
    docs = _docs(spark)
    batch = sorted(map(tuple, ops.cdc_chunk_hashes(docs).collect()))
    twin = sorted(map(tuple, ops.cdc_chunk_hashes(docs, min_tokens=1).collect()))
    assert batch == twin and len(batch) > 0


def test_cdc_guarded_twin_boundary_shift(spark):
    """Prefix edits shift POSITIONS, not chunk identity: prepending
    tokens to every doc must keep the great majority of guarded chunk
    hashes intact (the streaming-twin style fixture check)."""
    docs = _docs(spark)
    shifted = docs.select(
        "doc_id", F.concat(F.lit("zq zz "), F.col("text")).alias("text")
    )
    kw = dict(min_tokens=4, max_tokens=32)
    a = ops.cdc_chunk_hashes(docs, **kw).select("chunk_hash")
    b = ops.cdc_chunk_hashes(shifted, **kw).select("chunk_hash")
    na = a.count()
    shared = a.intersect(b).count()
    assert shared >= 0.6 * a.distinct().count(), (shared, na)


def test_cdc_guards_bound_chunk_lengths(spark):
    """min/max guards must bound every chunk length except the
    trailing runt of each doc (standard CDC convention), and kill the
    1-token-chunk tail on an adversarial all-boundaries corpus."""
    docs = _docs(spark)
    mn, mx = 4, 24
    chunks = ops.cdc_chunk_hashes(docs, min_tokens=mn, max_tokens=mx)
    w = F.max("chunk_idx").over(Window.partitionBy("doc_id"))
    rows = chunks.withColumn("__last", F.col("chunk_idx") == w).collect()
    for r in rows:
        assert r["n_tokens"] <= mx, r
        if not r["__last"]:
            assert r["n_tokens"] >= mn, r
    # adversarial: every window hashes to a boundary with mask_bits
    # such that... emulate via a repeated single token: either way the
    # guard must force all non-trailing chunks into [mn, mx]
    adv = spark.createDataFrame(
        [(1, " ".join(["tok"] * 120))], "doc_id long, text string"
    )
    advrows = ops.cdc_chunk_hashes(
        adv, min_tokens=mn, max_tokens=mx
    ).collect()
    lens = sorted(r["n_tokens"] for r in advrows)
    assert sum(lens) == 120
    assert all(ln <= mx for ln in lens)
    assert sum(1 for ln in lens if ln < mn) <= 1


def test_cdc_guarded_report_plumbs_through(spark):
    got = ops.cdc_dedup_report(_docs(spark, 20), min_tokens=2, max_tokens=32)
    rows = got.collect()
    assert len(rows) == 20
    assert all(r["n_chunks"] >= 1 for r in rows)


def test_ktruss_k4_keeps_only_the_clique(spark):
    """K4 + a pendant triangle: every K4 edge closes 2 triangles
    in-subgraph (survives k=4); the pendant triangle's edges close
    only 1 and peel away — including triangle edges that were
    supported only through peeled edges."""
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
         (4, 5), (5, 6), (4, 6)],
        "src long, dst long",
    )
    got = sorted(tuple(r) for r in ops.ktruss(edges, k=4).collect())
    assert got == [
        (1, 2, 2), (1, 3, 2), (1, 4, 2),
        (2, 3, 2), (2, 4, 2), (3, 4, 2),
    ]
    # k=3: both the clique and the pendant triangle survive
    got3 = {(r["u"], r["v"]) for r in ops.ktruss(edges, k=3).collect()}
    assert got3 == {(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
                    (4, 5), (5, 6), (4, 6)}


def test_gopher_rules_flags(spark):
    """Each rule trips on its crafted violator; a clean doc admits."""
    good = "the quick brown fox and the lazy dog have come to rest " \
           "with many other animals that be of sound mind " + \
           " ".join(f"word{i}" for i in range(40))
    short = "the cat and the hat be of with that have"
    symbols = "the and of be " + "# " * 30 + " ".join(f"w{i}" for i in range(30))
    nonalpha = "the and of be that have to with " + " ".join("123" for _ in range(60))
    df = spark.createDataFrame(
        [(1, good), (2, short), (3, symbols), (4, nonalpha)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in ops.gopher_rules(df, min_words=50).collect()}
    assert got[1]["admitted"], got[1]
    assert not got[2]["ok_word_count"]
    assert not got[3]["ok_symbol_ratio"]
    assert not got[4]["ok_alpha_words"]
    assert got[2]["ok_req_stopwords"] and got[2]["n_req_stopwords"] >= 2


def test_hll_union_merge_deduplicates_overlap(spark):
    """Three groups sharing the same 200 values: the union estimate
    must track 200 (not 600) — the merge IS deduplication; and the
    union estimate equals hll_distinct run on the concatenated corpus
    (merge == rebuild, the mergeability property)."""
    rows = [(g, v) for g in ("a", "b", "c") for v in range(200)]
    df = spark.createDataFrame(rows, "g string, v long")
    u = ops.hll_union(df, "g", "v", p=6).collect()[0]
    assert u["n_groups"] == 3 and u["exact_union"] == 200
    assert u["sum_group_exact"] == 600
    assert abs(u["hll_union_estimate"] - 200) / 200 < 0.25
    single = ops.hll_distinct(
        df.withColumn("g", F.lit("all")), "g", "v", p=6
    ).collect()[0]
    assert u["hll_union_estimate"] == single["hll_estimate"]


def test_char_entropy_bounds(spark):
    """Uniform single-char doc -> 0 bits; a doc of k equiprobable
    chars -> log2(k) bits."""
    df = spark.createDataFrame(
        [(1, "aaaaaaaa"), (2, "abababab"), (3, "abcdabcd")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in ops.char_entropy(df).collect()}
    assert got[1]["entropy_bits"] == 0.0
    assert got[2]["entropy_bits"] == pytest.approx(1.0, abs=1e-5)
    assert got[3]["entropy_bits"] == pytest.approx(2.0, abs=1e-5)
    assert got[3]["n_unique_chars"] == 4


def test_prefix_suffix_overlap_detects_seam_only(spark):
    """a's suffix == b's prefix -> (a, b); no reverse pair, no pair
    for sub-k docs, and a doc never pairs with itself."""
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),
            (2, "c d e f g h i j k l"),
            (3, "short doc"),
            (4, "c d e f g h i j"),  # exactly the 8-token prefix too
        ],
        "doc_id long, text string",
    )
    got = sorted((r["id_a"], r["id_b"]) for r in
                 ops.prefix_suffix_overlap(df, k=8).collect())
    assert got == [(1, 2), (1, 4), (4, 2)]


def test_k_anonymity_census(spark):
    df = spark.createDataFrame(
        [("10001", "a"), ("10001", "a"), ("10001", "a"),
         ("10002", "b"), ("10002", None)],
        "zip string, seg string",
    )
    got = {
        (r["zip"], r["seg"]): (r["n_rows"], r["violates"])
        for r in ops.k_anonymity(df, ["zip", "seg"], k=3).collect()
    }
    assert got[("10001", "a")] == (3, False)
    assert got[("10002", "b")] == (1, True)
    assert got[("10002", None)] == (1, True), "NULL is its own cell"


def test_cohen_kappa_known_values(spark):
    """Perfect agreement -> kappa 1; the classic 2x2 example checks
    the chance correction (po=0.7, pe=0.5 -> kappa 0.4)."""
    perfect = spark.createDataFrame(
        [("x", "x"), ("y", "y")] * 5, "a string, b string"
    )
    assert ops.cohen_kappa(perfect, "a", "b").collect()[0]["kappa"] == 1.0
    rows = (
        [("p", "p")] * 4 + [("n", "n")] * 3
        + [("p", "n")] * 1 + [("n", "p")] * 2
    )
    df = spark.createDataFrame(rows, "a string, b string")
    r = ops.cohen_kappa(df, "a", "b").collect()[0]
    assert r["po"] == 0.7 and r["pe"] == 0.5 and r["kappa"] == 0.4
    # both raters constant -> pe = 1 -> NULL kappa (degenerate)
    const = spark.createDataFrame([("x", "x")] * 3, "a string, b string")
    assert ops.cohen_kappa(const, "a", "b").collect()[0]["kappa"] is None


def test_token_budget_fill_boundary(spark):
    """Admission = cumulative BEFORE under budget: the crossing doc is
    admitted, everything after it is not; determinism across reruns."""
    docs = spark.createDataFrame(
        [(i, "s", " ".join(["t"] * 10)) for i in range(10)],
        "doc_id long, source string, text string",
    )
    out = ops.token_budget_fill(docs, budget_tokens=35).collect()
    admitted = [r for r in out if r["admitted"]]
    tot = sum(r["n_tokens"] for r in admitted)
    assert tot == 40, "crossing doc admitted -> 4 docs x 10 tokens"
    rerun = ops.token_budget_fill(docs, budget_tokens=35).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, rerun))


def test_ab_srm_balanced_vs_forced(spark):
    """A forced 90/10 split must flag; the chi2 formula is exact on
    known counts."""
    ev = spark.createDataFrame(
        [(i,) for i in range(1000)], "user_id long"
    )
    r = ops.ab_srm_check(ev).collect()[0]
    assert r["n_users"] == 1000
    assert r["n_control"] + r["n_treatment"] == 1000
    na = r["n_control"]
    exp_chi2 = round((na - 500.0) ** 2 / 500.0 * 2, 6)
    assert r["chi2"] == pytest.approx(exp_chi2, abs=1e-6)


def test_closeness_path_graph(spark):
    """Path 1-2-3-4-5 from seeds {1, 3}: H(1) = 1 + 1/2 + 1/3 + 1/4,
    H(3) = 1 + 1 + 1/2 + 1/2; an isolated seed scores 0."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,), (3,), (99,)], "id long")
    got = {r["id"]: r for r in
           ops.closeness_sample(edges, seeds, max_hops=4).collect()}
    assert got[1]["n_reached"] == 4
    assert got[1]["harmonic_closeness"] == pytest.approx(
        1 + 0.5 + 0.333333 + 0.25, abs=1e-6
    )
    assert got[3]["harmonic_closeness"] == pytest.approx(3.0, abs=1e-6)
    assert got[99]["n_reached"] == 0
    assert got[99]["harmonic_closeness"] == 0.0


def test_vocab_overlap_exact_jaccard(spark):
    df = spark.createDataFrame(
        [("a", "x y z"), ("a", "x q"), ("b", "x y w"), ("c", "p p")],
        "source string, text string",
    )
    got = {
        (r["group_a"], r["group_b"]): r
        for r in ops.vocab_overlap(df, "source").collect()
    }
    # V_a = {x,y,z,q}, V_b = {x,y,w}, shared {x,y} -> 2/5
    r = got[("a", "b")]
    assert (r["vocab_a"], r["vocab_b"], r["n_shared"]) == (4, 3, 2)
    assert r["jaccard"] == 0.4
    # c shares nothing -> no rows with c
    assert not any("c" in k for k in got)


def test_bot_users_flags_metronome(spark):
    rows = [(1, f"2024-01-01 00:{m:02d}:00") for m in range(0, 40, 5)]
    rows += [(2, "2024-01-01 00:00:00"), (2, "2024-01-01 00:00:03"),
             (2, "2024-01-01 00:10:00"), (2, "2024-01-01 02:00:00"),
             (2, "2024-01-01 02:00:01"), (2, "2024-01-01 09:00:00")]
    df = spark.createDataFrame(rows, "user_id long, ts string").selectExpr(
        "user_id", "CAST(ts AS TIMESTAMP) AS ts"
    )
    got = {r["user_id"]: r for r in ops.bot_users(df).collect()}
    assert got[1]["is_bot"] is True, "metronomic 5-min cadence flags"
    assert got[2]["is_bot"] is False, "bursty human stream passes"


def test_ivf_recall_curve_monotone_and_floors(spark):
    import graph_etl_spark.operators as o

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 10)
    got = {r["nprobe"]: r for r in o.ivf_recall_curve(
        e, q, k=5, nlist=8, nprobes=[1, 2, 4], floors=[0.2, 0.2, 0.2]
    ).collect()}
    assert all(got[n]["monotone_ok"] for n in (1, 2, 4))
    assert all(got[n]["recall_floor_ok"] for n in (1, 2, 4))
    with pytest.raises(ValueError):
        o.ivf_recall_curve(e, q, nprobes=[1, 2], floors=[0.5])
