"""Extension-operator tests on real testdata (sf0.001)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from graph_etl_spark import operators as ops
from graph_etl_spark.streaming import sessionize, windowed_event_counts


@pytest.fixture(scope="module")
def docs(spark, sf_dir=None):
    import os

    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    return spark.read.parquet(f"{sf}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    import os

    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    return spark.read.parquet(f"{sf}/embeddings.parquet").cache()


# -- dedup ---------------------------------------------------------------------


def test_exact_dedup_drops_injected_dup(spark, docs):
    dup = docs.limit(1).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    with_dup = docs.unionByName(dup)
    out = ops.exact_dedup(with_dup)
    assert out.count() == docs.count()  # injected dup collapsed
    # survivor is the lowest id
    assert out.filter(F.col("doc_id") == 1_000_000).count() == 0


def test_minhash_detects_near_dup(spark, docs):
    # a doc with one word changed is a near-dup; unrelated docs aren't
    base = docs.filter(F.col("doc_id") == 0).select("doc_id", "text")
    tweaked = base.select(
        (F.col("doc_id") + 500_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword")).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(tweaked)
    pairs = ops.minhash_lsh_pairs(corpus).collect()
    assert any(r["id_a"] == 0 and r["id_b"] == 500_000 for r in pairs)


def test_ngram_jaccard_exact(spark, docs):
    base = docs.filter(F.col("doc_id") == 0).select("doc_id", "text")
    dup = base.select((F.col("doc_id") + 1).alias("doc_id"), "text")
    pairs = ops.ngram_jaccard_pairs(base.unionByName(dup), threshold=0.99).collect()
    assert len(pairs) == 1 and pairs[0]["jaccard"] == 1.0


def test_simhash_hamming_zero_for_identical(spark, docs):
    two = docs.limit(2).select("doc_id", "text")
    dup = two.select((F.col("doc_id") + 10_000).alias("doc_id"), "text")
    pairs = ops.simhash_pairs(two.unionByName(dup), max_hamming=0).collect()
    ids = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 10_000) in ids or (1, 10_001) in ids


# -- similarity -----------------------------------------------------------------


def test_brute_force_topk_self_similarity(spark, embeddings):
    q = embeddings.filter(F.col("vec_id") < 3)
    out = ops.brute_force_topk(embeddings, q, k=5)
    rows = out.collect()
    assert len(rows) == 15  # 3 queries × k
    for r in rows:
        assert -1.0001 <= r["cos_sim"] <= 1.0001
        assert r["neighbor_id"] != r["query_id"]
    # ranks are 1..5 per query
    ranks = sorted(r["rank"] for r in rows if r["query_id"] == 0)
    assert ranks == [1, 2, 3, 4, 5]


def test_ivf_recall_vs_brute_force(spark, embeddings):
    q = embeddings.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in ops.brute_force_topk(embeddings, q, k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ops.ivf_topk(embeddings, q, k=3, nlist=4, nprobe=4).collect()
    }
    # nprobe == nlist → scans everything → recall 1.0
    assert approx == exact


def test_lsh_neardup_finds_identical_vectors(spark, embeddings):
    dup = embeddings.limit(1).select(
        (F.col("vec_id") + 90_000).alias("vec_id"), "embedding", "label"
    )
    corpus = embeddings.unionByName(dup)
    pairs = ops.lsh_bucketed_neardup_pairs(corpus, threshold=0.99)
    assert any(r["id_b"] == 90_000 and r["cos_sim"] >= 0.99 for r in pairs.collect())


# -- text -----------------------------------------------------------------------


def test_token_count_and_quality(spark, docs):
    out = ops.quality_score(ops.token_count(docs)).limit(50).collect()
    for r in out:
        assert r["n_tokens"] > 0
        assert 0 <= r["quality"] <= 1.0
        assert 0 <= r["punct_ratio"] <= 1.0


def test_lang_id_deterministic(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog is in the house"),
            (2, "le chat et la maison est une des les"),
            (3, "der hund ist ein und das mit von den zu"),
            (4, "zzz qqq xxx"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["lang_pred"] for r in ops.lang_id(df).collect()}
    assert out == {1: "en", 2: "fr", 3: "de", 4: "und"}


def test_fingerprint_order_invariant(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma alpha beta beta")], ["doc_id", "text"]
    )
    fps = [r["fingerprint"] for r in ops.fingerprint(df).collect()]
    assert fps[0] == fps[1]  # same token set → same fingerprint


# -- multimodal ------------------------------------------------------------------


def test_binary_metadata_and_stub_decode(spark):
    png = bytes.fromhex("89504E470D0A1A0A") + b"fakepngdata" * 10
    wav = b"RIFF" + b"\x00" * 50
    df = spark.createDataFrame([(1, bytearray(png)), (2, bytearray(wav))], ["doc_id", "payload"])
    meta = {r["doc_id"]: r.asDict() for r in ops.attach_binary_metadata(df).collect()}
    assert meta[1]["media_type"] == "png"
    assert meta[2]["media_type"] == "wav"
    assert meta[1]["n_bytes"] == len(png)

    decoded = ops.decode_image_stub(df).collect()
    assert len(decoded) == 2
    for r in decoded:
        assert len(r["feature"]) == 8
        assert r["width"] >= 16 and r["channels"] == 3

    frames = ops.frame_sample_plan(df, every_n_bytes=16).collect()
    assert {r["doc_id"] for r in frames} == {1, 2}
    assert max(r["frame_idx"] for r in frames) >= 1


# -- temporal / streaming ---------------------------------------------------------


def test_as_of_join(spark):
    trades = spark.createDataFrame(
        [("A", 10, 100.0), ("A", 20, 101.0), ("B", 15, 50.0)], ["sym", "ts", "px"]
    )
    quotes = spark.createDataFrame(
        [("A", 5, 99.0), ("A", 15, 100.5), ("B", 20, 49.0)], ["sym", "ts", "bid"]
    )
    out = {
        (r["sym"], r["ts"]): r["bid_right"]
        for r in ops.as_of_join(trades, quotes, on="sym").collect()
    }
    assert out[("A", 10)] == 99.0
    assert out[("A", 20)] == 100.5
    assert out[("B", 15)] is None  # no quote at/before ts=15


def test_range_join(spark):
    points = spark.createDataFrame([("A", 5), ("A", 25)], ["k", "v"])
    ranges = spark.createDataFrame([("A", 0, 10, "low"), ("A", 20, 30, "high")],
                                   ["k", "lo", "hi", "bucket"])
    out = {r["v"]: r["bucket"] for r in ops.range_join(points, ranges, "k", "v", "lo", "hi").collect()}
    assert out == {5: "low", 25: "high"}


def test_sessionize_and_windowed_counts(spark):
    import os

    from graph_etl_spark.sources import read_table

    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    events = read_table(spark, sf, "events")
    sess = sessionize(events, gap_minutes=30)
    agg = sess.groupBy("user_id").agg(F.max("session_id").alias("n_sessions")).collect()
    assert all(r["n_sessions"] >= 1 for r in agg)
    wc = windowed_event_counts(events).collect()
    assert len(wc) > 0 and all(r["n_events"] > 0 for r in wc)


def test_stream_save_nodes(spark, output_dir, tmp_path):
    import graph_etl_spark as getl

    getl.init(spark, output_folder=output_dir)
    # file-source stream over a small parquet dir
    src = str(tmp_path / "stream_src")
    spark.range(10).selectExpr("id", "concat('u', id) as name").write.parquet(src)
    stream = spark.readStream.schema("id long, name string").parquet(src)
    from graph_etl_spark.streaming import stream_save_nodes

    q = stream_save_nodes(stream, label="StreamedUser", checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(60)
    store = getl.get_store()
    files = store._configs["nodes"]["StreamedUser"]["files"]
    assert sum(f["count"] for f in files.values()) == 10


# brute_force_topk at sf0.001, queries vec_id < 10, k=5: per query the
# (neighbor_id, cos_sim) rows in rank order; query 3's 0.3197 tie
# ranks the smaller id first
_COSINE_TOP5_SF0001 = {
    0: [(17, 0.3345), (225, 0.3151), (12, 0.311), (483, 0.3005), (260, 0.2987)],
    1: [(257, 0.3918), (209, 0.3815), (129, 0.3515), (376, 0.3048), (440, 0.2993)],
    2: [(443, 0.3576), (62, 0.29), (246, 0.2898), (185, 0.2829), (91, 0.2789)],
    3: [(223, 0.3409), (205, 0.3366), (84, 0.3197), (212, 0.3197), (426, 0.3151)],
    4: [(345, 0.3749), (98, 0.3398), (143, 0.3297), (343, 0.3124), (57, 0.2987)],
    5: [(113, 0.3644), (440, 0.3093), (234, 0.3044), (298, 0.2991), (448, 0.2792)],
    6: [(141, 0.3459), (434, 0.3057), (78, 0.2941), (280, 0.2859), (467, 0.2649)],
    7: [(382, 0.3499), (466, 0.324), (209, 0.3062), (329, 0.3051), (220, 0.2994)],
    8: [(20, 0.3301), (385, 0.3266), (190, 0.3242), (231, 0.324), (132, 0.3099)],
    9: [(381, 0.3567), (107, 0.3297), (365, 0.3211), (261, 0.2797), (396, 0.2795)],
}


def test_brute_force_topk_expected_rows(spark, sf_dir, nan_null_vectors):
    """brute_force_topk returns the known sf0.001 rows, and drops the
    pairs whose cosine is NaN or NULL."""
    from graph_etl_spark import operators as ops
    from pyspark.sql import functions as F

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 10)
    got = ops.brute_force_topk(e, q, k=5).orderBy("query_id", "rank").collect()
    assert [tuple(r) for r in got] == [
        (qid, nid, sim, rank)
        for qid, rows in _COSINE_TOP5_SF0001.items()
        for rank, (nid, sim) in enumerate(rows, 1)
    ]

    df, q = nan_null_vectors
    got = ops.brute_force_topk(df, q, k=3).orderBy("query_id", "rank").collect()
    assert [tuple(r) for r in got] == [(0, 1, 0.9939, 1), (0, 2, 0.0, 2), (0, 3, -1.0, 3)]


def test_read_table_and_queries_are_conf_neutral(spark, sf_dir):
    """A host handing us its session must get it back untouched:
    read_table and every queries() callable build under scoped engine
    confs and RESTORE the host's values (VERDICT r3 item 7). The
    returned frames must still execute with engine semantics afterward
    (Spark bakes them at build time)."""
    import __spark_entry__ as em
    from pyspark.sql import functions as F

    from graph_etl_spark.sources import read_table

    host = spark.newSession()
    host.conf.set("spark.sql.ansi.enabled", "true")
    host.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        host.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    except Exception:
        pass
    keys = [
        "spark.sql.ansi.enabled",
        "spark.sql.session.timeZone",
        "spark.sql.legacy.parquet.nanosAsLong",
    ]
    before = {k: host.conf.get(k, None) for k in keys}

    df = read_table(host, sf_dir, "events")
    assert {k: host.conf.get(k, None) for k in keys} == before
    # ns-timestamp scan + UTC semantics survive execution after restore
    assert df.select(F.date_format("ts", "HH").alias("h")).limit(1).collect()

    out = em.queries()["date_funcs"](host, sf_dir)
    assert {k: host.conf.get(k, None) for k in keys} == before
    assert out.limit(3).count() >= 0


# ---------------------------------------------------------------------------
# round-7: sub-document passage dedup + unigram LM scoring
# ---------------------------------------------------------------------------


def test_passage_dedup_drops_repeated_passages(spark):
    """A passage repeated across docs survives only at its first
    corpus position (doc_id, chunk_id order); within-doc repeats are
    deduped too; unique text is untouched."""
    from graph_etl_spark.operators import passage_dedup

    shared = " ".join(f"w{i}" for i in range(4))  # one 4-token passage
    uniq_a = " ".join(f"a{i}" for i in range(4))
    uniq_b = " ".join(f"b{i}" for i in range(4))
    df = spark.createDataFrame(
        [
            (1, f"{shared} {uniq_a}"),          # first occurrence: keeps both
            (2, f"{shared} {uniq_b}"),          # shared passage dropped
            (3, f"{shared} {shared}"),          # all passages already seen
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in passage_dedup(df, passage_tokens=4).collect()
    }
    assert out[1]["n_passages"] == 2 and out[1]["n_kept"] == 2
    assert out[1]["text_kept"] == f"{shared} {uniq_a}"
    assert out[2]["n_kept"] == 1 and out[2]["text_kept"] == uniq_b
    assert out[3]["n_kept"] == 0 and out[3]["text_kept"] == ""


def test_passage_dedup_partitioning_invariant(spark):
    """Survivor choice is (doc_id, chunk_id)-ordered, not
    partition-ordered: a 1-partition and a 16-partition run agree."""
    from graph_etl_spark.operators import passage_dedup

    rows = [(i, " ".join(f"t{(i * 7 + j) % 9}" for j in range(12))) for i in range(40)]
    df1 = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
    df16 = spark.createDataFrame(rows, "doc_id long, text string").repartition(16)
    a = sorted(map(tuple, passage_dedup(df1, passage_tokens=4).collect()))
    b = sorted(map(tuple, passage_dedup(df16, passage_tokens=4).collect()))
    assert a == b


def test_unigram_logprob_known_values(spark):
    """Hand-checked corpus: 4 'a', 2 'b', 2 'c' (total 8). ln P:
    a=-0.693147, b=c=-1.386294."""
    import math

    from graph_etl_spark.operators import unigram_logprob

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a a c"), (3, "b c")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in unigram_logprob(df).collect()}
    lp_a = round(math.log(4 / 8), 6)
    lp_bc = round(math.log(2 / 8), 6)
    assert out[1]["n_tokens"] == 3
    assert out[1]["avg_logprob"] == round((2 * lp_a + lp_bc) / 3, 6)
    assert out[3]["avg_logprob"] == round(lp_bc, 6)
    # rare tokens score lower (the filtering signal)
    assert out[3]["avg_logprob"] < out[1]["avg_logprob"]


# ---------------------------------------------------------------------------
# round-7 (cont.): duplicate-span scrub
# ---------------------------------------------------------------------------


def test_dup_span_scrub_removes_later_copies(spark):
    """A 4-token span shared by three docs survives only in doc 1;
    later copies are removed at ANY offset (doc 3 carries it
    mid-document). Unique text is untouched."""
    from graph_etl_spark.operators import dup_span_scrub

    span = "w0 w1 w2 w3"
    df = spark.createDataFrame(
        [
            (1, f"{span} alpha beta"),            # first occurrence: kept whole
            (2, f"{span} gamma delta"),           # span at offset 0 removed
            (3, f"pre1 pre2 {span} post1 post2"), # span mid-doc removed
            (4, "u0 u1 u2 u3 u4"),                # no dups at all
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dup_span_scrub(df, span_tokens=4).collect()}
    assert out[1]["n_removed"] == 0 and out[1]["text_clean"] == f"{span} alpha beta"
    assert out[2]["n_removed"] == 4 and out[2]["n_dup_spans"] == 1
    assert out[2]["text_clean"] == "gamma delta"
    assert out[3]["n_removed"] == 4 and out[3]["n_dup_spans"] == 1
    assert out[3]["text_clean"] == "pre1 pre2 post1 post2"
    assert out[4]["n_removed"] == 0 and out[4]["text_clean"] == "u0 u1 u2 u3 u4"


def test_dup_span_scrub_merges_overlapping_grams(spark):
    """A duplicated run longer than span_tokens yields overlapping
    duplicated grams that coalesce into ONE merged span covering the
    whole run — n_dup_spans counts intervals, not grams."""
    from graph_etl_spark.operators import dup_span_scrub

    run = " ".join(f"r{i}" for i in range(6))  # 6-token duplicated run
    df = spark.createDataFrame(
        [(1, run), (2, f"x0 {run} x1")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dup_span_scrub(df, span_tokens=4).collect()}
    # doc 2: grams at pos 1,2,3 are dups -> covered tokens 1..8 merge to 1 span
    assert out[2]["n_dup_spans"] == 1
    assert out[2]["n_removed"] == 6
    assert out[2]["text_clean"] == "x0 x1"


def test_dup_span_scrub_short_and_empty_docs(spark):
    """Docs shorter than span_tokens produce no grams and survive
    unchanged; an empty doc yields an empty clean text, not an error."""
    from graph_etl_spark.operators import dup_span_scrub

    df = spark.createDataFrame(
        [(1, "a b"), (2, ""), (3, "a b")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dup_span_scrub(df, span_tokens=4).collect()}
    assert out[1]["text_clean"] == "a b" and out[1]["n_removed"] == 0
    assert out[2]["n_tokens"] == 0 and out[2]["text_clean"] == ""
    assert out[3]["text_clean"] == "a b"  # too short to gram -> kept


def test_dup_span_scrub_partitioning_invariant(spark):
    """First-occurrence choice is (doc_id, pos)-ordered, not
    partition-ordered: 1-partition and 16-partition runs agree."""
    from graph_etl_spark.operators import dup_span_scrub

    rows = [
        (i, " ".join(f"t{(i * 5 + j) % 7}" for j in range(15))) for i in range(30)
    ]
    df1 = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
    df16 = spark.createDataFrame(rows, "doc_id long, text string").repartition(16)
    a = sorted(map(tuple, dup_span_scrub(df1, span_tokens=4).collect()))
    b = sorted(map(tuple, dup_span_scrub(df16, span_tokens=4).collect()))
    assert a == b


def test_incremental_dedup_verdict_priority(spark):
    """Each verdict path: an index re-crawl is exact_index (even
    though it also near-matches), a within-batch dup of a kept doc is
    exact_batch, a doc sharing 3-gram shingles with an index doc but
    not its exact hash is near_index, and novel text is kept."""
    from graph_etl_spark.operators import incremental_dedup

    idx_text = " ".join(f"i{j}" for j in range(12))
    novel = " ".join(f"n{j}" for j in range(12))
    near = " ".join(f"i{j}" for j in range(12)) + " extra trailing tokens"
    index = spark.createDataFrame([(1, idx_text)], "doc_id long, text string")
    batch = spark.createDataFrame(
        [
            (10, idx_text),   # exact_index
            (11, novel),      # kept (first occurrence in batch)
            (12, novel),      # exact_batch (same hash, higher id)
            (13, near),       # near_index (shares shingles/bands with idx)
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["verdict"] for r in incremental_dedup(index, batch).collect()}
    assert out[10] == "exact_index"
    assert out[11] == "kept"
    assert out[12] == "exact_batch"
    assert out[13] == "near_index"


def test_incremental_dedup_normalized_hash(spark):
    """Exact match is over NORMALIZED text (case/whitespace folded),
    matching exact_dedup's contract."""
    from graph_etl_spark.operators import incremental_dedup

    index = spark.createDataFrame(
        [(1, "Hello   World From The Index Corpus Today")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(10, "hello world from the index corpus today")],
        "doc_id long, text string",
    )
    out = incremental_dedup(index, batch).collect()
    assert out[0]["verdict"] == "exact_index"


# ---------------------------------------------------------------------------
# round-7 (cont.): product quantization
# ---------------------------------------------------------------------------


def _pq_toy_df(spark):
    # 4-dim vectors, m=2 subspaces of dim 2; two tight groups per
    # subspace so codebooks are interpretable
    rows = [
        (0, [0.0, 0.0, 10.0, 10.0]),
        (1, [0.1, 0.1, 10.1, 10.1]),
        (2, [5.0, 5.0, 0.0, 0.0]),
        (3, [5.1, 5.1, 0.1, 0.1]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_pq_train_shape_and_carry(spark):
    from graph_etl_spark.operators import pq_train

    books = pq_train(_pq_toy_df(spark), m=2, k_codes=2, max_iter=2)
    rows = books.collect()
    assert len(rows) == 4  # m=2 x k_codes=2
    assert {(r["subspace"], r["code"]) for r in rows} == {
        (0, 0), (0, 1), (1, 0), (1, 1)
    }
    assert all(len(r["cvec"]) == 2 for r in rows)


def test_pq_train_dim_mismatch_raises(spark):
    import pytest as _pytest

    from graph_etl_spark.operators import pq_train

    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="not divisible"):
        pq_train(df, m=2, k_codes=2, max_iter=1)


def test_pq_encode_groups_agree(spark):
    """Vectors in the same tight group share codes; different groups
    get different codes (per subspace the groups are well-separated)."""
    from graph_etl_spark.operators import pq_encode, pq_train

    df = _pq_toy_df(spark)
    books = pq_train(df, m=2, k_codes=2, max_iter=2)
    enc = {r["vec_id"]: list(r["codes"]) for r in pq_encode(df, books).collect()}
    assert enc[0] == enc[1] and enc[2] == enc[3]
    assert enc[0] != enc[2]


def test_pq_adc_topk_prefers_same_group(spark):
    """ADC ranks the same-group vector first: its codes reconstruct a
    centroid right next to the query."""
    from graph_etl_spark.operators import pq_adc_topk, pq_train

    df = _pq_toy_df(spark)
    books = pq_train(df, m=2, k_codes=2, max_iter=2)
    out = pq_adc_topk(df, df.filter("vec_id = 0"), books, k=3).collect()
    assert [r["neighbor_id"] for r in out] == [1, 2, 3] or out[0]["neighbor_id"] == 1
    assert out[0]["adc_dist"] is not None  # regression: index-lambda bug gave NULLs


def test_pq_refine_subset_and_exact_order(spark):
    """Refined top-k is drawn from the ADC shortlist and ordered by
    EXACT L2 distance (same-group neighbor first, then by true dist)."""
    from graph_etl_spark.operators import pq_refine_topk, pq_train

    df = _pq_toy_df(spark)
    books = pq_train(df, m=2, k_codes=2, max_iter=2)
    out = pq_refine_topk(df, df.filter("vec_id = 0"), books, k=3, shortlist=3).collect()
    assert out[0]["neighbor_id"] == 1
    dists = [r["l2_dist"] for r in out]
    assert dists == sorted(dists)


def test_pq_train_partitioning_invariant(spark):
    from graph_etl_spark.operators import pq_train

    df = _pq_toy_df(spark)
    a = sorted(map(tuple, pq_train(df.coalesce(1), m=2, k_codes=2, max_iter=2).collect()))
    b = sorted(map(tuple, pq_train(df.repartition(8), m=2, k_codes=2, max_iter=2).collect()))
    assert a == b


# ---------------------------------------------------------------------------
# round-7 (cont.): temperature-weighted mixture sampling
# ---------------------------------------------------------------------------


def _mixture_df(spark):
    rows = []
    for i in range(90):  # big source: 90 docs x 10 tokens
        rows.append((i, "big", " ".join(f"b{i}_{j}" for j in range(10))))
    for i in range(10):  # small source: 10 docs x 10 tokens
        rows.append((100 + i, "small", " ".join(f"s{i}_{j}" for j in range(10))))
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_mixture_weights_flatten_toward_small(spark):
    """τ=0.5 up-weights the small source relative to its token share:
    weight(small) > 10% (its proportional share) and weights sum to 1."""
    from graph_etl_spark.operators import mixture_weights

    w = {r["source"]: r for r in mixture_weights(_mixture_df(spark)).collect()}
    assert abs(w["big"]["weight"] + w["small"]["weight"] - 1.0) < 1e-6
    assert w["small"]["weight"] > 0.1
    assert w["big"]["n_tokens"] == 900 and w["small"]["n_tokens"] == 100


def test_mixture_sample_rates_and_cap(spark):
    """The small source's rate exceeds the big source's (temperature
    boost); no rate exceeds 10⁶ ppm; survivors carry their rate."""
    from graph_etl_spark.operators import mixture_sample

    out = mixture_sample(_mixture_df(spark), target_permille=300)
    rates = {r["source"]: r["rate_ppm"] for r in out.select("source", "rate_ppm").distinct().collect()}
    assert rates["small"] > rates["big"]
    assert all(0 <= v <= 1_000_000 for v in rates.values())


def test_mixture_sample_partitioning_invariant(spark):
    """Hash membership: the same docs survive at any partitioning."""
    from graph_etl_spark.operators import mixture_sample

    df = _mixture_df(spark)
    a = sorted(r["doc_id"] for r in mixture_sample(df.coalesce(1)).collect())
    b = sorted(r["doc_id"] for r in mixture_sample(df.repartition(16)).collect())
    assert a == b and len(a) > 0


def test_bpe_learn_merges_hand_corpus(spark):
    """Hand-checked corpus 'aa ab aa ab aa': word 'aa' (freq 3)
    contributes pair (a,a) weight 3; 'ab' (freq 2) -> (a,b) weight 2.
    Round 1 merges (a,a) at count 3; round 2 sees words [aa] (no
    pairs) and [a,b] -> merges (a,b) at count 2."""
    from graph_etl_spark.operators import bpe_learn_merges

    df = spark.createDataFrame(
        [(1, "aa ab aa ab aa")], "doc_id long, text string"
    )
    out = {r["round"]: r for r in bpe_learn_merges(df, rounds=2).collect()}
    assert (out[1]["merge_a"], out[1]["merge_b"]) == ("a", "a")
    assert out[1]["pair_count"] == 3
    assert (out[2]["merge_a"], out[2]["merge_b"]) == ("a", "b")
    assert out[2]["pair_count"] == 2


def test_bpe_merge_count_weighted_by_word_frequency(spark):
    """Counts weight by word FREQUENCY: 'xy' appearing 3 times beats
    'zq' appearing once."""
    from graph_etl_spark.operators import bpe_learn_merges

    df = spark.createDataFrame(
        [(1, "xy xy xy zq")], "doc_id long, text string"
    )
    out = bpe_learn_merges(df, rounds=1).collect()
    assert (out[0]["merge_a"], out[0]["merge_b"]) == ("x", "y")
    assert out[0]["pair_count"] == 3


def test_bpe_learn_merges_tie_breaks_lexicographic(spark):
    """Equal-count pairs break on (a, b) ascending."""
    from graph_etl_spark.operators import bpe_learn_merges

    df = spark.createDataFrame([(1, "cd ab")], "doc_id long, text string")
    out = bpe_learn_merges(df, rounds=1).collect()
    assert (out[0]["merge_a"], out[0]["merge_b"]) == ("a", "b")


def test_ivfpq_topk_finds_tight_neighbors(spark):
    """IVF-PQ with full probing (nprobe=nlist) on the toy clustered
    corpus must surface the same-group neighbor first after refine."""
    from graph_etl_spark.operators import ivfpq_topk

    df = _pq_toy_df(spark)
    out = ivfpq_topk(
        df, df.filter("vec_id = 0"), k=2, nlist=2, nprobe=2, m=2,
        k_codes=2, shortlist=3, coarse_iter=2, pq_iter=1,
    ).collect()
    assert out[0]["neighbor_id"] == 1
    dists = [r["l2_dist"] for r in out]
    assert dists == sorted(dists) and all(d is not None for d in dists)


# ---------------------------------------------------------------------------
# round-7 (cont.): in-engine quality classifier
# ---------------------------------------------------------------------------


def test_quality_classifier_separates_dup_spam(spark):
    """Trained on the distilled gate labels, the classifier must score
    clean varied text above repetition spam."""
    from graph_etl_spark.operators import (
        quality_classifier_score,
        quality_classifier_train,
    )

    clean = [" ".join(f"w{i}_{j}" for j in range(30)) for i in range(10)]
    spam = [" ".join(["spam"] * 30) for _ in range(10)]
    rows = [(i, t) for i, t in enumerate(clean)] + [
        (100 + i, t) for i, t in enumerate(spam)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    w = quality_classifier_train(df, dim=16, iters=8, lr=4.0)
    scores = {
        r["doc_id"]: r["clf_score"]
        for r in quality_classifier_score(df, w, dim=16).collect()
    }
    avg_clean = sum(scores[i] for i in range(10)) / 10
    avg_spam = sum(scores[100 + i] for i in range(10)) / 10
    assert avg_clean > avg_spam + 0.1, (avg_clean, avg_spam)


def test_quality_classifier_partitioning_invariant(spark):
    from graph_etl_spark.operators import quality_classifier_train

    rows = [(i, " ".join(f"t{(i + j) % 9}" for j in range(20))) for i in range(40)]
    df1 = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
    df16 = spark.createDataFrame(rows, "doc_id long, text string").repartition(16)
    a = sorted(map(tuple, quality_classifier_train(df1, iters=3).collect()))
    b = sorted(map(tuple, quality_classifier_train(df16, iters=3).collect()))
    assert a == b


def test_curriculum_order_total_order_and_bands(spark):
    """Every doc gets exactly one (band, sub_bucket, train_rank) slot;
    ranks are dense 1..n per (band, sub_bucket); docs passing the
    heuristic composite land in higher bands than ones that fail its
    length gate."""
    from graph_etl_spark.operators import curriculum_order

    clean = [(i, "the quick brown foxes jumped over " +
              " ".join(f"word{i}x{j}" for j in range(24)))
             for i in range(10)]
    spam = [(100 + i, f"tiny{i} doc")  # < 10 tokens: fails the length gate
            for i in range(10)]
    df = spark.createDataFrame(clean + spam, "doc_id long, text string")
    out = curriculum_order(df, n_bands=10, sub_buckets=4).collect()
    assert len(out) == 20
    by_doc = {r["doc_id"]: r for r in out}
    avg_clean = sum(by_doc[i]["band"] for i in range(10)) / 10
    avg_spam = sum(by_doc[100 + i]["band"] for i in range(10)) / 10
    assert avg_clean > avg_spam
    # dense ranks per partition
    from collections import defaultdict
    parts = defaultdict(list)
    for r in out:
        parts[(r["band"], r["sub_bucket"])].append(r["train_rank"])
    for ranks in parts.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_curriculum_order_partitioning_invariant(spark):
    from graph_etl_spark.operators import curriculum_order

    rows = [(i, " ".join(f"t{(i * 3 + j) % 11}" for j in range(15))) for i in range(50)]
    df1 = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
    df16 = spark.createDataFrame(rows, "doc_id long, text string").repartition(16)
    a = sorted(map(tuple, curriculum_order(df1).collect()))
    b = sorted(map(tuple, curriculum_order(df16).collect()))
    assert a == b


def test_upsert_by_key_updates_win(spark):
    from graph_etl_spark.functions import upsert_by_key

    cur = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, name string, bal double",
    )
    upd = spark.createDataFrame(
        [(2, "B2", 99.0), (4, "d", 40.0)], "id long, name string, bal double"
    )
    out = {r["id"]: r for r in upsert_by_key(cur, upd, keys="id").collect()}
    assert len(out) == 4
    assert out[2]["name"] == "B2" and out[2]["bal"] == 99.0  # replaced
    assert out[1]["name"] == "a" and out[4]["name"] == "d"   # pass-through


def test_upsert_by_key_duplicate_update_keys_deterministic(spark):
    from graph_etl_spark.functions import upsert_by_key

    cur = spark.createDataFrame([(1, "old")], "id long, name string")
    upd = spark.createDataFrame([(1, "zzz"), (1, "aaa")], "id long, name string")
    out = upsert_by_key(cur, upd, keys="id").collect()
    # within the updates side: lexicographically-first non-key wins
    assert len(out) == 1 and out[0]["name"] == "aaa"


def test_hopping_counts_four_windows_per_event(spark):
    """1h window / 15m slide: one event produces exactly 4 window rows
    whose starts are 900s apart and all contain the event."""
    from graph_etl_spark.streaming import hopping_event_counts

    df = spark.createDataFrame(
        [(1, "2024-01-01 10:07:00", "click", 1.0)],
        "event_id long, ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = sorted(r["window_start"] for r in hopping_event_counts(df).collect())
    assert len(out) == 4
    assert all(b - a == 900 for a, b in zip(out, out[1:]))
    import datetime as dt
    t = int(dt.datetime(2024, 1, 1, 10, 7, tzinfo=dt.timezone.utc).timestamp())
    assert all(ws <= t < ws + 3600 for ws in out)


def test_fuzzy_pairs_blocking_and_verify(spark):
    from graph_etl_spark.operators import fuzzy_pairs

    df = spark.createDataFrame(
        [(1, "blue bolt"), (2, "blue bolts"), (3, "red widget"),
         (4, "red midget"), (5, "totally different")],
        "id long, name string",
    )
    out = {(r["name_a"], r["name_b"]): r["edit_dist"]
           for r in fuzzy_pairs(df, col="name", max_dist=2).collect()}
    assert out[("blue bolt", "blue bolts")] == 1
    assert out[("red midget", "red widget")] == 1
    assert all("totally different" not in k for pair in out for k in pair)


def test_fuzzy_pairs_stop_gram_cap(spark):
    """max_df drops ubiquitous q-grams: with every name sharing the
    'aaa' prefix gram, cap=1 removes it from blocking, and pairs that
    ONLY shared that gram disappear (candidate semantics)."""
    from graph_etl_spark.operators import fuzzy_pairs

    df = spark.createDataFrame(
        [(1, "aaax"), (2, "aaay"), (3, "aaaz")], "id long, name string"
    )
    assert fuzzy_pairs(df, col="name", max_dist=1).count() == 3
    assert fuzzy_pairs(df, col="name", max_dist=1, max_df=1).count() == 0


def test_profile_table_stats(spark):
    from graph_etl_spark.operators import profile_table

    df = spark.createDataFrame(
        [(1, 10.0, "ab"), (2, None, "abcd"), (3, 30.0, None)],
        "id long, val double, s string",
    )
    out = {r["column"]: r for r in profile_table(df).collect()}
    assert out["val"]["n_nulls"] == 1 and out["val"]["n_distinct"] == 2
    assert out["val"]["min_val"] == 10.0 and out["val"]["max_val"] == 30.0
    assert out["val"]["avg_val"] == 20.0
    assert out["s"]["kind"] == "string_len"
    assert out["s"]["min_val"] == 2.0 and out["s"]["max_val"] == 4.0
    assert out["id"]["n_nulls"] == 0 and out["id"]["n_distinct"] == 3


def test_profile_table_fast_matches_exact(spark):
    """The default single-scan profile agrees with the exact per-column
    form on every exact field; HLL distincts are exact at these
    cardinalities (well under the sketch's dense threshold)."""
    from graph_etl_spark.operators import profile_table

    df = spark.createDataFrame(
        [(i, float(i % 7), f"s{i % 11}") for i in range(200)]
        + [(200, None, None)],
        "id long, val double, s string",
    )
    fast = {r["column"]: r.asDict() for r in profile_table(df).collect()}
    exact = {
        r["column"]: r.asDict()
        for r in profile_table(df, exact_distinct=True).collect()
    }
    assert fast == exact


def test_bigram_logprob_rewards_predictable_sequences(spark):
    """A doc of a frequent fixed bigram chain scores higher than one
    shuffling the same tokens unpredictably."""
    from graph_etl_spark.operators import bigram_logprob

    predictable = " ".join(["a b"] * 10)       # b always follows a
    shuffled = "a a b b a b b a a b a b a b b a a b b a"
    df = spark.createDataFrame(
        [(1, predictable), (2, shuffled)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in bigram_logprob(df).collect()}
    assert out[1]["n_tokens"] == 20 and out[2]["n_tokens"] == 20
    assert out[1]["avg_logprob"] > out[2]["avg_logprob"]


def test_bigram_logprob_partitioning_invariant(spark):
    from graph_etl_spark.operators import bigram_logprob

    rows = [(i, " ".join(f"t{(i + j) % 5}" for j in range(12))) for i in range(30)]
    df1 = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
    df16 = spark.createDataFrame(rows, "doc_id long, text string").repartition(16)
    a = sorted(map(tuple, bigram_logprob(df1).collect()))
    b = sorted(map(tuple, bigram_logprob(df16).collect()))
    assert a == b


def test_trigram_perplexity_separates_tails(spark):
    """A repeating trigram chain scores far lower perplexity than
    all-unique gibberish — the high tail a CCNet-style filter trims.
    (Cross-doc ordering of in-between 'natural' text is corpus-
    dependent at 3-doc scale, so only the robust extremes assert.)"""
    import math

    from graph_etl_spark.operators import trigram_perplexity

    formulaic = " ".join(["the quick brown fox"] * 8)
    # unique tokens: no n-gram support beyond self-counts
    gibberish = " ".join(f"zx{i}q" for i in range(32))
    natural = "the quick fox ran over the brown fence and the fox slept"
    df = spark.createDataFrame(
        [(1, formulaic), (2, natural), (3, gibberish)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in trigram_perplexity(df).collect()}
    # self-trained mode: only the exp identity is robust (the docstring's
    # documented failure mode — singleton sequences are perfectly
    # predicted, so unique gibberish can score LOW here)
    for r in out.values():
        assert abs(r["ppl"] - math.exp(-r["avg_logprob"])) < 1e-3
    # CCNet train/score split: under a reference model OOV gibberish
    # sits far above in-distribution text (self-training would hide it)
    train = df.filter(F.col("doc_id") != 3)
    ref = {r["doc_id"]: r for r in trigram_perplexity(df, train_df=train).collect()}
    assert ref[3]["ppl"] > 2 * ref[1]["ppl"]
    assert ref[3]["ppl"] > ref[2]["ppl"]


def test_trigram_perplexity_partitioning_invariant(spark):
    from graph_etl_spark.operators import trigram_perplexity

    rows = [(i, " ".join(f"t{(i + j) % 5}" for j in range(12))) for i in range(30)]
    df1 = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
    df16 = spark.createDataFrame(rows, "doc_id long, text string").repartition(16)
    a = sorted(map(tuple, trigram_perplexity(df1).collect()))
    b = sorted(map(tuple, trigram_perplexity(df16).collect()))
    assert a == b


def test_ppl_band_filter_modes(spark):
    from graph_etl_spark.operators import ppl_band_filter

    scored = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 21)], "doc_id long, ppl double"
    )
    # literal mode: pure filter
    lit = ppl_band_filter(scored, lo_ppl=5.0, hi_ppl=15.0)
    assert sorted(r["doc_id"] for r in lit.collect()) == list(range(5, 16))
    # rank mode: drop lowest 10% and highest 20% of 20 rows -> ranks 3..16
    band = ppl_band_filter(scored, lo_permille=100, hi_permille=800)
    assert sorted(r["doc_id"] for r in band.collect()) == list(range(3, 17))


def test_bpe_encode_applies_learned_merges(spark):
    """Encoding under learned rules shrinks the symbol count by the
    merged pairs, and an un-merged corpus round-trips to characters."""
    from graph_etl_spark.operators import bpe_encode, bpe_learn_merges

    df = spark.createDataFrame(
        [(1, "abab abab"), (2, "ab cd")], "doc_id long, text string"
    )
    merges = bpe_learn_merges(df, rounds=2)
    out = {r["doc_id"]: r for r in bpe_encode(df, merges).collect()}
    # rules learned: (a,b) -> ab (count 5), then (ab,ab) -> abab (2)
    rules = [(r["merge_a"], r["merge_b"]) for r in merges.collect()]
    assert rules[0] == ("a", "b")
    # doc1: each 'abab' word merges to (ab, ab) — the round-1 replace
    # consumes the seam separator, round 2 re-merges the second pair
    assert out[1]["n_words"] == 2 and out[1]["n_symbols"] == 4
    assert out[1]["encoded"] == "ab ab ab ab"
    # doc2: 'ab' merges, 'cd' stays chars
    assert out[2]["encoded"] == "ab c d"
    # no rules: every word splits to characters
    empty = merges.filter("round < 0")
    out0 = {r["doc_id"]: r for r in bpe_encode(df, empty).collect()}
    assert out0[2]["encoded"] == "a b c d"
    assert out0[1]["n_symbols"] == 8


def test_random_projection_shape_and_determinism(spark, embeddings):
    from graph_etl_spark.operators import random_projection

    out = random_projection(embeddings, out_dim=8)
    rows = out.limit(5).collect()
    assert all(len(r["proj"]) == 8 for r in rows)
    # deterministic: same input -> identical projection on re-run
    again = {r["vec_id"]: r["proj"] for r in random_projection(embeddings, out_dim=8).limit(5).collect()}
    for r in rows:
        assert again[r["vec_id"]] == r["proj"]
    # a scaled vector projects to the scaled projection (linearity)
    one = embeddings.limit(1)
    doubled = one.select(
        "vec_id", F.transform("embedding", lambda x: x * 2.0).alias("embedding")
    )
    p1 = random_projection(one, out_dim=4).collect()[0]["proj"]
    p2 = random_projection(doubled, out_dim=4).collect()[0]["proj"]
    for a, b in zip(p1, p2):
        assert abs(b - 2 * a) < 1e-4


def test_bm25_ranks_term_dense_docs_first(spark):
    from graph_etl_spark.operators import bm25_rank

    df = spark.createDataFrame(
        [
            (1, "spark spark spark fast"),
            (2, "spark slow"),
            (3, "nothing relevant here"),
            (4, "spark is ok but this document is much longer than the rest of them"),
        ],
        "doc_id long, text string",
    )
    out = bm25_rank(df, ["spark"], k=10).collect()
    ranked = [r["doc_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked[0] == 1            # highest tf, short doc
    assert 3 not in ranked           # no match -> excluded
    assert len(ranked) == 3
    # empty query -> empty result
    assert bm25_rank(df, [], k=5).count() == 0


def test_kcore_peels_low_degree_shell(spark):
    from graph_etl_spark.operators import kcore

    # triangle (1,2,3) fully connected + pendant chain 3-4-5
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    core2 = {r["id"]: r["degree"] for r in kcore(edges, k=2).collect()}
    assert set(core2) == {1, 2, 3}          # chain peels away
    assert all(d == 2 for d in core2.values())
    assert kcore(edges, k=3).count() == 0   # no 3-core in a triangle
    # self-loops and duplicate/reversed edges must not inflate degrees
    noisy = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (1, 3), (3, 3)], "src long, dst long"
    )
    assert {r["id"] for r in kcore(noisy, k=2).collect()} == {1, 2, 3}


def test_dataset_split_partition_properties(spark):
    from graph_etl_spark.operators import dataset_split

    df = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    out = dataset_split(df)
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 2000          # total partition
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    # membership invariant under repartitioning
    a = {(r["doc_id"], r["split"]) for r in out.collect()}
    b = {(r["doc_id"], r["split"]) for r in dataset_split(df.repartition(16)).collect()}
    assert a == b
    import pytest as _pytest
    with _pytest.raises(ValueError):
        dataset_split(df, ratios_permille={"train": 500, "test": 400})


def test_url_dedup_collapses_variants(spark):
    from graph_etl_spark.operators import url_dedup

    df = spark.createDataFrame(
        [
            (1, "https://Example.com/Page"),
            (2, "http://www.example.com/page/"),
            (3, "example.com/page#section"),
            (4, "https://other.org/x"),
        ],
        "doc_id long, url string",
    )
    out = {r["doc_id"]: r["canonical_url"] for r in url_dedup(df).collect()}
    assert set(out) == {1, 4}                    # lowest id survives per page
    assert out[1] == "example.com/page"
    assert out[4] == "other.org/x"


def test_normalize_text_chain(spark):
    from graph_etl_spark.operators import normalize_text

    df = spark.createDataFrame(
        [(1, "  Héllo\tWörld  "), (2, "naïve\x07 CAFÉ"), (3, "a  b\n\nc")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["text_norm"] for r in normalize_text(df).collect()}
    assert out[1] == "hello world"
    assert out[2] == "naive cafe"
    assert out[3] == "a b c"


def test_funnel_counts_order_semantics(spark):
    from graph_etl_spark.operators import funnel_counts

    rows = [
        # u1 completes A->B->C in order
        (1, 10, "A"), (1, 20, "B"), (1, 30, "C"),
        # u2 has B BEFORE A: reaches step 1 only
        (2, 20, "B"), (2, 30, "A"),
        # u3 completes A->B, C missing
        (3, 5, "A"), (3, 6, "B"),
    ]
    e = spark.createDataFrame(
        [(u, __import__("datetime").datetime(2024, 1, 1, 0, 0, t), et) for u, t, et in rows],
        "user_id long, ts timestamp, event_type string",
    )
    out = {r["step"]: r["n_users"] for r in funnel_counts(e, ["A", "B", "C"]).collect()}
    assert out == {1: 3, 2: 2, 3: 1}


def test_retention_cohorts_triangle(spark):
    import datetime

    from graph_etl_spark.operators import retention_cohorts

    day = lambda d: datetime.datetime(1970, 1, 1) + datetime.timedelta(days=d)
    rows = [(1, day(0)), (1, day(8)), (2, day(0)), (3, day(8)), (3, day(15))]
    e = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {
        (r["cohort_period"], r["period_offset"]): r["n_users"]
        for r in retention_cohorts(e, period_days=7).collect()
    }
    assert out[(0, 0)] == 2      # cohort week 0: users 1,2
    assert out[(0, 1)] == 1      # user 1 returns in week 1
    assert out[(1, 0)] == 1 and out[(1, 1)] == 1  # user 3 cohort week 1


def test_frequent_pairs_within_basket_only(spark):
    from graph_etl_spark.operators import frequent_pairs

    df = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "x"), (2, "y"), (3, "x"), (3, "z"), (3, "x")],
        "basket long, item string",
    )
    out = {(r["item_a"], r["item_b"]): r["support"]
           for r in frequent_pairs(df, "basket", "item", min_support=2).collect()}
    assert out == {("x", "y"): 2}     # (x,z) support 1; duplicate item rows don't inflate


def test_check_expectations_kinds(spark):
    from graph_etl_spark.operators import check_expectations

    df = spark.createDataFrame(
        [(1, 5.0, "a@x.io"), (2, -1.0, "bad"), (2, 50.0, None), (None, 3.0, "c@y.io")],
        "id long, val double, email string",
    )
    out = {
        (r["column"], r["kind"]): r
        for r in check_expectations(
            df,
            [
                {"col": "id", "kind": "not_null"},
                {"col": "id", "kind": "unique"},
                {"col": "val", "kind": "min", "value": 0},
                {"col": "val", "kind": "max", "value": 10},
                {"col": "id", "kind": "in_set", "values": [1, 2]},
                {"col": "email", "kind": "matches",
                 "pattern": "^[a-z]+@[a-z]+[.][a-z]+$"},
            ],
        ).collect()
    }
    assert out[("id", "not_null")]["n_violations"] == 1
    assert out[("id", "unique")]["n_violations"] == 1      # one duplicate of 2
    assert out[("val", "min")]["n_violations"] == 1        # -1.0
    assert out[("val", "max")]["n_violations"] == 1        # 50.0
    assert out[("id", "in_set")]["n_violations"] == 0      # NULL not counted
    assert out[("email", "matches")]["n_violations"] == 1  # 'bad'
    assert not out[("val", "min")]["passed"]
    import pytest as _pytest
    with _pytest.raises(ValueError):
        check_expectations(df, [{"col": "id", "kind": "nope"}])
