"""Round-17 additions: fuzzy audio/video near-dup pairs (VERDICT r16
#2 — the cross-modal dedup matrix completed), the tokenizer-aware
sequence-cost audit (VERDICT r16 #7), and the code-review r16 fixes
(clip filter NaN-keep, packed_max_by domain guard, embedding_outliers
input pinning)."""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from graph_etl_spark import operators as ops


# ---------------------------------------------------------------------------
# audio_fingerprint_pairs
# ---------------------------------------------------------------------------


def test_audio_neardup_fixture_plants_provable_pairs(spark):
    """Per 3-id group: (v0, v1) is a polarity inversion (fingerprint
    Hamming exactly 0) and (v*, v2) zeroes only the last window
    (Hamming provably <= 1) — all three pairs must surface at
    max_hamming=1 with equal n_windows."""
    d = spark.createDataFrame([(i,) for i in range(9)], "doc_id long")
    wavs = ops.synth_wav_neardup_column(d, group_size=3)
    rows = {
        (r["id_a"], r["id_b"]): r
        for r in ops.audio_fingerprint_pairs(
            wavs, max_hamming=1, window_samples=8
        ).collect()
    }
    for base in range(3):
        g = 3 * base
        assert (g, g + 1) in rows, f"polarity twin missing for base {base}"
        assert rows[(g, g + 1)]["hamming"] == 0
        assert (g, g + 2) in rows, f"zero-tail variant missing (base {base})"
        assert rows[(g, g + 2)]["hamming"] <= 1
        assert (g + 1, g + 2) in rows
        assert rows[(g + 1, g + 2)]["hamming"] <= 1


def test_audio_fingerprint_pairs_exact_vs_brute_force(spark):
    """Pigeonhole recall is 1.0 by construction: the op's pairs equal
    the all-pairs (equal n_windows, Hamming <= d) brute force over
    the same fingerprints."""
    d = spark.createDataFrame([(i,) for i in range(24)], "doc_id long")
    wavs = ops.synth_wav_neardup_column(d, group_size=3)
    fps = ops.audio_fingerprint(wavs, window_samples=8).collect()
    expected = set()
    for a in fps:
        for b in fps:
            if (
                a["doc_id"] < b["doc_id"]
                and a["n_windows"] == b["n_windows"]
                and bin(a["fingerprint"] ^ b["fingerprint"]).count("1") <= 1
            ):
                expected.add((a["doc_id"], b["doc_id"]))
    got = {
        (r["id_a"], r["id_b"])
        for r in ops.audio_fingerprint_pairs(
            wavs, max_hamming=1, window_samples=8
        ).collect()
    }
    assert got == expected


def test_audio_fingerprint_pairs_blocks_on_n_windows(spark):
    """Clips of different window counts never pair, even when their
    fingerprints are bit-identical (two constant-energy clips both
    pack to 0): the zero-pad is not comparable."""
    from graph_etl_spark.operators.multimodal import encode_wav

    pay = [
        (0, encode_wav(16000, np.full(32, 100, dtype=np.int16))),
        (1, encode_wav(16000, np.full(64, 100, dtype=np.int16))),
        # same length as clip 0 -> pairs with it at Hamming 0
        (2, encode_wav(16000, np.full(32, 200, dtype=np.int16))),
    ]
    df = spark.createDataFrame(pay, "doc_id long, payload binary")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in ops.audio_fingerprint_pairs(df, max_hamming=1).collect()
    }
    assert got == {(0, 2): 0}


def test_audio_fingerprint_pairs_warns_on_narrow_segments(spark):
    """The image_phash_pairs narrow-segment hazard is real here too:
    63 bits over 6+ segments leaves < 12-bit buckets and must warn."""
    d = spark.createDataFrame([(0,)], "doc_id long")
    wavs = ops.synth_wav_neardup_column(d, group_size=3)
    with pytest.warns(UserWarning, match="pigeonhole"):
        ops.audio_fingerprint_pairs(wavs, max_hamming=5)


def test_audio_fingerprint_pairs_plan_no_cartesian(spark):
    """Candidates come from the segment equi-join — never a cartesian
    product; fingerprints shuffle, never samples."""
    from graph_etl_spark.plans import plan_string

    d = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    wavs = ops.synth_wav_neardup_column(d, group_size=3)
    p = plan_string(ops.audio_fingerprint_pairs(wavs, max_hamming=1))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


# ---------------------------------------------------------------------------
# video_keyframe_pairs
# ---------------------------------------------------------------------------


def test_video_tail_variant_fixture_accept_path(spark):
    """(v0, v1) is a pure brightness shift: every keyframe pHash is
    provably identical, so the pair must surface with
    max_scene_hamming 0 and the base's scene count."""
    d = spark.createDataFrame([(i,) for i in range(9)], "doc_id long")
    clips = ops.synth_y4m_tail_variant_column(d, group_size=3)
    rows = {
        (r["id_a"], r["id_b"]): r
        for r in ops.video_keyframe_pairs(clips, max_hamming=6).collect()
    }
    for base in range(3):
        g = 3 * base
        assert (g, g + 1) in rows, f"brightness twin missing (base {base})"
        assert rows[(g, g + 1)]["max_scene_hamming"] == 0


def test_video_keyframe_pairs_exact_vs_brute_force(spark):
    """The op's pairs equal the brute force over the signatures:
    equal n_scenes, >= 1 aligned keyframe exactly shared (the
    candidate contract), max aligned Hamming <= d — including the
    reject path (the divergent-last-scene variant is a candidate via
    its shared earlier scenes but is kept only if its last keyframes
    land within the budget)."""
    d = spark.createDataFrame([(i,) for i in range(18)], "doc_id long")
    clips = ops.synth_y4m_tail_variant_column(d, group_size=3)
    sigs = ops.video_keyframe_signature(clips).collect()
    parsed = [
        (r["doc_id"], [int(x) for x in r["keyframe_sig"].split(":")])
        for r in sigs
    ]
    expected = {}
    for ida, ha in parsed:
        for idb, hb in parsed:
            if ida < idb and len(ha) == len(hb):
                hams = [bin(x ^ y).count("1") for x, y in zip(ha, hb)]
                if 0 in hams and max(hams) <= 6:
                    expected[(ida, idb)] = (len(ha), max(hams))
    got = {
        (r["id_a"], r["id_b"]): (r["n_scenes"], r["max_scene_hamming"])
        for r in ops.video_keyframe_pairs(clips, max_hamming=6).collect()
    }
    assert got == expected
    # the fixture plants at least the brightness twins
    assert len(got) >= 6


def test_video_keyframe_pairs_plan_no_cartesian(spark):
    """Candidates come from the (n_scenes, scene_idx, hash) equi-join;
    the verify join keys on pair ids — never a cartesian."""
    from graph_etl_spark.plans import plan_string

    d = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    clips = ops.synth_y4m_tail_variant_column(d, group_size=3)
    p = plan_string(ops.video_keyframe_pairs(clips))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


# ---------------------------------------------------------------------------
# token_cost_audit
# ---------------------------------------------------------------------------


def test_token_cost_audit_accounting(spark):
    """Exact integer accounting at context_len=8: zero-token docs cost
    one all-pad sequence, exact fits waste nothing, n_tokens = cl + 1
    splits into 2 sequences / truncates 1 token, NULL and negative
    counts yield NULL metrics (broken upstream count, not zeros)."""
    df = spark.createDataFrame(
        [(0, 0), (1, 8), (2, 9), (3, 24), (4, None), (5, -3)],
        "doc_id long, n_tokens long",
    )
    out = {
        r["doc_id"]: r
        for r in ops.token_cost_audit(df, context_len=8).collect()
    }
    assert (
        out[0]["n_sequences"],
        out[0]["truncated"],
        out[0]["trunc_loss"],
        out[0]["pad_tokens"],
        out[0]["pad_ratio"],
    ) == (1, False, 0, 8, 1.0)
    assert (
        out[1]["n_sequences"],
        out[1]["truncated"],
        out[1]["trunc_loss"],
        out[1]["pad_tokens"],
        out[1]["pad_ratio"],
    ) == (1, False, 0, 0, 0.0)
    assert (
        out[2]["n_sequences"],
        out[2]["truncated"],
        out[2]["trunc_loss"],
        out[2]["pad_tokens"],
    ) == (2, True, 1, 7)
    assert out[2]["pad_ratio"] == round(7 / 16, 6)
    assert (out[3]["n_sequences"], out[3]["pad_tokens"]) == (3, 0)
    for bad in (4, 5):
        for c in (
            "n_sequences",
            "truncated",
            "trunc_loss",
            "pad_tokens",
            "pad_ratio",
        ):
            assert out[bad][c] is None, (bad, c)


def test_token_cost_audit_rejects_bad_context_len(spark):
    df = spark.createDataFrame([(0, 1)], "doc_id long, n_tokens long")
    with pytest.raises(ValueError, match="context_len"):
        ops.token_cost_audit(df, context_len=0)


def test_token_cost_audit_plan_is_pure_map(spark):
    """VERDICT r16 #7 plan guard: the audit stage is map-only —
    zero shuffle, zero window, zero Python."""
    from graph_etl_spark.plans import plan_string

    df = spark.range(100).select(
        F.col("id").alias("doc_id"), (F.col("id") * 7).alias("n_tokens")
    )
    p = plan_string(ops.token_cost_audit(df, context_len=128))
    assert "Exchange" not in p and "Window" not in p
    for py in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert py not in p, py


# ---------------------------------------------------------------------------
# code-review r16 fixes
# ---------------------------------------------------------------------------


def test_clip_score_filter_nan_pairs_are_dropped_not_kept(spark):
    """Code-review r16 (medium): NaN embeddings pass den > 0 under
    Spark's NaN-is-largest comparisons, and a NaN clip_score would
    satisfy >= threshold the same way — corrupt pairs must instead
    fall into the un-scoreable contract: NULL score, keep = false."""
    rows = [
        (1, [1.0, 0.0], [1.0, 0.0]),  # cos 1.0
        (2, [0.0, 1.0], [1.0, 0.0]),  # cos 0.0
        (3, [float("nan"), 1.0], [1.0, 0.0]),  # corrupt: NaN side
        (4, [0.0, 0.0], [1.0, 0.0]),  # zero-norm side: NULL score
    ]
    df = spark.createDataFrame(
        rows, "pair_id long, img_embedding array<double>, "
        "txt_embedding array<double>"
    )
    out = {
        r["pair_id"]: r
        for r in ops.clip_score_filter(df, trim_percentile=0.0).collect()
    }
    assert out[3]["clip_score"] is None
    assert out[3]["keep"] is False
    assert out[4]["clip_score"] is None
    assert out[4]["keep"] is False
    # scoreable pairs are unaffected and the threshold ignores NaN rows
    assert out[1]["keep"] is True and out[2]["keep"] is True


def test_packed_max_by_raises_on_out_of_domain_values(spark):
    """Code-review r16 (low): a value beyond max_abs used to overflow
    the intermediate decimal to NULL and silently vanish from the
    argmax — it must raise at execution time instead."""
    df = spark.createDataFrame(
        [("g", 5.0, 1), ("g", 0.5, 2)], "grp string, v double, tid long"
    )
    bad = ops.packed_max_by(df, "grp", "v", "tid", round_to=4)
    with pytest.raises(Exception, match="max_abs"):
        bad.collect()
    # widening the documented domain restores the argmax
    ok = ops.packed_max_by(
        df, "grp", "v", "tid", round_to=4, max_abs=8.0
    ).collect()
    assert len(ok) == 1 and ok[0]["__tid"] == 1
    assert ok[0]["__scaled"] == 50000


def test_packed_max_by_null_values_still_ignored(spark):
    """NULL values keep the pre-guard behavior: NULL pack, ignored by
    the max (never asserted on)."""
    df = spark.createDataFrame(
        [("g", None, 1), ("g", 0.25, 2)], "grp string, v double, tid long"
    )
    out = ops.packed_max_by(df, "grp", "v", "tid", round_to=4).collect()
    assert len(out) == 1 and out[0]["__tid"] == 2


def test_packed_max_by_rejects_unpackable_domain():
    """A (max_abs, round_to) combination whose head outgrows the
    decimal(38,0) pack must raise at plan-build time."""
    with pytest.raises(ValueError, match="max_abs"):
        ops.packed_max_by(None, "g", "v", "t", round_to=15, max_abs=1000.0)


def test_embedding_outliers_input_pinned_once(spark):
    """Code-review r16 (low): the stats collect and the scoring map
    are two consumers of the input — the op must pin it (lazy
    localCheckpoint) so both provably see the same rows; the output
    plan therefore scans the checkpointed RDD, not the source twice."""
    from graph_etl_spark.plans import plan_string

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    p = plan_string(ops.embedding_outliers(e))
    assert "ExistingRDD" in p or "LogicalRDD" in p
    assert "Exchange" not in p  # scoring stays a pure map


# ---------------------------------------------------------------------------
# packing_dividend (round-17 post-freeze, r18 lead)
# ---------------------------------------------------------------------------


def test_packing_dividend_accounting(spark):
    """Exact per-shard accounting at budget 4, one shard: docs of
    1/3/6/0 tokens -> isolated slots 4+4+8+4 = 20 (the empty doc
    costs one all-pad sequence), stream total 10 -> packed slots 12;
    dividend = (20-10) - (12-10) = 8, ratio 8/20."""
    rows = [
        (0, "a"),
        (1, "a b c"),
        (2, "a b c d e f"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = ops.packing_dividend(df, token_budget=4, n_shards=1).collect()
    assert len(out) == 1
    r = out[0]
    assert (
        r["n_docs"],
        r["total_tokens"],
        r["isolated_pad"],
        r["packed_pad"],
        r["dividend"],
    ) == (4, 10, 10, 2, 8)
    assert r["dividend_ratio"] == round(8 / 20, 6)


def test_packing_dividend_matches_pack_sequences_bins(spark):
    """The packed-slot count is exactly the number of stream windows
    pack_sequences' cut rule fills: ceil(shard_tokens/budget) >= the
    distinct bins documents START in, with equality when no doc spans
    a window boundary."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    div = {
        r["shard"]: r
        for r in ops.packing_dividend(
            docs, token_budget=64, n_shards=8
        ).collect()
    }
    packed = ops.pack_sequences(docs, token_budget=64, n_shards=8)
    from pyspark.sql import functions as F2

    bins = {
        r["shard"]: r
        for r in packed.groupBy("shard")
        .agg(
            F2.countDistinct("bin_id").alias("start_bins"),
            F2.sum("n_tokens").alias("tot"),
        )
        .collect()
    }
    assert set(div) == set(bins)
    for s, r in div.items():
        assert r["total_tokens"] == bins[s]["tot"]
        stream_bins = (r["total_tokens"] + r["packed_pad"]) // 64
        assert stream_bins >= bins[s]["start_bins"]
        assert r["dividend"] >= 0


def test_packing_dividend_rejects_bad_budget(spark):
    df = spark.createDataFrame([(0, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="token_budget"):
        ops.packing_dividend(df, token_budget=0)


def test_packing_dividend_plan_single_agg_no_window(spark):
    """Plan guard: pure map + ONE shard-keyed hash aggregation — no
    window (pack_sequences needs one; the dividend must not), no
    Python, and partial aggregation before the one exchange."""
    from graph_etl_spark.plans import plan_string

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = plan_string(ops.packing_dividend(docs, token_budget=64, n_shards=8))
    assert "Window" not in p
    for py in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert py not in p, py
    assert p.count("Exchange") == 1


# ---------------------------------------------------------------------------
# epoch_repeat_audit (round-17 post-freeze, r18 lead)
# ---------------------------------------------------------------------------


def test_epoch_repeat_audit_accounting(spark):
    """Exact accounting at tau=0.5, budget 300, cap 2: two sources
    with 100 and 400 available tokens -> weights 1/3 and 2/3 ->
    requested 100 and 200 -> epochs 1.0 and 0.5, neither over a
    2-epoch cap and zero shortfall; at budget 3000 the small source
    is asked for 10 epochs -> over_cap with an 800-token shortfall."""
    rows = [(0, "a " * 100, "s_small"), (1, "b " * 400, "s_big")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        r["source"]: r
        for r in ops.epoch_repeat_audit(
            df, budget_tokens=300, repeat_cap=2.0
        ).collect()
    }
    # weights: sqrt(100)=10, sqrt(400)=20 -> 1/3, 2/3 (round 9)
    assert out["s_small"]["requested_tokens"] == 99  # floor(0.333333333*300)
    assert out["s_big"]["requested_tokens"] == 200
    assert out["s_small"]["epochs"] == 0.99
    assert out["s_big"]["epochs"] == 0.5
    assert not out["s_small"]["over_cap"] and not out["s_big"]["over_cap"]
    assert out["s_small"]["shortfall_tokens"] == 0
    out2 = {
        r["source"]: r
        for r in ops.epoch_repeat_audit(
            df, budget_tokens=3000, repeat_cap=2.0
        ).collect()
    }
    assert out2["s_small"]["requested_tokens"] == 999
    assert out2["s_small"]["epochs"] == 9.99
    assert out2["s_small"]["over_cap"]
    assert out2["s_small"]["shortfall_tokens"] == 999 - 200  # cap 2*100
    # the big source is asked for 2000 of its 400 tokens: 5 epochs,
    # also over a 2-epoch cap, shortfall 2000 - 800
    assert out2["s_big"]["epochs"] == 5.0 and out2["s_big"]["over_cap"]
    assert out2["s_big"]["shortfall_tokens"] == 1200


def test_epoch_repeat_audit_zero_token_source(spark):
    """A source with docs but zero tokens keeps its row: NULL epochs,
    over_cap true whenever any tokens are requested of it (it cannot
    supply one epoch), shortfall = the full request."""
    rows = [(0, "", "s_empty"), (1, "b " * 100, "s_big")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        r["source"]: r
        for r in ops.epoch_repeat_audit(df, budget_tokens=100).collect()
    }
    e = out["s_empty"]
    assert e["n_tokens"] == 0 and e["epochs"] is None
    assert e["over_cap"] == (e["requested_tokens"] > 0)
    assert e["shortfall_tokens"] == e["requested_tokens"]


def test_epoch_repeat_audit_validation(spark):
    df = spark.createDataFrame([(0, "a", "s")], "doc_id long, text string, source string")
    with pytest.raises(ValueError, match="budget_tokens"):
        ops.epoch_repeat_audit(df, budget_tokens=-1)
    with pytest.raises(ValueError, match="repeat_cap"):
        ops.epoch_repeat_audit(df, budget_tokens=1, repeat_cap=0)


def test_epoch_repeat_audit_flag_consistent_with_shortfall(spark):
    """Code-review r17: over_cap and shortfall derive from the SAME
    exact integer compare — over_cap <=> shortfall > 0 — never from
    the display-rounded epochs (which can round down to exactly the
    cap while a positive shortfall exists)."""
    # requested = floor(2/3 * 6000001) = 4000000; supply cap =
    # floor(4.0 * 1000000)... build the boundary directly instead:
    # avail 1000, cap 4 -> supply 4000; budgets straddling it
    rows = [(0, "a " * 1000, "s"), (1, "b " * 1000, "t")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    for budget in (7998, 8000, 8004):
        out = ops.epoch_repeat_audit(
            df, budget_tokens=budget, repeat_cap=4.0
        ).collect()
        for r in out:
            assert r["over_cap"] == (r["shortfall_tokens"] > 0), (
                budget, r
            )


def test_packing_dividend_null_text_charged_as_zero_tokens(spark):
    """Code-review r17: a NULL-text row costs one all-pad isolated
    sequence (zero tokens in the stream) instead of silently dropping
    out of the totals while still counting in n_docs."""
    rows = [(0, None), (1, "a b c")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = ops.packing_dividend(df, token_budget=4, n_shards=1).collect()
    assert len(out) == 1
    r = out[0]
    # isolated: NULL doc -> 1 all-pad seq (4), 3-token doc -> pad 1
    assert (r["n_docs"], r["total_tokens"], r["isolated_pad"]) == (2, 3, 5)
    assert r["packed_pad"] == 1 and r["dividend"] == 4


# ---------------------------------------------------------------------------
# strongly_connected_components (round-17 post-freeze, r18 lead)
# ---------------------------------------------------------------------------


def test_scc_hand_graph(spark):
    """Two cycles joined by a one-way bridge, a tail, a self-loop-only
    vertex, and a pure ancestor: every SCC exact, scc_id = numeric
    min member, self-loop vertex kept as a singleton."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 5), (5, 4), (3, 4), (3, 6), (7, 7), (8, 1)],
        "src long, dst long",
    )
    rows = sorted(
        (r.id, r.scc_id)
        for r in ops.strongly_connected_components(edges).collect()
    )
    assert rows == [
        (1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 6), (7, 7), (8, 8),
    ]


def test_scc_adversarial_reversed_cycle_converges(spark):
    """Regression for the raw-id-order degeneracy: on a cycle whose
    ids ascend AGAINST the edge direction, min-label propagation under
    the id order moves 1 vertex/round (min(v, v+1) = v keeps every
    label at self, so pointer jumping never engages) and a 40-vertex
    cycle would blow the round budget. The hashed label order must
    converge within the default max_iter."""
    n = 40
    edges = spark.createDataFrame(
        [(i % n + 1, i) for i in range(1, n + 1)], "src long, dst long"
    )
    rows = ops.strongly_connected_components(edges).collect()
    assert len(rows) == n
    assert {r.scc_id for r in rows} == {1}


def test_scc_nonconvergence_raises(spark):
    """A silently-partial labeling must never escape: max_iter=0
    starves the forward fixpoint and the RuntimeError surfaces."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 1)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="label propagation"):
        ops.strongly_connected_components(edges, max_iter=0)


def test_scc_isolated_and_extra_vertices_are_singletons(spark):
    """Caller-supplied vertices with no edges settle as singletons in
    the first trim."""
    edges = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    extra = spark.createDataFrame([(9,), (10,)], "id long")
    rows = sorted(
        (r.id, r.scc_id)
        for r in ops.strongly_connected_components(
            edges, vertices=extra
        ).collect()
    )
    assert rows == [(1, 1), (2, 1), (9, 9), (10, 10)]


def test_checkpoint_blocks_size_estimate_compounding(spark):
    """Regression for the Catalyst BigInteger spin: a plain
    localCheckpoint inherits the origin plan's sizeInBytes, which
    compounds multiplicatively through join-iterate rounds (measured
    doubling digit counts per round until the driver pins a core
    multiplying million-digit numbers). The eager checkpoint's leaf is
    sized by its observed rows, so the estimate's digit count stays
    FLAT across rounds."""
    from graph_etl_spark.session import Pins

    def digits(frame):
        return len(
            str(frame._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )

    pins = Pins("test")
    frame = pins.pin(
        spark.createDataFrame([(i, i) for i in range(10)], "id long, v long")
    )
    start = digits(frame)
    for _ in range(6):
        lookup = frame.select(
            F.col("id").alias("__jid"), F.col("v").alias("__jv")
        )
        frame, _ = pins.advance(
            frame,
            frame.join(lookup, frame["v"] == F.col("__jid"), "left").select(
                "id", F.coalesce("__jv", "v").alias("v")
            ),
        )
        assert digits(frame) == start
    pins.result(None)


# ---------------------------------------------------------------------------
# binary_rerank_topk (round-17 post-freeze, r18 lead)
# ---------------------------------------------------------------------------


def _vec_frame(spark):
    import math

    rows = []
    for i in range(12):
        rows.append(
            (i, [math.cos(0.37 * i + 0.11 * j) for j in range(8)])
        )
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_binary_rerank_full_shortlist_equals_brute_force(spark):
    """With the shortlist oversampled past the corpus size the
    cascade must reproduce exact brute-force cosine top-k (same
    ranking rule: rounded cosine desc, id asc)."""
    e = _vec_frame(spark)
    q = e.filter(F.col("vec_id") < 3)
    brute = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ops.brute_force_topk(e, q, k=4).collect()
    }
    casc = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ops.binary_rerank_topk(
            e, q, dim=8, k=4, prefilter_factor=100
        ).collect()
    }
    assert casc == brute


def test_binary_rerank_shortlist_is_hamming_bounded(spark):
    """Every returned neighbor must come from the Hamming-top-m
    shortlist (m = k * prefilter_factor), and ranks are dense 1..k
    per query by rounded cosine desc."""
    e = _vec_frame(spark)
    q = e.filter(F.col("vec_id") < 2)
    short = {
        (r.query_id, r.neighbor_id)
        for r in ops.hamming_topk(e, q, dim=8, k=6).collect()
    }
    out = ops.binary_rerank_topk(
        e, q, dim=8, k=3, prefilter_factor=2
    ).collect()
    assert {(r.query_id, r.neighbor_id) for r in out} <= short
    for qid in (0, 1):
        ranks = sorted(r.rank for r in out if r.query_id == qid)
        assert ranks == [1, 2, 3]
        sims = [r.cos_sim for r in sorted(
            (r for r in out if r.query_id == qid), key=lambda r: r.rank)]
        assert sims == sorted(sims, reverse=True)


def test_binary_rerank_rejects_bad_factor(spark):
    e = _vec_frame(spark)
    with pytest.raises(ValueError, match="prefilter_factor"):
        ops.binary_rerank_topk(e, e.limit(1), dim=8, prefilter_factor=0)


def test_binary_rerank_plan_corpus_vectors_never_shuffle(spark):
    """The cascade's point at scale: the full-precision corpus column
    reaches the rerank only via broadcast joins — no SortMergeJoin /
    ShuffledHashJoin anywhere, no Python eval, no cartesian."""
    from graph_etl_spark.plans import plan_string

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    p = plan_string(
        ops.binary_rerank_topk(e, e.filter(F.col("vec_id") < 5), dim=64)
    )
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    assert "ShuffledHashJoin" not in p
    for py in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert py not in p, py


# ---------------------------------------------------------------------------
# calibration_bins + lang_id_confidence (round-17 post-freeze, r18 lead)
# ---------------------------------------------------------------------------


def test_calibration_bins_exact_accounting(spark):
    """Hand-checkable reliability rows: bins, counts, confidences,
    positive rates, and ECE terms all exact."""
    rows = [
        (0.05, True),   # bin 0
        (0.15, False),  # bin 1
        (0.17, True),   # bin 1
        (0.95, True),   # bin 9
        (0.99, True),   # bin 9
        (1.00, True),   # clamps into bin 9
    ]
    df = spark.createDataFrame(rows, "score double, y boolean")
    out = {
        r.bin: r
        for r in ops.calibration_bins(df, "score", "y", n_bins=10).collect()
    }
    assert set(out) == {0, 1, 9}
    assert out[0].n == 1 and out[0].pos_rate == 1.0 and out[0].avg_score == 0.05
    assert out[1].n == 2 and out[1].pos_rate == 0.5 and out[1].avg_score == 0.16
    assert out[9].n == 3 and out[9].pos_rate == 1.0
    assert out[9].avg_score == round((0.95 + 0.99 + 1.0) / 3, 6)
    assert out[1].gap == round(0.5 - 0.16, 6)
    # ece_term = (n/N) * |gap|
    assert out[1].ece_term == round((2 / 6) * abs(0.5 - 0.16), 6)
    assert out[0].bin_lo == 0.0 and out[0].bin_hi == 0.1


def test_calibration_bins_null_contract_and_clamp(spark):
    """NULL scores are excluded entirely; NULL labels count as
    negatives; out-of-range scores land in the end bins."""
    rows = [
        (None, True),    # excluded
        (-0.3, True),    # clamps to bin 0
        (1.7, None),     # clamps to bin 9, NULL label -> negative
    ]
    df = spark.createDataFrame(rows, "score double, y boolean")
    out = {
        r.bin: r
        for r in ops.calibration_bins(df, "score", "y", n_bins=10).collect()
    }
    assert set(out) == {0, 9}
    assert out[0].n == 1 and out[0].pos_rate == 1.0
    assert out[9].n == 1 and out[9].pos_rate == 0.0
    with pytest.raises(ValueError, match="n_bins"):
        ops.calibration_bins(df, "score", "y", n_bins=0)


def test_calibration_bins_plan_single_agg_no_window(spark):
    """One map-side-combining groupBy + a 1-row broadcast total: no
    window, no Python eval, no cartesian against the data."""
    from graph_etl_spark.plans import plan_string

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    scored = ops.quality_score(d).withColumn("__y", F.col("lang") == "en")
    p = plan_string(ops.calibration_bins(scored, "quality", "__y"))
    assert "Window" not in p
    assert "CartesianProduct" not in p
    for py in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert py not in p, py


def test_lang_id_confidence_matches_lang_id_and_null_contract(spark):
    """Winner identical to lang_id on every row; conf = best/total
    hits; zero-hit rows get 'und' with NULL confidence."""
    rows = [
        (1, "the cat and the dog of it", "en"),
        (2, "le chat et la porte des idées", "fr"),
        (3, "zzz qqq xxx", "de"),          # no stopwords at all
        (4, "the la", "en"),               # tie -> 'en' (lex smallest)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    base = {r.doc_id: r.lang_pred for r in ops.lang_id(df).collect()}
    out = {r.doc_id: r for r in ops.lang_id_confidence(df).collect()}
    for i in (1, 2, 3, 4):
        assert out[i].lang_pred == base[i]
    assert out[3].lang_pred == "und" and out[3].lang_conf is None
    # 'la' hits BOTH the fr and es inventories, so total = 3 hits
    # (en:1, fr:1, es:1) and the winning share is 1/3
    assert out[4].lang_pred == "en" and out[4].lang_conf == 0.333333
    assert out[1].lang_conf == 1.0


def test_calibration_bins_nan_scores_are_excluded(spark):
    """Code-review regression: a NaN score floored into bin 0 while
    its decimal-cast value silently dropped from the sum — inflating
    n and N and corrupting avg_score/gap/ece_term (and erroring
    outright on ANSI sessions). NaN rows must be excluded exactly
    like NULLs."""
    rows = [(float("nan"), True), (0.05, True)]
    df = spark.createDataFrame(rows, "score double, y boolean")
    out = ops.calibration_bins(df, "score", "y", n_bins=10).collect()
    assert len(out) == 1
    r = out[0]
    assert r.bin == 0 and r.n == 1 and r.avg_score == 0.05
    assert r.ece_term == round(abs(1.0 - 0.05), 6)  # N=1, not 2
