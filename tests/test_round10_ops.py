"""Round-10 additions: real PNG codec (encode/decode, all five filter
types), decode_image's real/stub routing, exact_global_rank paths, and
the watermark-delayed threshold-alert variant's batch agreement.
"""

from __future__ import annotations

import os
import struct
import sys
import zlib

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graph_etl_spark.operators import multimodal as mm

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _ref_image(w: int, h: int, channels: int, seed: int = 7) -> np.ndarray:
    yy, xx, cc = np.meshgrid(
        np.arange(h), np.arange(w), np.arange(channels), indexing="ij"
    )
    return ((seed * 13 + yy * 5 + xx * 17 + cc * 29) % 256).astype(np.uint8)


@pytest.mark.parametrize("channels", [1, 3, 4])
def test_png_roundtrip(channels):
    img = _ref_image(11, 7, channels)
    data = mm.encode_png(11, 7, img.tobytes())
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    w, h, c, out = mm.decode_png(data)
    assert (w, h, c) == (11, 7, channels)
    assert np.array_equal(out, img)


def _filter_scanlines(img: np.ndarray, filters: list[int]) -> bytes:
    """Reference FORWARD filterer (public PNG spec): produce the
    encoded scanline stream for a chosen per-row filter type, so the
    decoder's unfiltering of types 1-4 is tested against spec math,
    not against our own filter-0 encoder."""
    h, w, channels = img.shape
    flat = img.reshape(h, w * channels).astype(np.int64)
    stride, bpp = w * channels, channels
    out = bytearray()
    for y in range(h):
        f = filters[y]
        out.append(f)
        for i in range(stride):
            x = flat[y, i]
            a = flat[y, i - bpp] if i >= bpp else 0
            b = flat[y - 1, i] if y > 0 else 0
            c = flat[y - 1, i - bpp] if (y > 0 and i >= bpp) else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            out.append((x - pred) & 0xFF)
    return bytes(out)


def test_png_decode_all_filter_types():
    img = _ref_image(9, 5, 3, seed=3)
    raw = _filter_scanlines(img, [0, 1, 2, 3, 4])

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    data = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 9, 5, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    w, h, c, out = mm.decode_png(data)
    assert (w, h, c) == (9, 5, 3)
    assert np.array_equal(out, img)


def test_png_decode_rejects_non_png_and_bad_variants():
    with pytest.raises(ValueError):
        mm.decode_png(b"\xff\xd8\xffnot-a-png")
    img = _ref_image(4, 4, 3)
    ihdr16 = struct.pack(">IIBBBBB", 4, 4, 16, 2, 0, 0, 0)  # 16-bit depth

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    bad = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr16)
    with pytest.raises(ValueError):
        mm.decode_png(bad)


def test_decode_image_real_and_stub_routing(spark):
    from pyspark.sql import functions as F

    d = spark.range(6).select(F.col("id").alias("doc_id"))
    pngs = mm.synth_png_column(d, "doc_id")
    decoded = mm.decode_image(pngs).orderBy("doc_id").collect()
    assert all(r["media_type"] == "png" for r in decoded)
    for r in decoded:
        i = r["doc_id"]
        w, h = 8 + i % 9, 8 + (i // 9) % 9
        assert (r["width"], r["height"], r["channels"]) == (w, h, 3)
        expected = int(
            sum(
                (i * 31 + y * 7 + x * 3 + c * 11) % 256
                for y in range(h)
                for x in range(w)
                for c in range(3)
            )
        )
        assert r["pixel_sum"] == expected
        assert r["n_pixels"] == w * h * 3
    # non-PNG payload routes to the declared stub
    junk = d.select("doc_id", F.lit(b"plain-bytes").alias("payload"))
    stubbed = mm.decode_image(junk).collect()
    assert all(r["media_type"] == "stub" for r in stubbed)


def test_exact_global_rank_matches_global_window(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from graph_etl_spark.operators import exact_global_rank

    d = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", F.length("text").alias("n_chars"))
    )
    ranked, total = exact_global_rank(
        d, "n_chars", ["n_chars", "doc_id"], out="r2", num_partitions=7
    )
    w = Window.orderBy("n_chars", "doc_id")
    expected = d.withColumn("r1", F.row_number().over(w))
    joined = ranked.join(expected, ["doc_id", "n_chars"])
    assert total == d.count()
    assert joined.filter(F.col("r1") != F.col("r2")).count() == 0


def test_negative_samples_string_ids_match_ground_truth(spark):
    """The range-partitioned zipWithIndex path (non-numeric ids) must
    equal a ground truth computed with the naive unpartitioned global
    window (fine at test scale — the thing the production path
    replaces)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from graph_etl_spark.operators import negative_samples
    from graph_etl_spark.operators.text import h56

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
    sid = F.lpad(F.col("doc_id").cast("string"), 8, "0")
    ids = d.select(sid.alias("sid"))
    pairs = d.filter(F.col("doc_id") % 10 == 0).select(
        sid.alias("anchor_id"),
        F.lpad((F.col("doc_id") + 1).cast("string"), 8, "0").alias(
            "positive_id"
        ),
    ).join(ids.withColumnRenamed("sid", "positive_id"), "positive_id", "left_semi")
    got = negative_samples(pairs, ids, k=3, seed="x")
    # ground truth: single global window index + the same draw logic
    n = ids.count()
    idx = ids.select(
        F.col("sid").alias("__cid"),
        (F.row_number().over(Window.orderBy("sid")) - 1).alias("__idx"),
    )
    draws = pairs.select(
        "anchor_id",
        "positive_id",
        F.explode(F.sequence(F.lit(0), F.lit(4))).alias("__j"),
    ).select(
        "*",
        (
            h56(
                F.concat_ws(
                    ":", F.lit("x"), "anchor_id", "positive_id",
                    F.col("__j").cast("string"),
                )
            )
            % F.lit(n)
        ).alias("__idx"),
    )
    w = Window.partitionBy("anchor_id", "positive_id").orderBy("__j")
    truth = (
        draws.join(idx, "__idx")
        .filter(
            (F.col("__cid") != F.col("anchor_id"))
            & (F.col("__cid") != F.col("positive_id"))
        )
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= 3)
        .select(
            "anchor_id", "positive_id", "sample_rank",
            F.col("__cid").alias("negative_id"),
        )
    )
    assert got.count() > 0
    assert got.exceptAll(truth).count() == 0
    assert truth.exceptAll(got).count() == 0


def test_watermarked_alerts_exact_under_cross_batch_lateness(spark, tmp_path):
    """VERDICT r9 #6: an event BELOW the emitted crossing arriving in
    a LATER micro-batch — the immediate-firing variant documents this
    as its one divergence from the batch twin; the watermark-delayed
    variant must get it right (fire only once the watermark passes the
    candidate, so the late event re-lowers the candidate first)."""
    import pandas as pd

    from graph_etl_spark.streaming import (
        streaming_threshold_alerts,
        streaming_threshold_alerts_watermarked,
        threshold_crossings,
    )

    base = pd.Timestamp("2024-01-01 10:00:00")
    src = str(tmp_path / "wm_src")

    def write_batch(rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "user_id", "event_type", "ts"]
        )
        spark.createDataFrame(pdf).write.mode("append").parquet(src)

    def run_once(make_stream, ckpt, results):
        stream = spark.readStream.schema(
            "event_id long, user_id long, event_type string, ts timestamp"
        ).parquet(src)
        q = (
            make_stream(stream)
            .writeStream.foreachBatch(
                lambda bdf, bid: results.extend(
                    r.asDict() for r in bdf.collect()
                )
            )
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    immediate = lambda s: streaming_threshold_alerts(s, threshold=3)  # noqa: E731
    delayed = lambda s: streaming_threshold_alerts_watermarked(  # noqa: E731
        s, threshold=3, delay="5 minutes"
    )
    got_imm: list = []
    got_wm: list = []

    # batch 1: 10:00, 10:04, 10:05 — count crosses 3. The immediate
    # variant fires NOW (crossed_at 10:05); the watermark (still at
    # 10:00 during this batch) has not passed the candidate, so the
    # delayed variant holds.
    write_batch(
        [
            (1, 7, "click", base),
            (2, 7, "click", base + pd.Timedelta(minutes=4)),
            (3, 7, "click", base + pd.Timedelta(minutes=5)),
        ]
    )
    run_once(immediate, "imm_ckpt", got_imm)
    run_once(delayed, "wm_ckpt", got_wm)
    assert [r["crossed_at"] for r in got_imm] == [
        (base + pd.Timedelta(minutes=5)).timestamp()
    ]
    assert got_wm == []

    # batch 2: a LATE 10:01 (below the immediate variant's emitted
    # 10:05 — exactly the documented divergence) plus 10:20 to advance
    # the watermark. True third-smallest is now 10:04.
    write_batch(
        [
            (4, 7, "click", base + pd.Timedelta(minutes=1)),
            (5, 7, "click", base + pd.Timedelta(minutes=20)),
        ]
    )
    run_once(immediate, "imm_ckpt", got_imm)
    run_once(delayed, "wm_ckpt", got_wm)
    assert len(got_imm) == 1  # one-shot: cannot retract its 10:05
    # availableNow runs a trailing micro-batch after ingesting 10:20,
    # where the watermark has advanced to 10:15 > candidate 10:04 —
    # the pending key times out and fires the EXACT crossing (the
    # late 10:01 was incorporated BEFORE the firing)
    assert [(r["user_id"], r["event_type"], r["crossed_at"]) for r in got_wm] == [
        (7, "click", (base + pd.Timedelta(minutes=4)).timestamp())
    ]

    # batch 3: more traffic — the one-shot contract holds (no re-fire
    # from either variant)
    write_batch([(6, 99, "view", base + pd.Timedelta(minutes=30))])
    run_once(immediate, "imm_ckpt", got_imm)
    run_once(delayed, "wm_ckpt", got_wm)
    assert len(got_imm) == 1 and len(got_wm) == 1

    # the batch twin agrees with the delayed variant, not the
    # immediate one
    twin = {
        (r["user_id"], r["event_type"]): r["crossed_at"]
        for r in threshold_crossings(
            spark.read.parquet(src), threshold=3
        ).collect()
    }
    assert twin == {
        (7, "click"): (base + pd.Timedelta(minutes=4)).timestamp()
    }


def _crash_after_last_batch(ckpt: str) -> None:
    """Simulate a crash in the commit window: the micro-batch ran (its
    offsets/<N> exists and state was written) but the process died
    before commits/<N> landed. On restart Spark MUST replay that
    micro-batch from the same offsets against the same prior state —
    an idempotent sink then sees identical rows again."""
    commits = os.path.join(ckpt, "commits")
    last = max(
        (f for f in os.listdir(commits) if not f.startswith(".")),
        key=lambda f: int(f),
    )
    os.remove(os.path.join(commits, last))
    crc = os.path.join(commits, f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def test_streaming_ohlc_crash_replay_equals_batch_twin(spark, tmp_path):
    """VERDICT r9 #7: kill the stateful OHLC query after batch 1
    (commit marker wiped), resume with more data — the union of
    emitted bars (idempotent last-wins sink) must equal the batch twin
    over all events."""
    import pandas as pd

    from graph_etl_spark.streaming import streaming_ohlc

    base = pd.Timestamp("2024-01-01 00:00:00")
    src = str(tmp_path / "ohlc_src")
    ckpt = str(tmp_path / "ohlc_ck")
    schema = "event_id long, ts timestamp, event_type string, value double"

    def write_batch(rows):
        spark.createDataFrame(
            [
                (i, (base + pd.Timedelta(minutes=m)).to_pydatetime(), k, float(v))
                for i, m, k, v in rows
            ],
            schema,
        ).write.mode("append").parquet(src)

    emitted: dict = {}

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            streaming_ohlc(stream, watermark="0 seconds")
            .writeStream.outputMode("append")
            .foreachBatch(
                lambda bdf, bid: emitted.update(
                    {
                        (r["window_start"], r["event_type"]): (
                            r["open"], r["high"], r["low"], r["close"],
                            r["n_rows"], r["total"],
                        )
                        for r in bdf.collect()
                    }
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: two hours of bars
    write_batch([(1, 0, "click", 10.0), (2, 10, "click", 30.0),
                 (3, 50, "click", 20.0), (4, 70, "click", 5.0)])
    run_once()
    _crash_after_last_batch(ckpt)  # die before the commit marker

    # batch 2 after the "crash": a third hour plus a far-future flush
    # event that closes every real window
    write_batch([(5, 130, "click", 7.5), (6, 135, "view", 2.0),
                 (7, 24 * 60, "flush", 0.0)])
    run_once()

    twin = {
        (r["window_start"], r["event_type"]): (
            r["open"], r["high"], r["low"], r["close"], r["n_rows"], r["total"]
        )
        for r in streaming_ohlc(spark.read.parquet(src)).collect()
        if r["event_type"] != "flush"
    }
    assert emitted == twin
    # and the replay really happened: batch 1's first-hour bar exists
    assert (base.to_pydatetime(), "click") in emitted


def test_session_window_crash_replay_equals_batch_twin(spark, tmp_path):
    """VERDICT r9 #7: same crash-replay contract for the native
    session_window sink — resumed output (idempotent last-wins) equals
    the batch twin's closed sessions."""
    import pandas as pd

    from graph_etl_spark.streaming import session_window_stats

    base = pd.Timestamp("2024-01-01 00:00:00")
    src = str(tmp_path / "sw_src")
    ckpt = str(tmp_path / "sw_ck")

    def write_batch(rows):
        spark.createDataFrame(
            [
                (u, (base + pd.Timedelta(minutes=m)).to_pydatetime())
                for u, m in rows
            ],
            "user_id long, ts timestamp",
        ).write.mode("append").parquet(src)

    emitted: dict = {}

    def run_once():
        stream = spark.readStream.schema("user_id long, ts timestamp").parquet(
            src
        )
        q = (
            session_window_stats(stream, gap="30 minutes", watermark="0 seconds")
            .writeStream.outputMode("append")
            .foreachBatch(
                lambda bdf, bid: emitted.update(
                    {
                        (r["user_id"], r["session_start"]): (
                            r["session_end"], r["n_events"],
                        )
                        for r in bdf.collect()
                    }
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: user 1 has a session (0, 10'), user 2 one event at 5'
    write_batch([(1, 0), (1, 10), (2, 5)])
    run_once()
    _crash_after_last_batch(ckpt)

    # batch 2 after the crash: user 1 opens a second session at 120';
    # the far-future flush event (user 999) closes everything real
    write_batch([(1, 120), (1, 125), (2, 140), (999, 24 * 60)])
    run_once()

    twin = {
        (r["user_id"], r["session_start"]): (r["session_end"], r["n_events"])
        for r in session_window_stats(
            spark.read.parquet(src), gap="30 minutes"
        ).collect()
        if r["user_id"] != 999
    }
    assert emitted == twin
    assert len(twin) >= 3  # both user-1 sessions + both user-2 singles


def test_wav_roundtrip_and_rejects():
    rng = np.arange(300, dtype=np.int64)
    samples = ((rng * 257 + 11) % 65536 - 32768).astype(np.int16)
    data = mm.encode_wav(16000, samples)
    rate, ch, out = mm.decode_wav(data)
    assert (rate, ch) == (16000, 1)
    assert np.array_equal(out, samples)
    with pytest.raises(ValueError):
        mm.decode_wav(b"OggS-not-a-riff-payload")
    # 8-bit PCM variant rejected (fmt walk reached, depth unsupported)
    import struct as st

    fmt = st.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    body = b"WAVE" + b"fmt " + st.pack("<I", len(fmt)) + fmt
    bad = b"RIFF" + st.pack("<I", len(body)) + body
    with pytest.raises(ValueError):
        mm.decode_wav(bad)


def test_audio_features_real_and_stub_routing(spark):
    from pyspark.sql import functions as F

    d = spark.range(5).select(F.col("id").alias("doc_id"))
    wavs = mm.synth_wav_column(d, "doc_id")
    feats = mm.audio_features(wavs).orderBy("doc_id").collect()
    for r in feats:
        i = r["doc_id"]
        n = 64 + i % 129
        s = [((i * 37 + j * 101) % 65536) - 32768 for j in range(n)]
        assert r["media_type"] == "wav"
        assert (r["sample_rate"], r["n_channels"]) == (16000, 1)
        assert r["n_samples"] == n
        assert r["duration_ms"] == n * 1000 // 16000
        assert (r["peak"], r["trough"], r["sample_sum"]) == (
            max(s), min(s), sum(s),
        )
    junk = d.select("doc_id", F.lit(b"not-audio").alias("payload"))
    assert all(
        r["media_type"] == "stub" for r in mm.audio_features(junk).collect()
    )


def test_y4m_roundtrip_and_rejects():
    w, h = 12, 8
    frames = []
    for f in range(3):
        yy, xx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
        y = ((f * 50 + yy * 3 + xx * 5) % 256).astype(np.uint8)
        uv = np.full((h // 2) * (w // 2), f, dtype=np.uint8)
        frames.append(y.tobytes() + uv.tobytes() + uv.tobytes())
    data = mm.encode_y4m(w, h, frames)
    w2, h2, lumas = mm.decode_y4m(data)
    assert (w2, h2, len(lumas)) == (w, h, 3)
    for f, y in enumerate(lumas):
        yy, xx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
        assert np.array_equal(y, ((f * 50 + yy * 3 + xx * 5) % 256).astype(np.uint8))
    with pytest.raises(ValueError):
        mm.decode_y4m(b"RIFF-not-y4m")
    with pytest.raises(ValueError):
        mm.encode_y4m(9, 8, frames)  # odd width
    c444 = b"YUV4MPEG2 W4 H4 F25:1 C444\n" + b"FRAME\n" + b"\x00" * 48
    with pytest.raises(ValueError):
        mm.decode_y4m(c444)


def test_video_frame_features_one_row_per_frame(spark):
    from pyspark.sql import functions as F

    d = spark.range(7).select(F.col("id").alias("doc_id"))
    clips = mm.synth_y4m_column(d, "doc_id")
    rows = mm.video_frame_features(clips).collect()
    # 1->N shape: sum over ids of (2 + id % 4) frames
    assert len(rows) == sum(2 + i % 4 for i in range(7))
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, frs in by_doc.items():
        w, h = 8 + (i % 5) * 2, 8 + ((i // 5) % 5) * 2
        assert sorted(r["frame_idx"] for r in frs) == list(range(2 + i % 4))
        for r in frs:
            f = r["frame_idx"]
            vals = [
                (i * 19 + f * 61 + y * 11 + x * 7) % 256
                for y in range(h)
                for x in range(w)
            ]
            assert (r["width"], r["height"]) == (w, h)
            assert r["luma_sum"] == sum(vals)
            assert (r["luma_min"], r["luma_max"]) == (min(vals), max(vals))
    # non-Y4M payloads are skipped entirely (no rows)
    junk = d.select("doc_id", F.lit(b"not-video").alias("payload"))
    assert mm.video_frame_features(junk).count() == 0


def test_unsupported_variants_fall_back_not_crash(spark):
    """Magic-matched but unsupported payloads (24-bit WAV, bad-depth
    PNG, non-C420 Y4M) must fall back to stub/skip — one malformed
    file must never abort the stage."""
    import struct as st

    from pyspark.sql import functions as F

    fmt24 = st.pack("<HHIIHH", 1, 1, 8000, 24000, 3, 24)
    wav24 = b"RIFF" + st.pack("<I", 4 + 8 + len(fmt24)) + b"WAVE" \
        + b"fmt " + st.pack("<I", len(fmt24)) + fmt24
    bad_png = b"\x89PNG\r\n\x1a\n" + b"\x00" * 16  # truncated, no IHDR
    c444 = b"YUV4MPEG2 W4 H4 F25:1 C444\n" + b"FRAME\n" + b"\x00" * 48

    d = spark.createDataFrame(
        [(1, bytearray(wav24)), (2, bytearray(bad_png)), (3, bytearray(c444))],
        "doc_id long, payload binary",
    )
    imgs = mm.decode_image(d).collect()
    assert all(r["media_type"] == "stub" for r in imgs)
    auds = mm.audio_features(d).collect()
    assert all(r["media_type"] == "stub" for r in auds)
    assert mm.video_frame_features(d).count() == 0
    # sanity: a GOOD payload in the same batch still decodes for real
    good = mm.synth_png_column(
        spark.range(1).select(F.col("id").alias("doc_id"))
    ).unionByName(d.filter("doc_id = 2"))
    out = {r["doc_id"]: r["media_type"] for r in mm.decode_image(good).collect()}
    assert out == {0: "png", 2: "stub"}


def test_audio_window_features_exact(spark):
    from pyspark.sql import functions as F

    d = spark.range(4).select(F.col("id").alias("doc_id"))
    wavs = mm.synth_wav_column(d, "doc_id")
    rows = mm.audio_window_features(wavs, window_samples=64).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, wins in by_doc.items():
        n = 64 + i % 129
        s = [((i * 37 + j * 101) % 65536) - 32768 for j in range(n)]
        n_wins = (n + 63) // 64
        assert sorted(r["window_idx"] for r in wins) == list(range(n_wins))
        for r in wins:
            lo = r["window_idx"] * 64
            seg = s[lo : lo + 64]
            assert r["n_samples"] == len(seg)  # last window short
            assert r["sample_sum"] == sum(seg)
            assert r["energy"] == sum(x * x for x in seg)
            assert r["peak_abs"] == max(abs(x) for x in seg)
    with pytest.raises(ValueError):
        mm.audio_window_features(wavs, window_samples=0)


def test_png_decode_adam7_interlaced():
    """Forward-interlace a reference image per the public Adam7 grid
    (filter-0 scanlines per pass), decode, and require the original
    back — covers odd dimensions where late passes dominate and empty
    passes for tiny images."""
    passes = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
              (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    for w, h in [(13, 7), (3, 3), (1, 1), (8, 8)]:
        img = _ref_image(w, h, 3, seed=w * 10 + h)
        raw = bytearray()
        for x0, y0, dx, dy in passes:
            sub = img[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            for row in sub:
                raw.append(0)
                raw.extend(row.tobytes())
        data = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1))
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )
        w2, h2, c, out = mm.decode_png(data)
        assert (w2, h2, c) == (w, h, 3)
        assert np.array_equal(out, img), f"adam7 mismatch at {w}x{h}"


def test_link_prediction_hand_graph(spark):
    import math

    from graph_etl_spark.operators import link_prediction_scores

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)], "src long, dst long"
    )
    out = link_prediction_scores(edges, min_common=2).collect()
    # only non-edge pair with >= 2 shared neighbors is (1, 4) via {2, 3}
    assert len(out) == 1
    r = out[0]
    assert (r["a"], r["b"], r["common_neighbors"]) == (1, 4, 2)
    aa = 2 * round(1 / math.log(3), 6)  # deg(2) = deg(3) = 3
    assert abs(r["adamic_adar"] - aa) < 1e-9
    assert r["jaccard"] == 1.0  # 2 / (2 + 2 - 2)
    # hub cap: with max_degree=2 the only centers left are 1 and 4
    # (degree 2), whose wedges all close as existing edges -> empty
    capped = link_prediction_scores(edges, min_common=2, max_degree=2)
    assert capped.count() == 0


def test_node2vec_walks_match_python_simulation(spark):
    """Mirror the deterministic biased argmin in pure Python on a
    hand graph and require the operator to reproduce it exactly —
    covers the return-penalty, triangle-close, and explore cases."""
    import hashlib

    from graph_etl_spark.operators import node2vec_walks

    # path 1-2-3-4 plus triangle 2-3-5: from 3 with prev 2 the
    # candidates split into return (2), triangle-close (5), explore (4)
    edge_list = [(1, 2), (2, 3), (3, 4), (2, 5), (3, 5)]
    p_pen, q_pen, seed, length, per_node = 4, 2, "n2v", 3, 2
    sym = set()
    for a, b in edge_list:
        sym.add((a, b))
        sym.add((b, a))
    adj = {}
    for a, b in sym:
        adj.setdefault(a, set()).add(b)

    def h56(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:14], 16)

    expected = set()
    for v in sorted(adj):
        for w in range(per_node):
            walk_id = v * per_node + w
            node, prev = v, None
            expected.add((walk_id, v, 0, v))
            for step in range(1, length + 1):
                best = None
                for cand in sorted(adj[node]):
                    h = h56(f"{seed}:{walk_id}:{step}:{cand}")
                    if prev is None:
                        pen = 1
                    elif cand == prev:
                        pen = p_pen
                    elif prev in adj[cand]:
                        pen = 1
                    else:
                        pen = q_pen
                    key = (h * pen, cand)
                    if best is None or key < best:
                        best, pick_node = key, cand
                prev, node = node, pick_node
                expected.add((walk_id, v, step, node))

    edges = spark.createDataFrame(edge_list, "src long, dst long")
    out = node2vec_walks(
        edges, walk_length=length, walks_per_node=per_node, p=p_pen, q=q_pen
    )
    got = {
        (r["walk_id"], r["start_id"], r["step"], r["node"])
        for r in out.collect()
    }
    assert got == expected


def test_node2vec_walks_param_validation(spark):
    from graph_etl_spark.operators import node2vec_walks

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    import pytest as _pt

    with _pt.raises(ValueError):
        node2vec_walks(edges, walk_length=0)
    with _pt.raises(ValueError):
        node2vec_walks(edges, p=0)
    with _pt.raises(ValueError):
        node2vec_walks(edges, q=65)


def test_rake_keywords_hand_corpus(spark):
    """Classic RAKE hand computation on a two-doc corpus: phrase
    segmentation at stopwords, corpus-wide degree/frequency word
    scores, per-occurrence phrase sums, per-doc top-k with text
    tie-break."""
    from graph_etl_spark.operators.text import rake_keywords

    # stoplist: {'a', 'the'}
    docs = [
        (0, "deep learning a neural network the deep model"),
        (1, "neural network a deep"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = rake_keywords(df, stopwords=["a", "the"], top_k=2).collect()
    # phrases: d0: [deep learning], [neural network], [deep model]
    #          d1: [neural network], [deep]
    # freq: deep 3, learning 1, neural 2, network 2, model 1
    # deg:  deep 2+2+1=5, learning 2, neural 2+2=4, network 4, model 2
    w = {"deep": 5 / 3, "learning": 2.0, "neural": 2.0, "network": 2.0, "model": 2.0}
    w = {k: round(v, 6) for k, v in w.items()}
    exp = {
        (0, "deep learning"): w["deep"] + w["learning"],
        (0, "neural network"): w["neural"] + w["network"],
        (0, "deep model"): w["deep"] + w["model"],
        (1, "neural network"): w["neural"] + w["network"],
        (1, "deep"): w["deep"],
    }
    got = {(r["doc_id"], r["phrase"]): r for r in out}
    # top-2 per doc: d0 keeps the two 4.0-scoring... compute expected ranks
    import itertools

    for doc in (0, 1):
        ranked = sorted(
            ((s, p) for (d, p), s in exp.items() if d == doc),
            key=lambda t: (-t[0], t[1]),
        )[:2]
        for rank, (score, phrase) in enumerate(ranked, 1):
            r = got[(doc, phrase)]
            assert abs(r["score"] - score) < 1e-9
            assert r["rank"] == rank
            assert r["n_words"] == len(phrase.split())
    assert len(got) == 4  # 2 docs x top-2


def test_rake_keywords_validation(spark):
    import pytest as _pt

    from graph_etl_spark.operators.text import rake_keywords

    df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    with _pt.raises(ValueError):
        rake_keywords(df, top_k=0)


def test_mips_topk_scale_matches_reference(spark, nan_null_vectors):
    """The Arrow per-partition reduction plan must be bit-equal to the
    reference rank-window plan, and MIPS must rank by magnitude (a
    longer vector in the same direction wins over a closer unit one).
    NaN and NULL dot products are dropped by both plans."""
    from graph_etl_spark.operators import mips_topk

    rows = [
        (0, [1.0, 0.0]),
        (1, [10.0, 0.0]),   # same direction, large magnitude
        (2, [0.9, 0.1]),    # nearly aligned, small magnitude
        (3, [0.0, 1.0]),
        (4, [-1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter("vec_id = 0")
    ref = mips_topk(df, q, k=3, scale=False).collect()
    sc = mips_topk(df, q, k=3, scale=True).collect()
    key = lambda r: (r["query_id"], r["rank"], r["neighbor_id"], r["dot_sim"])
    assert sorted(map(key, ref)) == sorted(map(key, sc))
    # magnitude wins: neighbor 1 (dot 10) over 2 (dot 0.9) over 3 (0)
    order = [r["neighbor_id"] for r in sorted(ref, key=lambda r: r["rank"])]
    assert order == [1, 2, 3]

    df, q = nan_null_vectors
    ref = mips_topk(df, q, k=3, scale=False).collect()
    sc = mips_topk(df, q, k=3, scale=True).collect()
    # no NULL or NaN score is ranked (NaN != NaN)
    assert all(
        r["dot_sim"] is not None and r["dot_sim"] == r["dot_sim"]
        for r in ref + sc
    )
    assert sorted(map(key, ref)) == sorted(map(key, sc))
    order = [r["neighbor_id"] for r in sorted(ref, key=lambda r: r["rank"])]
    assert order == [1, 2, 3]


def test_exact_global_cumsum_matches_naive_window(spark):
    """Two-phase prefix sum == single-window cumsum, with many
    partitions forcing real multi-bucket offsets."""
    import random

    from graph_etl_spark.operators import exact_global_cumsum

    rng = random.Random(7)
    rows = [(i, rng.randint(0, 50)) for i in range(300)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "k long, v long").repartition(8)
    out, total = exact_global_cumsum(df, "v", ["k"], out="cs", num_partitions=16)
    got = {r["k"]: r["cs"] for r in out.collect()}
    run, exp = 0, {}
    for k, v in sorted(rows):
        run += v
        exp[k] = run
    assert got == exp
    assert total == run
    # leading order column must be numeric
    sdf = spark.createDataFrame([("a", 1)], "k string, v long")
    import pytest as _pt

    with _pt.raises(ValueError):
        exact_global_cumsum(sdf, "v", ["k"])


def test_shard_plan_contiguity_and_budget(spark):
    """Shards are contiguous in id order, every doc starts in the
    shard covering its cumsum start, and shard boundaries never split
    below-budget runs."""
    from graph_etl_spark.operators import shard_plan

    docs = [(i, " ".join(["w"] * (10 + (i * 7) % 23))) for i in range(40)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = sorted(shard_plan(df, token_budget=100).collect())
    run = 0
    prev_shard = 0
    for r in out:
        assert r["shard"] == run // 100  # starts-in rule
        assert r["shard"] >= prev_shard  # contiguous, monotone
        run += r["n_tokens"]
        assert r["cum_tokens"] == run
        prev_shard = r["shard"]
    import pytest as _pt

    with _pt.raises(ValueError):
        shard_plan(df, token_budget=0)


def test_gini_coefficient_known_values(spark):
    """Perfect equality -> 0 (up to the (n+1)/n small-sample term);
    extreme concentration -> close to 1; hand formula parity."""
    from graph_etl_spark.operators import gini_coefficient

    eq = spark.createDataFrame(
        [(i, 10) for i in range(100)], "id long, v long"
    )
    r = gini_coefficient(eq, "v", "id").collect()[0]
    # equal values: G = 2*(sum i*10)/(n*1000) - (n+1)/n = (n+1)/n - (n+1)/n
    assert r["gini"] == 0.0 and r["n"] == 100 and r["total"] == 1000
    conc = spark.createDataFrame(
        [(i, 0) for i in range(99)] + [(99, 1000)], "id long, v long"
    )
    r2 = gini_coefficient(conc, "v", "id").collect()[0]
    # one holder of everything: G = 2*100*1000/(100*1000) - 101/100 = 0.99
    assert abs(r2["gini"] - 0.99) < 1e-9


def test_mips_ivf_monotone_routing_and_recall(spark):
    """The augmented-space reduction: all augmented data norms equal
    the corpus max norm (so augmented cosine is monotone in dot), and
    full-probe IVF (nprobe == nlist) equals exact MIPS."""
    from graph_etl_spark.operators import mips_ivf_topk, mips_topk

    import random

    rng = random.Random(3)
    rows = [
        (i, [rng.uniform(-2, 2) for _ in range(8)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter("vec_id < 4")
    exact = mips_topk(df, q, k=5).collect()
    full = mips_ivf_topk(df, q, k=5, nlist=4, nprobe=4).collect()
    key = lambda r: (r["query_id"], r["rank"], r["neighbor_id"], r["dot_sim"])
    assert sorted(map(key, exact)) == sorted(map(key, full))
    # pruned probing still hits a recall floor on this well-spread set
    pruned = mips_ivf_topk(df, q, k=5, nlist=4, nprobe=2).collect()
    hits = len(
        {(r["query_id"], r["neighbor_id"]) for r in pruned}
        & {(r["query_id"], r["neighbor_id"]) for r in exact}
    )
    assert hits >= int(0.5 * len(exact))


def test_holt_linear_matches_python_recursion(spark):
    """The per-row fold must equal the classic Holt recursion seeded
    from the trailing-window head, including partial windows, null
    exclusion, and the all-null -> NULL contract."""
    from graph_etl_spark.operators import holt_linear

    vals = [10.0, 12.0, None, 15.0, 30.0, 9.0, 11.0, 14.0, 50.0, 13.0]
    rows = [(i, 1, float(v) if v is not None else None) for i, v in enumerate(vals)]
    rows.append((100, 2, None))  # lone all-null key
    df = spark.createDataFrame(rows, "event_id long, user_id long, value double")
    out = {
        r["event_id"]: r["holt"]
        for r in holt_linear(
            df, "user_id", ["event_id"], "value", alpha=0.3, beta=0.2, window_size=4
        ).collect()
    }

    def expect(i):
        win = [v for v in vals[max(0, i - 3) : i + 1] if v is not None]
        if not win:
            return None
        l, b = win[0], 0.0
        for x in win[1:]:
            ln = 0.3 * x + (1.0 - 0.3) * (l + b)
            b = 0.2 * (ln - l) + (1.0 - 0.2) * b
            l = ln
        return round(l + b, 6)

    for i in range(len(vals)):
        e = expect(i)
        if e is None:
            assert out[i] is None
        else:
            assert abs(out[i] - e) < 1e-9, (i, out[i], e)
    assert out[100] is None


def test_fk_integrity_hand_tables(spark):
    from graph_etl_spark.functions import fk_integrity

    child = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 99), (4, None), (5, 99)],
        "id long, fk long",
    )
    parent = spark.createDataFrame([(10,), (20,), (30,)], "pk long")
    out = {
        r["relation"]: r
        for r in fk_integrity([("rel", child, "fk", parent, "pk")]).collect()
    }
    r = out["rel"]
    assert r["n_child"] == 5 and r["n_null_fk"] == 1 and r["n_orphans"] == 2
    assert abs(r["orphan_pct"] - 0.5) < 1e-9
    # all-null children: pct defined as 0, not NULL/NaN
    allnull = spark.createDataFrame([(1, None)], "id long, fk long")
    r2 = fk_integrity([("n", allnull, "fk", parent, "pk")]).collect()[0]
    assert r2["n_orphans"] == 0 and r2["orphan_pct"] == 0.0
    import pytest as _pt

    with _pt.raises(ValueError):
        fk_integrity([])


def test_seasonal_profile_iso_dow_and_index(spark):
    from datetime import datetime

    from graph_etl_spark.operators import seasonal_profile

    # 2024-01-01 is a MONDAY (iso dow 1); 2024-01-07 a SUNDAY (7)
    rows = [
        (1, datetime(2024, 1, 1, 9, 0), "a"),
        (2, datetime(2024, 1, 1, 9, 30), "a"),
        (3, datetime(2024, 1, 7, 23, 5), "a"),
        (4, datetime(2024, 1, 1, 9, 5), "b"),
        (5, None, "b"),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    out = {
        (r["event_type"], r["dow"], r["hour"]): r
        for r in seasonal_profile(df).collect()
    }
    assert set(out) == {("a", 1, 9), ("a", 7, 23), ("b", 1, 9)}
    a_mon = out[("a", 1, 9)]
    # group a: cells {2, 1}, total 3, n_cells 2 -> index 2*2/3
    assert a_mon["n_events"] == 2
    assert abs(a_mon["seasonality_index"] - round(4 / 3, 6)) < 1e-9
    # null ts excluded: group b has one cell, index exactly 1
    assert out[("b", 1, 9)]["seasonality_index"] == 1.0


def test_llr_collocations_hand_contingency(spark):
    """Hand-computed Dunning LLR on a tiny corpus, plus the ordering
    property that makes LLR useful: a frequent true collocation beats
    a one-off hapax pair that PMI would overrate."""
    import math

    from graph_etl_spark.operators import llr_collocations

    # corpus: "x y" appears 4 times amid filler; "p q" once
    docs = [
        (0, "x y a x y b x y"),
        (1, "x y c a b c p q"),
        (2, "a b c a b c a b"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        (r["token_a"], r["token_b"]): r["llr"]
        for r in llr_collocations(df, min_count=1).collect()
    }

    def llr(k11, row, col, n):
        def t(k, r, c):
            return k * math.log((k * 1.0 * n) / (r * 1.0 * c)) if k > 0 else 0.0

        k12, k21 = row - k11, col - k11
        k22 = n - row - col + k11
        return round(
            2.0
            * (t(k11, row, col) + t(k12, row, n - col)
               + t(k21, n - row, col) + t(k22, n - row, n - col)),
            6,
        )

    # bigram population: 7 + 7 + 7 = 21; n(x,y)=4, row(x)=4, col(y)=4
    assert abs(out[("x", "y")] - llr(4, 4, 4, 21)) < 1e-9
    assert abs(out[("p", "q")] - llr(1, 1, 1, 21)) < 1e-9
    assert out[("x", "y")] > out[("p", "q")]


def test_mg_heavy_hitters_guarantees(spark):
    """The Misra-Gries contract on a skewed hand distribution: heavy
    keys always present, counts are lower bounds within N/(k+1),
    summary bounded at k — across several partitionings (the summary
    content may vary, the guarantee may not)."""
    from graph_etl_spark.operators import mg_heavy_hitters

    # skew: 'a' 500, 'b' 300, 'c' 100, 40 singletons; N = 940
    vals = ["a"] * 500 + ["b"] * 300 + ["c"] * 100 + [f"z{i}" for i in range(40)]
    rows = [(v,) for v in vals]
    exact = {"a": 500, "b": 300, "c": 100}
    for parts in (1, 4, 13):
        df = spark.createDataFrame(rows, "key string").repartition(parts)
        out = {r["key"]: r["mg_count"] for r in mg_heavy_hitters(df, "key", k=3).collect()}
        n, k = 940, 3
        bound = n / (k + 1)  # 235
        assert len(out) <= k
        for key, cnt in exact.items():
            if cnt > bound:
                assert key in out, (parts, key, out)
        for key, mg in out.items():
            true = exact.get(key, 1)
            assert mg <= true, (parts, key, mg, true)
            assert true - mg <= bound, (parts, key, mg, true)
    import pytest as _pt

    with _pt.raises(ValueError):
        mg_heavy_hitters(spark.createDataFrame(rows[:1], "key string"), "key", k=0)


def test_l2_topk_scale_matches_reference_and_metric(spark, nan_null_vectors):
    from graph_etl_spark.operators import l2_topk

    rows = [
        (0, [0.0, 0.0]),
        (1, [1.0, 0.0]),    # dist 1
        (2, [0.0, 2.0]),    # dist 2
        (3, [3.0, 4.0]),    # dist 5
        (4, [10.0, 0.0]),   # dist 10
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter("vec_id = 0")
    ref = l2_topk(df, q, k=3, scale=False).collect()
    sc = l2_topk(df, q, k=3, scale=True).collect()
    key = lambda r: (r["query_id"], r["rank"], r["neighbor_id"], r["l2_dist"])
    assert sorted(map(key, ref)) == sorted(map(key, sc))
    order = [(r["neighbor_id"], r["l2_dist"]) for r in sorted(ref, key=lambda r: r["rank"])]
    assert order == [(1, 1.0), (2, 2.0), (3, 5.0)]

    # a NULL embedding must not rank as the nearest neighbour
    df, q = nan_null_vectors
    ref = l2_topk(df, q, k=3, scale=False).collect()
    sc = l2_topk(df, q, k=3, scale=True).collect()
    # no NULL or NaN score is ranked (NaN != NaN)
    assert all(
        r["l2_dist"] is not None and r["l2_dist"] == r["l2_dist"]
        for r in ref + sc
    )
    assert sorted(map(key, ref)) == sorted(map(key, sc))
    order = [r["neighbor_id"] for r in sorted(ref, key=lambda r: r["rank"])]
    assert order == [1, 2, 3]


def test_seasonal_anomaly_integer_flag(spark):
    from datetime import datetime

    from graph_etl_spark.operators import seasonal_anomaly

    # type a, Monday 9h across 3 weeks: counts 1, 1, 10 -> only the
    # 10-count day exceeds 2x the cell mean (10*3 > 2*12)
    rows = []
    eid = 0
    for day, n in ((1, 1), (8, 1), (15, 10)):
        for j in range(n):
            rows.append((eid, datetime(2024, 1, day, 9, j), "a"))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    out = seasonal_anomaly(df, factor=2).collect()
    assert len(out) == 1
    r = out[0]
    assert r["event_date"] == "2024-01-15" and r["hour"] == 9
    assert r["n_events"] == 10 and abs(r["ratio"] - 2.5) < 1e-9


def test_personalized_pagerank_reduces_to_pagerank_and_localizes(spark):
    from graph_etl_spark.operators import pagerank, personalized_pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 5)], "src long, dst long"
    )
    all_verts = spark.createDataFrame([(i,) for i in range(1, 6)], "id long")
    # seeds = all vertices -> identical to uniform pagerank, bit for bit
    pr = {r["id"]: r["pagerank"] for r in pagerank(edges, max_iter=5).collect()}
    ppr_all = {
        r["id"]: r["ppr"]
        for r in personalized_pagerank(edges, all_verts, max_iter=5).collect()
    }
    assert pr == ppr_all
    # seeds = {1}: the 4-5 component is unreachable -> rank exactly 0;
    # mass stays a distribution over the reachable triangle
    seeds = spark.createDataFrame([(1,)], "id long")
    ppr = {
        r["id"]: r["ppr"]
        for r in personalized_pagerank(edges, seeds, max_iter=60).collect()
    }
    assert ppr[4] == 0.0 and ppr[5] == 0.0
    # analytic fixpoint of the 3-cycle from seed 1:
    # r1 = 0.15/(1-0.85^3), r2 = 0.85*r1, r3 = 0.85^2*r1
    r1 = 0.15 / (1 - 0.85**3)
    # 60 rounds leave ~0.85^20 of the initial mass still circling the
    # 3-cycle unmixed -> tolerance 1e-4, tight enough to pin the shape
    assert abs(ppr[1] - r1) < 1e-4
    assert abs(ppr[2] - 0.85 * r1) < 1e-4
    assert abs(ppr[3] - 0.85 * 0.85 * r1) < 1e-4
    assert abs(sum(ppr.values()) - 1.0) < 1e-4
    import pytest as _pt

    with _pt.raises(ValueError):
        personalized_pagerank(edges, seeds.filter("id > 99"), max_iter=2)


def test_quantile_summary_bound_across_partitionings(spark):
    import random

    from graph_etl_spark.operators import quantile_summary

    rng = random.Random(11)
    vals = sorted(rng.uniform(0, 1000) for _ in range(5000))
    rows = [(v,) for v in vals]
    rng.shuffle(rows)
    for parts in (1, 8, 32):
        df = spark.createDataFrame(rows, "value double").repartition(parts)
        k = 32
        out = quantile_summary(df, "value", [0.1, 0.5, 0.99], k=k).collect()
        n = 5000
        bound = n / k + parts
        for r in out:
            assert r["n_total"] == n
            true_rank = sum(1 for v in vals if v <= r["estimate"])
            assert abs(true_rank - r["q"] * n) <= bound, (parts, r)
    import pytest as _pt

    df1 = spark.createDataFrame(rows[:5], "value double")
    with _pt.raises(ValueError):
        quantile_summary(df1, "value", [1.5])
    with _pt.raises(ValueError):
        quantile_summary(df1, "value", [0.5], k=0)


def test_maxsim_late_interaction_beats_single_vector_case(spark):
    """Hand-checkable MaxSim: each query vector independently picks
    its best match inside a candidate doc, so a doc covering BOTH
    query aspects beats a doc twice as strong on one aspect — the
    property single-vector pooling loses."""
    from graph_etl_spark.operators import maxsim_topk

    q = spark.createDataFrame(
        [(100, [1.0, 0.0]), (101, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    cands = spark.createDataFrame(
        [
            (1, [2.0, 0.0]), (1, [0.0, 0.1]),   # strong on aspect 1 only
            (2, [1.0, 0.0]), (2, [0.0, 1.0]),   # covers both aspects
            (3, [0.5, 0.0]),                    # weak, single vector
        ],
        "doc_id long, embedding array<double>",
    )
    out = {r["doc_id"]: r for r in maxsim_topk(cands, q, k=3).collect()}
    # doc1: max(2.0, 0) + max(0, 0.1) = 2.1; doc2: 1 + 1 = 2; doc3: 0.5
    assert abs(out[1]["maxsim"] - 2.1) < 1e-9
    assert abs(out[2]["maxsim"] - 2.0) < 1e-9
    assert abs(out[3]["maxsim"] - 0.5) < 1e-9
    assert out[1]["rank"] == 1 and out[2]["rank"] == 2 and out[3]["rank"] == 3
    import pytest as _pt

    with _pt.raises(ValueError):
        maxsim_topk(cands, q.filter("vec_id > 999"), k=3)


def test_containment_catches_quote_jaccard_misses(spark):
    """A short doc quoted inside a long one: containment ~1 for the
    short side while Jaccard stays tiny — the asymmetry the operator
    exists for."""
    from graph_etl_spark.operators import (
        ngram_jaccard_pairs,
        shingle_containment_pairs,
    )

    quote = "alpha beta gamma delta epsilon"
    filler = " ".join(f"w{i}" for i in range(60))
    docs = [(0, quote), (1, filler + " " + quote + " " + filler.replace("w", "u"))]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    cont = shingle_containment_pairs(df, threshold=0.8, max_shingle_df=None).collect()
    assert len(cont) == 1
    r = cont[0]
    # every shingle of the quote occurs in the long doc
    assert r["id_a"] == 0 and r["containment_a"] == 1.0
    assert r["containment_b"] < 0.1
    jac = ngram_jaccard_pairs(df, threshold=0.5, max_shingle_df=None).collect()
    assert jac == []  # symmetric jaccard misses the inclusion


def test_funnel_windowed_subset_of_unbounded(spark):
    from datetime import datetime, timedelta

    from graph_etl_spark.operators import funnel_counts, funnel_windowed_counts

    t0 = datetime(2024, 1, 1, 0, 0)
    rows = [
        # user 1 converts fully inside the window
        (1, t0, "signup"), (1, t0 + timedelta(hours=1), "view"),
        (1, t0 + timedelta(hours=2), "purchase"),
        # user 2's purchase lands after the 24h window -> windowed drops it
        (2, t0, "signup"), (2, t0 + timedelta(hours=3), "view"),
        (2, t0 + timedelta(hours=30), "purchase"),
        # user 3 views before signing up -> neither funnel credits the view
        (3, t0 + timedelta(hours=1), "signup"), (3, t0, "view"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    steps = ["signup", "view", "purchase"]
    unb = {r["step"]: r["n_users"] for r in funnel_counts(df, steps).collect()}
    win = {
        r["step"]: r["n_users"]
        for r in funnel_windowed_counts(df, steps, window_seconds=86400).collect()
    }
    assert unb == {1: 3, 2: 2, 3: 2}
    assert win == {1: 3, 2: 2, 3: 1}
    import pytest as _pt

    with _pt.raises(ValueError):
        funnel_windowed_counts(df, steps, window_seconds=0)
    with _pt.raises(ValueError):
        funnel_windowed_counts(df, [], window_seconds=10)


def test_rfm_segments_hand_bands(spark):
    from datetime import datetime, timedelta

    from graph_etl_spark.operators import rfm_segments

    t0 = datetime(2024, 1, 1)
    rows = []
    eid = 0
    # 5 users: user i has i+1 events, value 10*(i+1) each, with its
    # last event on day i — so user 4 is the most recent, most
    # frequent, and highest-value; monotone R/F/M by construction
    for i in range(5):
        for j in range(i + 1):
            rows.append((eid, t0 + timedelta(days=i, hours=j), i, 10.0 * (i + 1)))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long, value double")
    out = {r["user"]: r for r in rfm_segments(df, n_bands=5).collect()}
    assert len(out) == 5
    # user 4 is most recent, most frequent, highest-value -> 5/5/5
    assert (out[4]["r"], out[4]["f"], out[4]["m"]) == (5, 5, 5)
    # user 0 is the opposite extreme
    assert (out[0]["r"], out[0]["f"], out[0]["m"]) == (1, 1, 1)
    # bands are a permutation of 1..5 on each axis here (all distinct)
    for axis in ("r", "f", "m"):
        assert sorted(out[u][axis] for u in out) == [1, 2, 3, 4, 5]
    assert out[4]["frequency"] == 5 and out[4]["monetary"] == 250.0
    import pytest as _pt

    with _pt.raises(ValueError):
        rfm_segments(df, n_bands=0)


def test_zipf_fit_known_slopes(spark):
    """An exact power-law corpus freq(r) = C * r^s must recover slope
    s; a uniform corpus must fit slope 0."""
    from graph_etl_spark.operators import zipf_fit

    # freq(rank) = 2^20 / rank -> slope exactly -1 on the log-log line
    rows = []
    for r in range(1, 21):
        rows.extend([(f"w{r:03d}",)] * (2 ** 20 // r // 1024))
    df = spark.createDataFrame([(0, " ".join(w for (w,) in rows))],
                               "doc_id long, text string")
    out = zipf_fit(df, top_k=20).collect()[0]
    assert out["k"] == 20
    assert abs(out["slope"] - (-1.0)) < 0.01
    uni = spark.createDataFrame(
        [(0, " ".join(f"u{i} " * 7 for i in range(30)))],
        "doc_id long, text string",
    )
    out2 = zipf_fit(uni, top_k=30).collect()[0]
    assert abs(out2["slope"]) < 1e-9
    import pytest as _pt

    with _pt.raises(ValueError):
        zipf_fit(df, top_k=1)


def test_textrank_hub_word_wins(spark):
    """A word co-occurring with every other word must out-rank the
    peripheral words (graph centrality, not raw frequency: the hub
    appears once per pair while peripherals repeat in filler)."""
    from graph_etl_spark.operators import textrank_keywords

    # hub h bridges w0..w5 (degree 6); the x-y filler lives in
    # separate documents so repetition adds no edges (degree 1 each)
    docs = [(i, f"w{i} h w{(i + 1) % 6}") for i in range(6)]
    docs += [(10 + i, "x y x y x y") for i in range(3)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = textrank_keywords(df, cooc_window=2, top_k=3, max_iter=10).collect()
    assert out[0]["word"] == "h" and out[0]["rank"] == 1
    import pytest as _pt

    with _pt.raises(ValueError):
        textrank_keywords(df, cooc_window=0)
