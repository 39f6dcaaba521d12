"""Empirical scale probe: run headline operators at 1x and Nx input
and report the runtime ratio. Near-N ratios mean the plan's cost is
linear in input (shuffles sized by data, no hidden quadratics); a
superlinear ratio flags a pair-blowup or a buffer that grows with
corpus size.

The Nx frame is the sf corpus unioned N times with namespaced ids AND
per-copy-suffixed text/vectors, so cross-copy rows are NOT duplicates —
output sizes stay ~linear and the probe measures plan scaling, not
data-dependent pair growth.

Usage: python tools/scale_probe.py [N]   (default 10, sf0.1)
Prints one JSON line: {"n": N, "ops": {name: {"t1": s, "tn": s,
"ratio": r}}}.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from graph_etl_spark import operators as ops  # noqa: E402
from graph_etl_spark.metrics import measure  # noqa: E402
from graph_etl_spark.session import get_spark  # noqa: E402
from graph_etl_spark.sources import read_table  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def replicate_docs(d, n):
    parts = []
    for i in range(n):
        # mutate EVERY token per copy (marker spliced into every gap):
        # one appended tag would leave copies as genuine near-dups and
        # the pair ops would measure quadratic DATA growth, not plan
        # scaling; fully-disjoint token sets keep outputs ~linear
        parts.append(
            d.select(
                (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
                F.regexp_replace(F.col("text"), " ", f" c{i}_").alias("text"),
                "lang",
                "source",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def replicate_vecs(e, n):
    # dim from the data, not a constant: zip_with null-pads the shorter
    # side, so a wrong hardcoded width would silently null vector
    # components instead of failing
    first = e.select("embedding").first()
    dim = len(first["embedding"]) if first else 0
    parts = []
    for i in range(n):
        # per-copy deterministic sign pattern: dot products WITHIN a
        # copy are bit-identical to the original corpus (s_j^2 = 1), so
        # within-copy near-dup structure is preserved, while cross-copy
        # cosines decorrelate — no planted quadratic pair growth (a
        # constant shift would make every copy-i vector collinear).
        # Signs come from md5(copy:j): the earlier arithmetic pattern
        # ((j*31 + k*17) % 2) reduced to k mod 2, making all same-parity
        # copies IDENTICAL vectors — 40k planted dup pairs at n=10, so
        # the pair ops measured quadratic data growth, not plan scaling.
        import hashlib

        signs = F.array(
            *[
                F.lit(
                    1.0
                    if int(hashlib.md5(f"copy{i}:{j}".encode()).hexdigest()[:4], 16) % 2
                    else -1.0
                )
                for j in range(dim)
            ]
        )
        parts.append(
            e.select(
                (F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"),
                F.zip_with(
                    "embedding", signs, lambda x, s: (x * s).cast("float")
                ).alias("embedding"),
                "label",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def probe_streaming_state(spark, n: int) -> dict:
    """Stream-stream interval-join state growth vs the watermark
    (VERDICT r6 #5): feed 1x and Nx event volumes as MULTIPLE
    micro-batches whose event time advances copy-over-copy (each copy
    time-shifted past the watermark horizon), and read the state
    store's final row count from the query progress. Bounded state
    means the Nx run's final state stays ~flat (the watermark evicted
    old copies), NOT ~Nx — the property that makes the operator
    survivable on an unbounded stream."""
    import glob
    import shutil
    import tempfile

    from graph_etl_spark.streaming import streaming_interval_join

    events = read_table(spark, SF_DIR, "events").select("user_id", "ts", "event_type")
    span_expr = events.agg(
        (F.max("ts").cast("long") - F.min("ts").cast("long")).alias("span")
    ).first()
    span_secs = int(span_expr["span"]) + 7200  # copy shift > watermark (1h)

    def run(copies: int) -> int:
        workdir = tempfile.mkdtemp(prefix="probe_stream_")
        src = f"{workdir}/src"
        for i in range(copies):
            # one directory-of-files append per copy, mtime-ordered so
            # the file source delivers copies in event-time order
            shifted = events.select(
                "user_id",
                F.timestamp_seconds(
                    F.col("ts").cast("long") + F.lit(i * span_secs)
                ).alias("ts"),
                "event_type",
            )
            shifted.coalesce(1).write.mode("append").parquet(src)
        n_files = len(glob.glob(f"{src}/*.parquet"))
        stream = spark.readStream.schema(
            "user_id long, ts timestamp, event_type string"
        ).option("maxFilesPerTrigger", max(1, n_files // max(copies, 1))).parquet(src)
        joined = streaming_interval_join(
            stream, stream, on="user_id", within="10 minutes", watermark="30 minutes"
        )
        q = (
            joined.writeStream.format("noop")
            .option("checkpointLocation", f"{workdir}/ck")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        state_rows = 0
        for prog in q.recentProgress:
            for op in prog.get("stateOperators") or []:
                state_rows = max(state_rows, op.get("numRowsTotal") or 0)
        shutil.rmtree(workdir, ignore_errors=True)
        return state_rows

    s1, sn = run(1), run(n)
    return {"t1": s1, "tn": sn, "ratio": round(sn / max(s1, 1), 1), "unit": "state_rows"}


# Probe-key -> registry-query-name overrides where the mechanical
# suffix match below fails (probe keys are operator-level; registry
# keys carry family prefixes and sometimes different nouns). Probes
# with NO registered twin (operator stages, adversarial worst cases)
# map to None explicitly.
PROBE_TO_REGISTRY = {
    "asof_nearest": "asof_join_nearest",
    "image_phash": "mm_image_phash_dedup",
    "line_dedup": "dedup_line_dedup",
    "soft_dedup_weights": "dedup_soft_weights",
    "pipeline_flow": "pipeline_stage_map_load",
    "assortativity": "graph_assortativity",
    "burstiness": "events_burstiness",
    "cohort_ltv": "events_cohort_ltv",
    "dup_span_scrub": "dedup_span_scrub",
    "dup_rate_by_source": "dedup_dup_rate_by_source",
    "event_transitions": "events_markov",
    "exact_dedup": "dedup_exact_groups",
    "freshness_report": "etl_freshness",
    "holt_linear": "events_holt_forecast",
    "cdc_chunks": "dedup_cdc_chunks",
    "image_ahash": "mm_image_ahash_dedup",
    "incremental_dedup": "dedup_incremental",
    "mad_outliers": "quality_mad_outliers",
    "lsh_cosine_neardup": "sim_cosine_neardup_pairs",
    "mg_heavy_hitters": "approx_heavy_hitters",
    "normalize_text": "text_normalize",
    "numeric_histogram": "quality_histogram",
    "passage_dedup": "dedup_passages",
    "peak_concurrency": "events_concurrency",
    # the ADC shortlist stage dominates sim_pq_refine_topk's scale
    # path; since r15 the composed shortlist+exact-refine plan is ALSO
    # probed directly (pq_refine_topk) — both rows certify that query
    "pq_adc_topk": "sim_pq_refine_topk",
    "pq_refine_topk": "sim_pq_refine_topk",
    "semdedup_survivors": "dedup_semdedup",
    "audio_fingerprint": "mm_audio_fingerprint_dedup",
    "phash_pairs_wide": "mm_image_phash_pairs_wide",
    "clip_filter": "sim_clip_filter",
    "embedding_outliers": "sim_embedding_outliers",
    "mojibake_scrub": "quality_mojibake_scrub",
    "video_keyframe_dedup": "mm_video_keyframe_dedup",
    "minhash_contamination": "dedup_minhash_contamination",
    "profile_table_exact": "etl_profile_table",
    "ingest_admission": "stream_ingest_admission",
    "ppl_gate": "quality_ppl_gate",
    "corr_matrix": "quality_corr_matrix",
    "q2_min_cost": "q2_min_cost_supplier",
    "ivf_topk": "sim_ivf_topk",
    "louvain_coarsen": "graph_louvain_coarsen",
    "louvain_two_level": "graph_louvain_two_level",
    "cdc_guarded": "dedup_cdc_guarded",
    "k_anonymity": "quality_k_anonymity",
    "cohen_kappa": "quality_cohen_kappa",
    "token_budget": "quality_token_budget",
    "ab_srm": "events_ab_srm",
    "closeness": "graph_closeness",
    "vocab_overlap": "text_vocab_overlap",
    "bot_users": "events_bot_users",
    "ivf_recall_curve": "sim_ivf_recall_curve",
    "gopher_rules": "quality_gopher_rules",
    "hll_union": "approx_hll_union",
    "ktruss": "graph_ktruss",
    "char_entropy": "text_char_entropy",
    "overlap_pairs": "dedup_overlap_pairs",
    "pq_encode": "sim_pq_codes",
    "quality_classifier_train": "quality_clf_weights",
    "quantize_embeddings": "sim_quantize_int8",
    "resample_ohlc": "events_ohlc",
    "retention_cohorts": "events_retention",
    "session_window_stats": "events_session_windows",
    "source_quota_cap": "quality_source_quota",
    "source_quota_cap_megadomain": "quality_source_quota",
    "streaming_interval_join_state": "stream_interval_join",
    "tokenizer_fertility": "text_fertility",
    "triangle_count": "graph_triangles",
    "trigram_perplexity": "quality_trigram_ppl",
}


def registry_name_map(probe_keys) -> dict:
    """Annotate each probe row with the registry query it certifies
    (VERDICT r11 #8 'ratios annotated'): explicit override first, else
    the unique registry name equal to the key or ending in '_<key>'
    (shortest match wins — 'pagerank' must not resolve to
    'graph_personalized_pagerank')."""
    import __spark_entry__ as em

    qnames = list(em.queries())
    out = {}
    for k in sorted(probe_keys):
        if k in PROBE_TO_REGISTRY:
            out[k] = PROBE_TO_REGISTRY[k]
            continue
        cands = [q for q in qnames if q == k or q.endswith("_" + k)]
        out[k] = min(cands, key=len) if cands else None
    return out


def _admission_flow(d):
    """stream_ingest_admission's batch-twin shape on any (doc_id,
    text) frame: two sequential batches vetted against a growing
    index (incremental_dedup twice, all semi-joins)."""
    did = F.col("doc_id")
    base = d.select("doc_id", "text")
    idx = base.filter(did % 3 != 0)
    bat1 = base.filter(did % 6 == 0)
    bat2 = base.filter(did % 6 == 3)
    v1 = ops.incremental_dedup(idx, bat1).localCheckpoint(eager=False)
    kept1 = v1.filter(F.col("verdict") == "kept").select("doc_id")
    admitted1 = bat1.join(kept1, "doc_id", "left_semi")
    v2 = ops.incremental_dedup(idx.unionByName(admitted1), bat2)
    return v1.select(
        F.lit(1).alias("batch_id"), "doc_id", "verdict"
    ).unionByName(v2.select(F.lit(2).alias("batch_id"), "doc_id", "verdict"))


def _squality_gate(d, **kw):
    from graph_etl_spark.streaming import streaming_quality_gate

    return streaming_quality_gate(d, **kw)


def timed_thunk(thunk) -> float:
    """Best wall of two runs of df-construction AND materialization —
    for operators that train eagerly (driver-side collects) during
    construction."""
    spark = SparkSession.active()
    walls = [
        measure(spark, lambda: thunk().write.format("noop").mode("overwrite").save())[1]["wall_s"]
        for _ in range(2)
    ]
    return round(min(walls), 2)


def timed(df) -> float:
    return timed_thunk(lambda: df)


def main() -> None:
    # usage: scale_probe.py [N] [--only name1,name2]  (--only runs a
    # subset and SKIPS the streaming-state probe unless named)
    only: set[str] | None = None
    argv = list(sys.argv[1:])
    if "--only" in argv:
        i = argv.index("--only")
        only = set(argv[i + 1].split(","))
        del argv[i : i + 2]
    n = int(argv[0]) if argv else 10
    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    d1 = read_table(spark, SF_DIR, "documents").select("doc_id", "text", "lang", "source")
    e1 = read_table(spark, SF_DIR, "embeddings")
    dn, en = replicate_docs(d1, n), replicate_vecs(e1, n)

    cases = {
        "exact_dedup": lambda d: ops.exact_dedup(d),
        "minhash_lsh_pairs": lambda d: ops.minhash_lsh_pairs(d, num_perm=16, bands=8),
        "simhash_pairs": lambda d: ops.simhash_pairs(d, bits=32, max_hamming=2),
        "ngram_jaccard_pairs": lambda d: ops.ngram_jaccard_pairs(d, threshold=0.12),
        "repetition_stats": lambda d: ops.repetition_stats(d),
        "tfidf_top_terms": lambda d: ops.tfidf_top_terms(d, k=3),
        # r6: sources stay fixed while docs 10x, so the quota window's
        # per-source sort grows 10x — probes the documented skew note
        # (output stays bounded at cap x n_sources)
        "source_quota_cap": lambda d: ops.source_quota_cap(d, cap=10),
        # r7 (VERDICT r6 #5): ONE mega-domain holding every row — the
        # documented worst case for the per-source ranking window (all
        # rows land on one reducer). The pre-prune remedy the docs
        # prescribe is what keeps the ratio near-linear; a superlinear
        # ratio here means the single-key sort became the bottleneck.
        "source_quota_cap_megadomain": lambda d: ops.source_quota_cap(
            d.withColumn("source", F.lit("the-one-domain.example")), cap=10
        ),
        # r13 batch 3: trigram vocab overlap — distinct (group, term)
        # + one term-keyed self-join; per-copy-disjoint tokens keep
        # the shared-term fan-out copy-local
        "vocab_overlap": lambda d: ops.vocab_overlap(d, "lang", ngram=3),
        # r13 batch 2: kappa — three bounded aggs + class-sized join
        "cohen_kappa": lambda d: ops.cohen_kappa(
            ops.lang_id(d), "lang", "lang_pred"
        ),
        # r13 batch 2: k-anonymity — one census groupBy
        "k_anonymity": lambda d: ops.k_anonymity(d, ["lang", "source"], k=10),
        # r13 batch 2: budget fill — one scan + one per-source window;
        # sources stay fixed while docs 10x (the quota-window regime)
        "token_budget": lambda d: ops.token_budget_fill(
            d, budget_tokens=1000
        ),
        # r13: Gopher rule battery — pure map-side row expressions
        "gopher_rules": lambda d: ops.gopher_rules(d, min_words=30),
        # r17 (post-freeze): reliability bins — one <=10-group
        # map-side-combining agg + a 1-row broadcast total; must be
        # scan-linear
        "calibration_bins": lambda d: ops.calibration_bins(
            ops.quality_score(d).withColumn(
                "__y", F.col("lang") == "en"
            ),
            "quality",
            "__y",
        ),
        # r13: char entropy — one explode + two map-side-combining aggs
        "char_entropy": lambda d: ops.char_entropy(d),
        # r13: shard-seam overlap — two k-token projections + ONE
        # hash-keyed equi-join; copies are token-disjoint so pairs
        # stay copy-local
        "overlap_pairs": lambda d: ops.prefix_suffix_overlap(d, k=8),
        # r13: HLL merge — groups x 64 register rows then one bounded
        # merge agg; the exact audit columns are the only data re-scan
        "hll_union": lambda d: ops.hll_union(d, "source", "doc_id", p=6),
        # r13: guarded CDC — JVM candidate flags, doc-grouped Arrow
        # guard walk (sparse candidate list), JVM chunk-hash roll-up;
        # docs are the parallelism unit, one doc-keyed shuffle class
        "cdc_guarded": lambda d: ops.cdc_chunk_hashes(
            d, min_tokens=4, max_tokens=24
        ),
        # r13 (VERDICT r12 #7): the 2.7 s two-batch admission flow —
        # incremental_dedup twice against a growing index, all
        # semi-join shaped; index AND batches 10x together
        "ingest_admission": lambda d: _admission_flow(d),
        # r7: sub-document dedup — the hash-rank window partitions by
        # passage hash (uniform) and reassembly by doc id; both
        # shuffles are data-sized, so the ratio must stay near-linear
        "passage_dedup": lambda d: ops.passage_dedup(d, passage_tokens=32),
        # r7: unigram LM — the disjoint per-copy token sets grow the
        # vocabulary ~Nx with the corpus (the broadcast join's worst
        # growth direction); the per-doc mean agg is data-sized
        "unigram_logprob": lambda d: ops.unigram_logprob(d),
        # r7: full dedup pipeline incl. connected components — the
        # pair graph stays copy-local (disjoint tokens), so CC round
        # count is constant and the ratio probes the per-round scans
        "neardup_survivors": lambda d: ops.dedup_clusters(
            ops.minhash_lsh_pairs(d, num_perm=16, bands=8), d.select("doc_id")
        )
        .groupBy(F.col("cluster_id").alias("survivor_id"))
        .agg(F.count(F.lit(1)).alias("n_members")),
        # r7 (cont.): duplicate-span scrub — gram postings are corpus-
        # sized (one row per token position), the first-occurrence
        # window keys on uniform md5 hashes, coverage/reassembly is
        # per-row; disjoint per-copy tokens keep removed-span counts
        # flat so the ratio probes plan scaling, not dup growth
        "dup_span_scrub": lambda d: ops.dup_span_scrub(d, span_tokens=8),
        # r7 (cont.): incremental vetting — index AND batch both grow
        # Nx (the nightly-crawl worst case); everything is semi-join
        # shaped so the ratio must stay near-linear even though the
        # index side's distinct hash/bucket sets grow with the corpus
        "incremental_dedup": lambda d: ops.incremental_dedup(
            d.filter(F.col("doc_id") % 3 != 0), d.filter(F.col("doc_id") % 3 == 0)
        ),
        # r8 (VERDICT r7 #6): curriculum ordering — band×sub_bucket
        # ranking partitions; docs 10x while bands×buckets stay fixed,
        # so each window partition grows 10x but there are 160 of them
        # (parallelism never collapses to n_bands — the design claim)
        "curriculum_order": lambda d: ops.curriculum_order(d),
        # r8: temperature-weighted mixture sampling — sources stay
        # fixed while docs 10x, so the weights agg shrinks relatively
        # and the membership filter is map-side; near-linear expected
        "mixture_sample": lambda d: ops.mixture_sample(d, target_permille=300),
        # r8 batch 2: canonical normalization + BM25 + dataset split —
        # all map-side or one-agg shapes, near-linear expected
        "normalize_text": lambda d: ops.normalize_text(d),
        "bm25_rank": lambda d: ops.bm25_rank(d, ["vector", "hash", "spark"], k=20),
        "dataset_split": lambda d: ops.dataset_split(d),
        # r8: URL dedup — urls derive from the namespaced doc ids, so
        # canonical groups are copy-local; one ranked-window shuffle
        "url_dedup": lambda d: ops.url_dedup(
            d.withColumn("url", F.concat(F.lit("https://ex.com/"), F.col("doc_id")))
        ),
        # r8: trigram perplexity — disjoint per-copy token sets grow
        # the bigram/trigram model tables ~Nx (broadcast-join worst
        # direction, same note as unigram); the scoring stream is
        # data-sized with one per-doc window shuffle
        "trigram_perplexity": lambda d: ops.trigram_perplexity(d),
        # r8 batch 7: negative sampling — pairs AND corpus both grow
        # Nx (draws explode k+2 per pair; the dense-index join is the
        # only corpus-sized shuffle)
        "negative_samples": lambda d: ops.negative_samples(
            d.select(F.col("doc_id").alias("anchor_id"),
                     (F.col("doc_id") + 1).alias("positive_id")),
            d.select("doc_id"), k=3),
        # r8 batch 9: hashing-trick features — disjoint per-copy
        # tokens grow the (doc, bucket) key space linearly
        "feature_hashing": lambda d: ops.feature_hashing(d, n_buckets=32),
        # r8 batch 6: inverted index — disjoint per-copy tokens grow
        # the term key space ~Nx; one agg with bounded postings payload
        "inverted_index": lambda d: ops.inverted_index(d, min_df=2),
        # r8 batch 4: adjacent-token PMI — disjoint per-copy tokens
        # grow the vocab AND the bigram-pair table ~Nx (the un-hinted
        # vocab join's worst direction); the bigram stream is one
        # window lead, data-sized
        "pmi_bigrams": lambda d: ops.pmi_bigrams(d, min_count=5),
        # r11: Kneser-Ney — same model-table growth direction as
        # bigram/trigram (disjoint per-copy tokens grow the bigram /
        # continuation tables ~Nx); one per-doc lag window
        "kn_logprob": lambda d: ops.kneser_ney_logprob(d),
        # r11: order-free checksum — per-row JVM hash + one map-side-
        # combined agg; must be ~scan-linear
        "table_checksum": lambda d: __import__(
            "graph_etl_spark.functions", fromlist=["table_checksum"]
        ).table_checksum(d, ["doc_id", "text"], group_col="source"),
        # r11: fertility — two map-side counts + a bounded group agg
        "tokenizer_fertility": lambda d: ops.tokenizer_fertility(d),
        # r11: langid eval — one map-side scoring pass + a
        # languages²-bounded agg; must be ~scan-linear
        "langid_confusion": lambda d: ops.langid_confusion(d),
        # r11: sketch audit — candidates stay copy-local (disjoint
        # tokens), signature + exact-intersection joins all candidate-
        # or doc-sized
        "minhash_audit": lambda d: ops.minhash_jaccard_audit(
            d, num_perm=16, bands=8
        ),
        # r11: novelty — disjoint per-copy tokens keep shingles
        # copy-local, so the df table grows ~Nx and the join is the
        # corpus-sized shuffle the docstring claims
        "ngram_novelty": lambda d: ops.ngram_novelty(d, n=3),
        # r11: DSIR — the model is BOUNDED (n_buckets rows) however
        # the corpora grow; target fixed at the 1x english slice
        "dsir_weights": lambda d: ops.dsir_weights(
            d, d.filter(F.col("lang") == "en").limit(5000), n_buckets=128
        ),
        # r11: JS domain shift — both corpora 10x; only the two
        # bounded count tables survive the scans
        "domain_shift": lambda d: ops.domain_shift(
            d.filter(F.col("lang") == "en"),
            d.filter(F.col("lang") != "en"),
            n_buckets=128,
        ),
    }
    # BPE trains EAGERLY during construction (per-round argmax
    # collects), so it is timed as a thunk — df-construction plus the
    # result write — not as a lazy plan. Disjoint per-copy tokens grow
    # the distinct-word table ~Nx (the pair-count aggregation's worst
    # direction); per round the shuffle carries pair partials only.
    _base_merges = ops.bpe_learn_merges(d1, rounds=2)  # fixed rules for the encode probe
    thunk_cases = {
        # r8 batch 12: PR-curve sweep — lazily checkpointed stats frame
        # caches across writes, so thunk-time a FRESH frame per run;
        # whole curve is one scan, output threshold-count-sized
        "pr_curve": lambda d: (
            lambda: ops.pr_curve(
                ops.quality_score(d).withColumn("__y", F.col("lang") == "en"),
                "quality", "__y", [0.3, 0.5, 0.7, 0.9],
            )
        ),
        "bpe_merges": lambda d: (lambda: ops.bpe_learn_merges(d, rounds=2)),
        # r8 (VERDICT r7 #6): the logistic trainer — per iteration one
        # corpus scan + a (dim+3)-row collect; 2 iterations, so the
        # ratio probes the scan scaling (the corpus never shuffles)
        "quality_classifier_train": lambda d: (
            lambda: ops.quality_classifier_train(d, dim=16, iters=2)
        ),
        # r8: the default single-scan profile — collects its one-row
        # agg during construction, so timed as a thunk; near-linear or
        # the single-scan claim is wrong
        # r8: tokenizer APPLY under rules learned ONCE on the base
        # corpus (fixed rules at both scales, so the ratio measures the
        # encode scan + per-doc reassembly, not re-learning)
        "bpe_encode": lambda d: (
            lambda: ops.bpe_encode(d, _base_merges)
        ),
        "profile_table_fast": lambda d: (
            lambda: ops.profile_table(d.select("doc_id", "text", "lang", "source"))
        ),
        # r10: RAKE — disjoint per-copy tokens grow the word-stats
        # vocab ~Nx with the corpus; segmentation window is per-doc
        "rake_keywords": lambda d: (lambda: ops.rake_keywords(d, top_k=3)),
        # r10: Dunning LLR — same bigram/marginal shape as pmi_bigrams
        "llr_collocations": lambda d: (lambda: ops.llr_collocations(d, min_count=5)),
        # r10: two-phase exact prefix sum — bucket-local running sums
        # + broadcast offsets; rows 10x over fixed buckets must stay
        # scan-linear with NO single-reducer cumsum
        "shard_plan": lambda d: (lambda: ops.shard_plan(d, token_budget=512)),
        # r10: Gini — the two-phase exact rank + one aggregation
        "gini_tokens": lambda d: (lambda: ops.gini_coefficient(
            __import__("graph_etl_spark.operators.text", fromlist=["token_count"]).token_count(d),
            "n_tokens", "doc_id",
        )),
        # r10: Misra-Gries — bounded k-counter state per partition,
        # partitions x k summary rows; must be ~scan-linear
        "mg_heavy_hitters": lambda d: (lambda: ops.mg_heavy_hitters(d, "source", k=8)),
        # r10: Zipf fit — one token count agg + a 100-row take + one
        # k-row OLS agg; must be ~scan-linear
        "zipf_fit": lambda d: (lambda: ops.zipf_fit(d, top_k=100)),
        # r10: containment — the same capped inverted-index stage as
        # jaccard (shared helper), so the same linear-growth argument
        "containment_pairs": lambda d: (
            lambda: ops.shingle_containment_pairs(d, threshold=0.3)
        ),
        # r12: per-source dup rate — the neardup_survivors shapes
        # plus one doc-keyed source join; copies are token-disjoint so
        # clusters stay copy-local
        "dup_rate_by_source": lambda d: (
            lambda: ops.dup_rate_by_source(d)
        ),
        # r12: CDC chunk dedup — explode + lag-window flags + one
        # doc-keyed cumulative window + hash-keyed frequency join;
        # disjoint per-copy tokens keep chunk hashes copy-local
        "cdc_chunks": lambda d: (
            lambda: ops.cdc_dedup_report(d, window=4, mask_bits=4)
        ),
        # r13 (VERDICT r12 #7): perplexity band + heuristic gate —
        # LM training rides a 50% hash-sample of the same corpus (so
        # the trained model grows with input, as the query's does);
        # banding is two rank windows, the gate map-side
        "ppl_gate": lambda d: (
            lambda: ops.ppl_band_filter(
                ops.trigram_perplexity(
                    d, lam3=0.6, lam2=0.3,
                    train_df=ops.hash_sample(d, permille=500, salt="lm"),
                ),
                lo_permille=50, hi_permille=900,
            ).join(
                _squality_gate(
                    d, min_tokens=10, max_dup_word_frac=0.5,
                    max_contact_strings=10,
                ).select("doc_id"),
                "doc_id", "left_semi",
            )
        ),
        # r13: the EXACT-distinct profile (the registered
        # etl_profile_table runs exact_distinct=True): one Expand agg,
        # cost k x scan — linear in rows at fixed column count
        "profile_table_exact": lambda d: (
            lambda: ops.profile_table(
                d.select("doc_id", "text", "lang", "source"),
                exact_distinct=True,
            )
        ),
        # r12: perceptual image hash — PNG synth + real decode + hash,
        # two Arrow map stages with bounded output rows; pure scan
        "image_ahash": lambda d: (
            lambda: ops.image_ahash(
                ops.synth_png_variant_column(d.select("doc_id"))
            )
        ),
    }

    # graph/fuzzy cases run over lineitem-derived frames: copies get
    # namespaced part keys, so edges/candidates stay copy-local and
    # the ratio measures plan scaling (the wedge join's fan-out is the
    # quadratic this probe exists to catch — the registered query's
    # 1995 prune came from exactly this measurement)
    li = read_table(spark, SF_DIR, "lineitem").filter(
        F.expr("year(l_shipdate) = 1995")
    ).select("l_orderkey", "l_partkey")

    def replicate_li(n_copies: int):
        parts = [
            li.select(
                (F.col("l_orderkey") + F.lit(i * 100_000_000)).alias("l_orderkey"),
                (F.col("l_partkey") + F.lit(i * 100_000_000)).alias("l_partkey"),
            )
            for i in range(n_copies)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def copurchase(frame):
        a, b = frame.alias("a"), frame.alias("b")
        return a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        ).select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )

    li_cases = {
        "triangle_count": lambda f: ops.triangle_count(copurchase(f)),
        # r11: modularity — two endpoint joins + per-community aggs,
        # communities derived in-plan (partkey mod 25) so the
        # partition table grows with the graph (the shuffled-join
        # regime, not broadcast); no iteration, must be ~linear
        "modularity": lambda f: ops.modularity(
            copurchase(f).distinct(),
            copurchase(f)
            .select(F.col("src").alias("id"))
            .unionByName(copurchase(f).select(F.col("dst").alias("id")))
            .distinct()
            .withColumn("community", F.col("id") % 25),
        ),
        # r8: k-core peel — namespaced copies keep the shell structure
        # per copy, so round count stays constant while edges 10x; the
        # ratio probes the per-round degree agg + semi-joins
        "kcore": lambda f: ops.kcore(copurchase(f), k=4, max_iter=15),
        # r12 (VERDICT r11 #8): one-hop neighborhood features — one
        # degree agg + one vertex-keyed join + one agg; scan-linear
        "neighbor_stats": lambda f: ops.neighbor_stats(copurchase(f)),
        # r12: degree assortativity — one degree agg + two
        # vertex-keyed joins + a 1-row moment agg; scan-linear
        "assortativity": lambda f: ops.degree_assortativity(
            copurchase(f)
        ),
        # r13: Louvain phase-2 contraction — two label joins + one
        # community-pair agg; output is community-graph-sized
        "louvain_coarsen": lambda f: ops.louvain_coarsen(
            copurchase(f).distinct(),
            copurchase(f)
            .select(F.col("src").alias("id"))
            .unionByName(copurchase(f).select(F.col("dst").alias("id")))
            .distinct()
            .withColumn("community", F.col("id") % 25),
        ),
    }

    # r8 batch 4 iterative graph ops checkpoint EAGERLY per round, so
    # they are thunk-timed (construction = the iterations)
    li_thunk_cases = {
        # r11: Louvain move — one scalar collect for m, then
        # degree/total/k_ic aggregations + a node-keyed argmax window
        # (bounded by distinct neighbor communities); copies are
        # edge-disjoint with per-copy communities
        # r13 batch 2: harmonic closeness — synchronized frontier,
        # fixed seed count while the graph 10x (copies edge-disjoint)
        "closeness": lambda f: (
            lambda: ops.closeness_sample(
                copurchase(f),
                copurchase(f).select(F.col("src").alias("id")).distinct().limit(8),
                max_hops=3,
            )
        ),
        # r13: k-truss — per round one wedge-join triangle
        # enumeration + one (u,v) agg + one semi-join; copies are
        # edge-disjoint so triangles stay copy-local
        "ktruss": lambda f: (
            lambda: ops.ktruss(copurchase(f).distinct(), k=4, max_iter=6)
        ),
        # r13: two-level Louvain — 1 fine move round, contraction,
        # 1 weighted coarse round (rounds scale the cost linearly by
        # construction; 1+1 probes every distinct plan shape)
        "louvain_two_level": lambda f: (
            lambda: ops.louvain_two_level(
                copurchase(f).distinct(),
                copurchase(f)
                .select(F.col("src").alias("id"))
                .unionByName(copurchase(f).select(F.col("dst").alias("id")))
                .distinct()
                .withColumn("community", F.col("id") % 25),
                rounds1=1,
                rounds2=1,
            )
        ),
        "louvain_move": lambda f: (
            lambda: ops.louvain_move(
                copurchase(f).distinct(),
                copurchase(f)
                .select(F.col("src").alias("id"))
                .unionByName(copurchase(f).select(F.col("dst").alias("id")))
                .distinct()
                .withColumn("community", F.col("id") % 25),
            )
        ),
        # r8 batch 6: HITS — 3 fixed rounds; per round two edge-join
        # aggregations + two in-plan max scalars
        "hits": lambda f: (lambda: ops.hits(copurchase(f), max_iter=3)),
        # r8 batch 16: deterministic walks — fixed 3 steps; per step
        # one frontier-edge join + per-walk argmin window
        "random_walks": lambda f: (
            lambda: ops.random_walks(
                copurchase(f), walk_length=3, walks_per_node=2
            )
        ),
        # r10: biased walks — adds one (prev, cand) triangle-test join
        # per step over random_walks; fixed 3 steps
        "node2vec_walks": lambda f: (
            lambda: ops.node2vec_walks(
                copurchase(f), walk_length=3, walks_per_node=2, p=4, q=2
            )
        ),
        # r10: link prediction — hub cap BEFORE the wedge self-join is
        # the linearity claim; copies are edge-disjoint so candidates
        # stay copy-local
        "link_prediction": lambda f: (
            lambda: ops.link_prediction_scores(
                copurchase(f), min_common=2, max_degree=40
            )
        ),
        # r12: PageRank — FIXED 5 rounds at both scales; per round one
        # edge-keyed shuffle + the in-plan 1-row dangling broadcast
        "pagerank": lambda f: (
            lambda: ops.pagerank(copurchase(f), max_iter=5)
        ),
        # r12: personalized PageRank — per-copy seeds (min src per
        # namespace), so the seed set grows with the copies; fixed 5
        # rounds, same per-round shape as pagerank plus the seed join
        "personalized_pagerank": lambda f: (
            lambda: ops.personalized_pagerank(
                copurchase(f),
                copurchase(f)
                .groupBy((F.col("src") / 100_000_000).cast("long").alias("c"))
                .agg(F.min("src").alias("id"))
                .select("id"),
                max_iter=5,
            )
        ),
        # r12: connected components — copies are disjoint, so the
        # diameter (and the pointer-jump round count) stays fixed
        # while edges 10x; probes the per-round neighbor-min join
        "connected_components": lambda f: (
            lambda: ops.connected_components(copurchase(f).distinct())
        ),
        # r12: sampled Brandes betweenness — one seed per copy (min
        # src per namespace), 2 hops; copies disjoint keep each
        # sweep's frontier copy-local while edges and seeds both 10x
        "betweenness": lambda f: (
            lambda: ops.betweenness_sample(
                copurchase(f).distinct(),
                copurchase(f)
                .groupBy((F.col("src") / 100_000_000).cast("long").alias("c"))
                .agg(F.min("src").alias("id"))
                .select("id"),
                max_hops=2,
            )
        ),
        # r12: full Louvain loop — FIXED 2-round budget at both
        # scales (id%25 communities, same seeding as louvain_move);
        # probes move + gated-apply + label join per round
        "louvain_communities": lambda f: (
            lambda: ops.louvain_communities(
                copurchase(f).distinct(),
                copurchase(f)
                .select(F.col("src").alias("id"))
                .unionByName(copurchase(f).select(F.col("dst").alias("id")))
                .distinct()
                .withColumn("community", F.col("id") % 25),
                max_rounds=2,
            )
        ),
        # r8 batch 7: Bellman-Ford — fixed 4 rounds; per round one
        # edge join + one min-agg, both vertex/edge-sized
        "bellman_ford": lambda f: (
            lambda: ops.bellman_ford(
                copurchase(f).withColumn(
                    "w", (F.col("src") + F.col("dst")) % 5 + 1
                ),
                copurchase(f)
                .groupBy((F.col("src") / 100_000_000).cast("long").alias("c"))
                .agg(F.min("src").alias("id"))
                .select("id"),
                weight="w",
                max_iter=4,
            )
        ),
        # synchronous LPA — FIXED 3 rounds at both scales, so the
        # ratio probes the per-round neighbor join + vote agg + argmax
        # window (all edge/vertex-sized)
        "label_propagation": lambda f: (
            lambda: ops.label_propagation(copurchase(f), n_iter=3)
        ),
        # BFS — copies are disconnected components; sources seeded
        # per-copy (every namespaced min) so the frontier grows with
        # the input and the ratio probes the expansion join
        "bfs_distances": lambda f: (
            lambda: ops.bfs_distances(
                copurchase(f),
                copurchase(f)
                .groupBy((F.col("src") / 100_000_000).cast("long").alias("c"))
                .agg(F.min("src").alias("id"))
                .select("id"),
                max_hops=3,
            )
        ),
    }

    # r8 (VERDICT r7 #6): fuzzy record-linkage — copies get a per-copy
    # ALPHABET ROTATION (translate), so every character differs and
    # q-gram blocks stay copy-local (a per-word marker would still
    # share the unchanged word-interior grams cross-copy and the probe
    # would measure candidate blowup, not plan scaling); within-copy
    # distance structure is preserved exactly (rotation is a bijection)
    import string as _string

    part_names = read_table(spark, SF_DIR, "part").select("p_name")

    def replicate_names(n_copies: int):
        alpha = _string.ascii_lowercase
        parts = [
            part_names.select(
                F.translate(
                    F.col("p_name"), alpha, alpha[i % 26:] + alpha[: i % 26]
                ).alias("p_name")
            )
            for i in range(n_copies)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    name_cases = {
        "fuzzy_pairs": lambda f: ops.fuzzy_pairs(f, col="p_name", max_dist=2),
    }

    # r12 (VERDICT r11 #8): entity resolution end-to-end — fuzzy pairs
    # stay copy-local (the alphabet rotation), so the CC round count
    # is constant and the ratio probes the blocked pair join + the
    # per-round CC scans; thunk-timed (CC checkpoints eagerly)
    def _entity_clusters(f):
        names = (
            f.select(F.col("p_name").alias("name"))
            .filter(F.col("name").isNotNull())
            .distinct()
        )
        pairs = ops.fuzzy_pairs(f, col="p_name", max_dist=2)
        cc = ops.connected_components(
            pairs.select("name_a", "name_b"),
            vertices=names.select(F.col("name").alias("id")),
            src="name_a",
            dst="name_b",
        )
        return cc.groupBy(F.col("component").alias("entity")).agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.max("id").alias("max_variant"),
        )

    name_thunk_cases = {
        "entity_clusters": lambda f: (lambda: _entity_clusters(f)),
    }

    # r8 batch 4: events-derived operators — copies namespace user and
    # event ids (per-user history length stays constant, users 10x),
    # so the window partitions multiply while staying fixed-size: the
    # shape that must scale linearly
    events = read_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )

    def replicate_events(n_copies: int):
        parts = [
            events.select(
                (F.col("event_id") + F.lit(i * 100_000_000)).alias("event_id"),
                "ts",
                (F.col("user_id") + F.lit(i * 100_000_000)).alias("user_id"),
                "event_type",
                "value",
            )
            for i in range(n_copies)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    from graph_etl_spark.functions import scd2_history as _scd2

    ev_cases = {
        # r13 batch 2: SRM — one distinct-user agg to two counters
        "ab_srm": lambda e: ops.ab_srm_check(e),
        # r13 batch 3: bot flags — burstiness' lag window + one agg
        "bot_users": lambda e: ops.bot_users(e),
        "attribution": lambda f: ops.attribution(f, "purchase", ["click", "view"]),
        "scd2_history": lambda f: _scd2(f, "user_id", "ts", "event_type"),
        # group count stays FIXED (5 event types) while rows 10x — the
        # broadcast-stats join's intended regime
        "zscore_outliers": lambda f: ops.zscore_outliers(
            f, "event_type", "value", threshold=2.5
        ),
        # r8 batch 5: rolling median — per-user histories stay fixed
        # length while users 10x; the bounded 5-element window slice
        # is the design claim (cost per row independent of corpus)
        "rolling_median": lambda f: ops.rolling_median(
            f, "user_id", ["ts", "event_id"], "value", window_size=5
        ),
        # r8 batch 5: histogram — bounded group key (n_bins), scalar
        # bounds broadcast; must be ~scan-linear
        "numeric_histogram": lambda f: ops.numeric_histogram(
            f, "value", n_bins=8
        ),
        # r8 batch 8: OHLC resampling — bounded (type, day) key,
        # one map-side-combined agg; must be ~scan-linear
        "resample_ohlc": lambda f: ops.resample_ohlc(
            f, "event_type", "ts", "value", "event_id", bucket_seconds=86400
        ),
        # r8 batch 6: truncated EWMA — bounded 8-element window slice
        # per row, same regime as rolling_median
        "ewma": lambda f: ops.ewma(
            f, "user_id", ["ts", "event_id"], "value", alpha=0.3, window_size=8
        ),
        # r8 batch 6: Markov transitions — event-sized lead window,
        # vocabulary-sized (5x5) count table
        "event_transitions": lambda f: ops.event_transitions(f),
        # r8 batch 12: native session windows — per-user histories
        # fixed length, users 10x; engine-merged session state
        "session_window_stats": lambda f: __import__(
            "graph_etl_spark.streaming", fromlist=["session_window_stats"]
        ).session_window_stats(f.select("user_id", "ts"), gap="30 minutes"),
        # r8 batch 11: exact group percentiles — group count fixed (5
        # types) while rows 10x: the per-group sort grows 10x but the
        # one-window-one-pass shape must stay linear
        "group_percentiles": lambda f: ops.group_percentiles(
            f, "event_type", "value", [0.5, 0.95, 0.99]
        ),
        # r9 (VERDICT r8 #1): two-phase exact global rank — boundary
        # literals assign buckets map-side, ranks come from PER-BUCKET
        # windows + broadcast prefix offsets; rows 10x over a fixed
        # bucket count grows each bucket-local sort 10x but keeps them
        # parallel — must stay scan-linear with NO single-reducer sort
        "quantile_normalize": lambda f: ops.quantile_normalize(
            f.select("event_id", "value"), "value", "event_id"
        ),
        # r8 batch 14: full CDC apply — change stream ~1/5 of the
        # current table, both grow Nx; union + ranking window, one
        # key shuffle
        "apply_cdc": lambda f: __import__(
            "graph_etl_spark.functions", fromlist=["apply_cdc"]
        ).apply_cdc(
            f,
            f.filter(F.col("event_id") % 5 == 0)
            .withColumn("op", F.lit("U"))
            .withColumn("seq", (F.col("event_id") % 100).cast("long")),
            "event_id",
        ),
        # r8 batch 5: CDC snapshot diff — both snapshots grow Nx; ONE
        # full outer join on the key, delta-sized output (every 17th
        # event dropped on the new side)
        "snapshot_diff": lambda f: __import__(
            "graph_etl_spark.functions", fromlist=["snapshot_diff"]
        ).snapshot_diff(f, f.filter(F.col("event_id") % 17 != 0), "event_id"),
        # r10: Holt linear — bounded 8-element fold per row, same
        # regime as ewma/rolling_median
        "holt_linear": lambda f: ops.holt_linear(
            f, "user_id", ["ts", "event_id"], "value", window_size=8
        ),
        # r10: seasonal profile/anomaly — bounded cell keys (types x
        # 168), broadcast roll-up; must be ~scan-linear
        "seasonal_profile": lambda f: ops.seasonal_profile(f),
        "seasonal_anomaly": lambda f: ops.seasonal_anomaly(f, factor=2),
        # r10: conversion-window funnel — chained per-user min-aggs,
        # one user-key shuffle; same regime as the unbounded funnel
        "funnel_windowed": lambda f: ops.funnel_windowed_counts(
            f, ["signup", "view", "purchase"], window_seconds=86400
        ),
        # r11: CUSUM — (type, hour) buckets stay FIXED (time range
        # fixed) while rows 10x: per-bucket counts grow but the
        # keyed cumulative window stays bucket-count-sized
        "cusum_changepoint": lambda f: ops.cusum_changepoint(
            f, bucket="hour"
        ),
        # r11: A/B z-test — one user roll-up + a 1-row conditional
        # agg; must be ~scan-linear
        "ab_ztest": lambda f: ops.ab_ztest(f, conv_type="purchase"),
        # r11: CUPED — one user roll-up, one 1-row moment agg, one
        # variant agg; must be ~scan-linear
        "ab_cuped": lambda f: ops.ab_cuped(
            f, cutoff_ts="2024-01-15 00:00:00"
        ),
        # r11: Kaplan-Meier — user roll-up + (cohort, day)-bounded
        # keyed windows; users 10x over a fixed time range
        "survival_km": lambda f: ops.survival_km(f, churn_after_s=7200),
        # r11: path mining — user-keyed lead window + map-side path
        # counts + TakeOrdered top-k; per-user histories fixed length
        "top_paths": lambda f: ops.top_paths(f, depth=3, k=20),
        # r11: freshness — one map-side-combined agg + 1-row anchor
        "freshness_report": lambda f: __import__(
            "graph_etl_spark.functions", fromlist=["freshness_report"]
        ).freshness_report(f, "event_type", "ts"),
        # r11: nearest as-of — BOTH direction fills in the one
        # user-keyed union window; per-user histories fixed, users 10x
        "asof_nearest": lambda f: ops.as_of_join(
            f.filter(F.col("event_type") == "click").select(
                "user_id", "ts", "event_id"
            ),
            f.filter(F.col("event_type") == "error").select(
                "user_id", "ts", F.col("event_id").alias("err_id")
            ),
            on="user_id",
            direction="nearest",
        ),
        # r11: Count-Min — the cell table is BOUNDED (depth x width)
        # regardless of rows: the sketch property under test
        "cms_counts": lambda f: ops.cms_counts(
            f, "user_id", depth=4, width=64
        ),
        # r12 (VERDICT r11 #8): cohort retention — two bounded-key
        # aggs (per-user first-seen, then cohort x offset); users 10x
        "retention_cohorts": lambda f: ops.retention_cohorts(f),
        # r12: cohort LTV — retention's aggs plus a cohort-keyed
        # cumulative window over offset-count-sized partitions
        "cohort_ltv": lambda f: ops.cohort_ltv(f),
        # r12: burstiness — one user-keyed lag window + one moment
        # agg; per-user histories fixed length, users 10x
        "burstiness": lambda f: ops.burstiness(
            f, tie_cols=["event_id"]
        ),
        # r12: robust MAD outliers — two exact-median rank windows on
        # the 5-type group key; rows 10x per fixed group, the same
        # parallel-per-group-sort regime as group_percentiles
        "mad_outliers": lambda f: ops.mad_outliers(
            f, "event_type", "value", "event_id"
        ),
        # r12: HLL distinct audit — the register frame is BOUNDED
        # (groups x 64) regardless of rows: the sketch property under
        # test (the exact-distinct audit column is rows-sized)
        "hll_distinct": lambda f: ops.hll_distinct(
            f, "event_type", "user_id", p=6
        ),
        # r12: gap sessionization — per-user histories fixed length,
        # users 10x; one user-key shuffle, two cumulative windows
        "sessionize": lambda f: __import__(
            "graph_etl_spark.streaming", fromlist=["sessionize"]
        ).sessionize(f, gap_minutes=30),
        # r12: co-visitation composition — sessionize + within-basket
        # pair mining; per-session baskets stay fixed size (5 event
        # types), so the pair self-join is bounded per basket
        "covisitation": lambda f: ops.frequent_pairs(
            __import__(
                "graph_etl_spark.streaming", fromlist=["sessionize"]
            )
            .sessionize(f, gap_minutes=30)
            .select(
                F.concat_ws(
                    "#", F.col("user_id"), F.col("session_id")
                ).alias("basket"),
                F.col("event_type").alias("item"),
            ),
            "basket",
            "item",
            min_support=5,
        ),
    }

    # event-frame operators that do their work at CONSTRUCTION time
    # (driver-side collects) — thunk-timed like li_thunk_cases
    ev_thunk_cases = {
        # r10: rank sketch — per-partition sort of its own slice, only
        # partitions x k summary rows collected
        "quantile_sketch": lambda f: (
            lambda: ops.quantile_summary(f, "value", [0.5, 0.9], k=64)
        ),
        # r11: steady state — distributed pair count + a bounded
        # driver-side integer iteration; users 10x, states fixed
        "markov_steady_state": lambda f: (
            lambda: ops.markov_steady_state(f, iters=30)
        ),
        # r10: RFM — one user roll-up + three two-phase exact ranks
        # (each collects boundaries/offsets at construction)
        "rfm_segments": lambda f: (
            lambda: ops.rfm_segments(f, n_bands=5)
        ),
        # r11: sweep-line concurrency — sessionize (user-keyed
        # window) then the two-phase exact global cumsum over 2x
        # session boundaries; users 10x with fixed history length,
        # so boundaries 10x over a fixed bucket count — must stay
        # scan-linear with NO single-reducer sweep
        "peak_concurrency": lambda f: (
            lambda: ops.peak_concurrency(f, gap_minutes=30)
        ),
        # r11: bloom prefilter — dim side FIXED (1x user subset) while
        # the fact side 10x's: the probe is a literal-array map-side
        # filter, so the ratio measures the fact scan alone
        "bloom_semi_join": lambda f: (
            lambda: ops.bloom_semi_join(
                f,
                events.filter(F.col("user_id") % 7 == 0),
                "user_id",
                "user_id",
            )
        ),
        # r12: the broadcast/mapInPandas production probe — same
        # build, Arrow batch filter instead of plan literals; ratio
        # measures the Arrow-stage fact scan alone
        "bloom_semi_join_scale": lambda f: (
            lambda: ops.bloom_semi_join(
                f,
                events.filter(F.col("user_id") % 7 == 0),
                "user_id",
                "user_id",
                scale=True,
            )
        ),
    }
    vec_cases = {
        # r8 batch 13: embedding drift — dims fixed (vector width),
        # vectors 10x; two dimension-keyed aggs, must be scan-linear
        "embedding_drift": lambda e: ops.embedding_drift(
            e.filter(F.col("vec_id") % 2 == 0),
            e.filter(F.col("vec_id") % 2 == 1),
        ),
        "quantize_embeddings": lambda e: ops.quantize_embeddings(e),
        # r8: JL projection — pure map-side literal-matrix product
        "random_projection": lambda e: ops.random_projection(e, out_dim=8),
        "lsh_cosine_neardup": lambda e: ops.lsh_bucketed_neardup_pairs(
            e, threshold=0.95, n_planes=12, dim=64, n_tables=4
        ),
        # r6: the registered-form semantic dedup — k fixed at 8 while
        # the corpus 10x's, so cells grow 10x past the cap and the LSH
        # subdivision (not cell count) must hold pair work linear
        "semantic_dedup_pairs": lambda e: ops.semantic_dedup_pairs(
            e, k=8, max_iter=2, threshold=0.95, max_cell_size=150
        ),
        # r7 (cont.): PQ — training cost is max_iter corpus scans (the
        # codebooks stay hyperparameter-sized as the corpus grows);
        # encode+ADC is a map-only scan + per-query ranking. Queries
        # fixed at 10 while the corpus 10x's, the production shape.
        "pq_encode": lambda e: ops.pq_encode(
            e, ops.pq_train(e, m=4, k_codes=8, max_iter=1)
        ),
        "pq_adc_topk": lambda e: ops.pq_adc_topk(
            e,
            e.filter(F.col("vec_id") < 10),
            ops.pq_train(e, m=4, k_codes=8, max_iter=1),
            k=5,
        ),
        # r15 (VERDICT r14 #6): shortlist-then-refine — the ADC stage
        # above plus the exact re-rank join; the refine shuffle is
        # n_queries x shortlist no matter how big the corpus gets, so
        # the Nx ratio must track the ADC scan, not the corpus join
        "pq_refine_topk": lambda e: ops.pq_refine_topk(
            e,
            e.filter(F.col("vec_id") < 10),
            ops.pq_train(e, m=4, k_codes=8, max_iter=1),
            k=5,
            shortlist=50,
        ),
        # r7 (cont.): the composed IVF-PQ index — training scans are
        # untimed (eager collects during construction); the timed plan
        # is assignment + residual encode + probe join + ADC + refine,
        # all data-sized with the probe join pruning to nprobe/nlist
        "ivfpq_topk": lambda e: ops.ivfpq_topk(
            e,
            e.filter(F.col("vec_id") < 10),
            k=5,
            nlist=8,
            nprobe=2,
            m=4,
            k_codes=8,
            shortlist=50,
            coarse_iter=1,
            pq_iter=1,
        ),
        # r10: exact MIPS / L2 — candidates 10x, the window's partial
        # limit keeps the exchange at partitions x queries x k
        "mips_topk": lambda e: ops.mips_topk(
            e, e.filter(F.col("vec_id") < 10), k=5
        ),
        "l2_topk": lambda e: ops.l2_topk(
            e, e.filter(F.col("vec_id") < 10), k=5
        ),
        # r10: norm-augmented IVF MIPS — one M2 agg + the IVF plan
        "mips_ivf_topk": lambda e: ops.mips_ivf_topk(
            e, e.filter(F.col("vec_id") < 10), k=5, nlist=8, nprobe=2
        ),
        # r11: binary Hamming top-k — map-side packing, broadcast
        # queries, integer distances; candidates 10x
        "hamming_topk": lambda e: ops.hamming_topk(
            e, e.filter(F.col("vec_id") < 10), dim=64, k=5
        ),
        # r17 (post-freeze): binary prefilter -> exact rerank — the
        # corpus 10x's through the map-side Hamming scan while the
        # rerank input stays shortlist-sized (queries x k*factor);
        # must track hamming_topk's ratio, not the corpus
        "binary_rerank": lambda e: ops.binary_rerank_topk(
            e, e.filter(F.col("vec_id") < 10), dim=64, k=5,
            prefilter_factor=4,
        ),
        # r11: Matryoshka eval — two broadcast-query scans + a k-row
        # join; candidates 10x
        "matryoshka_recall": lambda e: ops.matryoshka_recall(
            e, e.filter(F.col("vec_id") < 10), prefix_dim=16, k=5
        ),
        # r11: RRF — two brute-force top-20 rankings (each the
        # broadcast-query scan) + a bounded fuse agg
        "hybrid_rrf": lambda e: ops.rrf_fuse(
            [
                ops.brute_force_topk(
                    e, e.filter(F.col("vec_id") < 10), k=20
                ).select("query_id", "neighbor_id", "rank"),
                ops.mips_topk(
                    e, e.filter(F.col("vec_id") < 10), k=20
                ).select("query_id", "neighbor_id", "rank"),
            ],
            k=5,
        ),
        # r10: MaxSim — query doc fixed (label 0), candidates 10x;
        # one broadcast + one (doc, qvec) max agg + one doc sum
        "maxsim_topk": lambda e: ops.maxsim_topk(
            e.filter(F.col("label") != 0),
            e.filter((F.col("label") == 0) & (F.col("vec_id") < 9999)),
            k=5, doc_col="label",
        ),
    }
    # embedding operators that do construction-time work (the MMR
    # greedy loop checkpoints each step eagerly) — thunk-timed
    vec_thunk_cases = {
        # r13 (VERDICT r12 #7): IVF top-k — centroid training collects
        # during construction; the timed plan is assignment + the
        # probed-list equi-join + per-query top-k
        # r13 batch 3: the recall sweep — 3 probed searches + one
        # exact baseline over the same trained index
        "ivf_recall_curve": lambda e: (
            lambda: ops.ivf_recall_curve(
                e, e.filter(F.col("vec_id") < 10), k=5, nlist=8,
                nprobes=[1, 2, 4], floors=[0.1, 0.1, 0.1],
            )
        ),
        "ivf_topk": lambda e: (
            lambda: ops.ivf_topk(
                e, e.filter(F.col("vec_id") < 10), k=5, nlist=8, nprobe=2
            )
        ),
        # r11: MMR — candidate gen is the distributed top-pool over a
        # 10x corpus; everything after is bounded per query (pool^2
        # pair sims, k argmax windows), so the ratio probes the
        # candidate scan
        "mmr_rerank": lambda e: (
            lambda: ops.mmr_rerank(
                e, e.filter(F.col("vec_id") < 10), k=5, pool=20
            )
        ),
        # r15: eval contamination — 10 fixed eval vectors broadcast
        # against an Nx corpus; the per-partition Arrow argmax keeps
        # the exchange at partitions x n_eval rows, so the ratio
        # probes the streamed scoring scan alone
        "eval_contamination": lambda e: (
            lambda: ops.embedding_contamination(
                e, e.filter(F.col("vec_id") < 10), threshold=0.999
            )
        ),
        # r15: SemDeDup survivors — k-means trains (bounded collects)
        # and connected components iterates (eager checkpoints) during
        # construction, so the thunk times the WHOLE pipeline; the
        # decorrelated copies keep near-dup pairs copy-local, so the
        # ratio probes the cell-join + CC plan, not pair growth
        "semdedup_survivors": lambda e: (
            lambda: ops.semantic_dedup_survivors(
                e, k=8, max_iter=1, threshold=0.95, max_cell_size=150
            )
        ),
    }

    # warm codegen/Arrow paths once (not timed)
    ops.minhash_lsh_pairs(d1.limit(50)).write.format("noop").mode("overwrite").save()

    def _sel(d):
        return {k: v for k, v in d.items() if only is None or k in only}

    result: dict[str, dict] = {}
    for name, fn in _sel(cases).items():
        t1, tn = timed(fn(d1)), timed(fn(dn))
        result[name] = {"t1": t1, "tn": tn, "ratio": round(tn / max(t1, 1e-6), 1)}
        print(f"# {name}: {t1}s -> {tn}s (x{result[name]['ratio']})", file=sys.stderr)
    for name, fn in _sel(li_cases).items():
        t1, tn = timed(fn(replicate_li(1))), timed(fn(replicate_li(n)))
        result[name] = {"t1": t1, "tn": tn, "ratio": round(tn / max(t1, 1e-6), 1)}
        print(f"# {name}: {t1}s -> {tn}s (x{result[name]['ratio']})", file=sys.stderr)
    for name, fn in _sel(li_thunk_cases).items():
        t1, tn = timed_thunk(fn(replicate_li(1))), timed_thunk(fn(replicate_li(n)))
        result[name] = {"t1": t1, "tn": tn, "ratio": round(tn / max(t1, 1e-6), 1)}
        print(f"# {name}: {t1}s -> {tn}s (x{result[name]['ratio']})", file=sys.stderr)
    for name, fn in _sel(name_cases).items():
        t1, tn = timed(fn(replicate_names(1))), timed(fn(replicate_names(n)))
        result[name] = {"t1": t1, "tn": tn, "ratio": round(tn / max(t1, 1e-6), 1)}
        print(f"# {name}: {t1}s -> {tn}s (x{result[name]['ratio']})", file=sys.stderr)
    for name, fn in _sel(name_thunk_cases).items():
        t1 = timed_thunk(fn(replicate_names(1)))
        tn = timed_thunk(fn(replicate_names(n)))
        result[name] = {"t1": t1, "tn": tn, "ratio": round(tn / max(t1, 1e-6), 1)}
        print(f"# {name}: {t1}s -> {tn}s (x{result[name]['ratio']})", file=sys.stderr)
    for name, fn in _sel(ev_cases).items():
        t1, tn = timed(fn(replicate_events(1))), timed(fn(replicate_events(n)))
        result[name] = {"t1": t1, "tn": tn, "ratio": round(tn / max(t1, 1e-6), 1)}
        print(f"# {name}: {t1}s -> {tn}s (x{result[name]['ratio']})", file=sys.stderr)
    for name, fn in _sel(ev_thunk_cases).items():
        t1 = timed_thunk(fn(replicate_events(1)))
        tn = timed_thunk(fn(replicate_events(n)))
        result[name] = {"t1": t1, "tn": tn, "ratio": round(tn / max(t1, 1e-6), 1)}
        print(f"# {name}: {t1}s -> {tn}s (x{result[name]['ratio']})", file=sys.stderr)
    for name, fn in _sel(thunk_cases).items():
        t1, tn = timed_thunk(fn(d1)), timed_thunk(fn(dn))
        result[name] = {"t1": t1, "tn": tn, "ratio": round(tn / max(t1, 1e-6), 1)}
        print(f"# {name}: {t1}s -> {tn}s (x{result[name]['ratio']})", file=sys.stderr)
    for name, fn in _sel(vec_cases).items():
        t1, tn = timed(fn(e1)), timed(fn(en))
        result[name] = {"t1": t1, "tn": tn, "ratio": round(tn / max(t1, 1e-6), 1)}
        print(f"# {name}: {t1}s -> {tn}s (x{result[name]['ratio']})", file=sys.stderr)
    for name, fn in _sel(vec_thunk_cases).items():
        t1, tn = timed_thunk(fn(e1)), timed_thunk(fn(en))
        result[name] = {"t1": t1, "tn": tn, "ratio": round(tn / max(t1, 1e-6), 1)}
        print(f"# {name}: {t1}s -> {tn}s (x{result[name]['ratio']})", file=sys.stderr)

    # r13 (VERDICT r12 #7): TPC-H Q2's data-sized core — the per-part
    # min-offer aggregation + the equality join back (dims broadcast
    # in the registered query and are scale-invariant); replicated
    # (orderkey, partkey, suppkey, price) keeps offers copy-local
    if only is None or "q2_min_cost" in only:
        li_q2 = read_table(spark, SF_DIR, "lineitem").select(
            "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice"
        )

        def _rep_q2(n_copies):
            parts = [
                li_q2.select(
                    (F.col("l_partkey") + F.lit(i * 100_000_000)).alias("l_partkey"),
                    (F.col("l_suppkey") + F.lit(i * 100_000_000)).alias("l_suppkey"),
                    "l_extendedprice",
                )
                for i in range(n_copies)
            ]
            out = parts[0]
            for pp in parts[1:]:
                out = out.unionByName(pp)
            return out

        def _q2_core(frame):
            offers = frame.groupBy("l_partkey", "l_suppkey").agg(
                F.min(F.col("l_extendedprice").cast("decimal(19,4)")).alias("offer_price")
            )
            best = offers.groupBy("l_partkey").agg(
                F.min("offer_price").alias("min_price")
            )
            return offers.join(best, "l_partkey").filter(
                F.col("offer_price") == F.col("min_price")
            )

        t1, tn = timed(_q2_core(_rep_q2(1))), timed(_q2_core(_rep_q2(n)))
        result["q2_min_cost"] = {
            "t1": t1, "tn": tn, "ratio": round(tn / max(t1, 1e-6), 1)
        }
        print(
            f"# q2_min_cost: {t1}s -> {tn}s (x{result['q2_min_cost']['ratio']})",
            file=sys.stderr,
        )

    # r13 (VERDICT r12 #7): correlation matrix — k(k+3)/2 decimal sums
    # to ONE row in one scan; replicated rows (values unchanged — the
    # agg is scan-linear regardless of key namespacing)
    if only is None or "corr_matrix" in only:
        li_cm = read_table(spark, SF_DIR, "lineitem").select(
            "l_quantity", "l_extendedprice", "l_discount", "l_tax"
        )

        def _rep_cm(n_copies):
            out = li_cm
            for _ in range(n_copies - 1):
                out = out.unionByName(li_cm)
            return out

        t1 = timed(ops.corr_matrix(_rep_cm(1), ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]))
        tn = timed(ops.corr_matrix(_rep_cm(n), ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]))
        result["corr_matrix"] = {
            "t1": t1, "tn": tn, "ratio": round(tn / max(t1, 1e-6), 1)
        }
        print(
            f"# corr_matrix: {t1}s -> {tn}s (x{result['corr_matrix']['ratio']})",
            file=sys.stderr,
        )

    # r12 (VERDICT r11 #8): corpus assembly end-to-end — the four-
    # family composition (LSH pairs -> CC -> survivors -> token filter
    # -> embedding scale join) over docs AND vectors replicated with
    # CONSISTENT id namespacing (+i*10_000_000 on both doc_id and
    # vec_id), so the final join stays copy-local; thunk-timed (CC
    # checkpoints eagerly)
    if only is None or "corpus_assembly" in only:
        from graph_etl_spark.operators.text import tokens_col as _toks

        def _assemble(dd, ee):
            pairs = ops.minhash_lsh_pairs(dd, num_perm=16, bands=8)
            clusters = ops.dedup_clusters(pairs, dd.select("doc_id"))
            survivors = clusters.filter(
                F.col("cluster_id") == F.col("doc_id")
            ).select("doc_id")
            docs = dd.select(
                "doc_id", "lang", F.size(_toks(F.col("text"))).alias("n_tokens")
            )
            vec = ee.select(
                F.col("vec_id").alias("doc_id"),
                F.array_max(
                    F.transform("embedding", lambda x: F.abs(x.cast("double")))
                ).alias("scale"),
            )
            return survivors.join(docs, "doc_id").join(vec, "doc_id")

        t1 = timed_thunk(lambda: _assemble(d1, e1))
        tn = timed_thunk(lambda: _assemble(dn, en))
        result["corpus_assembly"] = {
            "t1": t1, "tn": tn, "ratio": round(tn / max(t1, 1e-6), 1)
        }
        print(
            f"# corpus_assembly: {t1}s -> {tn}s "
            f"(x{result['corpus_assembly']['ratio']})",
            file=sys.stderr,
        )

    # r14 (VERDICT r13 #3): market-basket frequent pairs — within-
    # basket canonical self-join + pair count; namespaced copies keep
    # candidates basket-local, so work is sum(basket_size²), linear
    # in baskets. The quadratic this would catch is a basket-key
    # collision collapsing copies into mega-baskets.
    if only is None or "frequent_pairs" in only:
        li_fp = read_table(spark, SF_DIR, "lineitem").select(
            "l_orderkey", "l_partkey"
        )

        def _rep_fp(n_copies):
            parts = [
                li_fp.select(
                    (F.col("l_orderkey") + F.lit(i * 100_000_000)).alias(
                        "l_orderkey"
                    ),
                    (F.col("l_partkey") + F.lit(i * 100_000_000)).alias(
                        "l_partkey"
                    ),
                )
                for i in range(n_copies)
            ]
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out

        t1 = timed(
            ops.frequent_pairs(
                _rep_fp(1), basket_col="l_orderkey", item_col="l_partkey",
                min_support=3,
            )
        )
        tn = timed(
            ops.frequent_pairs(
                _rep_fp(n), basket_col="l_orderkey", item_col="l_partkey",
                min_support=3,
            )
        )
        result["frequent_pairs"] = {
            "t1": t1, "tn": tn, "ratio": round(tn / max(t1, 1e-6), 1)
        }
        print(
            f"# frequent_pairs: {t1}s -> {tn}s "
            f"(x{result['frequent_pairs']['ratio']})",
            file=sys.stderr,
        )

    # r14 (VERDICT r13 #3): the §3 lifecycle flow (stage → automap →
    # load) at Nx nodes+edges — write-dominated phases must scale with
    # data; the quadratic this would catch is the J2 automap join
    # degrading to a non-broadcast or a name-collision fan-out (names
    # are namespaced per copy, so matches stay copy-local).
    if only is None or "pipeline_flow" in only:
        import shutil
        import tempfile

        import graph_etl_spark as getl
        from graph_etl_spark.pipeline import _map_property

        cust_pf = read_table(spark, SF_DIR, "customer")
        ord_pf = read_table(spark, SF_DIR, "orders")

        def _run_flow(n_copies: int) -> float:
            cparts = [
                cust_pf.select(
                    (F.col("c_custkey") + F.lit(i * 100_000_000)).alias("id"),
                    F.concat(F.col("c_name"), F.lit(f"#copy{i}")).alias(
                        "c_name"
                    ),
                )
                for i in range(n_copies)
            ]
            oparts = [
                ord_pf.select(
                    (F.col("o_orderkey") + F.lit(i * 100_000_000)).alias("id"),
                    (F.col("o_custkey") + F.lit(i * 100_000_000)).alias(
                        "o_custkey"
                    ),
                )
                for i in range(n_copies)
            ]
            cust, ordn = cparts[0], oparts[0]
            for p in cparts[1:]:
                cust = cust.unionByName(p)
            for p in oparts[1:]:
                ordn = ordn.unionByName(p)
            workdir = tempfile.mkdtemp(prefix="probe_flow_")

            def flow():
                getl.init(spark, output_folder=f"{workdir}/output")

                @getl.Parser(source="probe_tpch")
                def parse_probe(ctx):
                    ctx.save_nodes(cust, "Customer")
                    ctx.save_nodes(ordn, "Order")
                    placed = ordn.join(
                        cust, ordn.o_custkey == cust.id
                    ).select(
                        F.col("c_name").alias("start"),
                        ordn.id.alias("end"),
                    )
                    ctx.save_edges(placed, "PLACED", "Customer:c_name", "Order:id")

                getl.parse(use_mapper=False)
                store = getl.get_store()
                _map_property(store)
                store.flush_configs()
                loader = getl.SparkNativeGraphLoader(
                    spark, graph_dir=f"{workdir}/graph"
                )
                totals = getl.load(loader)
                assert totals["edges"] > 0, totals

            try:
                return round(measure(spark, flow)[1]["wall_s"], 2)
            finally:
                shutil.rmtree(workdir, ignore_errors=True)

        t1 = min(_run_flow(1), _run_flow(1))  # warm the flow path once
        tn = _run_flow(n)
        result["pipeline_flow"] = {
            "t1": t1, "tn": tn, "ratio": round(tn / max(t1, 1e-6), 1)
        }
        print(
            f"# pipeline_flow: {t1}s -> {tn}s "
            f"(x{result['pipeline_flow']['ratio']})",
            file=sys.stderr,
        )

    # r14: N-level Louvain — per level: bounded move rounds on the
    # current graph + contraction; namespaced copies keep communities
    # copy-local, so level-1 work is Nx and deeper levels are
    # community-graph-sized. The blowup this would catch is a
    # contraction that fails to shrink (levels re-running full-size).
    if only is None or "louvain_multilevel" in only:
        li_lm = read_table(spark, SF_DIR, "lineitem").filter(
            F.expr("year(l_shipdate) = 1995")
        ).select("l_orderkey", "l_partkey")

        def _lm_edges(n_copies):
            parts = [
                li_lm.select(
                    (F.col("l_orderkey") + F.lit(i * 100_000_000)).alias("o"),
                    (F.col("l_partkey") + F.lit(i * 100_000_000)).alias("p"),
                )
                for i in range(n_copies)
            ]
            out = parts[0]
            for q in parts[1:]:
                out = out.unionByName(q)
            a, b = out.alias("a"), out.alias("b")
            return a.join(
                b,
                (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")),
            ).select(
                F.col("a.p").alias("src"), F.col("b.p").alias("dst")
            ).distinct()

        def _lm(frame):
            verts = (
                frame.select(F.col("src").alias("id"))
                .unionByName(frame.select(F.col("dst").alias("id")))
                .distinct()
                .withColumn("community", F.col("id"))
            )
            return ops.louvain_multilevel(
                frame, verts, rounds_per_level=2, max_levels=2
            )

        t1 = timed_thunk(lambda: _lm(_lm_edges(1)))
        tn = timed_thunk(lambda: _lm(_lm_edges(n)))
        result["louvain_multilevel"] = {
            "t1": t1, "tn": tn, "ratio": round(tn / max(t1, 1e-6), 1)
        }
        print(
            f"# louvain_multilevel: {t1}s -> {tn}s "
            f"(x{result['louvain_multilevel']['ratio']})",
            file=sys.stderr,
        )

    # r14: soft dedup weights — LSH pairs + CC + size join; namespaced
    # token copies keep clusters copy-local (linear pair volume).
    if only is None or "soft_dedup_weights" in only:
        d_sw = read_table(spark, SF_DIR, "documents")
        t1 = timed_thunk(
            lambda: ops.soft_dedup_weights(replicate_docs(d_sw, 1))
        )
        tn = timed_thunk(
            lambda: ops.soft_dedup_weights(replicate_docs(d_sw, n))
        )
        result["soft_dedup_weights"] = {
            "t1": t1, "tn": tn, "ratio": round(tn / max(t1, 1e-6), 1)
        }
        print(
            f"# soft_dedup_weights: {t1}s -> {tn}s "
            f"(x{result['soft_dedup_weights']['ratio']})",
            file=sys.stderr,
        )

    # r14: C4 line dedup — the distinct (line-hash, doc) pair agg +
    # hash equi-join back; namespaced copies keep lines copy-local so
    # frequencies never cross copies. The quadratic this would catch
    # is the freq join degenerating on a skewed line hash.
    if only is None or "line_dedup" in only:
        d_ld = read_table(spark, SF_DIR, "documents")
        t1 = timed(ops.line_dedup(replicate_docs(d_ld, 1), line_tokens=8, min_docs=2))
        tn = timed(ops.line_dedup(replicate_docs(d_ld, n), line_tokens=8, min_docs=2))
        result["line_dedup"] = {
            "t1": t1, "tn": tn, "ratio": round(tn / max(t1, 1e-6), 1)
        }
        print(
            f"# line_dedup: {t1}s -> {tn}s (x{result['line_dedup']['ratio']})",
            file=sys.stderr,
        )

    # r14: DCT pHash — per-image work is constant (two 8x32 int
    # matmuls on a 32x32 grid), so Nx images must be ~linear; the
    # failure this would catch is the Arrow stage buffering more than
    # a batch or the fingerprint group-by shuffling pixels.
    if only is None or "image_phash" in only:
        ids = read_table(spark, SF_DIR, "documents").select("doc_id")

        def _phash_flow(frame):
            pngs = ops.synth_png_variant_column(frame, group_size=4)
            return (
                ops.image_phash(pngs)
                .groupBy("phash")
                .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("c"))
            )

        def _rep_ids(n_copies):
            parts = [
                ids.select(
                    (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id")
                )
                for i in range(n_copies)
            ]
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out

        t1 = timed(_phash_flow(_rep_ids(1)))
        tn = timed(_phash_flow(_rep_ids(n)))
        result["image_phash"] = {
            "t1": t1, "tn": tn, "ratio": round(tn / max(t1, 1e-6), 1)
        }
        print(
            f"# image_phash: {t1}s -> {tn}s (x{result['image_phash']['ratio']})",
            file=sys.stderr,
        )

    # r15: pHash hamming pairs — the pigeonhole self-join over Nx
    # synthetic images; variant groups are id-local so true pairs grow
    # linearly, and the 9-bit segment buckets bound candidates. The
    # quadratic this would catch is a segment bucket degenerating.
    if only is None or "phash_pairs" in only:
        ids_pp = read_table(spark, SF_DIR, "documents").select("doc_id")

        def _pp_rep(n_copies):
            parts = [
                ids_pp.select(
                    (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id")
                )
                for i in range(n_copies)
            ]
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return ops.synth_png_variant_column(out, group_size=4)

        t1 = timed(ops.image_phash_pairs(_pp_rep(1), max_hamming=6))
        tn = timed(ops.image_phash_pairs(_pp_rep(n), max_hamming=6))
        result["phash_pairs"] = {
            "t1": t1, "tn": tn, "ratio": round(tn / max(t1, 1e-6), 1)
        }
        print(
            f"# phash_pairs: {t1}s -> {tn}s (x{result['phash_pairs']['ratio']})",
            file=sys.stderr,
        )

    # r15: audio fingerprint — Nx synthetic clips through the Arrow
    # decode/window stage, a per-clip-bounded JVM window, and one
    # per-clip agg; clips are the parallelism unit so the ratio must
    # be ~linear
    if only is None or "audio_fingerprint" in only:
        ids_af = read_table(spark, SF_DIR, "documents").select("doc_id")

        def _af_rep(n_copies):
            parts = [
                ids_af.select(
                    (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id")
                )
                for i in range(n_copies)
            ]
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return ops.synth_wav_polarity_column(out, group_size=2)

        t1 = timed(ops.audio_fingerprint(_af_rep(1), window_samples=8))
        tn = timed(ops.audio_fingerprint(_af_rep(n), window_samples=8))
        result["audio_fingerprint"] = {
            "t1": t1, "tn": tn, "ratio": round(tn / max(t1, 1e-6), 1)
        }
        print(
            f"# audio_fingerprint: {t1}s -> {tn}s "
            f"(x{result['audio_fingerprint']['ratio']})",
            file=sys.stderr,
        )

    # r15: DoReMi domain reweighting — the trigram LM stage over Nx
    # docs (sources fixed), then one domain-keyed agg + two 1-row
    # scalars; the ratio probes the LM scan, everything above it is
    # domains-sized
    if only is None or "domain_reweight" in only:
        d_dw = read_table(spark, SF_DIR, "documents")

        def _dw(frame):
            return ops.domain_reweight(
                frame, train_df=ops.hash_sample(frame, permille=500, salt="lm")
            )

        t1 = timed(_dw(replicate_docs(d_dw, 1)))
        tn = timed(_dw(replicate_docs(d_dw, n)))
        result["domain_reweight"] = {
            "t1": t1, "tn": tn, "ratio": round(tn / max(t1, 1e-6), 1)
        }
        print(
            f"# domain_reweight: {t1}s -> {tn}s "
            f"(x{result['domain_reweight']['ratio']})",
            file=sys.stderr,
        )

    # r16: WIDE pHash hamming pairs — the same pigeonhole self-join
    # with 36/37-bit segment buckets; true pairs grow linearly and
    # random collisions are ~zero at any corpus size (PHASH_PROBE.json
    # A/B), so the ratio probes hash + join plan scaling alone
    if only is None or "phash_pairs_wide" in only:
        ids_pw = read_table(spark, SF_DIR, "documents").select("doc_id")

        def _pw_rep(n_copies):
            parts = [
                ids_pw.select(
                    (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id")
                )
                for i in range(n_copies)
            ]
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return ops.synth_png_variant_column(out, group_size=4)

        t1 = timed(ops.image_phash_pairs_wide(_pw_rep(1), max_hamming=6))
        tn = timed(ops.image_phash_pairs_wide(_pw_rep(n), max_hamming=6))
        result["phash_pairs_wide"] = {
            "t1": t1, "tn": tn, "ratio": round(tn / max(t1, 1e-6), 1)
        }
        print(
            f"# phash_pairs_wide: {t1}s -> {tn}s "
            f"(x{result['phash_pairs_wide']['ratio']})",
            file=sys.stderr,
        )

    # r16: CLIP-score filter — Nx pairs through the JVM dot product,
    # the two-phase exact rank (collects boundaries/offsets during
    # construction -> thunk-timed), one broadcast scalar; the ratio
    # probes the scoring scan + bucket-local rank exchange
    if only is None or "clip_filter" in only:
        e_cf = read_table(spark, SF_DIR, "embeddings")

        def _cf(n_copies):
            frame = replicate_vecs(e_cf, n_copies)
            pairs = frame.select(
                F.col("vec_id").alias("pair_id"),
                F.col("embedding").alias("img_embedding"),
                F.transform(
                    "embedding", lambda x: (x * F.lit(0.5)).cast("float")
                ).alias("txt_embedding"),
            )
            return lambda: ops.clip_score_filter(pairs, trim_percentile=0.2)

        t1, tn = timed_thunk(_cf(1)), timed_thunk(_cf(n))
        result["clip_filter"] = {
            "t1": t1, "tn": tn, "ratio": round(tn / max(t1, 1e-6), 1)
        }
        print(
            f"# clip_filter: {t1}s -> {tn}s "
            f"(x{result['clip_filter']['ratio']})",
            file=sys.stderr,
        )

    # r16: embedding outliers — ONE dim-bounded stats agg collects
    # during construction (thunk-timed), then a pure map scoring pass;
    # the ratio probes two corpus scans, nothing else grows
    if only is None or "embedding_outliers" in only:
        e_eo = read_table(spark, SF_DIR, "embeddings")

        def _eo(n_copies):
            frame = replicate_vecs(e_eo, n_copies)
            return lambda: ops.embedding_outliers(frame)

        t1, tn = timed_thunk(_eo(1)), timed_thunk(_eo(n))
        result["embedding_outliers"] = {
            "t1": t1, "tn": tn, "ratio": round(tn / max(t1, 1e-6), 1)
        }
        print(
            f"# embedding_outliers: {t1}s -> {tn}s "
            f"(x{result['embedding_outliers']['ratio']})",
            file=sys.stderr,
        )

    # r16: mojibake scrub — pure map-side string algebra; any ratio
    # meaningfully above linear means codegen fell out of the plan
    if only is None or "mojibake_scrub" in only:
        d_mj = read_table(spark, SF_DIR, "documents")
        t1 = timed(ops.fix_mojibake(replicate_docs(d_mj, 1)))
        tn = timed(ops.fix_mojibake(replicate_docs(d_mj, n)))
        result["mojibake_scrub"] = {
            "t1": t1, "tn": tn, "ratio": round(tn / max(t1, 1e-6), 1)
        }
        print(
            f"# mojibake_scrub: {t1}s -> {tn}s "
            f"(x{result['mojibake_scrub']['ratio']})",
            file=sys.stderr,
        )

    # r16: video keyframe dedup — Nx synthetic clips through the
    # clip-bounded Arrow signature stage + one signature-keyed agg;
    # clips are the parallelism unit so the ratio must be ~linear
    if only is None or "video_keyframe_dedup" in only:
        ids_vk = read_table(spark, SF_DIR, "documents").select("doc_id")

        def _vk_rep(n_copies):
            parts = [
                ids_vk.select(
                    (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id")
                )
                for i in range(n_copies)
            ]
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return ops.synth_y4m_variant_column(out, group_size=2)

        def _vk_flow(clips):
            return (
                ops.video_keyframe_signature(clips)
                .groupBy("n_scenes", "keyframe_sig")
                .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("c"))
            )

        t1 = timed(_vk_flow(_vk_rep(1)))
        tn = timed(_vk_flow(_vk_rep(n)))
        result["video_keyframe_dedup"] = {
            "t1": t1, "tn": tn, "ratio": round(tn / max(t1, 1e-6), 1)
        }
        print(
            f"# video_keyframe_dedup: {t1}s -> {tn}s "
            f"(x{result['video_keyframe_dedup']['ratio']})",
            file=sys.stderr,
        )

    # r16: lexical contamination — 20 fixed eval docs against an Nx
    # train corpus (the realistic growth direction); both signature
    # pipelines are one-agg shapes, the band join's eval side is
    # constant, and the argmax is the shared packed HashAggregate —
    # the ratio probes the train-side signature scan
    if only is None or "minhash_contamination" in only:
        d_mc = read_table(spark, SF_DIR, "documents")
        ev_mc = d_mc.filter(F.col("doc_id") < 20).select("doc_id", "text")

        def _mc(frame):
            return ops.minhash_contamination(
                frame.select("doc_id", "text"), ev_mc, threshold=0.8
            )

        t1 = timed(_mc(replicate_docs(d_mc, 1)))
        tn = timed(_mc(replicate_docs(d_mc, n)))
        result["minhash_contamination"] = {
            "t1": t1, "tn": tn, "ratio": round(tn / max(t1, 1e-6), 1)
        }
        print(
            f"# minhash_contamination: {t1}s -> {tn}s "
            f"(x{result['minhash_contamination']['ratio']})",
            file=sys.stderr,
        )

    # r17: audio fingerprint pairs — Nx synthetic clips through the
    # Arrow decode/window stage, then the pigeonhole segment self-join
    # blocked on (n_windows, segment). Planted pairs are id-local so
    # true pairs grow linearly; the quadratic this would catch is a
    # (n_windows, segment) bucket degenerating (31-bit segments at
    # max_hamming=1, so cross-copy collisions stay negligible).
    if only is None or "audio_fingerprint_pairs" in only:
        ids_ap = read_table(spark, SF_DIR, "documents").select("doc_id")

        def _ap_rep(n_copies):
            parts = [
                ids_ap.select(
                    (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id")
                )
                for i in range(n_copies)
            ]
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return ops.synth_wav_neardup_column(out, group_size=3)

        t1 = timed(ops.audio_fingerprint_pairs(_ap_rep(1), max_hamming=1))
        tn = timed(ops.audio_fingerprint_pairs(_ap_rep(n), max_hamming=1))
        result["audio_fingerprint_pairs"] = {
            "t1": t1, "tn": tn, "ratio": round(tn / max(t1, 1e-6), 1)
        }
        print(
            f"# audio_fingerprint_pairs: {t1}s -> {tn}s "
            f"(x{result['audio_fingerprint_pairs']['ratio']})",
            file=sys.stderr,
        )

    # r17: video keyframe pairs — Nx synthetic clips through the
    # clip-bounded Arrow signature stage, the (n_scenes, scene_idx,
    # hash) candidate equi-join, and the array-verify join; planted
    # pairs are id-local, 63-bit hash buckets keep candidates ~linear
    if only is None or "video_keyframe_pairs" in only:
        ids_vp = read_table(spark, SF_DIR, "documents").select("doc_id")

        def _vp_rep(n_copies):
            parts = [
                ids_vp.select(
                    (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id")
                )
                for i in range(n_copies)
            ]
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return ops.synth_y4m_tail_variant_column(out, group_size=3)

        t1 = timed(ops.video_keyframe_pairs(_vp_rep(1), max_hamming=6))
        tn = timed(ops.video_keyframe_pairs(_vp_rep(n), max_hamming=6))
        result["video_keyframe_pairs"] = {
            "t1": t1, "tn": tn, "ratio": round(tn / max(t1, 1e-6), 1)
        }
        print(
            f"# video_keyframe_pairs: {t1}s -> {tn}s "
            f"(x{result['video_keyframe_pairs']['ratio']})",
            file=sys.stderr,
        )

    # r17: tokenizer cost audit — the learned-rule encode over Nx docs
    # (rules fixed, the bpe_encode probe's discipline) plus the pure-
    # map accounting stage; the ratio must track bpe_encode's
    if only is None or "token_cost_audit" in only:
        def _tca(frame):
            enc = ops.bpe_encode(frame, _base_merges)
            return ops.token_cost_audit(
                enc.select("doc_id", F.col("n_symbols").alias("n_tokens")),
                context_len=128,
            )

        t1 = timed_thunk(lambda: _tca(replicate_docs(d1, 1)))
        tn = timed_thunk(lambda: _tca(replicate_docs(d1, n)))
        result["token_cost_audit"] = {
            "t1": t1, "tn": tn, "ratio": round(tn / max(t1, 1e-6), 1)
        }
        print(
            f"# token_cost_audit: {t1}s -> {tn}s "
            f"(x{result['token_cost_audit']['ratio']})",
            file=sys.stderr,
        )

    # r17 (post-freeze): packing dividend — pure map + one
    # n_shards-keyed combinable agg over Nx docs; the ratio probes the
    # tokenize/map scan (the shuffle is n_shards partials per task)
    if only is None or "packing_dividend" in only:
        t1 = timed(ops.packing_dividend(replicate_docs(d1, 1), token_budget=64, n_shards=8))
        tn = timed(ops.packing_dividend(replicate_docs(d1, n), token_budget=64, n_shards=8))
        result["packing_dividend"] = {
            "t1": t1, "tn": tn, "ratio": round(tn / max(t1, 1e-6), 1)
        }
        print(
            f"# packing_dividend: {t1}s -> {tn}s "
            f"(x{result['packing_dividend']['ratio']})",
            file=sys.stderr,
        )

    # r17 (post-freeze): epoch/repeat audit — one corpus agg
    # (mixture_weights' map-side-combinable per-source sums) + row
    # arithmetic on the n_sources frame; the ratio probes the scan
    if only is None or "epoch_repeat_audit" in only:
        t1 = timed(ops.epoch_repeat_audit(replicate_docs(d1, 1), budget_tokens=100_000))
        tn = timed(ops.epoch_repeat_audit(replicate_docs(d1, n), budget_tokens=100_000))
        result["epoch_repeat_audit"] = {
            "t1": t1, "tn": tn, "ratio": round(tn / max(t1, 1e-6), 1)
        }
        print(
            f"# epoch_repeat_audit: {t1}s -> {tn}s "
            f"(x{result['epoch_repeat_audit']['ratio']})",
            file=sys.stderr,
        )

    # r17 (post-freeze): strongly connected components — Nx the
    # 1995 part-sequence graph with namespaced part/order keys, so
    # copies are edge-disjoint: SCC structure (and therefore trim
    # depth, phase count, and fixpoint round count) stays constant
    # per copy while edges Nx. The ratio probes the per-round scans
    # of the trim/color/settle loops; locally the floor is the
    # ~35-round × small-job overhead (rounds are data-independent),
    # so sub-linear ratios are EXPECTED until data cost dominates.
    if only is None or "scc" in only:
        from pyspark.sql import Window as _W

        li_scc = read_table(spark, SF_DIR, "lineitem").filter(
            F.expr("year(l_shipdate) = 1995")
        ).select("l_orderkey", "l_linenumber", "l_partkey")

        def _scc_edges(n_copies):
            parts = [
                li_scc.select(
                    (F.col("l_orderkey") + F.lit(i * 100_000_000)).alias(
                        "l_orderkey"
                    ),
                    "l_linenumber",
                    (F.col("l_partkey") + F.lit(i * 100_000_000)).alias(
                        "l_partkey"
                    ),
                )
                for i in range(n_copies)
            ]
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            w = _W.partitionBy("l_orderkey").orderBy("l_linenumber")
            nxt = F.lead("l_partkey").over(w)
            return out.select(
                F.col("l_partkey").alias("src"), nxt.alias("dst")
            ).filter(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))

        t1 = timed_thunk(
            lambda: ops.strongly_connected_components(_scc_edges(1))
        )
        tn = timed_thunk(
            lambda: ops.strongly_connected_components(_scc_edges(n))
        )
        result["scc"] = {
            "t1": t1, "tn": tn, "ratio": round(tn / max(t1, 1e-6), 1)
        }
        print(
            f"# scc: {t1}s -> {tn}s (x{result['scc']['ratio']})",
            file=sys.stderr,
        )

    # r7: streaming interval-join STATE growth (rows, not seconds) —
    # bounded state under the watermark means ratio ~1 at Nx input
    if only is None or "streaming_interval_join_state" in only:
        result["streaming_interval_join_state"] = probe_streaming_state(spark, n)
        r = result["streaming_interval_join_state"]
        print(
            f"# streaming_interval_join_state: {r['t1']} -> {r['tn']} rows "
            f"(x{r['ratio']})",
            file=sys.stderr,
        )

    print(
        json.dumps(
            {
                "n": n,
                "sf_dir": SF_DIR,
                "registry_names": registry_name_map(result),
                "ops": result,
            }
        )
    )


if __name__ == "__main__":
    main()
