"""Benchmark: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is materialized by writing its full result to Spark's
``noop`` sink, which evaluates every column (``count`` would let
Catalyst prune them), after a warm-up of the session; timings include
plan optimization + execution, not session startup. The end-to-end
flows in ``FLOWS`` run their own actions. Every sample is one
``graph_etl_spark.metrics.measure`` call; the sidecar record
(BENCH_SUMMARY.json, or BENCH_ONLY_SAMPLE.json for a
SPARK_GRAFT_BENCH_ONLY=<names> run) keeps each entry's metrics record
(jobs, stages, tasks, executor time, shuffle and spill bytes) of its
fastest sample under "records".
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from graph_etl_spark.metrics import measure  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# min of RUNS samples per query: the local VM shows multi-second GC /
# scheduling jitter (same query 1.8s vs 14.9s back-to-back), so a
# single sample is noise; the min is the reproducible cost. Three
# samples (not two) so one contended sample still leaves a pair of
# clean ones to agree with each other (VERDICT r6 #1).
RUNS = 3
# Quiet-machine gate (VERDICT r6 #1): wait up to GATE_WAIT seconds for
# the 1-min load to settle below MAX_LOAD before timing anything.
MAX_LOAD = 1.0
GATE_WAIT = 300

# Headline set: the §2 ETL core + analytics + every extension family.
HEADLINE = [
    "etl_normalize_nodes",
    "etl_dedup_pk",
    "etl_remap_j1",
    "etl_automap_j2",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "json_extract_events",
    "win_running_total",
    "topk_orders",
    "events_tumbling_counts",
    "events_sessionize",
    "asof_join_events",
    "dedup_exact_groups",
    "dedup_minhash_signatures",
    "dedup_minhash_lsh_pairs",
    "dedup_ngram_jaccard_pairs",
    "dedup_simhash_signatures",
    "text_quality_scores",
    "text_lang_id",
    "text_fingerprint",
    "sim_cosine_topk",
    "sim_ivf_topk",
    "mm_binary_metadata",
    # round-2 scale-path additions
    "dedup_simhash_pairs",
    "sim_cosine_neardup_pairs",
    "range_join_parts",
    "text_winnow_fingerprints",
    # round-3 corpus-quality family
    "quality_repetition_stats",
    "quality_boilerplate_ngrams",
    "quality_tfidf_top_terms",
    "quality_contamination",
    "sim_kmeans_centroids",
    # round-6: the two heaviest registered queries, previously absent
    # from the official record (VERDICT r5 #3), plus the new
    # per-source quota cap
    "sim_semantic_dedup_pairs",
    "quality_source_quota",
    # round-7: RAG-style overlapping-window chunking + the streaming
    # admission filter's batch twin
    "quality_chunk_documents",
    "quality_gate",
    # round-7: TPC-H expansion battery (join-shape coverage) + the
    # end-to-end near-dup dedup pipeline
    "q4_order_priority",
    "q7_volume_shipping",
    "q8_market_share",
    "q13_customer_distribution",
    "q14_promo_revenue",
    "q18_large_volume",
    "q19_discount_revenue",
    "q22_dormant_balance",
    "dedup_neardup_survivors",
    # round-7: sub-document passage dedup + unigram LM scoring + the
    # four-family corpus-assembly manifest
    "dedup_passages",
    "quality_unigram_logprob",
    "pipeline_corpus_assembly",
    # round-7 (cont.): duplicate-span scrub, incremental batch-vs-index
    # dedup, and the product-quantization ANN path
    "dedup_span_scrub",
    "dedup_incremental",
    "sim_pq_codes",
    "sim_pq_refine_topk",
    "quality_mixture_sample",
    "text_bpe_merges",
    "sim_ivfpq_topk",
    "quality_clf_weights",
    "quality_curriculum_order",
    "events_hopping_counts",
    "etl_upsert_nodes",
    "text_fuzzy_pairs",
    "etl_profile_table",
    "etl_profile_table_fast",
    "graph_triangles",
    "quality_bigram_logprob",
    "quality_trigram_ppl",
    "quality_ppl_gate",
    "q2_min_cost_supplier",
    "q9_product_type_profit",
    "q11_important_supply",
    "q12_priority_shipping",
    "q15_top_supplier",
    "q16_supplier_part_counts",
    "q17_small_quantity_revenue",
    "q20_dominant_suppliers",
    "q21_waiting_orders",
    # round-8: tokenizer apply, JL projection, BM25 ranking
    "text_bpe_encode",
    "sim_random_projection",
    "text_bm25_rank",
    "graph_kcore",
    "quality_dataset_split",
    "text_url_dedup",
    "text_normalize",
    "events_funnel",
    "events_retention",
    "basket_frequent_pairs",
    "text_entity_clusters",
    "events_threshold_crossings",
    "etl_expectations",
    "events_attribution",
    "etl_scd2_history",
    "etl_cascade_delete",
    "graph_label_propagation",
    "graph_bfs_distances",
    "text_pmi_bigrams",
    "quality_zscore_outliers",
    "events_rolling_median",
    "etl_snapshot_diff",
    "quality_histogram",
    "quality_corr_matrix",
    "etl_mask_columns",
    "events_ewma",
    "events_markov",
    "text_inverted_index",
    "graph_hits",
    "quality_negative_samples",
    "graph_bellman_ford",
    "events_enriched_stats",
    "etl_zorder_layout",
    "quality_quantile_normalize",
    "events_ohlc",
    "text_feature_hashing",
    "events_covisitation",
    "events_ohlc_windowed",
    "quality_group_percentiles",
    "events_spike_detection",
    "events_session_windows",
    "sim_ranking_eval",
    "quality_pr_curve",
    "sim_embedding_drift",
    "quality_winsorize",
    "etl_apply_cdc",
    "etl_scd2_pit",
    "graph_neighbor_stats",
    "graph_random_walks",
    # round-9: streaming batch twins (interval join, ingest admission)
    "stream_interval_join",
    "stream_ingest_admission",
    # round-10: real PNG / WAV decode round trips (Arrow-batched
    # Python stages over real codecs)
    "mm_decode_real",
    "mm_audio_features",
    "mm_video_frames",
    "mm_audio_windows",
    "graph_link_prediction",
    "graph_node2vec_walks",
    "text_rake_keywords",
    "sim_mips_topk",
    "quality_shard_plan",
    "quality_gini_tokens",
    "sim_mips_ivf_topk",
    "events_holt_forecast",
    "etl_fk_orphans",
    "events_seasonal_profile",
    "text_llr_collocations",
    "approx_heavy_hitters",
    "sim_l2_topk",
    "events_seasonal_anomaly",
    "graph_personalized_pagerank",
    "approx_quantile_sketch",
    "sim_maxsim_topk",
    "dedup_containment_pairs",
    "events_funnel_windowed",
    "events_rfm_segments",
    "etl_key_skew_report",
    "text_zipf_fit",
    "quality_kn_logprob",
    "events_concurrency",
    "events_cusum_changepoint",
    "events_ab_ztest",
    "etl_table_checksum",
    "graph_modularity",
    "sim_mmr_rerank",
    "sim_hamming_topk",
    "events_ab_cuped",
    "sim_hybrid_rrf",
    "dedup_ngram_novelty",
    "mm_resize_real",
    "events_survival_km",
    "approx_cms_counts",
    "etl_bloom_semi_join",
    "quality_dsir_weights",
    "sim_matryoshka_recall",
    "events_top_paths",
    "etl_freshness",
    "quality_domain_shift",
    "asof_join_nearest",
    "graph_louvain_move",
    "dedup_minhash_audit",
    "text_langid_confusion",
    "text_fertility",
    "events_markov_steady_state",
    # round-12: broadcast bloom probe, full Louvain loop, perceptual
    # image dedup, HLL distinct audit, sampled betweenness, CDC chunks
    "etl_bloom_semi_join_scale",
    "graph_louvain_communities",
    "mm_image_ahash_dedup",
    "approx_hll_distinct",
    "graph_betweenness",
    "dedup_cdc_chunks",
    "quality_mad_outliers",
    "events_cohort_ltv",
    "graph_assortativity",
    "dedup_dup_rate_by_source",
    "events_burstiness",
    # round-13: Louvain phase 2, guarded CDC, Gopher rule battery,
    # HLL merge, k-truss, char entropy, shard-seam overlap
    "graph_louvain_coarsen",
    "graph_louvain_two_level",
    "dedup_cdc_guarded",
    "quality_gopher_rules",
    "approx_hll_union",
    "graph_ktruss",
    "text_char_entropy",
    "dedup_overlap_pairs",
    "quality_k_anonymity",
    "quality_cohen_kappa",
    "quality_token_budget",
    "events_ab_srm",
    "graph_closeness",
    "text_vocab_overlap",
    "events_bot_users",
    "sim_ivf_recall_curve",
    # round-14: N-level Louvain, C4 line dedup, Flesch readability,
    # compaction planner, CCNet ppl buckets, DCT pHash, A/B power
    "graph_louvain_multilevel",
    "dedup_line_dedup",
    "text_readability",
    "etl_compaction_plan",
    "quality_ppl_buckets",
    "mm_image_phash_dedup",
    "events_power_analysis",
    "mm_video_scene_cuts",
    "events_ab_did",
    "dedup_soft_weights",
    "dedup_lsh_recall_curve",
    # round-15: SemDeDup end-to-end survivors, embedding eval
    # contamination, pHash hamming pairs, DoReMi domain reweighting
    "dedup_semdedup",
    "sim_eval_contamination",
    "mm_image_phash_pairs",
    "quality_domain_reweight",
    "dedup_cluster_split",
    "mm_audio_fingerprint_dedup",
    # round-16: wide 255-bit pHash pigeonhole pairs, CLIP-score
    # image-text alignment filter, mojibake scrub, embedding outliers
    "mm_image_phash_pairs_wide",
    "sim_clip_filter",
    "quality_mojibake_scrub",
    "sim_embedding_outliers",
    "mm_video_keyframe_dedup",
    "dedup_minhash_contamination",
    # round-17: fuzzy audio/video near-dup pairs (the cross-modal
    # dedup matrix completed), tokenizer-aware sequence-cost audit
    "mm_audio_fingerprint_pairs",
    "mm_video_keyframe_pairs",
    "quality_token_cost_audit",
    "quality_packing_dividend",
    "quality_epoch_repeat_audit",
    # round-18: the three r17-registered queries that never made the
    # bench record (VERDICT r17 #5) — every registered headline-family
    # query should appear on one self-proving record
    "graph_scc",
    "sim_binary_rerank",
    "quality_calibration_bins",
]


def bench_pipeline_flow(spark, sf_dir):
    """§3 lifecycle: stage (parse) → map (J2 natural-key auto-map over
    the PLACED edges) → load into the native sink. The edge start
    endpoint is deliberately declared against Customer:c_name so the
    mapping engine must resolve it to the pk — stage, automap broadcast
    join, write-new-then-swap, and the loader all execute, not just the
    staging write.

    Returns per-phase wall times {"stage": s, "map": s, "load": s} so
    a regression in one phase is attributable (VERDICT r3 item 4);
    bench records them as pipeline_stage_map_load.{stage,map,load}
    sub-entries plus the comparable total."""
    import shutil
    import tempfile

    import graph_etl_spark as getl
    from graph_etl_spark.pipeline import _map_property
    from pyspark.sql import functions as F

    workdir = tempfile.mkdtemp(prefix="bench_flow_")
    phases: dict[str, float] = {}
    try:
        getl.init(spark, output_folder=f"{workdir}/output")
        customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")

        @getl.Parser(source="bench_tpch")
        def parse_bench(ctx):
            ctx.save_nodes(
                customer.withColumnRenamed("c_custkey", "id"), "Customer"
            )
            ctx.save_nodes(orders.withColumnRenamed("o_orderkey", "id"), "Order")
            placed = orders.join(
                customer, orders.o_custkey == customer.c_custkey
            ).select(F.col("c_name").alias("start"), F.col("o_orderkey").alias("end"))
            ctx.save_edges(placed, "PLACED", "Customer:c_name", "Order:id")

        def map_phase():
            store = getl.get_store()
            _map_property(store)
            store.flush_configs()  # parse(use_mapper=True) flushes post-map

        def load_phase():
            loader = getl.SparkNativeGraphLoader(spark, graph_dir=f"{workdir}/graph")
            return getl.load(loader)

        phases["stage"] = measure(spark, lambda: getl.parse(use_mapper=False))[1]["wall_s"]
        phases["map"] = measure(spark, map_phase)[1]["wall_s"]
        totals, cost = measure(spark, load_phase)
        phases["load"] = cost["wall_s"]
        assert totals["edges"] > 0, totals
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    return phases


def bench_profile_fast_op(spark, sf_dir):
    """The single-scan profile OPERATOR alone (VERDICT r7 #3): the
    etl_profile_table_fast HEADLINE entry honestly carries its oracle
    verification (an exact-distinct Expand agg the operator never
    pays), so this flow records the cost a user sees — one scan, all
    columns, HLL distincts."""
    import graph_etl_spark.operators as ops

    d = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_discount",
        "l_returnflag", "l_shipdate", "l_linestatus",
    )
    # collects internally (one-row agg)
    n, cost = measure(spark, lambda: ops.profile_table(d).count())
    assert n == 7
    return {"profile": cost["wall_s"]}


# end-to-end flows timed alongside the headline queries; these run
# their own actions (no noop sink)
FLOWS = {
    "pipeline_stage_map_load": bench_pipeline_flow,
    "profile_table_fast_op": bench_profile_fast_op,
}


def main() -> None:
    import __spark_entry__ as entrymod
    from graph_etl_spark.session import get_spark

    # Session hygiene for a long measurement run (~40 queries × N runs
    # in ONE JVM): the web UI's status store retains per-execution plan
    # graphs and task tables (defaults: 1000 executions/jobs/stages) —
    # with this workload's large higher-order-expression plans that is
    # steady heap growth across the run, i.e. rising GC pressure late
    # in the session. The bench JVM doesn't need a web UI; the
    # statusTracker API the tests use lives in the app status store and
    # keeps working. The driver heap defaults to half the host's
    # memory, at most 16g (the local-mode driver hosts every executor
    # thread, so full GCs stay rare on a large host, and a small one
    # keeps room for the Python workers and the OS).
    # SPARK_GRAFT_DRIVER_MEM overrides it.
    host_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{min(16, max(1, int(host_gib // 2)))}g")
    spark = get_spark(
        "graph-etl-bench",
        extra_confs={
            "spark.ui.enabled": "false",
            "spark.sql.ui.retainedExecutions": "50",
            # The generated-class cache defaults to 100 entries; a full
            # bench pass creates several codegen stages per query × ~40
            # queries, so by a query's SECOND sample its classes may be
            # evicted and recompiled — measured as the bimodal 1.4 s vs
            # 17 s tfidf and the r4 "+20% session aging". Static conf:
            # takes effect only at session build, which this is.
            "spark.sql.codegen.cache.maxEntries": "10000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    # warm up JVM + codegen + higher-order-expression paths (not timed)
    spark.read.parquet(f"{SF_DIR}/nation.parquet").count()
    from pyspark.sql import functions as F

    (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .limit(50)
        .select(F.md5(F.array_join(F.filter(F.split("text", " "), lambda t: t != ""), " ")))
        .write.format("noop").mode("overwrite").save()
    )
    # warm the 16-min-aggregate codegen shape (minhash signatures pay
    # ~2s of one-time janino compilation on first use otherwise)
    from graph_etl_spark.operators.dedup import minhash_signature

    (
        minhash_signature(spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    # spawn the Arrow Python workers once (pandas_udf queries otherwise
    # pay the per-executor-thread interpreter fork inside their timing)
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("double")
    def __warm(s):
        return s * 1.0

    (
        spark.range(0, 10_000, 1, 32)
        .select(__warm(F.col("id").cast("double")))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )

    # Quiet-machine gate (VERDICT r6 #1): a contended host inflates
    # whole stretches of samples (r6 official run started at loadavg
    # 8.87 and its record could not substantiate the round's claim).
    # Proceed with a loud warning if the load never settles — an
    # inflated-but-flagged record beats no record (rc must stay 0).
    # r8's official run started at loadavg 1.96 — a hair under the old
    # gate of 2.0 — and its tail was load-contaminated (six phantom
    # regressions vs the quiet record), hence the gate of 1.0.
    waited = 0.0
    while os.getloadavg()[0] > MAX_LOAD and waited < GATE_WAIT:
        print(
            f"# loadavg {os.getloadavg()[0]:.2f} > gate {MAX_LOAD}; "
            f"waiting ({waited:.0f}s/{GATE_WAIT:.0f}s)",
            file=sys.stderr,
        )
        time.sleep(10)
        waited += 10
    load_start = os.getloadavg()
    if load_start[0] > MAX_LOAD:
        print(
            f"# WARNING: starting under load {load_start[0]:.2f} > gate "
            f"{MAX_LOAD} after {waited:.0f}s wait — timings suspect",
            file=sys.stderr,
        )
    # targeted re-measure support (VERDICT r8 #2): a comma list in
    # SPARK_GRAFT_BENCH_ONLY restricts the run to those entries —
    # for quiet-machine attribution of individual regressions without
    # a full 2-minute pass. Official records never set it.
    only = {
        s for s in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",") if s
    }
    names = HEADLINE + list(FLOWS)
    if only:
        names = [n for n in names if n in only]
    timings: dict[str, float] = {}
    all_samples: dict[str, list[float]] = {}
    all_sample_loads: dict[str, list[float]] = {}
    phase_samples: dict[str, dict[str, list[float]]] = {}
    # each entry's metrics record (jobs, stages, shuffle bytes, ...) of
    # the sample its recorded time is the min of
    records: dict[str, dict] = {}

    def sample(name):
        flow = FLOWS.get(name)
        if flow is not None:
            # flows materialize themselves (stage+map+load writes)
            phases, cost = measure(spark, lambda: flow(spark, SF_DIR) or {})
            for ph, sec in phases.items():
                phase_samples.setdefault(name, {}).setdefault(ph, []).append(sec)
        else:
            # noop sink: materializes EVERY column of the full plan —
            # count() would let Catalyst prune the expensive expressions
            _, cost = measure(
                spark,
                lambda: qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save(),
            )
        samples = all_samples.setdefault(name, [])
        samples.append(cost["wall_s"])
        # per-sample 1-min loadavg at sample END (VERDICT r9 #8):
        # regression forensics become one sidecar lookup — an inflated
        # sample next to a high load number is contention, next to a
        # quiet one is a real plan cost
        all_sample_loads.setdefault(name, []).append(round(os.getloadavg()[0], 2))
        if cost["wall_s"] == min(samples):
            records[name] = {k: v for k, v in cost.items() if k != "job_ids"}
        timings[name] = min(samples)

    def release():
        """Between-query session hygiene (untimed): checkpointing
        queries (k-means input, semantic dedup's tagged frame) leave
        persisted blocks whose lazy ContextCleaner reclamation lags a
        ~40-query × 3-sample run — late-list queries then measure GC
        pressure, not their plan (observed: monotone 7→20→41 s samples
        on the last heavy queries of a full pass). Drop leftovers and
        compact the heap before the next query times."""
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()

    for name in names:
        for _ in range(RUNS):
            sample(name)
        samples = all_samples[name]
        # spread policy (VERDICT r9 #8): within-run spread >1.3x means
        # at least one sample is contaminated — extend to min-of-5 so
        # the min comes from the quiet majority, not a lucky pair
        while (
            len(samples) < 5
            and min(samples) > 0
            and max(samples) / min(samples) > 1.3
        ):
            print(
                f"#   spread {max(samples) / min(samples):.2f}x > 1.3 for "
                f"{name}; extending to min-of-{len(samples) + 1}",
                file=sys.stderr,
            )
            sample(name)
        release()
        # per-phase minima as attributable sub-entries; the parent total
        # stays min-of-total-runs (phase minima may come from different
        # runs and sum slightly below the parent)
        for ph, vals in phase_samples.get(name, {}).items():
            timings[f"{name}.{ph}"] = min(vals)
        print(
            f"# {name}: {timings[name]:.2f}s "
            f"(min of {', '.join(f'{s:.2f}' for s in samples)}; "
            f"{records[name]['jobs']} jobs, {records[name]['stages']} stages)",
            file=sys.stderr,
        )
        for ph, vals in phase_samples.get(name, {}).items():
            print(f"#   .{ph}: {min(vals):.2f}s", file=sys.stderr)

    def _suspect_list():
        """(load_at_min, name) for every entry whose recorded min is
        load-hot or uncorroborated — relative to THIS run's own load
        envelope."""
        flat = [x for v in all_sample_loads.values() for x in v]
        med = sorted(flat)[len(flat) // 2] if flat else 0.0
        thresh = max(2.0 * med, med + 4.0)
        out = []
        for n, samp in all_samples.items():
            loads = all_sample_loads.get(n, [])
            if not samp or not loads:
                continue
            i_min = samp.index(min(samp))
            hot = i_min < len(loads) and loads[i_min] > thresh
            # uncorroborated min: the recorded value has no second
            # sample within 1.3x of it (the max/min spread would flag
            # every query whose FIRST sample paid cold codegen — that
            # is normal)
            ss = sorted(samp)
            spread = len(ss) >= 2 and ss[0] > 0 and ss[1] / ss[0] > 1.3
            if hot or spread:
                out.append((loads[i_min] if i_min < len(loads) else 0.0, n))
        out.sort(reverse=True)
        return med, out

    # Post-sweep suspect re-sampling (VERDICT r12 #8): suspects are
    # individually seconds, so one more quiet sample each either
    # corroborates the min (clearing the spread flag) or lands a new
    # quieter min (clearing the hot flag) — the shipped record's
    # suspect list shrinks toward zero. Flows are skipped (their phase
    # sub-entries would desync from a resampled parent); three passes
    # max (two left n_suspect at 14 in the r15 quiet pass — the spread
    # flag needs the two smallest samples within 1.3x, and one extra
    # sample per pass is how an honest min gets its corroborating twin).
    for _pass in range(3):
        _, sus = _suspect_list()
        todo = [n for _, n in sus if n not in FLOWS]
        if not todo:
            break
        print(
            f"# resample pass {_pass + 1}: {len(todo)} suspects "
            f"({', '.join(todo[:8])}{'...' if len(todo) > 8 else ''})",
            file=sys.stderr,
        )
        for n in todo:
            sample(n)
            release()

    # ".phase" sub-entries are attributions of their parent flow, not
    # additional work — exclude them from the headline total
    total = round(sum(t for n, t in timings.items() if "." not in n), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    # Family subtotals (VERDICT r8 #8): the compact stdout line can
    # only hold the slowest ~50 queries, so regressions in the omitted
    # entries would be invisible from the official record alone —
    # per-family totals keep every query's time accounted for in the
    # parsed line (a regression in ANY omitted query moves its
    # family's subtotal).
    import re as _re

    _fams = {"etl", "quality", "sim", "text", "dedup", "events",
             "graph", "mm", "win", "asof", "basket", "pipeline",
             "stream"}

    def _family(name: str) -> str:
        if _re.match(r"q\d+_", name):
            return "tpch"
        head = name.split("_", 1)[0].split(".", 1)[0]
        return head if head in _fams else "core"

    families: dict[str, float] = {}
    for n, t in timings.items():
        if "." in n:  # phase sub-entries already roll into their parent
            continue
        families[_family(n)] = families.get(_family(n), 0.0) + t
    # round ONCE per family after accumulation — per-step rounding
    # compounds error across ~100 entries (ADVICE r9)
    families = {k: round(v, 2) for k, v in families.items()}
    # Self-attributing load block IN the parsed line (VERDICT r11 #3):
    # the official BENCH_rN.json is the stdout line alone, so the
    # contention evidence must live there, not only in the sidecar.
    # The bench's own 32-thread work keeps the 1-min load at ~3-4 on a
    # QUIET host (r11 sidecar: median 3.7, p90 6.6), so suspicion is
    # RELATIVE to this run's own load envelope: a query is suspect
    # when its RECORDED (min) sample ended under load well above the
    # run median, or when its samples still spread >1.3x after the
    # extension policy — those are the named entries a drifted
    # subtotal should be pinned to (full arrays stay in the sidecar).
    flat_loads = [x for v in all_sample_loads.values() for x in v]
    run_med, suspects = _suspect_list()
    load_block = {
        "start": round(load_start[0], 2),
        "end": round(os.getloadavg()[0], 2),
        "med_sample": round(run_med, 2),
        "max_sample": round(max(flat_loads), 2) if flat_loads else 0.0,
        "gate": MAX_LOAD,
        "suspect": [n for _, n in suspects[:5]],
        "n_suspect": len(suspects),
    }
    summary = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "load": load_block,
        "families": dict(sorted(families.items())),
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # Attribution data for the official record: every raw sample (a
    # plan regression repeats across samples; a contended machine
    # inflates whole stretches of them) plus the host's 1/5/15-min
    # load at both ends — so an inflated record can be diagnosed from
    # the record alone, without a re-run. This goes in a SIDECAR file,
    # not the stdout line: the driver keeps only a ~2000-char tail of
    # stdout, and r6's inline-attribution line overflowed it, leaving
    # the official record unparsed (VERDICT r6 #1).
    sidecar = dict(summary)
    sidecar.update(
        {
            "samples": all_samples,
            "sample_loadavg": all_sample_loads,
            "records": records,
            "runs": RUNS,
            "loadavg_start": [round(x, 2) for x in load_start],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "load_gate": MAX_LOAD,
            "gate_waited_sec": waited,
            "cpus": spark.sparkContext.defaultParallelism,
        }
    )
    here = os.path.dirname(os.path.abspath(__file__))
    if only:
        # a targeted SPARK_GRAFT_BENCH_ONLY pass must never clobber
        # the full official record (the r14 truncated-record incident;
        # tools/preflight.py gate 0 would catch it, but don't write it
        # in the first place) — side-car lands next to it instead
        with open(os.path.join(here, "BENCH_ONLY_SAMPLE.json"), "w") as f:
            json.dump(sidecar, f, indent=1)
    else:
        # one record per core count, so a c8 run keeps the c32 one;
        # BENCH_SUMMARY.json stays the latest (tools/preflight.py reads it)
        for name in (f"BENCH_SUMMARY_c{sidecar['cpus']}.json", "BENCH_SUMMARY.json"):
            with open(os.path.join(here, name), "w") as f:
                json.dump(sidecar, f, indent=1)
    # The compact summary must be the LAST stdout line and must fit
    # entirely inside the driver's ~2000-char tail capture — three
    # rounds running the record landed parsed:null because the full
    # per-query dict overflowed it (VERDICT r7 #3). Shrink in stages
    # and HARD-CAP the line: drop phase sub-entries, then keep only
    # the slowest queries that fit (the informative ones), counting
    # the rest; the complete dict always lives in BENCH_SUMMARY.json.
    line = json.dumps(summary)
    if len(line) > 1900:
        slim = {n: t for n, t in timings.items() if "." not in n}
        summary["queries"] = slim
        line = json.dumps(summary)
    # The omitted-entry COUNT lives at top level, NOT inside the
    # queries dict: r17's driver record parsed the in-dict count as a
    # 204-second query timing (VERDICT r17 #4). Top-level addition only;
    # the queries dict holds seconds and nothing else.
    while len(line) > 1900 and summary["queries"]:
        q = dict(summary["queries"])
        keep = sorted(q, key=q.get, reverse=True)[: max(0, len(q) - 10)]
        summary["queries"] = {n: q[n] for n in keep}
        summary["omitted_count"] = len(timings) - len(keep)
        summary["full_record"] = "BENCH_SUMMARY.json"
        line = json.dumps(summary)
    print(line)


if __name__ == "__main__":
    main()
