#!/usr/bin/env python
"""Per-round benchmark: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is timed end-to-end (plan + execute + materialize counts via a
cheap action). A warmup pass on sf0.001 first touches the JVM/codegen paths
so the measured numbers reflect steady-state execution, like a resident
cluster would see.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from left_join_on_timeout_spark import queries as q  # noqa: E402
from left_join_on_timeout_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: the reference operator (timeout join family) + the heavy
# relational/pipeline queries. Cheap point lookups are excluded — they
# measure overhead, not the engine.
HEADLINE = [
    "timeout_left_join",
    "window_inner_join",
    "timeout_only",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_revenue_delta",
    "q7_nation_volume",
    "q8_market_share",
    "q18_large_volume_customer",
    "q2_min_cost_supplier",
    "q13_customer_distribution",
    "q21_waiting_suppliers",
    "asof_backward_join",
    "window_top3_per_customer",
    "rollup_revenue",
    "sessionization",
    "tumbling_window_events",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_lsh_jaccard",
    "ann_top1_ivf",
    "ivf_kmeans_cells",
    "knn_brute_cosine",
    "ann_top1_srp",
    "text_quality_score",
    "multimodal_features",
    "kafka_sink_encode",
    "merge_upsert_orders",
    "global_price_rank",
    "tfidf_top_terms",
    "events_daily_resample",
    "dedup_cc_clusters",
    "dedup_edit_distance",
    "window_rolling_7d",
    "incremental_agg_refresh",
    "zscore_anomalies",
    "text_token_entropy",
    "contamination_ngram_overlap",
    "crossdoc_dup_ngrams",
    "repetition_quality_flags",
    "sequence_packing_bins",
    "ann_top1_ivf_probe2",
    "funnel_conversion_daily",
    "cohort_retention_weekly",
    "boilerplate_strip_docs",
    "doc_lm_score",
    "training_order_shuffle",
    "ann_top1_ivfpq",
    "dedup_multi_signal_clusters",
    "bigram_pmi_top",
    "full_outer_timeout_join",
    "cms_heavy_hitters",
    "dynamic_timeout_left_join",
    "dup_span_detection",
    "dsir_importance_weights",
    "doc_lm2_score",
    "dedup_incremental_probe",
    "containment_pairs",
    # round-5 additions: the heavy continuation tail that had no sf0.1
    # timing on record (VERDICT r4 "Next round" #3)
    "pagerank_candidates",
    "dedup_prefix_jaccard",
    "cluster_aware_split",
    "events_pit_enrich",
    "rolling_7d_active_users",
    "quantile_normalize_quality",
    "source_influence_loo",
    "corpus_health_dashboard",
    # round-6 additions: the last unbenched heavy names (VERDICT r5
    # item 6 — every query with >1 s sf0.01 wall gets an sf0.1 row)
    # plus the new trained two-level quantizer
    "dedup_graph_triangles",
    "dedup_savings_report",
    "containment_minhash_est",
    "bootstrap_mean_quality",
    "novelty_score_docs",
    "neyman_allocation_sample",
    "ann_top1_ivf2",
    # round-7 additions: the index lifecycle (build+save+load+search),
    # the sample-trained Lloyd, and the super-level multi-probe twin
    "ann_top1_ivf2_saved",
    "ann_top1_ivf2_sampled",
    "ann_top1_ivf2_probe2",
    "ann_top1_ivfpq_saved",
    "ann_topk_ivf",
    # round-8 additions: the serving tier over the saved index (top-K /
    # attribute-filtered / sid-pruned search) and the trained PQ codebook
    "ann_topk_ivf2_saved",
    "ann_filtered_ivf2_saved",
    "ann_pruned_ivf2_saved",
    "ann_top1_ivfpq_trained",
    # round-9 additions: tombstone-delete serve, saved multi-probe
    # serving, PQ serving parity (filtered + pruned over coded postings)
    "ann_deleted_ivf2_saved",
    "ann_top1_ivf2_saved_probe2",
    "ann_filtered_pq_saved",
    "ann_pruned_pq_saved",
    "ann_rerank_pq_saved",
    "ann_top1_ivfpq_saved_probe2",
    "dedup_lsh_probe_saved",
    # round-10 additions: the append->rebuild->serve maintenance arc
    # (postings_v2 through the atomic manifest pointer) and the
    # foreachBatch manifest-refresh streaming probe
    "ann_rebuild_ivf2_saved",
    "stream_ann_probe_refresh",
    # round-10 continued: the snapshot (as_of) serve against a pinned
    # pre-rebuild version; BM25 retrieval + hybrid RRF fusion
    "ann_asof_ivf2_saved",
    "text_bm25_topk",
    "hybrid_search_rrf",
    "stream_lsh_probe_refresh",
    "bitext_margin_mine",
    # round-11 additions: the saved inverted index (BM25 with zero
    # corpus passes at serve), hybrid RRF over both saved tiers, and
    # margin mining probing a standing saved SRP index
    "text_bm25_saved",
    "hybrid_search_rrf_saved",
    "bitext_margin_mine_saved",
    "text_bm25_sweep",
    "stream_text_index_append",
]

# Round-12 additions: the saved n-gram contamination sweep, the text
# tier's rebuild lifecycle and refresh stream, and the hybrid sweep.
# Kept as an explicit list (ADVICE r11: PREV_HEADLINE was a positional
# slice that a mid-list insertion would silently corrupt) — the
# previous round's set is derived by content, not position.
_R12_ADDITIONS = [
    "contamination_sweep_saved",
    "text_bm25_rebuilt_saved",
    "stream_text_probe_refresh",
    "hybrid_search_sweep_saved",
    "crossdoc_dup_saved",
    "contamination_suites_saved",
    "stream_contamination_screen",
    "decontaminate_corpus_saved",
]
HEADLINE += _R12_ADDITIONS

# Round-13 additions: the gram tier's full maintenance arc + ingest
# stream, the decontamination loop closed into the indexes, and the
# end-to-end curation capstone.
_R13_ADDITIONS = [
    "contamination_rebuilt_saved",
    "stream_gram_index_append",
    "decontaminate_indexes_saved",
    "curation_pipeline_e2e",
]
HEADLINE += _R13_ADDITIONS

# Round-14 additions: the unified cross-tier decontamination loop, the
# lexical+semantic curation chain, and its continuous streaming twin.
_R14_ADDITIONS = [
    "decontaminate_all_tiers_saved",
    "curation_pipeline_semantic",
    "stream_curation_ingest",
]
HEADLINE += _R14_ADDITIONS

# The previous round's headline set (BENCH_r13.json — 114 queries),
# derived by content: this round's additions removed from the full
# list. The shared-subset total below makes cross-round comparison
# composition-proof: the driver's regression gate should read
# shared_with_prev_total_sec, which is summed over identical query
# sets, not the headline total, which grows whenever new queries join
# the set (VERDICT r4 "What's wrong" #3).
PREV_HEADLINE = [n for n in HEADLINE if n not in set(_R14_ADDITIONS)]
assert len(PREV_HEADLINE) == 114, (
    "PREV_HEADLINE must be exactly the r13 bench set; update "
    "_R14_ADDITIONS when the headline list changes")


def run_query(spark, name: str, sf_dir: str) -> float:
    t0 = time.time()
    df = q.QUERIES[name](spark, sf_dir)
    # foreach-noop forces full materialization without driver collect
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def main() -> None:
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    # the scaling axis must be PROVABLE from the output (VERDICT r14
    # wrong #2: a flat 8-vs-32-core result could not be distinguished
    # from a session that silently fell back to another width): record
    # the parallelism the session ACTUALLY got, straight from the
    # SparkContext, alongside the requested core count.
    sc = spark.sparkContext
    env = {
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        "master": sc.master,
        "default_parallelism": int(sc.defaultParallelism),
        "sf_dir": SF_DIR,
    }
    unknown = [n for n in HEADLINE if n not in q.QUERIES]
    if unknown:
        raise SystemExit(f"bench: headline queries not registered: {unknown}")
    names = HEADLINE
    # warmup: exercise codegen/shuffle machinery on the tiny SF
    for n in names:
        try:
            run_query(spark, n, "/root/testdata/sf0.001")
        except Exception as exc:  # warm-up only: say which, and go on
            print(f"bench: warm-up {n} failed: {exc!r}", file=sys.stderr)
    # three measured passes, keep the per-query minimum: steady-state
    # throughput, robust to transient host contention / GC pauses (the
    # PLANS.md variance study measured a 16-21% same-code noise band on
    # this host — the min over repeats is the comparable statistic)
    timings = {}
    for n in names:
        timings[n] = round(run_query(spark, n, SF_DIR), 3)
    for _ in range(2):
        for n in names:
            timings[n] = min(timings[n], round(run_query(spark, n, SF_DIR), 3))
    total = round(sum(timings.values()), 3)
    shared = round(sum(timings[n] for n in PREV_HEADLINE), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    # The driver records only the LAST ~2000 chars of stdout and json-parses
    # that tail; BENCH_r05.json came back "parsed": null because the full
    # per-query dict pushed the line past the capture window (VERDICT r5
    # "What's wrong" #1).  Emit the summary fields first, then as many
    # per-query entries (heaviest first, 2 dp) as fit a conservative line
    # budget; the COMPLETE per-query dict goes to BENCH_FULL.json alongside.
    full_payload = {"metric": "headline_queries_total_sec", "value": total,
                    "unit": "sec", "sf": float(sf), **env,
                    "shared_with_prev_total_sec": shared,
                    "shared_with_prev_n": len(PREV_HEADLINE),
                    "queries": timings}
    here = os.path.dirname(os.path.abspath(__file__))
    # BENCH_FULL.json is rewritten by EVERY invocation (the driver's
    # low-core re-run clobbered the 32-core close-of-round file in
    # r14 — VERDICT r14 wrong #4); the cpus-suffixed twin keeps each
    # core count's run on disk, and both carry the self-reported
    # parallelism so the next reader knows which run they hold.
    for name in ("BENCH_FULL.json", f"BENCH_FULL_c{env['cpus']}.json"):
        with open(os.path.join(here, name), "w") as fh:
            json.dump(full_payload, fh)
    print(build_line(timings, total, shared, float(sf), env))


def build_line(timings: dict, total: float, shared: float,
               sf: float, env: dict | None = None) -> str:
    """The printed JSON line: summary fields FIRST (including the
    session's ACTUAL master/parallelism — the scaling contract must be
    provable from the output, VERDICT r14 wrong #2), then as many
    per-query entries (heaviest first, 2 dp) as fit the line budget —
    the driver records only the last ~2000 chars of stdout and
    json-parses that tail, so the whole line must fit it
    (BENCH_r05.json came back "parsed": null when it didn't)."""
    payload = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "sf": sf,
        **(env or {}),
        "shared_with_prev_total_sec": shared,
        "shared_with_prev_n": len(PREV_HEADLINE),
        "queries_n": len(timings),
        "queries_full": "BENCH_FULL.json",
        "queries": {},
    }
    budget = 1800  # < the driver's 2000-char tail capture, with headroom
    for n in sorted(timings, key=timings.get, reverse=True):
        payload["queries"][n] = round(timings[n], 2)
        if len(json.dumps(payload)) > budget:
            del payload["queries"][n]
            break
    line = json.dumps(payload)
    assert len(line) <= 2000, f"bench line exceeds driver capture: {len(line)}"
    return line


if __name__ == "__main__":
    main()
