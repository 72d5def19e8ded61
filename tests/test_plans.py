"""Physical-plan invariants for every registered query — the 100 TB
design gate: no accidental cartesian products, broadcast-NLJ only where
a tiny build side makes it intentional, pushdown and pruning reaching
the scans, dimension joins broadcast.

Plans are inspected at sf0.001 without executing (planning is
data-size-independent for these checks). Streaming queries are excluded:
building them runs the streaming harness, and their guarantees are
covered by semantics tests + oracles instead.
"""

from __future__ import annotations

import pytest

from left_join_on_timeout_spark import queries as q

SF_DIR = "/root/testdata/sf0.001"

# Intentional broadcast-nested-loop joins: a one-row or dimension-sized
# broadcast build (query vector, IVF anchors, scalar-subquery row).
BNLJ_ALLOWED = {
    "ann_recall_srp",   # broadcast 10% sample x corpus ground-truth pass
    "ann_recall_ivf",
    "ann_recall_ivfpq",
    "ann_top1_ivf",
    "ann_top1_ivf_probe2",
    "ann_topk_ivf",    # broadcast anchor-array cross, as its top-1 sibling
    "ann_top1_ivf2",    # broadcast super/sub anchor arrays (two-level)
    "ann_top1_ivf2_probe2",
    "ann_top1_ivf2_saved",    # broadcast LOADED anchor arrays (lifecycle)
    "ann_topk_ivf2_saved",    # same saved-lifecycle anchor broadcasts
    "ann_filtered_ivf2_saved",
    "ann_pruned_ivf2_saved",
    "ann_deleted_ivf2_saved",       # same saved-lifecycle broadcasts
    "ann_rebuild_ivf2_saved",       # same saved-lifecycle broadcasts
    "ann_asof_ivf2_saved",          # same saved-lifecycle broadcasts
    "decontaminate_all_tiers_saved",  # ivf2 arm: loaded anchor arrays
    #                                   + one-row flagged-count cross
    "ann_top1_ivf2_saved_probe2",   # + the multi-probe anchor arrays
    "ann_top1_ivf2_sampled",  # same two-level anchor broadcasts
    "ann_top1_ivfpq_saved",   # broadcast loaded codebook/LUT one-row arrays
    "ann_filtered_pq_saved",  # broadcast loaded codebook/LUT one-row arrays
    "ann_pruned_pq_saved",    # broadcast loaded codebook/LUT one-row arrays
    "ann_rerank_pq_saved",    # broadcast loaded codebook/LUT one-row arrays
    "ann_top1_ivfpq_saved_probe2",  # + the multi-probe anchor array cross
    "ivf_kmeans_cells",
    "knn_brute_cosine",
    "q11_important_parts",
    "q15_top_supplier",
    "q22_idle_rich_customers",
    "tfidf_top_terms",  # broadcast one-row corpus-size N
    "text_bm25_topk",   # broadcast one-row (N, avgdl) corpus aggregate
    "hybrid_search_rrf",  # same one-row corpus stats + one-row query vector
    "hybrid_search_rrf_saved",  # saved-tier arms: loaded anchor arrays
    "hybrid_search_sweep_saved",  # same saved-tier anchor broadcasts
    # queries_pipeline: one-row scalar crosses (corpus size / total /
    # leak count) and the source-count-sized mix table
    "boilerplate_strip_docs",
    "source_mix_temperature",
    "train_val_split_leakproof",
    "doc_lm_score",
    # PQ: one-row broadcast codebook / LUT array crosses
    "pq_codes_recon",
    "ann_top1_ivfpq",
    "ann_top1_ivfpq_trained",  # + the trainer's broadcast seed-codebook cross
    "bigram_pmi_top",  # one-row corpus-totals cross
    "dedup_graph_triangles",   # one-row vertex/edge/triangle count crosses
    "length_equidepth_bins",   # one-row corpus-size N cross
    "quantile_normalize_quality",  # one-row broadcast reference curve
    "dsir_importance_weights",  # one-row broadcast LM totals cross
    "doc_lm2_score",  # one-row broadcast successor-vocabulary cross
    "time_decayed_user_value",  # one-row broadcast anchor-timestamp cross
    "dedup_savings_report",  # one-row summary built from one-row crosses
    "neyman_allocation_sample",  # one-row allocation-totals cross
    # sources × distinct-lengths support grid (bounded metadata, the CDF
    # evaluation points) + one-row corpus-total cross
    "source_length_ks",
    "bootstrap_mean_quality",  # one-row point/CI/replica-count crosses
    "source_influence_loo",  # one-row corpus-total cross
    "quality_dup_calibration",  # one-row corpus-size N cross
    "source_term_logodds",  # one-row corpus-token-total cross
    "user_rfm_segments",  # one-row anchor-ts / user-count crosses
}

# Queries whose *own* predicate is an md5 gate evaluated at the scan —
# the deterministic sampling design (operators/sampling.py): cheap,
# parallel across scan partitions, and exactly what we want pushed.
# The InferFilters hazard this test guards against is Catalyst adding
# an *inferred* isnotnull(<heavy pipeline>) filter, not a user gate.
SCAN_EXPR_ALLOWED = {
    "ann_recall_srp",
    "ann_recall_ivf",
    "ann_recall_ivfpq",
    "sample_uniform_events",
    "sample_stratified_docs",
    # the md5 TRAINING-SAMPLE gate pushed into the codebook trainer's
    # scan — the deterministic O(1)/row sampling gate (same class as
    # the sample_* pushes above), not the shingle/vector pipeline this
    # guard exists for; pushing it to the reader is the point
    "ann_top1_ivfpq_trained",
    # same gate class, with a session-order wrinkle: the sampled
    # trainer persists the parsed corpus, and CacheManager dedups
    # entries by logical plan — when an index BUILD earlier in the
    # session unpersists its trainer relations (the ADVICE r7 leak
    # fix), the shared entry drops and this query's vt gate lands on
    # the raw scan instead of the cached relation. Both shapes are
    # fine (the gate is O(1)/row); without the allowlist the gate is
    # order-dependent.
    "ann_top1_ivf2_sampled",
}

# timer_/tws_ queries run the full streaming drain harness just to
# *build* their result; their plans are streaming plans covered by the
# semantics tests, so inspecting the drained sink's batch plan buys
# nothing for the cost of executing the stream twice.
BATCH_QUERIES = sorted(
    n for n in q.QUERIES
    if not n.startswith(("stream_", "timer_", "tws_")))


# Executed plans by query name. Each query is planned once per session
# and every guard reads that one plan: planning a saved-index query
# builds its index first, so re-planning it per guard cost minutes.
_PLANS: dict[str, str] = {}


def plan_of(spark, name: str) -> str:
    if name not in _PLANS:
        df = q.QUERIES[name](spark, SF_DIR)
        _PLANS[name] = df._jdf.queryExecution().executedPlan().toString()
    return _PLANS[name]


def strip_cached(plan: str) -> str:
    """Drop InMemoryRelation subtrees from a plan string. A cache hit
    (CacheManager dedups by logical plan ACROSS queries in a session —
    the ann_top1_ivf2_sampled note) re-prints the cached relation's
    full child plan under the InMemoryTableScan line, so naive line
    counting sees FileScans that never run; scan-count gates must look
    at the live plan only. The cached subtree is exactly the lines
    more indented than the InMemoryRelation header."""
    import re

    out, skip = [], None
    for ln in plan.splitlines():
        m = re.search(r"[A-Za-z*]", ln)
        ind = m.start() if m else 0
        if skip is not None:
            if ind > skip:
                continue
            skip = None
        if "InMemoryRelation" in ln:
            skip = ind
            continue
        out.append(ln)
    return "\n".join(out)


def cached_subtrees(plan: str) -> list[str]:
    """The InMemoryRelation subtrees of a plan string — exactly the
    lines ``strip_cached`` drops, grouped per cached relation."""
    import re

    subs: list[list[str]] = []
    skip = None
    for ln in plan.splitlines():
        m = re.search(r"[A-Za-z*]", ln)
        ind = m.start() if m else 0
        if skip is not None:
            if ind > skip:
                subs[-1].append(ln)
                continue
            skip = None
        if "InMemoryRelation" in ln:
            skip = ind
            subs.append([ln])
    return ["\n".join(s) for s in subs]


def assert_cached_eval_grams(plan: str) -> None:
    """A gram-audit gate that found ZERO documents FileScans must pin
    that the cache serving the eval side really IS the eval-gram
    relation (ADVICE r13: accepting any InMemoryTableScan would let a
    regression that drops the eval-gram side entirely hide behind an
    unrelated cached relation): some cached subtree carries the
    eval-slice filter and the md5 gram projection."""
    subs = cached_subtrees(plan)
    assert any("% 20) = 0" in s and "md5" in s for s in subs), (
        "no documents scan and no cached EVAL-GRAM relation "
        "(eval-slice filter + md5 projection) — where did the eval "
        "side come from?")


@pytest.mark.parametrize("name", BATCH_QUERIES)
def test_no_cartesian_or_stray_nlj(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    if name not in BNLJ_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name} plans an unexpected broadcast nested loop join")


@pytest.mark.parametrize("name", sorted(
    n for n in ("ann_top1_ivf", "ann_top1_ivf_probe2", "ann_top1_ivf2",
                "ann_top1_ivf2_probe2", "ann_top1_ivf2_saved",
                "ann_top1_ivf2_sampled", "ann_top1_ivfpq_saved",
                "ann_topk_ivf",
                "ann_top1_ivfpq", "ann_recall_ivf", "ann_recall_ivfpq",
                "ivf_kmeans_cells", "knn_brute_cosine", "ann_top1_srp")
    if n in q.QUERIES))
def test_no_scoring_transform_in_join_conditions(spark, name):
    """Round-6 regression gate: predicate pushdown (null guards on
    derived cells) and InferFiltersFromGenerate (size(top) > 0 from a
    plain explode) must never sink the interpreted dot-product scoring
    transform into a BroadcastNestedLoopJoin bound condition — Spark
    then re-evaluates the whole argmax per row a second time (measured
    2× of the third-decade assignment wall: 196 s → 101.5 s once
    removed). The join-condition line may carry cheap size()/id checks,
    never the zip_with dot product."""
    plan = plan_of(spark, name)
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "zip_with" not in line, (
                f"{name}: scoring transform evaluated inside a join "
                f"condition: {line.strip()[:160]}")


def test_q1_filter_pushdown_and_pruning(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    scan = plan.split("FileScan parquet")[1].splitlines()[0]
    # the shipdate predicate reaches the parquet scan...
    assert "l_shipdate" in scan.split("DataFilters: [")[1].split("]")[0]
    # ...and unused columns never leave it
    assert "l_orderkey" not in scan.split("]")[0]


def test_q5_dimensions_broadcast(spark):
    plan = plan_of(spark, "q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 3  # region/nation/supplier


def test_q19_or_of_ands_pushes_common_conjuncts(spark):
    plan = plan_of(spark, "q19_discounted_revenue")
    part_scan = [seg for seg in plan.split("FileScan parquet")
                 if seg.lstrip().startswith("[p_partkey")][0]
    # the brand disjunction is extracted and pushed into part's scan
    assert "p_brand" in part_scan.split("PushedFilters: [")[1].split("]")[0]


def test_minhash_signature_has_no_shuffle(spark):
    from left_join_on_timeout_spark.operators.dedup import minhash_signature
    from left_join_on_timeout_spark.sources.tables import load_table
    docs = load_table(spark, SF_DIR, "documents")
    plan = (minhash_signature(docs, "doc_id", "text")
            ._jdf.queryExecution().executedPlan().toString())
    # the only exchange is fan_out's repartition; signature math itself
    # never shuffles (no hashpartitioning exchange)
    assert "Exchange hashpartitioning" not in plan


def test_crossdoc_dup_ngrams_shingles_once(spark):
    """The per-gram doc count must come from a window, not a self-join:
    exactly one corpus scan / one shingle pipeline."""
    plan = plan_of(spark, "crossdoc_dup_ngrams")
    assert plan.count("FileScan parquet") == 1
    assert "Window" in plan and "Join" not in plan


def test_contamination_probe_shape(spark):
    """Eval-gram side broadcast (benchmarks stay small at any corpus
    scale); the train/eval doc_id predicates reach both scans."""
    plan = plan_of(spark, "contamination_ngram_overlap")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    for seg in plan.split("FileScan parquet")[1:]:
        head = seg.splitlines()[0]
        assert "doc_id" in head.split("DataFilters: [")[1].split("]")[0]


def test_chunk_documents_no_shuffle(spark):
    """Chunking is row-local array math: nothing may shuffle."""
    plan = plan_of(spark, "chunk_documents_windows")
    assert "Exchange hashpartitioning" not in plan


def test_decode_image_ppm_narrow_map(spark):
    """Image decode is a narrow Arrow-batched map over the asset rows:
    one scan, the MapInPandas decode stage, and NO shuffle anywhere —
    payload bytes must never cross an exchange (at 100 TB of media the
    exchange would be the corpus)."""
    plan = plan_of(spark, "decode_image_ppm")
    assert "MapInPandas" in plan
    assert plan.count("FileScan parquet") == 1
    assert "Exchange hashpartitioning" not in plan


def test_dup_span_shingles_once(spark):
    """Gram occurrence counts must come from a window over the digest
    (one corpus scan / one shingle pipeline), never a grams⋈grams
    self-join — same discipline as crossdoc_dup_ngrams."""
    plan = plan_of(spark, "dup_span_detection")
    assert plan.count("FileScan parquet") == 1
    assert "Window" in plan and "Join" not in plan


def test_incremental_probe_no_index_self_join(spark):
    """The standing index must never re-pair with itself: every join in
    the probe plan is either the batch⋈index band equi-join or an
    id-keyed verify join — no CartesianProduct, no BNLJ, and the
    candidate generator is bounded by the index bucket cap."""
    plan = plan_of(spark, "dedup_incremental_probe")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dsir_broadcast_models_only(spark):
    """Both bucket LMs and the totals row must reach the corpus via
    broadcast: the vocabulary-free feature space is O(256), so no
    corpus-scale SMJ may appear anywhere in the scoring path."""
    plan = plan_of(spark, "dsir_importance_weights")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_sequence_packing_single_shuffle(spark):
    """Keyed running-sum packing: one exchange on the shard key feeds
    both the window and the (same-keyed) per-bin aggregate."""
    plan = plan_of(spark, "sequence_packing_bins")
    assert plan.count("Exchange hashpartitioning") == 1


def test_no_expensive_expr_pushed_into_scans(spark):
    """The InferFiltersFromConstraints regression guard: no scan's
    DataFilters may contain the shingle/vector pipeline (md5 / transform /
    aggregate), which would serialize heavy compute inside a
    single-partition scan (see functions/text.py::normalize)."""
    for name in BATCH_QUERIES:
        if name in SCAN_EXPR_ALLOWED:
            continue
        plan = plan_of(spark, name)
        for seg in plan.split("FileScan parquet")[1:]:
            head = seg.splitlines()[0]
            if "DataFilters: [" in head:
                filters = head.split("DataFilters: [")[1].split("], Format")[0]
                for marker in ("md5(", "transform(", "aggregate("):
                    assert marker not in filters, (
                        f"{name}: expensive expression pushed into scan: "
                        f"{filters[:120]}")


def test_pii_redaction_no_shuffle(spark):
    """PII detect/redact is per-row codegen: one scan, nothing shuffles."""
    plan = plan_of(spark, "pii_redaction")
    assert "Exchange" not in plan
    assert plan.count("FileScan parquet") == 1


def test_boilerplate_strip_broadcasts_vocab(spark):
    """The boilerplate term set joins broadcast (vocab-sized at any
    corpus scale) and the token-order rebuild is array_sort inside the
    per-doc aggregate — no data-scale Window anywhere."""
    plan = plan_of(spark, "boilerplate_strip_docs")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_source_mix_broadcasts_mix_table(spark):
    """The per-source rate table is source-count-sized and must broadcast
    onto the corpus scan; the md5 gate evaluates map-side after it."""
    plan = plan_of(spark, "source_mix_temperature")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_prefix_jaccard_reads_persisted_index(spark):
    """The exact set-similarity join must read its token/prefix postings
    from a persisted relation: ReusedExchange never fires across
    self-join sides, so without the persist the whole tokenize+posting
    subtree would execute once per side (the r4 LSH lesson, applied to
    the r5-windowed exact joins)."""
    plan = plan_of(spark, "dedup_prefix_jaccard")
    assert "InMemoryTableScan" in plan


def test_containment_reads_persisted_index(spark):
    """Same discipline for the directed-containment join: probe prefix
    and container postings come from one materialized token relation."""
    plan = plan_of(spark, "containment_pairs")
    assert "InMemoryTableScan" in plan


def test_rolling_distinct_contribution_explode(spark):
    """The sliding COUNT DISTINCT must be the window-contribution
    explode (fan-out = window length, a constant) joined to the tiny
    day-ends relation — never a data×data self-join over 7 days of
    history per day."""
    plan = plan_of(spark, "rolling_7d_active_users")
    assert "Generate explode" in plan
    assert plan.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan


def test_pit_enrich_is_joinless(spark):
    """POINT-IN-TIME enrichment runs as the as-of union-window plan:
    both relations union and sort inside ONE keyed window pass — there
    must be no join operator of any kind in the plan (a range join per
    event is the shape this operator exists to avoid)."""
    plan = plan_of(spark, "events_pit_enrich")
    assert "Join" not in plan
    assert "Window" in plan


def test_pagerank_lineage_truncated(spark):
    """Five synchronous PageRank rounds must leave a checkpoint-
    truncated lineage: the final plan reads the last round's RDD, not a
    5x-unrolled join tree (which would replay every prior round per
    action and grow exponentially with rounds)."""
    plan = plan_of(spark, "pagerank_candidates")
    assert "Scan ExistingRDD" in plan
    assert "FileScan parquet" not in plan


def test_cluster_split_lineage_truncated(spark):
    """The cluster-aware split joins the corpus (one scan) to CC
    cluster ids whose iterative lineage is checkpoint-truncated."""
    plan = plan_of(spark, "cluster_aware_split")
    assert "Scan ExistingRDD" in plan
    assert plan.count("FileScan parquet") == 1


def test_saved_index_search_plan_has_no_training(spark, tmp_path):
    """The lifecycle contract (VERDICT r6 item 1): a search over a
    SAVED index must plan ONLY loaded-relation scans + the probe —
    none of the training lineage (Lloyd's decimal-mean aggregates) may
    survive into the search plan, and the postings must come from the
    saved parquet, not be recomputed."""
    from left_join_on_timeout_spark.operators.ann_index import (
        ivf2_index_build,
        ivf2_index_load,
        ivf2_index_search,
    )
    from left_join_on_timeout_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path)
    ivf2_index_build(emb, path, n_super=4, k2=4)
    index = ivf2_index_load(spark, path)
    plan = (ivf2_index_search(emb, index)
            ._jdf.queryExecution().executedPlan().toString())
    # training's signature expression: the DECIMAL(25,6) centroid means
    assert "25,6" not in plan, "Lloyd training leaked into the search plan"
    # the postings are read from the saved files, partitioned by sid
    assert plan.count("FileScan parquet") >= 2, (
        "search must scan the saved index relations")
    assert "CartesianProduct" not in plan


def test_pruned_saved_search_reads_only_probed_sid_partitions(spark):
    """VERDICT r7 item 2: the postings layout (partitionBy sid)
    promises a probe prunes to its own super-cell's directories —
    prove the filter actually fires. The pruned serve collects the
    batch's probed sids into a static IN filter, which must appear as
    a PartitionFilter on the postings scan (directory pruning, the
    explicit shard-map routing of a serving system)."""
    plan = plan_of(spark, "ann_pruned_ivf2_saved")
    lines = [ln for ln in plan.splitlines()
             if "postings" in ln and "FileScan" in ln]
    assert lines, "pruned search must scan the saved postings"
    assert any("PartitionFilters: [sid" in ln and " IN (" in ln
               for ln in lines), (
        "probed-sid IN filter did not reach the postings scan as a "
        "PartitionFilter")


def test_filtered_saved_search_pushes_attribute_predicate(spark):
    """Attribute-filtered serving (VERDICT r7 item 1): the ``where``
    predicate over an attr_cols column must reach the postings parquet
    scan as a pushed filter — candidate I/O is cut at the reader, not
    post-filtered after the pairing join."""
    plan = plan_of(spark, "ann_filtered_ivf2_saved")
    lines = [ln for ln in plan.splitlines()
             if "postings" in ln and "FileScan" in ln]
    assert lines, "filtered search must scan the saved postings"
    assert any("LessThan(label,3)" in ln for ln in lines), (
        "label predicate did not reach the postings scan's "
        "PushedFilters")


def test_topk_saved_search_plan_has_no_training(spark):
    """The top-K lifecycle query inherits the saved-search contract:
    zero training lineage (no DECIMAL(25,6) centroid means) in the
    search plan; postings from the saved parquet."""
    plan = plan_of(spark, "ann_topk_ivf2_saved")
    assert "25,6" not in plan, "Lloyd training leaked into the plan"
    assert any("postings" in ln and "FileScan" in ln
               for ln in plan.splitlines())
    assert "CartesianProduct" not in plan


def test_pruned_pq_serve_reads_only_probed_sid_partitions(spark):
    """PQ serving parity (VERDICT r8 item 1): the coded postings are
    written partitionBy the coarse shard, and the pruned serve's
    probed-sid IN filter must appear as a PartitionFilter on the
    postings scan — the compressed tier gets the same directory
    routing the IVF2 tier proved in r8."""
    plan = plan_of(spark, "ann_pruned_pq_saved")
    lines = [ln for ln in plan.splitlines()
             if "postings" in ln and "FileScan" in ln]
    assert lines, "pruned PQ search must scan the saved postings"
    # Spark renders a short membership list as `IN (…)` and a long one
    # as `INSET …` — both are the static probed-sid PartitionFilter
    assert any("PartitionFilters: [sid" in ln
               and (" IN (" in ln or " INSET " in ln)
               for ln in lines), (
        "probed-sid filter did not reach the coded postings scan "
        "as a PartitionFilter")


def test_filtered_pq_serve_pushes_attribute_predicate(spark):
    """Attribute-filtered PQ serving: the ``where`` predicate over an
    attr_cols column must reach the coded postings scan as a pushed
    filter — candidate I/O cut at the reader, in the compressed
    domain."""
    plan = plan_of(spark, "ann_filtered_pq_saved")
    lines = [ln for ln in plan.splitlines()
             if "postings" in ln and "FileScan" in ln]
    assert lines, "filtered PQ search must scan the saved postings"
    assert any("LessThan(label,3)" in ln for ln in lines), (
        "label predicate did not reach the coded postings scan's "
        "PushedFilters")


def test_deleted_search_antijoin_keeps_scan_pushdown(spark):
    """The tombstone anti-join is applied at load ABOVE the postings
    scan — it must not block partition pruning or stay cartesian: the
    deleted-serve plan broadcasts the (tiny) tombstones and keeps the
    postings as a straight FileScan."""
    plan = plan_of(spark, "ann_deleted_ivf2_saved")
    assert "CartesianProduct" not in plan
    assert any("postings" in ln and "FileScan" in ln
               for ln in plan.splitlines())
    assert "tombstones" in plan, "delete serve must read the tombstones"
    # the anti-join side is broadcast (deletes are small by contract)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_rebuilt_search_reads_postings_v2(spark):
    """VERDICT r9 item 7: after an append + rebuild, the serving plan
    must read the REBUILT version — the scan resolves the bumped
    manifest pointer to postings_v2 and never touches v1's files (a
    plan still reading v1 would race the GC one rebuild later). No
    training lineage may survive into the serve plan either."""
    plan = plan_of(spark, "ann_rebuild_ivf2_saved")
    assert any("postings_v2" in ln and "FileScan" in ln
               for ln in plan.splitlines()), (
        "rebuilt serve must scan postings_v2")
    assert "postings_v1" not in plan, (
        "rebuilt serve still reads the pre-rebuild version")
    assert "25,6" not in plan, "Lloyd training leaked into the plan"
    assert "CartesianProduct" not in plan


def test_asof_search_pins_postings_v1(spark):
    """Round 10 snapshot read: with the live pointer at v2 (the
    rebuild ran), the ``as_of=1`` serve plan must scan postings_v1 and
    NEVER the rebuilt v2 — the whole point of the pin is that a later
    rebuild cannot change an already-issued snapshot's result set."""
    plan = plan_of(spark, "ann_asof_ivf2_saved")
    assert any("postings_v1" in ln and "FileScan" in ln
               for ln in plan.splitlines()), (
        "as_of=1 serve must scan postings_v1")
    assert "postings_v2" not in plan, (
        "snapshot serve leaked the live (rebuilt) version into its plan")
    assert "25,6" not in plan, "Lloyd training leaked into the plan"
    assert "CartesianProduct" not in plan


def test_bm25_topk_is_distributed_take_ordered(spark):
    """The retrieval top-k must be Spark's TakeOrderedAndProject
    (per-partition heads + one k-row reduce), never a corpus-sized
    single-partition Sort/Window — the rank window may only run over
    the ≤k survivors ABOVE the TakeOrdered."""
    for name in ("text_bm25_topk", "hybrid_search_rrf"):
        plan = plan_of(spark, name)
        assert "TakeOrderedAndProject" in plan, (
            f"{name}: global top-k is not a distributed TakeOrdered")


def test_saved_lsh_probe_reads_index_from_parquet(spark):
    """The LSH lifecycle contract: the probe plan reads the standing
    index from the SAVED postings parquet (a FileScan on postings_v*),
    never re-banding the corpus side — that is the entire point of
    the build-once shape; only the probe batch's banding pipeline may
    appear."""
    plan = plan_of(spark, "dedup_lsh_probe_saved")
    assert any("postings_v" in ln and "FileScan" in ln
               for ln in plan.splitlines()), (
        "saved LSH probe must scan the persisted index postings")
    assert "CartesianProduct" not in plan


def test_saved_bm25_serve_has_no_corpus_tokenize(spark):
    """Round 11 (VERDICT r10 missing #1): the saved-BM25 serve plan
    must contain NO corpus tokenize — the whole point of the inverted
    index is that a query never re-scans the documents table. The
    scan is the postings parquet, pruned to the query terms' hash
    buckets (PartitionFilters on tb) with the ``term IN`` predicate
    pushed into the reader, and the global top-k stays a distributed
    TakeOrdered."""
    plan = plan_of(spark, "text_bm25_saved")
    lines = plan.splitlines()
    assert any("postings_v1" in ln and "FileScan" in ln
               for ln in lines), "serve must scan the saved postings"
    assert not any("documents" in ln for ln in lines), (
        "saved BM25 serve re-tokenizes the document corpus")
    assert any("PartitionFilters" in ln and "tb#" in ln
               for ln in lines), (
        "the term-bucket partition filter must prune the scan")
    assert any("PushedFilters" in ln and "term" in ln
               for ln in lines), (
        "the term IN predicate must push into the parquet reader")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_bm25_sweep_shares_one_probe_pass(spark):
    """The multi-query sweep's serve plan: ONE postings scan (all
    queries share the probed posting lists — N queries must not plan
    N scans), partition-pruned by the union term-bucket set, no
    corpus tokenize, and the per-query top-k window is PARTITIONED by
    query_id (parallel, never a global single-partition sort)."""
    plan = plan_of(spark, "text_bm25_sweep")
    lines = plan.splitlines()
    postings_scans = [ln for ln in lines
                      if "FileScan" in ln and "postings_v1" in ln]
    # exactly TWO pruned scans — the df aggregate and the scoring
    # join — regardless of how many queries the sweep carries (the
    # gate's point: scan count must not grow with N)
    assert len(postings_scans) == 2, (
        f"sweep must plan its two fixed probe scans (df + scoring), "
        f"found {len(postings_scans)}")
    assert not any("documents" in ln for ln in lines), (
        "sweep serve re-tokenizes the corpus")
    assert any("PartitionFilters" in ln and "tb#" in ln
               for ln in lines)
    assert "windowspecdefinition(query_id" in plan, (
        "per-query top-k must partition the window by query_id")
    assert "CartesianProduct" not in plan


def test_hybrid_saved_serve_reads_both_saved_tiers(spark):
    """Round 11 (VERDICT r10 missing #2): the fully-saved hybrid
    stack's serve plan reads BOTH index families from their saved
    postings — and carries neither a corpus tokenize (text arm) nor
    training lineage (vector arm)."""
    plan = plan_of(spark, "hybrid_search_rrf_saved")
    lines = plan.splitlines()
    assert any("textidx" in ln and "postings_v1" in ln
               and "FileScan" in ln for ln in lines), (
        "text arm must scan the saved inverted index")
    assert any("hybivf" in ln and "postings_v1" in ln
               and "FileScan" in ln for ln in lines), (
        "vector arm must scan the saved IVF2 postings")
    assert not any("documents" in ln for ln in lines), (
        "text arm re-tokenizes the corpus")
    assert "25,6" not in plan, "Lloyd training leaked into the plan"
    assert "CartesianProduct" not in plan


def test_contamination_sweep_serve_is_probe_only(spark):
    """Round 12 (VERDICT r11 missing #1): the saved-gram contamination
    serve pays the EVAL side only — exactly ONE pruned postings scan
    (the probe join; the count must not grow with eval-set size),
    PartitionFilters on the gram buckets, exactly ONE documents scan
    (the eval set's own gram pipeline — the training corpus never
    re-tokenizes), and the membership test is a broadcast join, not a
    corpus-sized shuffle. Counts are taken on the main plan section
    (dynamic-pruning subqueries re-print probe subtrees).

    NOTE (VERDICT r12 wrong #2): the PartitionFilter assertion checks
    PLUMBING, not the win — at realistic eval sizes (~250 k grams)
    the eval set hashes into every tb bucket and the filter prunes
    nothing; the scale win is the ABSENT corpus tokenize (the single
    postings scan + single documents scan assertions). Bucket pruning
    earns its keep only on small term-query probes
    (tools/text_index_fifth.py); don't mistake the filter for the
    win in a refactor."""
    plan = plan_of(spark, "contamination_sweep_saved")
    main = strip_cached(plan.split("SubqueryAdaptiveBroadcast")[0])
    lines = main.splitlines()
    postings = [ln for ln in lines
                if "FileScan" in ln and "postings_v1" in ln]
    assert len(postings) == 1, (
        f"probe must plan ONE pruned postings scan, found "
        f"{len(postings)}")
    assert any("PartitionFilters" in ln and "tb#" in ln
               for ln in lines), (
        "the gram-bucket partition filter must prune the scan")
    doc_scans = [ln for ln in lines
                 if "FileScan" in ln and "documents" in ln]
    # an earlier query in the session may have PERSISTED the same
    # eval-gram logical plan (CacheManager dedups across queries);
    # the eval side then serves from InMemoryTableScan — zero live
    # documents scans is the even-better shape
    assert len(doc_scans) <= 1, (
        f"only the eval side may scan documents, found "
        f"{len(doc_scans)}")
    if not doc_scans:
        assert_cached_eval_grams(plan.split("SubqueryAdaptiveBroadcast")[0])
    assert "BroadcastHashJoin" in main
    assert "CartesianProduct" not in plan


def test_text_rebuilt_serve_reads_postings_v2_only(spark):
    """Round 12 (VERDICT r11 missing #3): after the text tier's
    build → append → delete → rebuild arc, the serve plan reads the
    REBUILT ``postings_v2`` (refreshed stats, tombstones dropped
    physically) and never the stale v1 — the manifest-pointer
    discipline the vector tier has been gated on since r10 — with no
    corpus tokenize."""
    plan = plan_of(spark, "text_bm25_rebuilt_saved")
    lines = plan.splitlines()
    assert any("postings_v2" in ln and "FileScan" in ln
               for ln in lines), "serve must scan the rebuilt version"
    assert not any("postings_v1" in ln for ln in lines), (
        "serve leaked the pre-rebuild postings version")
    assert not any("documents" in ln for ln in lines), (
        "rebuilt-serve re-tokenizes the corpus")
    assert any("PartitionFilters" in ln and "tb#" in ln
               for ln in lines)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_hybrid_sweep_serve_fixed_scans_per_arm(spark):
    """Round 12 (VERDICT r11 item 7): the hybrid sweep's serve plan
    holds the text arm's TWO fixed pruned postings scans (df +
    scoring — independent of N, the text_bm25_sweep gate) plus the
    vector arm's saved IVF2 postings, fuses per query through a
    query-partitioned window, and carries neither a corpus tokenize
    nor Lloyd training lineage."""
    plan = plan_of(spark, "hybrid_search_sweep_saved")
    main = plan.split("SubqueryAdaptiveBroadcast")[0]
    lines = main.splitlines()
    text_scans = [ln for ln in lines
                  if "FileScan" in ln and "textidx" in ln
                  and "postings_v1" in ln]
    assert len(text_scans) == 2, (
        f"text arm must plan its two fixed probe scans, found "
        f"{len(text_scans)}")
    assert any("hybivf" in ln and "postings_v1" in ln
               and "FileScan" in ln for ln in lines), (
        "vector arm must scan the saved IVF2 postings")
    assert not any("documents" in ln for ln in lines), (
        "text arm re-tokenizes the corpus")
    assert "25,6" not in plan, "Lloyd training leaked into the plan"
    assert "windowspecdefinition(query_id" in plan, (
        "per-query fusion head must partition by query_id")
    assert "CartesianProduct" not in plan


def test_crossdoc_dup_saved_serve_has_no_corpus_tokenize(spark):
    """Round 12: the saved dup-mass audit reads the gram postings
    ONLY — no documents scan (the tokenize/shingle/distinct pipeline
    is amortized into the build), one postings scan feeding the
    per-gram window + per-doc aggregate."""
    plan = plan_of(spark, "crossdoc_dup_saved")
    main = plan.split("SubqueryAdaptiveBroadcast")[0]
    lines = main.splitlines()
    postings = [ln for ln in lines
                if "FileScan" in ln and "postings_v1" in ln]
    assert len(postings) == 1, (
        f"dup audit must plan ONE postings scan, found "
        f"{len(postings)}")
    assert not any("documents" in ln for ln in lines), (
        "saved dup audit re-tokenizes the corpus")
    assert "windowspecdefinition(term" in plan, (
        "per-gram doc count must be a window over the gram digest")
    assert "CartesianProduct" not in plan


def test_contamination_suites_one_scan_regardless_of_suites(spark):
    """Round 12: the multi-suite audit plans ONE pruned postings scan
    no matter how many benchmark suites probe (K sequential
    single-suite probes would pay K scans) — the sweep discipline on
    the audit shape."""
    plan = plan_of(spark, "contamination_suites_saved")
    main = plan.split("SubqueryAdaptiveBroadcast")[0]
    lines = main.splitlines()
    postings = [ln for ln in lines
                if "FileScan" in ln and "postings_v1" in ln]
    assert len(postings) == 1, (
        f"multi-suite audit must plan ONE postings scan, found "
        f"{len(postings)}")
    doc_scans = [ln for ln in lines
                 if "FileScan" in ln and "documents" in ln]
    assert len(doc_scans) == 1, (
        "only the eval side may scan documents")
    assert "BroadcastHashJoin" in main
    assert "CartesianProduct" not in plan


def test_decontaminate_accounting_scan_prunes_text(spark):
    """Round 12: the decontamination report's TRAINING-side pass is
    accounting only — its documents scan must read (doc_id, source)
    and never the text bytes (the audit side already paid its one
    postings probe); only the eval set's own gram pipeline may read
    text. At 100 TB the text column IS the table — an accounting
    pass that drags it along re-reads the corpus."""
    plan = plan_of(spark, "decontaminate_corpus_saved")
    main = strip_cached(plan.split("SubqueryAdaptiveBroadcast")[0])
    lines = main.splitlines()
    postings = [ln for ln in lines
                if "FileScan" in ln and "postings_v1" in ln]
    assert len(postings) == 1, "audit side must probe the saved index"
    doc_scans = [ln for ln in lines
                 if "FileScan" in ln and "documents" in ln]
    accounting = [ln for ln in doc_scans
                  if "text" not in ln.split("ReadSchema")[-1]]
    assert len(accounting) == 1, (
        f"expected ONE text-pruned accounting scan, found "
        f"{len(accounting)} of {len(doc_scans)} documents scans")
    text_reading = [ln for ln in doc_scans if ln not in accounting]
    # the eval gram side either scans documents (text) itself or
    # serves from a cache an earlier query persisted (see strip_cached)
    assert len(text_reading) <= 1, (
        "only the eval gram pipeline may read text")
    if not text_reading:
        assert_cached_eval_grams(plan.split("SubqueryAdaptiveBroadcast")[0])
    assert "CartesianProduct" not in plan


def test_contamination_rebuilt_serve_reads_postings_v2_only(spark):
    """Round 13 (VERDICT r12 missing #1): after the gram tier's
    build → append → delete → rebuild arc, the contamination serve
    reads the REBUILT ``postings_v2`` (tombstones dropped physically)
    and never the stale v1 — the manifest-pointer discipline the word
    tier is gated on — still as ONE pruned postings scan with the
    eval set's gram pipeline the only documents scan, and the gram
    membership a broadcast join. (The bucket PartitionFilter's
    presence is asserted for plumbing; at realistic eval sizes grams
    hash into every bucket, so the scale win is the absent corpus
    tokenize, not pruned I/O — PLANS.md r12.)"""
    plan = plan_of(spark, "contamination_rebuilt_saved")
    main = strip_cached(plan.split("SubqueryAdaptiveBroadcast")[0])
    lines = main.splitlines()
    v2 = [ln for ln in lines
          if "FileScan" in ln and "postings_v2" in ln]
    assert len(v2) == 1, (
        f"rebuilt probe must plan ONE postings_v2 scan, found "
        f"{len(v2)}")
    assert not any("postings_v1" in ln for ln in plan.splitlines()), (
        "serve leaked the pre-rebuild postings version")
    assert any("PartitionFilters" in ln and "tb#" in ln
               for ln in lines)
    doc_scans = [ln for ln in lines
                 if "FileScan" in ln and "documents" in ln]
    # eval side: one live scan, or zero when served from a cache an
    # earlier query persisted (see strip_cached)
    assert len(doc_scans) <= 1, (
        "only the eval side may scan documents")
    if not doc_scans:
        assert_cached_eval_grams(plan.split("SubqueryAdaptiveBroadcast")[0])
    assert "BroadcastHashJoin" in main
    assert "CartesianProduct" not in plan


def test_curation_capstone_reads_both_saved_indexes(spark):
    """Round 13 (VERDICT r12 missing #4): the curation capstone's
    dedup and decontamination stages serve from their SAVED indexes —
    the LSH probe reads the persisted capped buckets and the gram
    audit the persisted postings, both as parquet FileScans (never a
    corpus re-band / re-shingle for those stages) — and the chain
    plans no cartesian product anywhere."""
    plan = plan_of(spark, "curation_pipeline_e2e")
    lines = plan.splitlines()
    assert any("FileScan" in ln and "caplsh" in ln
               and "postings_v1" in ln for ln in lines), (
        "dedup stage must probe the saved LSH postings")
    assert any("FileScan" in ln and "capgix" in ln
               and "postings_v1" in ln for ln in lines), (
        "decontamination stage must probe the saved gram postings")
    assert "CartesianProduct" not in plan


def test_decontaminate_indexes_loop_is_probe_only(spark):
    """Round 13 (VERDICT r12 missing #2): the closed decontamination
    loop's serve plan never reads the TRAINING corpus's text — every
    documents scan that reads the text column carries the eval-slice
    filter (the eval set's own gram pipeline; at 100 TB the text
    column IS the table), the accounting scan is column-pruned to
    (doc_id, source), and the MB-sized eval gram relation is CACHED
    (InMemoryTableScan) so the pre- and post-delete audits share one
    materialization instead of re-tokenizing the eval docs. Scan
    counting is deliberately avoided: InMemoryTableScan nodes re-print
    their cached subtree, so line counts over this plan double-count.
    """
    plan = plan_of(spark, "decontaminate_indexes_saved")
    main = plan.split("SubqueryAdaptiveBroadcast")[0]
    lines = main.splitlines()
    doc_scans = [ln for ln in lines
                 if "FileScan" in ln and "documents" in ln]
    text_reading = [ln for ln in doc_scans
                    if "text" in ln.split("]")[0]]
    assert text_reading, "the eval gram pipeline must read text"
    assert all("% 20) = 0" in ln for ln in text_reading), (
        "a text-reading documents scan leaked past the eval slice — "
        "the training corpus's text column must never read")
    accounting = [ln for ln in doc_scans
                  if "source" in ln.split("]")[0]]
    assert len(accounting) == 1, (
        f"expected ONE accounting scan, found {len(accounting)}")
    assert "text" not in accounting[0].split("]")[0], (
        "the accounting scan must column-prune text")
    assert "InMemoryTableScan" in main, (
        "the eval gram relation must be cached across the two audits")
    assert "BroadcastHashJoin" in main
    assert "CartesianProduct" not in plan


def test_decontaminate_all_tiers_serves_from_every_saved_index(spark):
    """Round 14 (VERDICT r13 missing #1): the unified cross-tier
    decontamination serve reads EVERY tier from its saved relations —
    the gram audit and word BM25 postings, the IVF2 postings plus both
    anchor files (training artifacts come from disk, never a live
    Lloyd pass) — the delete is visibly applied (tombstone anti-join
    scans in the load path), every documents scan anywhere in the
    plan carries the eval-slice filter (the training corpus's text
    column is NEVER read — at 100 TB the text column IS the table),
    and no stage plans a cartesian product. Scan COUNTING is avoided:
    AQE-materialized cached relations re-print their subtrees under
    `== Final Plan ==` headers that reset indentation, so even
    strip_cached over-counts here."""
    plan = plan_of(spark, "decontaminate_all_tiers_saved")
    lines = plan.splitlines()
    for tier in ("gram", "word", "ivf2"):
        assert any("FileScan" in ln and f"alltiers_sf0.001/{tier}" in ln
                   and "postings_v1" in ln for ln in lines), (
            f"the {tier} tier must serve from its saved postings")
    for anchors in ("sup_anchors", "sub_anchors"):
        assert any("FileScan" in ln and anchors in ln
                   for ln in lines), (
            f"the ANN serve must read saved {anchors}, not retrain")
    assert any("FileScan" in ln and "tombstones_v1" in ln
               for ln in lines), (
        "the cross-tier delete must surface as tombstone anti-joins")
    doc_scans = [ln for ln in lines
                 if "FileScan" in ln and "documents" in ln]
    assert doc_scans, "the eval gram pipeline must read the eval docs"
    assert all("% 20) = 0" in ln for ln in doc_scans), (
        "a documents scan leaked past the eval slice — the training "
        "corpus's text column must never read")
    assert "CartesianProduct" not in plan


def test_curation_semantic_probes_both_saved_indexes(spark):
    """Round 14 (VERDICT r13 missing #2): the lexical+semantic chain's
    dedup stages both serve from SAVED indexes — the LSH probe reads
    the persisted capped buckets and the SRP probe the persisted
    banded buckets, both as parquet FileScans (never a corpus re-band
    for those stages) — and the chain plans no cartesian product and
    no stray broadcast nested loop anywhere (the exact verifies run on
    equi-joined candidate pairs only)."""
    plan = plan_of(spark, "curation_pipeline_semantic")
    lines = plan.splitlines()
    assert any("FileScan" in ln and "semlsh" in ln
               and "postings_v1" in ln for ln in lines), (
        "lexical dedup must probe the saved LSH postings")
    assert any("FileScan" in ln and "semsrp" in ln
               and "postings_v1" in ln for ln in lines), (
        "semantic dedup must probe the saved SRP postings")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
