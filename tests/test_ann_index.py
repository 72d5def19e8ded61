"""ANN index lifecycle (VERDICT r6 item 1): train → save → load →
search. The oracle-paired query pins self-search equality to the fused
operator; these tests cover the API semantics the oracle can't — new
query vectors probing a standing index, the search-time multi-probe
knob, format-version validation, and the sample-trained fallback."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from left_join_on_timeout_spark.operators import index_store
from left_join_on_timeout_spark.operators.ann_index import (
    ivf2_index_build,
    ivf2_index_load,
    ivf2_index_search,
    ivf2_self_search_saved,
)
from left_join_on_timeout_spark.operators.index_store import (
    INDEX_FORMAT_VERSION,
)
from left_join_on_timeout_spark.operators.similarity import (
    ivf2_top_neighbor,
    two_level_assign,
)


def _corpus(spark, n=24, dim=4):
    rows = [(i, [float((i * 7 + d * 3) % 11 - 5) for d in range(dim)])
            for i in range(n)]
    return spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<DOUBLE>")


def _forbid_manifest_reads(monkeypatch):
    """A saved self-search serves the handle its build returns: reading
    the manifest back (pointer, meta collect) is a wasted pass."""
    def read_meta(*args, **kwargs):
        raise AssertionError("self-search re-read the manifest it wrote")
    monkeypatch.setattr(index_store, "read_meta", read_meta)


def test_self_search_saved_equals_fused(spark, tmp_path, monkeypatch):
    emb = _corpus(spark)
    fused = {(r.vec_id, r.neighbor_id, r.cos_sim)
             for r in ivf2_top_neighbor(emb, n_super=2, k2=2).collect()}
    _forbid_manifest_reads(monkeypatch)
    saved = {(r.vec_id, r.neighbor_id, r.cos_sim)
             for r in ivf2_self_search_saved(
                 emb, str(tmp_path / "idx"), n_super=2, k2=2).collect()}
    assert saved == fused


def test_search_new_queries_against_standing_index(spark, tmp_path):
    emb = _corpus(spark)
    corpus = emb.where(F.col("vec_id") % 5 != 0)   # indexed
    batch = emb.where(F.col("vec_id") % 5 == 0)    # new arrivals
    path = str(tmp_path / "idx")
    ivf2_index_build(corpus, path, n_super=2, k2=2)
    index = ivf2_index_load(spark, path)
    hits = ivf2_index_search(batch, index).collect()
    indexed = {r.vec_id for r in corpus.select("vec_id").collect()}
    queries = {r.vec_id for r in batch.select("vec_id").collect()}
    assert hits, "probing a populated index must return matches"
    for r in hits:
        assert r.vec_id in queries
        assert r.neighbor_id in indexed
        assert -1.0 <= r.cos_sim <= 1.0
    # multi-probe at search time only improves: same queries, wider
    # cells, best cosine never decreases
    one = {r.vec_id: r.cos_sim for r in hits}
    two = {r.vec_id: r.cos_sim
           for r in ivf2_index_search(batch, index, nprobe=2).collect()}
    assert set(one) <= set(two)
    for vid, cs in one.items():
        assert two[vid] >= cs


def test_load_rejects_wrong_version(spark, tmp_path):
    emb = _corpus(spark)
    path = str(tmp_path / "idx")
    ivf2_index_build(emb, path, n_super=2, k2=2)
    bad = spark.read.parquet(path + "/meta_v1") \
        .withColumn("version", F.lit(INDEX_FORMAT_VERSION + 1))
    bad.write.mode("overwrite").parquet(path + "/meta2")
    import shutil
    shutil.rmtree(path + "/meta_v1")
    shutil.move(path + "/meta2", path + "/meta_v1")
    with pytest.raises(ValueError, match="version"):
        ivf2_index_load(spark, path)


def test_sample_trained_fallback_keeps_every_vector(spark):
    """A super-cell whose members are all outside the training sample
    must still index its vectors (first-member fallback sub-anchor) —
    no corpus vector silently drops out of a sample-trained index."""
    emb = _corpus(spark, n=30)
    for frac in (0.15, 0.5):
        assigned = two_level_assign(emb, n_super=3, k2=2,
                                    train_frac=frac)
        assert assigned.count() == 30
        assert assigned.select("vec_id").distinct().count() == 30


def test_pq_saved_equals_fused_and_postings_are_codes_only(spark, tmp_path,
                                                           monkeypatch):
    """The IVF-PQ lifecycle: self-search over the saved index equals
    the fused pq_sdc_top_neighbor (rerank=0) exactly, and the persisted
    postings carry CODES ONLY — no vector column may reach the index
    (the PQ memory contract)."""
    from left_join_on_timeout_spark.operators.ann_index import (
        pq_index_load,
        pq_self_search_saved,
    )
    from left_join_on_timeout_spark.operators.similarity import (
        pq_sdc_top_neighbor,
    )

    emb = _corpus(spark, n=40, dim=8)
    fused = {(r.vec_id, r.neighbor_id, r.sdc)
             for r in pq_sdc_top_neighbor(
                 emb, dim=8, m=2, k=4, n_cells=4).collect()}
    path = str(tmp_path / "pqidx")
    with monkeypatch.context() as m:
        _forbid_manifest_reads(m)
        saved = {(r.vec_id, r.neighbor_id, r.sdc)
                 for r in pq_self_search_saved(
                     emb, path, dim=8, m=2, k=4, n_cells=4).collect()}
    assert saved == fused
    index = pq_index_load(spark, path)
    cols = set(index["postings"].columns)
    # codes + routing keys only — sid is the coarse shard partition
    # column (directory-encoded, ~zero bytes per row); no vector
    # column may reach the index (the PQ memory contract)
    assert cols == {"id", "cell", "sid", "code0", "code1"}
    assert index["meta"].m == 2 and index["meta"].k == 4


def test_append_then_search_finds_new_vectors(spark, tmp_path):
    """The ingest write path: vectors appended to a saved index (no
    retrain) are immediately searchable, and queries near an appended
    vector can now match it."""
    from left_join_on_timeout_spark.operators.ann_index import (
        ivf2_index_append,
        ivf2_index_load,
        ivf2_index_search,
    )

    emb = _corpus(spark, n=30)
    corpus = emb.where(F.col("vec_id") < 20)
    batch = emb.where(F.col("vec_id") >= 20)
    path = str(tmp_path / "idx")
    ivf2_index_build(corpus, path, n_super=2, k2=2)
    before = ivf2_index_load(spark, path)
    n_before = before["postings"].count()
    # before the append, no search result can name a batch id
    probes = emb.where(F.col("vec_id") < 20)
    hits0 = ivf2_index_search(probes, before).collect()
    assert all(r.neighbor_id < 20 for r in hits0)
    ivf2_index_append(batch, spark, path)
    after = ivf2_index_load(spark, path)
    assert after["postings"].count() == n_before + batch.count()
    appended = {r.id for r in after["postings"]
                .where(F.col("id") >= 20).select("id").collect()}
    assert appended == {r.vec_id for r in batch.select("vec_id").collect()}
    # searching the batch against the grown index finds OTHER vectors,
    # and batch members are now reachable as neighbors
    hits1 = ivf2_index_search(batch, after).collect()
    assert hits1
    all_nbrs = {r.neighbor_id
                for r in ivf2_index_search(emb, after).collect()}
    assert any(n >= 20 for n in all_nbrs)


def test_pq_index_search_new_batch_and_rerank(spark, tmp_path):
    """New vectors probe a standing PQ index compressed-domain; the
    rerank stage fetches shortlist vectors from the corpus table and
    can only improve the answer quality (exact cosine on the top-R)."""
    from left_join_on_timeout_spark.operators.ann_index import (
        pq_index_build,
        pq_index_load,
        pq_index_search,
    )

    emb = _corpus(spark, n=40, dim=8)
    corpus = emb.where(F.col("vec_id") % 5 != 0)
    batch = emb.where(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "pqidx")
    pq_index_build(corpus, path, dim=8, m=2, k=4, n_cells=4)
    index = pq_index_load(spark, path)
    indexed = {r.vec_id for r in corpus.select("vec_id").collect()}
    queries = {r.vec_id for r in batch.select("vec_id").collect()}
    sdc_hits = pq_index_search(batch, index).collect()
    assert sdc_hits
    for r in sdc_hits:
        assert r.vec_id in queries and r.neighbor_id in indexed
        assert r.sdc >= 0.0
    rr = pq_index_search(batch, index, rerank=5, corpus=corpus).collect()
    assert rr
    for r in rr:
        assert r.vec_id in queries and r.neighbor_id in indexed
        assert -1.0 <= r.cos_sim <= 1.0
    # rerank answers come from the same probed candidate pool
    assert {r.vec_id for r in rr} == {r.vec_id for r in sdc_hits}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="corpus"):
        pq_index_search(batch, index, rerank=5)


def test_topk_saved_rank1_equals_top1(spark, tmp_path):
    """VERDICT r7 item 1 consistency pin: the k=3 lifecycle head's
    rank-1 rows ARE the top-1 lifecycle query's answer."""
    emb = _corpus(spark)
    top1 = {(r.vec_id, r.neighbor_id, r.cos_sim)
            for r in ivf2_self_search_saved(
                emb, str(tmp_path / "i1"), n_super=2, k2=2).collect()}
    topk = ivf2_self_search_saved(
        emb, str(tmp_path / "i3"), n_super=2, k2=2, k=3).collect()
    rank1 = {(r.vec_id, r.neighbor_id, r.cos_sim)
             for r in topk if r.rank == 1}
    assert rank1 == top1
    for r in topk:
        assert 1 <= r.rank <= 3


def test_index_search_topk_head(spark, tmp_path):
    """k>1 over a standing index: per-query ranked head, rank-1 ==
    the argmax search, ranks ordered by descending cosine."""
    emb = _corpus(spark)
    corpus = emb.where(F.col("vec_id") % 5 != 0)
    batch = emb.where(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "idx")
    ivf2_index_build(corpus, path, n_super=2, k2=2)
    index = ivf2_index_load(spark, path)
    top1 = {(r.vec_id, r.neighbor_id, r.cos_sim)
            for r in ivf2_index_search(batch, index).collect()}
    head = ivf2_index_search(batch, index, k=3).collect()
    rank1 = {(r.vec_id, r.neighbor_id, r.cos_sim)
             for r in head if r.rank == 1}
    assert rank1 == top1
    by_q = {}
    for r in head:
        by_q.setdefault(r.vec_id, []).append(r)
    for rows in by_q.values():
        rows.sort(key=lambda r: r.rank)
        sims = [r.cos_sim for r in rows]
        assert sims == sorted(sims, reverse=True)


def test_pruned_search_equals_unpruned(spark, tmp_path):
    """prune=True is pure routing: identical results, fewer files."""
    emb = _corpus(spark)
    batch = emb.where(F.col("vec_id") % 6 == 0)
    path = str(tmp_path / "idx")
    ivf2_index_build(emb, path, n_super=3, k2=2)
    index = ivf2_index_load(spark, path)
    plain = {tuple(r) for r in ivf2_index_search(batch, index).collect()}
    pruned = {tuple(r)
              for r in ivf2_index_search(batch, index,
                                         prune=True).collect()}
    assert pruned == plain


def test_filtered_search_respects_predicate(spark, tmp_path):
    """where= restricts NEIGHBORS to postings passing the predicate;
    queries are unrestricted."""
    emb = _corpus(spark).withColumn("tag", (F.col("vec_id") % 2)
                                    .cast("int"))
    path = str(tmp_path / "idx")
    ivf2_index_build(emb, path, n_super=2, k2=2, attr_cols=["tag"])
    index = ivf2_index_load(spark, path)
    hits = ivf2_index_search(emb, index,
                             where=F.col("tag") == 0).collect()
    assert hits
    for r in hits:
        assert r.neighbor_id % 2 == 0, "neighbor violates the filter"
    # unfiltered search must dominate: same query's best cosine >= any
    # filtered best
    full = {r.vec_id: r.cos_sim
            for r in ivf2_index_search(emb, index).collect()}
    for r in hits:
        assert full[r.vec_id] >= r.cos_sim


def test_append_then_rebuild_recaps_overfull_cell(spark, tmp_path):
    """The maintenance contract (VERDICT r7 item 4): appends are not
    re-capped per batch, but a rebuild re-applies the build cap — a
    cell pushed over cell_cap by ingest drops (the build's
    degenerate-cell semantics), and meta.seq bumps."""
    from left_join_on_timeout_spark.operators.ann_index import (
        ivf2_index_append,
        ivf2_index_rebuild,
    )

    emb = _corpus(spark, n=24)
    path = str(tmp_path / "idx")
    ivf2_index_build(emb, path, n_super=2, k2=2, cell_cap=30)
    before = ivf2_index_load(spark, path)
    assert before["meta"].seq == 1
    base = before["postings"].count()
    # push every cell over the cap with two replayed full-corpus appends
    ivf2_index_append(emb.select("vec_id", "embedding"), spark, path)
    ivf2_index_append(emb.select("vec_id", "embedding"), spark, path)
    mid = ivf2_index_load(spark, path)
    assert mid["postings"].count() == 3 * base, "appends must land"
    ivf2_index_rebuild(spark, path)
    after = ivf2_index_load(spark, path)
    assert after["meta"].seq == 2
    counts = (after["postings"].groupBy("sid", "sub").count().collect())
    for row in counts:
        assert row["count"] <= 30, "rebuild failed to re-cap a cell"


def test_noop_rebuild_keeps_search_identical(spark, tmp_path):
    """A rebuild with no appends is a pure rewrite: same rows, same
    search answers, seq+1."""
    from left_join_on_timeout_spark.operators.ann_index import (
        ivf2_index_rebuild,
    )

    emb = _corpus(spark)
    batch = emb.where(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "idx")
    ivf2_index_build(emb, path, n_super=2, k2=2)
    index = ivf2_index_load(spark, path)
    before = {tuple(r) for r in ivf2_index_search(batch, index).collect()}
    ivf2_index_rebuild(spark, path)
    index2 = ivf2_index_load(spark, path)
    assert index2["meta"].seq == 2
    after = {tuple(r) for r in ivf2_index_search(batch, index2).collect()}
    assert after == before


def test_append_id_col_mismatch_raises(spark, tmp_path):
    emb = _corpus(spark)
    path = str(tmp_path / "idx")
    ivf2_index_build(emb, path, n_super=2, k2=2)
    from left_join_on_timeout_spark.operators.ann_index import (
        ivf2_index_append,
    )

    other = emb.withColumnRenamed("vec_id", "doc_id")
    with pytest.raises(ValueError, match="id_col"):
        ivf2_index_append(other, spark, path, id_col="doc_id")


def test_degenerate_build_fails_loud_at_load(spark, tmp_path):
    """ADVICE r7: every cell over cell_cap → empty postings dir; the
    clear empty/corrupt-index error (not DuckDB-opaque 'Unable to
    infer schema') now fires already at BUILD time — the build's
    returned serve handle reads the just-written postings (round 15)
    — and still fires for any later load of the degenerate dir."""
    emb = _corpus(spark, n=24)
    path = str(tmp_path / "idx")
    with pytest.raises(ValueError, match="empty or corrupt"):
        ivf2_index_build(emb, path, n_super=2, k2=2, cell_cap=0)
    with pytest.raises(ValueError, match="empty or corrupt"):
        ivf2_index_load(spark, path)


def test_pq_append_and_rebuild(spark, tmp_path):
    """PQ tier lifecycle closure (VERDICT r7 item 4): appended
    vectors are encoded through the LOADED codebook (code-only rows),
    become searchable, and a rebuild re-caps cells pushed over the
    build cap."""
    from left_join_on_timeout_spark.operators.ann_index import (
        pq_index_build,
        pq_index_load,
        pq_index_append,
        pq_index_rebuild,
        pq_index_search,
    )

    emb = _corpus(spark, n=24, dim=8)
    corpus = emb.where(F.col("vec_id") % 4 != 0)
    batch = emb.where(F.col("vec_id") % 4 == 0)
    path = str(tmp_path / "pq")
    pq_index_build(corpus, path, dim=8, m=2, k=4, n_cells=3,
                   cell_cap=30)
    index = pq_index_load(spark, path)
    base = index["postings"].count()
    pq_index_append(batch, spark, path)
    index2 = pq_index_load(spark, path)
    assert index2["postings"].count() == base + batch.count()
    cols = set(index2["postings"].columns)
    assert cols == {"id", "cell", "sid", "code0", "code1"}, (
        "appended rows must be CODES (+ the sid shard key), not vectors")
    # the appended ids are now searchable candidates
    hits = pq_index_search(batch, index2).collect()
    assert hits
    # push over cap, rebuild re-caps
    pq_index_append(corpus.select("vec_id", "embedding"), spark, path)
    pq_index_append(corpus.select("vec_id", "embedding"), spark, path)
    pq_index_rebuild(spark, path)
    index3 = pq_index_load(spark, path)
    assert index3["meta"].seq == 2
    for row in index3["postings"].groupBy("cell").count().collect():
        assert row["count"] <= 30


def test_pq_trained_codebook_build(spark, tmp_path):
    """train_iters=1 swaps the seed codebook for the per-block-Lloyd
    trained one: codes stay contiguous 0..k_eff-1 (the LUT position
    contract), the codebook actually moves off the seeds, and the
    saved trained index serves searches."""
    from left_join_on_timeout_spark.operators.ann_index import (
        pq_index_build,
        pq_index_load,
        pq_index_search,
    )

    emb = _corpus(spark, n=24, dim=8)
    seed_path = str(tmp_path / "seed")
    trained_path = str(tmp_path / "trained")
    pq_index_build(emb, seed_path, dim=8, m=2, k=4, n_cells=3)
    pq_index_build(emb, trained_path, dim=8, m=2, k=4, n_cells=3,
                   train_iters=1)
    seed = pq_index_load(spark, seed_path)
    trained = pq_index_load(spark, trained_path)
    assert trained["meta"].k == seed["meta"].k == 4
    s_codes = sorted(r.code for r in seed["codebook"].collect())
    t_codes = sorted(r.code for r in trained["codebook"].collect())
    assert s_codes == t_codes == [0, 1, 2, 3]
    s_cv = {r.code: r.cv for r in seed["codebook"].collect()}
    t_cv = {r.code: r.cv for r in trained["codebook"].collect()}
    assert any(s_cv[c] != t_cv[c] for c in s_codes), (
        "training left every codeword at its seed")
    batch = emb.where(F.col("vec_id") % 4 == 0)
    hits = pq_index_search(batch, trained).collect()
    assert hits
    for r in hits:
        assert r.vec_id % 4 == 0


def test_repeated_builds_do_not_accumulate_cache(spark, tmp_path):
    """ADVICE r7: the trainer's persists (parsed corpus, gated sample,
    super-assignment, Lloyd centroid tables) must all be released by
    the time ivf2_index_build returns — repeated builds in one session
    must not grow the persisted-RDD set."""
    emb = _corpus(spark)
    ivf2_index_build(emb, str(tmp_path / "warm"), n_super=2, k2=2,
                     train_frac=0.5)
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    for i in range(3):
        ivf2_index_build(emb, str(tmp_path / f"i{i}"), n_super=2, k2=2,
                         train_frac=0.5)
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after <= before, (
        f"index builds leaked cached relations: {before} -> {after}")


def test_pq_index_search_topk_heads(spark, tmp_path):
    """k>1 serving head for the compressed tier: rank-1 == the argmin
    search (compressed mode) / the rerank argmax (refine mode); ranks
    ordered by the mode's metric."""
    from left_join_on_timeout_spark.operators.ann_index import (
        pq_index_build,
        pq_index_load,
        pq_index_search,
    )

    emb = _corpus(spark, n=24, dim=8)
    corpus = emb.where(F.col("vec_id") % 4 != 0)
    batch = emb.where(F.col("vec_id") % 4 == 0)
    path = str(tmp_path / "pq")
    pq_index_build(corpus, path, dim=8, m=2, k=4, n_cells=2,
                   cell_cap=100)
    index = pq_index_load(spark, path)
    top1 = {(r.vec_id, r.neighbor_id, r.sdc)
            for r in pq_index_search(batch, index).collect()}
    head = pq_index_search(batch, index, k=3).collect()
    assert {(r.vec_id, r.neighbor_id, r.sdc)
            for r in head if r.rank == 1} == top1
    by_q = {}
    for r in head:
        by_q.setdefault(r.vec_id, []).append(r)
    for rows in by_q.values():
        rows.sort(key=lambda r: r.rank)
        sdcs = [r.sdc for r in rows]
        assert sdcs == sorted(sdcs), "compressed head must rank by sdc asc"
    r_top1 = {(r.vec_id, r.neighbor_id, r.cos_sim)
              for r in pq_index_search(batch, index, rerank=5,
                                       corpus=corpus).collect()}
    r_head = pq_index_search(batch, index, rerank=5, corpus=corpus,
                             k=3).collect()
    assert {(r.vec_id, r.neighbor_id, r.cos_sim)
            for r in r_head if r.rank == 1} == r_top1


def test_load_rejects_postings_schema_drift(spark, tmp_path):
    """The fixed-column contract is CHECKED at load (VERDICT r7 note):
    a postings directory whose columns drifted fails loud."""
    emb = _corpus(spark)
    path = str(tmp_path / "idx")
    ivf2_index_build(emb, path, n_super=2, k2=2)
    import shutil

    drifted = spark.read.parquet(path + "/postings_v1") \
        .withColumnRenamed("nrm", "norm")
    drifted.write.mode("overwrite").parquet(path + "/postings2")
    shutil.rmtree(path + "/postings_v1")
    shutil.move(path + "/postings2", path + "/postings_v1")
    with pytest.raises(ValueError, match="schema drift"):
        ivf2_index_load(spark, path)


def test_pq_tree_coarse_lifecycle(spark, tmp_path):
    """coarse="tree" PQ index (the structural remedy for the measured
    flat-assign bottleneck, PLANS.md §fifth-decade PQ): build routes
    the coarse assignment through the trained two-level quantizer
    (composite cell = sid*k2 + sub), queries assign through the SAVED
    sup/sub anchors, and the whole downstream lifecycle — search,
    top-K head, append, rebuild — speaks the same flat cell column."""
    from left_join_on_timeout_spark.operators.ann_index import (
        pq_index_append,
        pq_index_build,
        pq_index_load,
        pq_index_rebuild,
        pq_index_search,
    )

    emb = _corpus(spark, n=24, dim=8)
    corpus = emb.where(F.col("vec_id") % 4 != 0)
    batch = emb.where(F.col("vec_id") % 4 == 0)
    path = str(tmp_path / "pqt")
    pq_index_build(corpus, path, dim=8, m=2, k=4, cell_cap=30,
                   coarse="tree", n_super=2, k2=2)
    index = pq_index_load(spark, path)
    assert index["meta"].coarse == "tree"
    assert "sup_anchors" in index and "sub_anchors" in index
    # composite cells are within [0, n_super*k2)
    cells = {r.cell for r in index["postings"]
             .select("cell").distinct().collect()}
    assert cells and all(0 <= c < 4 for c in cells)
    indexed = {r.vec_id for r in corpus.select("vec_id").collect()}
    hits = pq_index_search(batch, index).collect()
    assert hits
    for r in hits:
        assert r.neighbor_id in indexed
    head = pq_index_search(batch, index, k=2).collect()
    assert {(r.vec_id, r.neighbor_id, r.sdc)
            for r in head if r.rank == 1} \
        == {(r.vec_id, r.neighbor_id, r.sdc) for r in hits}
    # append encodes through the saved tree + codebook; rebuild re-caps
    base = index["postings"].count()
    pq_index_append(batch, spark, path)
    index2 = pq_index_load(spark, path)
    assert index2["postings"].count() == base + batch.count()
    pq_index_rebuild(spark, path)
    index3 = pq_index_load(spark, path)
    assert index3["meta"].seq == 2
    assert index3["meta"].coarse == "tree"


def test_serving_knobs_compose(spark, tmp_path):
    """The serving knobs are orthogonal by construction — pin it:
    k=2 + where + prune + nprobe=2 in ONE search returns exactly the
    unpruned variant's rows (prune is routing), every neighbor passes
    the filter, and rank-1 equals the same-knobs top-1."""
    emb = _corpus(spark).withColumn("tag", (F.col("vec_id") % 2)
                                    .cast("int"))
    batch = emb.where(F.col("vec_id") % 6 == 0)
    path = str(tmp_path / "idx")
    ivf2_index_build(emb, path, n_super=3, k2=2, attr_cols=["tag"])
    index = ivf2_index_load(spark, path)
    kw = dict(nprobe=2, k=2, where=F.col("tag") == 0)
    full = {tuple(r)
            for r in ivf2_index_search(batch, index, **kw).collect()}
    pruned = {tuple(r)
              for r in ivf2_index_search(batch, index, prune=True,
                                         **kw).collect()}
    assert pruned == full and full
    for (_vid, nbr, _cs, rank) in full:
        assert nbr % 2 == 0
        assert rank in (1, 2)
    top1 = {(r.vec_id, r.neighbor_id, r.cos_sim)
            for r in ivf2_index_search(
                batch, index, nprobe=2,
                where=F.col("tag") == 0).collect()}
    assert {(v, n, c) for (v, n, c, r) in full if r == 1} == top1


def test_rebuild_preserves_attr_columns(spark, tmp_path):
    """A rebuild rewrites whatever columns the postings carry — an
    attr_cols index keeps its attributes (and filtered search keeps
    working) across append + rebuild."""
    from left_join_on_timeout_spark.operators.ann_index import (
        ivf2_index_append,
        ivf2_index_rebuild,
    )

    emb = _corpus(spark).withColumn("tag", (F.col("vec_id") % 2)
                                    .cast("int"))
    corpus = emb.where(F.col("vec_id") % 5 != 0)
    batch = emb.where(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "idx")
    ivf2_index_build(corpus, path, n_super=2, k2=2, attr_cols=["tag"])
    ivf2_index_append(batch.select("vec_id", "embedding", "tag"),
                      spark, path)
    ivf2_index_rebuild(spark, path)
    index = ivf2_index_load(spark, path)
    assert "tag" in index["postings"].columns
    appended = {r.vec_id for r in batch.select("vec_id").collect()}
    kept = {r.id for r in index["postings"].select("id").collect()}
    assert appended <= kept, "rebuild dropped appended rows"
    hits = ivf2_index_search(emb, index,
                             where=F.col("tag") == 1).collect()
    assert hits
    for r in hits:
        assert r.neighbor_id % 2 == 1


def test_delete_tombstones_then_rebuild_drops_physically(spark, tmp_path):
    """VERDICT r8 item 2: a deleted vector never appears in search
    results BEFORE or AFTER a rebuild. Before: tombstones anti-join
    out of every loaded scan. After: the rebuild drops the rows
    physically and clears the tombstones."""
    import os

    from left_join_on_timeout_spark.operators.ann_index import (
        ivf2_index_append,
        ivf2_index_delete,
        ivf2_index_rebuild,
    )

    emb = _corpus(spark, n=30)
    path = str(tmp_path / "idx")
    ivf2_index_build(emb, path, n_super=2, k2=2)
    dead = {r.vec_id for r in emb.where(F.col("vec_id") % 7 == 0)
            .select("vec_id").collect()}
    ivf2_index_delete(spark, path, sorted(dead))
    index = ivf2_index_load(spark, path)
    live_ids = {r.id for r in index["postings"].select("id").collect()}
    assert live_ids.isdisjoint(dead), "tombstoned ids leaked into load"
    hits = ivf2_index_search(emb, index).collect()
    assert hits
    assert all(r.neighbor_id not in dead for r in hits), (
        "a deleted vector surfaced from the standing index")
    # the reviewer scenario: a PRE-rebuild reader whose plan anti-joins
    # the tombstones must survive one rebuild (grace covers BOTH sides)
    pre_search = ivf2_index_search(emb, index)
    pre_rows = {tuple(r) for r in pre_search.collect()}
    ivf2_index_rebuild(spark, path)
    assert os.path.isdir(path + "/tombstones_v1"), (
        "the pre-rebuild reader's tombstone version must survive one "
        "rebuild (grace period)")
    assert not os.path.exists(path + "/tombstones_v2"), (
        "the rebuilt version starts with no tombstones (deletes are "
        "physical now)")
    assert {tuple(r) for r in pre_search.collect()} == pre_rows, (
        "pre-rebuild plan must keep collecting through the rebuild")
    after = ivf2_index_load(spark, path)
    assert after["meta"].seq == 2
    phys = {r.id for r in spark.read.parquet(path + "/postings_v2")
            .select("id").collect()}
    assert phys.isdisjoint(dead), "rebuild did not drop deleted rows"
    hits2 = ivf2_index_search(emb, after).collect()
    assert all(r.neighbor_id not in dead for r in hits2)
    # a re-insert of a deleted id AFTER the rebuild is servable (the
    # new version's tombstone set starts empty)
    reinsert = emb.where(F.col("vec_id") == 7)
    assert 7 in dead
    ivf2_index_append(reinsert, spark, path)
    again = ivf2_index_load(spark, path)
    assert 7 in {r.id for r in again["postings"]
                 .select("id").collect()}, (
        "re-inserted id masked by a stale tombstone after rebuild")


def test_delete_of_unindexed_ids_is_noop(spark, tmp_path):
    """Anti-join semantics: deleting ids that were never indexed (the
    dedup stage's removal list can name docs outside this index)
    changes nothing — search results are identical."""
    from left_join_on_timeout_spark.operators.ann_index import (
        ivf2_index_delete,
    )

    emb = _corpus(spark)
    path = str(tmp_path / "idx")
    ivf2_index_build(emb, path, n_super=2, k2=2)
    before = {tuple(r) for r in ivf2_index_search(
        emb, ivf2_index_load(spark, path)).collect()}
    ivf2_index_delete(spark, path, [10_000, 10_001])
    after = {tuple(r) for r in ivf2_index_search(
        emb, ivf2_index_load(spark, path)).collect()}
    assert after == before


def test_pq_delete_tombstones(spark, tmp_path):
    """The compressed tier honors the same delete contract: tombstoned
    ids vanish from compressed-domain search and rerank immediately,
    and physically at rebuild."""
    from left_join_on_timeout_spark.operators.ann_index import (
        pq_index_build,
        pq_index_delete,
        pq_index_load,
        pq_index_rebuild,
        pq_index_search,
    )

    emb = _corpus(spark, n=24, dim=8)
    path = str(tmp_path / "pq")
    pq_index_build(emb, path, dim=8, m=2, k=4, n_cells=2, cell_cap=100)
    dead_df = emb.where(F.col("vec_id") % 5 == 0).select("vec_id")
    dead = {r.vec_id for r in dead_df.collect()}
    pq_index_delete(spark, path, dead_df)
    index = pq_index_load(spark, path)
    hits = pq_index_search(emb, index).collect()
    assert hits
    assert all(r.neighbor_id not in dead for r in hits)
    rr = pq_index_search(emb, index, rerank=3, corpus=emb).collect()
    assert all(r.neighbor_id not in dead for r in rr)
    pq_index_rebuild(spark, path)
    after = pq_index_load(spark, path)
    phys = {r.id for r in after["postings"].select("id").collect()}
    assert phys.isdisjoint(dead)


def test_versioned_rebuild_keeps_prior_reader_alive(spark, tmp_path):
    """VERDICT r8 item 3: the rebuild publishes postings_v{seq+1} and
    flips the meta pointer — it never touches the files a pre-rebuild
    load resolved, so a DataFrame materialized from the OLD load still
    collects correctly after the rebuild (the grace period). Versions
    two behind are garbage-collected."""
    import os

    from left_join_on_timeout_spark.operators.ann_index import (
        ivf2_index_rebuild,
    )

    emb = _corpus(spark)
    batch = emb.where(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "idx")
    ivf2_index_build(emb, path, n_super=2, k2=2)
    old_index = ivf2_index_load(spark, path)
    old_search = ivf2_index_search(batch, old_index)
    expect = {tuple(r) for r in old_search.collect()}
    ivf2_index_rebuild(spark, path)
    assert os.path.isdir(path + "/postings_v1"), (
        "grace period: the previous version must survive one rebuild")
    assert os.path.isdir(path + "/postings_v2")
    # the pre-rebuild plan re-collects from its own (v1) files
    again = {tuple(r) for r in old_search.collect()}
    assert again == expect
    ivf2_index_rebuild(spark, path)
    assert not os.path.isdir(path + "/postings_v1"), (
        "a version two behind the pointer must be GC'd")
    assert os.path.isdir(path + "/postings_v3")
    fresh = {tuple(r) for r in ivf2_index_search(
        batch, ivf2_index_load(spark, path)).collect()}
    assert fresh == expect


def test_pq_serving_knobs_compose(spark, tmp_path):
    """PQ serving parity (VERDICT r8 item 1): attr_cols on the build,
    where= cuts candidates to passing postings, prune=True is pure
    routing (identical rows to the unpruned call), and the knobs
    compose with k>1 — mirrored from the IVF2 serving-knob pin."""
    from left_join_on_timeout_spark.operators.ann_index import (
        pq_index_build,
        pq_index_load,
        pq_index_search,
    )

    emb = _corpus(spark, n=24, dim=8).withColumn(
        "tag", (F.col("vec_id") % 2).cast("int"))
    batch = emb.where(F.col("vec_id") % 6 == 0)
    path = str(tmp_path / "pq")
    pq_index_build(emb, path, dim=8, m=2, k=4, n_cells=3, cell_cap=100,
                   attr_cols=["tag"])
    index = pq_index_load(spark, path)
    assert "tag" in index["postings"].columns
    # nprobe only improves: every probe-1 answer is matched or beaten
    one = {r.vec_id: r.sdc
           for r in pq_index_search(batch, index).collect()}
    two = {r.vec_id: r.sdc
           for r in pq_index_search(batch, index, nprobe=2).collect()}
    assert set(one) <= set(two)
    for vid, sdc in one.items():
        assert two[vid] <= sdc
    kw = dict(k=2, where=F.col("tag") == 0, nprobe=2)
    full = {tuple(r)
            for r in pq_index_search(batch, index, **kw).collect()}
    pruned = {tuple(r)
              for r in pq_index_search(batch, index, prune=True,
                                       **kw).collect()}
    assert pruned == full and full
    for (_vid, nbr, _sdc, rank) in full:
        assert nbr % 2 == 0
        assert rank in (1, 2)
    top1 = {(r.vec_id, r.neighbor_id, r.sdc)
            for r in pq_index_search(batch, index,
                                     where=F.col("tag") == 0).collect()}
    assert {(v, n, s) for (v, n, s, r) in full if r == 1} == top1


def test_pq_tree_serving_knobs(spark, tmp_path):
    """The tree-coarse PQ index serves the same knobs: the sid shard
    is the SUPER cell (k2 composite cells per directory), prune stays
    pure routing, and attr filters compose."""
    from left_join_on_timeout_spark.operators.ann_index import (
        pq_index_build,
        pq_index_load,
        pq_index_search,
    )

    emb = _corpus(spark, n=24, dim=8).withColumn(
        "tag", (F.col("vec_id") % 2).cast("int"))
    batch = emb.where(F.col("vec_id") % 6 == 0)
    path = str(tmp_path / "pqt")
    pq_index_build(emb, path, dim=8, m=2, k=4, cell_cap=100,
                   coarse="tree", n_super=2, k2=2, attr_cols=["tag"])
    index = pq_index_load(spark, path)
    # sid is the super cell: cell == sid*k2 + sub
    rows = index["postings"].select("cell", "sid").distinct().collect()
    assert rows and all(r.cell // 2 == r.sid for r in rows)
    kw = dict(where=F.col("tag") == 1)
    full = {tuple(r)
            for r in pq_index_search(batch, index, **kw).collect()}
    pruned = {tuple(r)
              for r in pq_index_search(batch, index, prune=True,
                                       **kw).collect()}
    assert pruned == full and full
    assert all(nbr % 2 == 1 for (_v, nbr, _s) in full)


def test_pruned_serve_does_not_accumulate_cache(spark, tmp_path):
    """ADVICE r8: the pruned serve is the repeated-call path by design
    — a serving loop over BOTH tiers must not grow the persisted-RDD
    set (the r7 build-side discipline, extended to the serve side)."""
    from left_join_on_timeout_spark.operators.ann_index import (
        pq_index_build,
        pq_index_load,
        pq_index_search,
    )

    emb = _corpus(spark, n=24, dim=8)
    p1 = str(tmp_path / "i2")
    p2 = str(tmp_path / "pq")
    ivf2_index_build(emb, p1, n_super=2, k2=2)
    pq_index_build(emb, p2, dim=8, m=2, k=4, n_cells=2, cell_cap=100)
    i2 = ivf2_index_load(spark, p1)
    pq = pq_index_load(spark, p2)
    batch = emb.where(F.col("vec_id") % 6 == 0)
    ivf2_index_search(batch, i2, prune=True).collect()
    pq_index_search(batch, pq, prune=True).collect()
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    for _ in range(3):
        ivf2_index_search(batch, i2, prune=True).collect()
        pq_index_search(batch, pq, prune=True).collect()
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after <= before, (
        f"pruned serving leaked cached relations: {before} -> {after}")


def test_trained_pq_builds_do_not_accumulate_cache(spark, tmp_path):
    """ADVICE r8: train_pq_codebook's per-iteration persists and the
    tree-coarse builder's Lloyd relations are all released by the time
    pq_index_build returns — including the trained + tree path."""
    from left_join_on_timeout_spark.operators.ann_index import (
        pq_index_build,
    )

    emb = _corpus(spark, n=24, dim=8)
    pq_index_build(emb, str(tmp_path / "warm"), dim=8, m=2, k=4,
                   cell_cap=100, coarse="tree", n_super=2, k2=2,
                   train_iters=2, train_frac=0.5)
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    for i in range(3):
        pq_index_build(emb, str(tmp_path / f"i{i}"), dim=8, m=2, k=4,
                       cell_cap=100, coarse="tree", n_super=2, k2=2,
                       train_iters=2, train_frac=0.5)
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after <= before, (
        f"trained PQ builds leaked cached relations: {before} -> {after}")


# ---------------------------------------------------------------------------
# Round 10: atomic manifest pointer (versioned meta + listing fallback),
# Hadoop-FS-routed maintenance, typed tombstones, per-micro-batch manifest
# re-resolution for streaming probes (VERDICT r9 items 1-4).
# ---------------------------------------------------------------------------


def test_concurrent_reader_survives_publish(spark, tmp_path):
    """VERDICT r9 item 1: a reader resolving the index concurrently
    with rebuild publishes never errors — the publish writes
    meta_v{new} before flipping the single-object pointer, and the
    reader falls back to listing if it catches the pointer mid-write;
    GC keeps one version of grace for in-flight scans."""
    import threading

    from left_join_on_timeout_spark.operators.ann_index import (
        ivf2_index_rebuild,
    )

    emb = _corpus(spark, n=30)
    path = str(tmp_path / "idx")
    ivf2_index_build(emb, path, n_super=2, k2=2)
    errors: list[Exception] = []
    done = threading.Event()

    def churn():
        try:
            for _ in range(3):
                ivf2_index_rebuild(spark, path)
        except Exception as e:  # pragma: no cover - failure reporting
            errors.append(e)
        finally:
            done.set()

    t = threading.Thread(target=churn)
    t.start()
    reads = 0
    try:
        while not done.is_set():
            index = ivf2_index_load(spark, path)
            assert ivf2_index_search(emb, index).count() > 0
            reads += 1
    finally:
        t.join()
    assert not errors, errors
    assert reads > 0
    final = ivf2_index_load(spark, path)
    assert final["meta"].seq == 4


def test_crash_before_pointer_flip_leaves_old_version_live(spark,
                                                           tmp_path):
    """A rebuild that crashes after writing postings_v2/meta_v2 but
    BEFORE flipping the pointer leaves v1 fully live: the pointer
    still names seq 1, so a load resolves the old version and the
    stray v2 directories are unreferenced (the next rebuild rewrites
    them, mode overwrite)."""
    emb = _corpus(spark, n=24)
    path = str(tmp_path / "idx")
    ivf2_index_build(emb, path, n_super=2, k2=2)
    before = {tuple(r) for r in ivf2_index_search(
        emb, ivf2_index_load(spark, path)).collect()}
    # simulate the crash window: v2 data + meta exist, pointer not yet
    # flipped (exactly the state between _publish_postings steps 2a/2b)
    spark.read.parquet(path + "/postings_v1").write.parquet(
        path + "/postings_v2")
    spark.read.parquet(path + "/meta_v1").withColumn(
        "seq", F.lit(2)).write.parquet(path + "/meta_v2")
    index = ivf2_index_load(spark, path)
    assert index["meta"].seq == 1
    after = {tuple(r) for r in ivf2_index_search(emb, index).collect()}
    assert after == before


def test_corrupt_pointer_falls_back_to_listing(spark, tmp_path):
    """The pointer is an optimization, not the truth (the Iceberg
    version-hint discipline): a missing or garbled ``latest`` must
    not brick the index — the reader lists meta_v* and takes the
    newest readable manifest."""
    import os

    emb = _corpus(spark, n=24)
    path = str(tmp_path / "idx")
    ivf2_index_build(emb, path, n_super=2, k2=2)
    with open(os.path.join(path, "latest"), "w") as f:
        f.write("not-a-seq")
    index = ivf2_index_load(spark, path)
    assert index["meta"].seq == 1
    os.remove(os.path.join(path, "latest"))
    index = ivf2_index_load(spark, path)
    assert index["meta"].seq == 1
    assert ivf2_index_search(emb, index).count() > 0


def test_lifecycle_on_hadoop_fs_uri(spark, tmp_path):
    """VERDICT r9 item 2: every maintenance FS op (pointer write/read,
    version listing, GC, tombstone discovery, build reset) routes
    through the Hadoop FileSystem API when the index path carries a
    URI scheme — the full lifecycle must work on a ``file:`` URI,
    which exercises exactly the code path an hdfs:/s3a: deployment
    uses (fsio treats any scheme as non-local)."""
    import os

    from left_join_on_timeout_spark.operators.ann_index import (
        ivf2_index_append,
        ivf2_index_delete,
        ivf2_index_rebuild,
    )

    emb = _corpus(spark, n=30)
    base = emb.where(F.col("vec_id") % 5 != 4)
    batch = emb.where(F.col("vec_id") % 5 == 4)
    path = "file:" + str(tmp_path / "idx")
    local = str(tmp_path / "idx")
    ivf2_index_build(base, path, n_super=2, k2=2)
    ivf2_index_append(batch, spark, path)
    ivf2_index_delete(spark, path, [0, 5])
    index = ivf2_index_load(spark, path)
    live = {r.id for r in index["postings"].select("id").collect()}
    assert not ({0, 5} & live)
    ivf2_index_rebuild(spark, path)
    assert os.path.isdir(local + "/postings_v1")  # grace period
    ivf2_index_rebuild(spark, path)
    assert not os.path.isdir(local + "/postings_v1")  # GC'd via fsio
    assert not os.path.isdir(local + "/meta_v1")
    final = ivf2_index_load(spark, path)
    assert final["meta"].seq == 3
    assert ivf2_index_search(emb, final).count() > 0
    assert not ({0, 5} & {
        r.id for r in final["postings"].select("id").collect()})


def test_delete_type_mismatch_raises(spark, tmp_path):
    """VERDICT r9 item 4: tombstones are built in the id type the live
    postings carry; ids that cannot cast losslessly refuse loudly
    instead of null-casting into a silent no-op delete."""
    from left_join_on_timeout_spark.operators.ann_index import (
        ivf2_index_delete,
    )

    emb = _corpus(spark, n=24)
    path = str(tmp_path / "idx")
    ivf2_index_build(emb, path, n_super=2, k2=2)
    with pytest.raises(TypeError, match="refusing"):
        ivf2_index_delete(spark, path, ["doc-1"])
    # int-typed deletes still work, including via a DataFrame
    ivf2_index_delete(spark, path, emb.where(
        F.col("vec_id") == 3).select("vec_id"))
    live = {r.id for r in ivf2_index_load(spark, path)["postings"]
            .select("id").collect()}
    assert 3 not in live


def test_refreshing_probe_survives_two_rebuilds(spark, tmp_path):
    """VERDICT r9 item 3: a stream running through the foreachBatch
    manifest re-resolution keeps emitting CORRECT probes across TWO
    rebuilds under it (the plain stream-static probe pins its resolved
    version and only survives one — the GC grace period). Deleted ids
    must vanish from the first post-rebuild micro-batch."""
    import os

    from left_join_on_timeout_spark.operators.ann_index import (
        ivf2_index_delete,
        ivf2_index_rebuild,
    )
    from left_join_on_timeout_spark.operators.index_admin import (
        refreshing_probe_sink,
    )

    emb = _corpus(spark, n=60, dim=4)
    corpus = emb.where(F.col("vec_id") % 10 != 0)
    batch = emb.where(F.col("vec_id") % 10 == 0)
    path, src, out, ckpt = (str(tmp_path / d)
                            for d in ("idx", "src", "out", "ck"))
    ivf2_index_build(corpus, path, n_super=2, k2=2, cell_cap=5000)
    batch.where(F.col("vec_id") < 30).write.mode("append").parquet(src)
    q = (spark.readStream.schema(batch.schema).parquet(src)
         .writeStream.foreachBatch(
             refreshing_probe_sink(out, path, threshold=-1.0))
         .option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
        dead = [i for i in range(60) if i % 10 != 0 and i % 3 == 1]
        ivf2_index_delete(spark, path, dead)
        ivf2_index_rebuild(spark, path)
        ivf2_index_rebuild(spark, path)  # original version now GC'd
        batch.where(F.col("vec_id") >= 30).write.mode("append") \
            .parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    res = spark.read.parquet(out)
    pre = res.where(F.col("new_id") < 30)
    post = res.where(F.col("new_id") >= 30)
    assert pre.count() > 0 and post.count() > 0
    assert pre.where(F.col("old_id").isin(dead)).count() > 0
    assert post.where(F.col("old_id").isin(dead)).count() == 0


def test_exactly_once_sink_epoch_replay_no_duplicates(spark, tmp_path):
    """VERDICT r10 wrong #2: the exactly-once sink variant — an epoch
    retry (same epoch id, the foreachBatch retry contract) REPLACES
    its epoch partition instead of appending a duplicate hit set;
    distinct epochs accumulate; and the rows match the at-least-once
    probe's content."""
    from left_join_on_timeout_spark.operators.ann_index import (
        ivf2_index_probe_hits,
    )
    from left_join_on_timeout_spark.operators.index_admin import (
        refreshing_probe_exactly_once_sink,
    )

    emb = _corpus(spark, n=40, dim=4)
    corpus = emb.where(F.col("vec_id") % 10 != 0)
    b1 = emb.where(F.col("vec_id").isin(0, 10))
    b2 = emb.where(F.col("vec_id").isin(20, 30))
    path, out = str(tmp_path / "idx"), str(tmp_path / "out")
    ivf2_index_build(corpus, path, n_super=2, k2=2, cell_cap=5000)
    sink = refreshing_probe_exactly_once_sink(out, path,
                                              threshold=-1.0)
    sink(b1, 7)
    once = spark.read.parquet(out)
    n1 = once.count()
    assert n1 > 0 and set(once.select("epoch").distinct()
                          .toPandas()["epoch"]) == {7}
    sink(b1, 7)  # the retry: same epoch id, same batch
    assert spark.read.parquet(out).count() == n1, (
        "an epoch replay must not duplicate hits")
    sink(b2, 8)
    both = spark.read.parquet(out)
    n2 = both.where(F.col("epoch") == 8).count()
    assert n2 > 0 and both.count() == n1 + n2
    sink(b1, 7)  # replay AFTER later epochs landed: only 7 replaced
    final = spark.read.parquet(out)  # fresh listing: the replay
    # rewrote epoch=7's files, so pre-overwrite DataFrames are stale
    assert final.count() == n1 + n2
    # content parity with the direct probe
    direct = {(r.new_id, r.old_id) for r in ivf2_index_probe_hits(
        b1, ivf2_index_load(spark, path), -1.0).collect()}
    sunk = {(r.new_id, r.old_id)
            for r in final.where(F.col("epoch") == 7).collect()}
    assert sunk == direct


def test_maintenance_loop_closed_loop_with_stream(spark, tmp_path):
    """VERDICT r10 next-round item 7: the FULL maintenance loop under
    a live ingest stream — deletes accumulate until
    index_stats → index_maintenance_due flips to rebuild-now, the
    loop rebuilds, and the refreshing stream crosses the compaction
    without a wrong or missing batch (every src row probes;
    post-rebuild batches never see a deleted id; cap pressure stays
    zero throughout — the single cell remains under its cap)."""
    from left_join_on_timeout_spark.operators.ann_index import (
        ivf2_index_delete,
        ivf2_index_rebuild,
    )
    from left_join_on_timeout_spark.operators.index_admin import (
        index_maintenance_due,
        index_stats,
        refreshing_probe_sink,
    )

    emb = _corpus(spark, n=60, dim=4)
    corpus = emb.where(F.col("vec_id") < 20)       # one cell, 20 rows
    path, src, out, ckpt = (str(tmp_path / d)
                            for d in ("idx", "src", "out", "ck"))
    ivf2_index_build(corpus, path, n_super=1, k2=1, cell_cap=5000)
    batch = emb.where(F.col("vec_id").isin(40, 50))
    batch.write.mode("append").parquet(src)
    q = (spark.readStream.schema(batch.schema).parquet(src)
         .writeStream.foreachBatch(
             refreshing_probe_sink(out, path, threshold=-1.0))
         .option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
        # the serving loop: curation deletes land one at a time; the
        # scheduler polls stats and rebuilds when the policy says so
        # (tombstone mass > 10% here)
        deleted = []
        for vid in (3, 7, 11, 15, 19):
            ivf2_index_delete(spark, path, [vid])
            deleted.append(vid)
            s = index_stats(spark, path, cap_pressure=True)
            assert s["over_cap_rows"] == 0
            if index_maintenance_due(s, max_tombstone_frac=0.10,
                                     max_over_cap_frac=0.10):
                break
        # 3/20 = 15% > 10% — the loop rebuilds after the third delete
        assert deleted == [3, 7, 11], s
        ivf2_index_rebuild(spark, path)
        s2 = index_stats(spark, path, cap_pressure=True)
        assert s2["seq"] == 2 and s2["tombstone_rows"] == 0
        assert not index_maintenance_due(s2, max_tombstone_frac=0.10,
                                         max_over_cap_frac=0.10)
        batch2 = emb.where(F.col("vec_id").isin(41, 51))
        batch2.write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    res = spark.read.parquet(out)
    # no missing batch: every src row probed on some epoch
    assert ({r.new_id for r in res.select("new_id").distinct()
             .collect()} == {40, 50, 41, 51})
    pre = res.where(F.col("new_id").isin(40, 50))
    post = res.where(F.col("new_id").isin(41, 51))
    # pre-delete epochs saw the later-deleted ids; post-rebuild
    # epochs must not (no wrong batch), but still serve the survivors
    assert pre.where(F.col("old_id").isin(deleted)).count() > 0
    assert post.count() > 0
    assert post.where(F.col("old_id").isin(deleted)).count() == 0


def test_as_of_snapshot_pins_prerebuild_postings_and_tombstones(
        spark, tmp_path):
    """``as_of`` load (round 10): after an append + rebuild bumps the
    live pointer to v2, pinning v1 serves the exact pre-rebuild state
    (versions isolate rebuilds, not appends — the appended rows are
    part of v1) — and a tombstone written against the LIVE version
    must not leak into the pinned snapshot (tombstones are versioned
    alongside the postings)."""
    from left_join_on_timeout_spark.operators.ann_index import (
        ivf2_index_append,
        ivf2_index_delete,
        ivf2_index_rebuild,
    )
    from left_join_on_timeout_spark.operators.index_store import index_versions

    emb = _corpus(spark)
    base = emb.where(F.col("vec_id") % 5 != 0)
    batch = emb.where(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "idx")
    ivf2_index_build(base, path, n_super=2, k2=2)
    ivf2_index_append(batch, spark, path)
    # the post-append, pre-rebuild state — exactly what v1 freezes
    before = {(r.vec_id, r.neighbor_id, r.cos_sim)
              for r in ivf2_index_search(
                  batch, ivf2_index_load(spark, path)).collect()}
    ivf2_index_rebuild(spark, path)
    assert index_versions(spark, path) == [1, 2]

    snap = ivf2_index_load(spark, path, as_of=1)
    assert snap["meta"].seq == 1
    again = {(r.vec_id, r.neighbor_id, r.cos_sim)
             for r in ivf2_index_search(batch, snap).collect()}
    assert again == before, "snapshot read must ignore the rebuild"
    assert ivf2_index_load(spark, path)["meta"].seq == 2

    # a delete against the LIVE version stays out of the snapshot
    victim = sorted(nbr for _, nbr, _ in before)[0]
    ivf2_index_delete(spark, path, [victim])
    live_nbrs = {r.neighbor_id for r in ivf2_index_search(
        batch, ivf2_index_load(spark, path)).collect()}
    snap_nbrs = {r.neighbor_id for r in ivf2_index_search(
        batch, ivf2_index_load(spark, path, as_of=1)).collect()}
    assert victim not in live_nbrs
    assert victim in snap_nbrs

    with pytest.raises(ValueError, match=r"live versions: \[1, 2\]"):
        ivf2_index_load(spark, path, as_of=7)


def test_keep_versions_widens_and_default_gc_reclaims(spark, tmp_path):
    """``keep_versions`` on the rebuild side sets the snapshot
    horizon: two rebuilds at keep_versions=3 retain v1..v3; the next
    default-retention rebuild GCs back down to live+1 and a pinned
    read of the reclaimed version fails loud with the live list."""
    from left_join_on_timeout_spark.operators.ann_index import (
        ivf2_index_rebuild,
    )
    from left_join_on_timeout_spark.operators.index_store import index_versions

    emb = _corpus(spark)
    path = str(tmp_path / "idx")
    ivf2_index_build(emb, path, n_super=2, k2=2)
    ivf2_index_rebuild(spark, path, keep_versions=3)
    ivf2_index_rebuild(spark, path, keep_versions=3)
    assert index_versions(spark, path) == [1, 2, 3]
    oldest = ivf2_index_load(spark, path, as_of=1)
    assert oldest["meta"].seq == 1
    assert oldest["postings"].count() > 0

    ivf2_index_rebuild(spark, path)  # default retention: live + 1
    assert index_versions(spark, path) == [3, 4]
    with pytest.raises(ValueError, match=r"live versions: \[3, 4\]"):
        ivf2_index_load(spark, path, as_of=1)


def test_pq_as_of_snapshot(spark, tmp_path):
    """The PQ tier shares the snapshot contract: pin v1 after a
    rebuild and the compressed-domain search replays the pre-rebuild
    result set."""
    from left_join_on_timeout_spark.operators.ann_index import (
        pq_index_append,
        pq_index_build,
        pq_index_load,
        pq_index_rebuild,
        pq_index_search,
    )

    emb = _corpus(spark, n=32, dim=4)
    base = emb.where(F.col("vec_id") % 4 != 0)
    batch = emb.where(F.col("vec_id") % 4 == 0)
    path = str(tmp_path / "pq")
    pq_index_build(base, path, dim=4, m=2, k=4, n_cells=2)
    pq_index_append(batch, spark, path)
    # the post-append, pre-rebuild state — exactly what v1 freezes
    before = {(r.vec_id, r.neighbor_id)
              for r in pq_index_search(
                  batch, pq_index_load(spark, path)).collect()}
    pq_index_rebuild(spark, path)
    snap = pq_index_load(spark, path, as_of=1)
    assert snap["meta"].seq == 1
    again = {(r.vec_id, r.neighbor_id)
             for r in pq_index_search(batch, snap).collect()}
    assert again == before


def test_index_stats_and_maintenance_policy(spark, tmp_path):
    """The compaction-trigger telemetry (round 10): tombstone_frac
    rises with deletes and resets at rebuild; cap_pressure counts the
    rows a rebuild would re-drop; index_maintenance_due turns both
    into the rebuild decision."""
    from left_join_on_timeout_spark.operators.ann_index import (
        ivf2_index_append,
        ivf2_index_delete,
        ivf2_index_rebuild,
    )
    from left_join_on_timeout_spark.operators.index_admin import (
        index_maintenance_due,
        index_stats,
    )

    emb = _corpus(spark, n=40, dim=4)
    base = emb.where(F.col("vec_id") < 30)
    path = str(tmp_path / "idx")
    ivf2_index_build(base, path, n_super=2, k2=2, cell_cap=20)
    s0 = index_stats(spark, path)
    assert s0["tier"] == "ivf2" and s0["seq"] == 1
    assert s0["tombstone_rows"] == 0 and s0["postings_rows"] > 0
    assert not index_maintenance_due(s0)

    dead = [i for i in range(30) if i % 3 == 0]
    ivf2_index_delete(spark, path, dead)
    ivf2_index_delete(spark, path, dead[:2])  # resubmission dedups
    s1 = index_stats(spark, path)
    assert s1["tombstone_rows"] <= len(dead)
    assert s1["tombstone_frac"] > 0.02
    assert index_maintenance_due(s1)

    ivf2_index_rebuild(spark, path)
    s2 = index_stats(spark, path)
    assert s2["seq"] == 2 and s2["tombstone_rows"] == 0
    assert s2["postings_rows"] < s0["postings_rows"]
    assert not index_maintenance_due(s2)

    # push one cell past the cap via appends: cap pressure appears,
    # and the policy flags it only through the opt-in computation
    ivf2_index_append(emb.where(F.col("vec_id") >= 30), spark, path)
    s3 = index_stats(spark, path, cap_pressure=True)
    if s3["over_cap_rows"]:
        assert index_maintenance_due(s3, max_over_cap_frac=0.0)
    assert "over_cap_rows" not in index_stats(spark, path)


def test_string_keyed_ivf2_lifecycle(spark, tmp_path):
    """VERDICT r10 wrong #3: a STRING-keyed vector corpus is a
    first-class citizen of the saved IVF2 tier (mirroring the LSH
    family's string lifecycle): build records the postings id type in
    the meta, load validates against it instead of hard-pinning
    bigint, search/append/typed-delete/rebuild all run end-to-end,
    and the argmax tie-break never needs to negate an id."""
    from left_join_on_timeout_spark.operators.ann_index import (
        ivf2_index_append,
        ivf2_index_delete,
        ivf2_index_rebuild,
    )

    emb = _corpus(spark, n=30, dim=4).select(
        F.concat(F.lit("vec-"), F.format_string("%03d", "vec_id"))
        .alias("vec_id"), "embedding")
    base = emb.where(F.col("vec_id") < "vec-024")
    batch = emb.where(F.col("vec_id") >= "vec-024")
    path = str(tmp_path / "idx")
    ivf2_index_build(base, path, n_super=2, k2=2)
    index = ivf2_index_load(spark, path)
    assert index["meta"].id_type == "string"
    assert dict(index["postings"].dtypes)["id"] == "string"
    hits = ivf2_index_search(batch, index).collect()
    assert hits
    assert all(r.vec_id.startswith("vec-")
               and r.neighbor_id.startswith("vec-") for r in hits)
    # ties to the SMALLER id, string collation (min-over-struct head)
    topk = ivf2_index_search(batch, index, k=3).collect()
    assert all(r.rank >= 1 for r in topk)
    ivf2_index_append(batch, spark, path)
    ivf2_index_delete(spark, path, ["vec-005"])
    live = {r.id for r in ivf2_index_load(spark, path)["postings"]
            .select("id").distinct().collect()}
    assert "vec-005" not in live and "vec-024" in live
    # int deletes against a string-keyed index cast losslessly or not
    # at all — 5 would stringify to "5", not "vec-005": it must no-op
    # as an anti-join miss after a lossless cast, never fuzzy-match
    ivf2_index_rebuild(spark, path)
    after = ivf2_index_load(spark, path)
    assert after["meta"].seq == 2 and after["meta"].id_type == "string"
    live2 = {r.id for r in after["postings"]
             .select("id").distinct().collect()}
    assert "vec-005" not in live2 and live2
    assert ivf2_index_search(batch, after).count() > 0


def test_cap_pressure_ignores_tombstoned_rows(spark, tmp_path):
    """ADVICE r10 (medium): over_cap_rows must be computed over the
    TOMBSTONE-FILTERED postings — the rebuild re-caps the live
    relation, so a cell only over the cap because of already-deleted
    rows is NOT pressure (the stats would otherwise trigger a
    spurious rebuild and break the 'exactly what the next rebuild
    drops' contract)."""
    from left_join_on_timeout_spark.operators.ann_index import (
        ivf2_index_append,
        ivf2_index_delete,
    )
    from left_join_on_timeout_spark.operators.index_admin import (
        index_maintenance_due,
        index_stats,
    )

    emb = _corpus(spark, n=13, dim=4)
    base = emb.where(F.col("vec_id") < 8)
    path = str(tmp_path / "idx")
    # single-cell index: every row lands in (sid 0, sub 0)
    ivf2_index_build(base, path, n_super=1, k2=1, cell_cap=10)
    ivf2_index_append(emb.where(F.col("vec_id") >= 8), spark, path)
    raw = index_stats(spark, path, cap_pressure=True)
    assert raw["postings_rows"] == 13
    assert raw["over_cap_rows"] == 13, "13 live rows > cap 10"
    # tombstone 4 rows: the live cell is back to 9 <= cap, so the next
    # rebuild keeps it — no pressure, no spurious rebuild
    ivf2_index_delete(spark, path, [1, 3, 5, 9])
    s = index_stats(spark, path, cap_pressure=True)
    assert s["tombstone_rows"] == 4
    assert s["over_cap_rows"] == 0
    assert not index_maintenance_due(s, max_tombstone_frac=1.0,
                                     max_over_cap_frac=0.0)


def test_index_stats_other_tiers(spark, tmp_path):
    from left_join_on_timeout_spark.operators.ann_index import pq_index_build
    from left_join_on_timeout_spark.operators.index_admin import index_stats
    from left_join_on_timeout_spark.operators.lsh_index import (
        lsh_index_build,
    )

    emb = _corpus(spark, n=32, dim=4)
    pq_path = str(tmp_path / "pq")
    pq_index_build(emb, pq_path, dim=4, m=2, k=4, n_cells=2)
    sp = index_stats(spark, pq_path)
    assert sp["tier"] == "pq" and sp["postings_rows"] > 0

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i * 3 + j) % 7}" for j in range(12)))
         for i in range(25)], "doc_id LONG, text STRING")
    lsh_path = str(tmp_path / "lsh")
    lsh_index_build(docs, lsh_path)
    sl = index_stats(spark, lsh_path)
    assert sl["tier"] == "lsh" and sl["postings_rows"] > 0


def test_index_version_diff(spark, tmp_path):
    """The compaction audit (round 10): diffing v1 against v2 names
    exactly the tombstoned ids as 'dropped' (the rebuild made the
    deletes physical), nothing as 'added' (appends were already in
    v1), and a diff against a GC'd version fails loud."""
    from left_join_on_timeout_spark.operators.ann_index import (
        ivf2_index_append,
        ivf2_index_delete,
        ivf2_index_rebuild,
    )
    from left_join_on_timeout_spark.operators.index_admin import (
        index_version_diff,
    )

    emb = _corpus(spark, n=40, dim=4)
    base = emb.where(F.col("vec_id") < 30)
    batch = emb.where(F.col("vec_id") >= 30)
    path = str(tmp_path / "idx")
    ivf2_index_build(base, path, n_super=2, k2=2, cell_cap=5000)
    ivf2_index_append(batch, spark, path)
    dead = [3, 9, 27]
    ivf2_index_delete(spark, path, dead)
    ivf2_index_rebuild(spark, path)
    diff = {(r.id, r.change)
            for r in index_version_diff(spark, path, 1, 2).collect()}
    # v1's servable view already excludes the tombstones, and v2 made
    # them physical — so the servable diff is EMPTY for the deletes
    # and nothing else changed (no cell went over cap)
    assert diff == set()
    # against the raw pre-delete content the drop IS visible: diff
    # from v1 as-served at a reader that loaded before the delete is
    # not reconstructable (tombstones are version-global), so the
    # audit surface compares servable-to-servable by design
    with pytest.raises(ValueError, match="live versions"):
        index_version_diff(spark, path, 7, 2)


def test_index_version_diff_shows_recap_drops(spark, tmp_path):
    """When ingest pushed a cell past the build cap, the rebuild drops
    that whole cell — and the version diff names those rows."""
    from left_join_on_timeout_spark.operators.ann_index import (
        ivf2_index_append,
        ivf2_index_rebuild,
    )
    from left_join_on_timeout_spark.operators.index_admin import (
        index_stats,
        index_version_diff,
    )

    emb = _corpus(spark, n=48, dim=4)
    base = emb.where(F.col("vec_id") < 24)
    batch = emb.where(F.col("vec_id") >= 24)
    path = str(tmp_path / "idx")
    ivf2_index_build(base, path, n_super=2, k2=2, cell_cap=10)
    ivf2_index_append(batch, spark, path)
    over = index_stats(spark, path, cap_pressure=True)["over_cap_rows"]
    ivf2_index_rebuild(spark, path)
    diff = index_version_diff(spark, path, 1, 2)
    dropped = {r.id for r in diff.where(F.col("change") == "dropped")
               .collect()}
    assert len(dropped) == over
    assert diff.where(F.col("change") == "added").count() == 0


def test_exactly_once_sink_empty_retry_clears_epoch(spark, tmp_path):
    """ADVICE r11: a retried epoch whose probe now returns ZERO hits
    (a delete/rebuild landed between attempts — the probe re-resolves
    the manifest per call) must still CLEAR its epoch partition; the
    static per-epoch overwrite does, where a dynamic partition
    overwrite would write nothing and leave the first attempt's rows
    standing."""
    from left_join_on_timeout_spark.operators.ann_index import (
        ivf2_index_delete,
        ivf2_index_rebuild,
    )
    from left_join_on_timeout_spark.operators.index_admin import (
        refreshing_probe_exactly_once_sink,
    )

    emb = _corpus(spark, n=40, dim=4)
    corpus = emb.where(F.col("vec_id") % 10 != 0)
    b1 = emb.where(F.col("vec_id").isin(0, 10))
    b2 = emb.where(F.col("vec_id").isin(20, 30))
    path, out = str(tmp_path / "idx"), str(tmp_path / "out")
    ivf2_index_build(corpus, path, n_super=2, k2=2, cell_cap=5000)
    sink = refreshing_probe_exactly_once_sink(out, path,
                                              threshold=-1.0)
    sink(b2, 8)  # another epoch keeps the sink non-empty throughout
    sink(b1, 7)
    first = spark.read.parquet(out)
    assert first.where(F.col("epoch") == 7).count() > 0
    # everything b1 could hit is deleted between attempts
    ivf2_index_delete(spark, path,
                      [r.vec_id for r in corpus.select("vec_id")
                       .collect()])
    sink(b1, 7)  # the retry probes an emptied index
    final = spark.read.parquet(out)
    assert final.where(F.col("epoch") == 7).count() == 0, (
        "the empty retry must replace the first attempt's rows")
    assert final.where(F.col("epoch") == 8).count() > 0


def test_pq_flat_build_rejects_non_integer_ids(spark, tmp_path):
    """VERDICT r12 wrong #1: the PQ tier seeds its codebook (and the
    flat coarse path its anchors) via the deterministic id<n rule —
    a string-keyed corpus must fail LOUD at build entry instead of
    silently mis-seeding through an implicit cast (the build-time
    twin of the append-time dtype guards). The rank-seeded IVF2 tier
    is the supported string-keyed path (see
    test_string_keyed_ivf2_lifecycle)."""
    from left_join_on_timeout_spark.operators.ann_index import (
        pq_index_build,
    )

    emb = _corpus(spark, n=30, dim=4).select(
        F.concat(F.lit("vec-"), F.format_string("%03d", "vec_id"))
        .alias("vec_id"), "embedding")
    for coarse in ("flat", "tree"):
        with pytest.raises(ValueError, match="integer id"):
            pq_index_build(emb, str(tmp_path / f"pq_{coarse}"),
                           dim=4, m=2, k=4, n_cells=2, coarse=coarse,
                           n_super=2, k2=2)
    assert not (tmp_path / "pq_flat" / "latest").exists(), (
        "a rejected build must not publish a manifest")
