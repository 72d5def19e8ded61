"""Focused tests for the round-15 optimization internals: the
full-window-key builder clustering (the r14 repartition(band) collapse
fix — VERDICT r14 wrong #1), the build/rebuild returned handles (skip
the load-after-write manifest re-read, VERDICT r14 next #6), the
scale-adaptive write clustering helper, the linear PQ argmin
(pq_best ≡ array_sort(...)[1]), the bench line's self-reported
parallelism (VERDICT r14 next #2), overlap()'s multi-error notes
(ADVICE r14), and the empty-corpus build guard (ADVICE r14)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


DOCS = [(i, f"alpha beta gamma doc {i} tail {i % 7} filler words here")
        for i in range(40)]


def _plan(df):
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


# ---------------------------------------------------------------------------
# builder clustering: the cap-window input is partitioned on the FULL
# (band, h) key — high cardinality, no optimizer-inserted exchange
# ---------------------------------------------------------------------------

def test_lsh_cap_window_runs_on_full_band_h_key(spark):
    from pyspark.sql import Window

    from left_join_on_timeout_spark.operators.lsh_index import _banded

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    banded = _banded(docs, "doc_id", "text", 12, 4, 3) \
        .repartition(F.col("band"), F.col("h"))
    w = Window.partitionBy("band", "h")
    capped = (banded.withColumn("bsz", F.count("*").over(w))
              .where(F.col("bsz") <= 200).drop("bsz"))
    plan = _plan(capped)
    # ONE exchange, keyed on BOTH columns (not the 4-value band alone),
    # and the window adds no ENSURE_REQUIREMENTS exchange of its own
    import re

    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "ENSURE_REQUIREMENTS" not in plan, plan
    m = re.search(r"hashpartitioning\(([^)]*)\)", plan)
    keyed = m.group(1)
    assert "band#" in keyed and "h#" in keyed, keyed


def test_lsh_build_still_serves_and_bounds_files(spark, tmp_path):
    from left_join_on_timeout_spark.operators.lsh_index import (
        lsh_index_build,
        lsh_index_load,
        lsh_index_probe,
    )

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    path = str(tmp_path / "lshidx")
    handle = lsh_index_build(docs, path)
    # the returned handle serves the same candidates as a fresh load
    probe = spark.createDataFrame(
        [(100, DOCS[3][1])], "doc_id long, text string")
    got = sorted(map(tuple, lsh_index_probe(probe, handle).collect()))
    want = sorted(map(tuple, lsh_index_probe(
        probe, lsh_index_load(spark, path)).collect()))
    assert got == want and len(got) >= 1
    # file counts stay bounded by the session's (tiny) parallelism,
    # not tasks × dirs
    for d in os.listdir(os.path.join(path, "postings_v1")):
        if d.startswith("band="):
            n = len([f for f in os.listdir(
                os.path.join(path, "postings_v1", d))
                if f.endswith(".parquet")])
            assert n <= int(spark.conf.get(
                "spark.sql.shuffle.partitions")), (d, n)


# ---------------------------------------------------------------------------
# build/rebuild returned handles ≡ a fresh load
# ---------------------------------------------------------------------------

def test_text_build_handle_matches_load(spark, tmp_path):
    from left_join_on_timeout_spark.operators.text_index import (
        text_index_build,
        text_index_load,
        text_index_search,
    )

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    path = str(tmp_path / "tix")
    handle = text_index_build(docs, path)
    loaded = text_index_load(spark, path)
    assert handle["meta"].n_docs == loaded["meta"].n_docs
    assert handle["meta"].avgdl == loaded["meta"].avgdl
    assert handle["meta"].seq == loaded["meta"].seq
    got = sorted(map(tuple, text_index_search(
        handle, ["alpha", "tail"]).collect()))
    want = sorted(map(tuple, text_index_search(
        loaded, ["alpha", "tail"]).collect()))
    assert got == want and len(got) > 0


def test_text_rebuild_handle_matches_load(spark, tmp_path):
    from left_join_on_timeout_spark.operators.text_index import (
        text_index_build,
        text_index_delete,
        text_index_load,
        text_index_rebuild,
        text_index_search,
    )

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    path = str(tmp_path / "trb")
    text_index_build(docs, path)
    text_index_delete(spark, path, [1, 2, 3])
    handle = text_index_rebuild(spark, path)
    loaded = text_index_load(spark, path)
    assert handle["meta"].seq == loaded["meta"].seq == 2
    assert handle["meta"].n_docs == loaded["meta"].n_docs == 37
    got = sorted(map(tuple, text_index_search(
        handle, ["alpha"]).collect()))
    want = sorted(map(tuple, text_index_search(
        loaded, ["alpha"]).collect()))
    assert got == want and len(got) > 0


def test_ivf2_build_handle_matches_load(spark, tmp_path):
    from left_join_on_timeout_spark.operators.ann_index import (
        ivf2_index_build,
        ivf2_index_load,
        ivf2_index_search,
    )

    emb = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3), 1.0, 0.5]) for i in range(30)],
        "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivf2")
    handle = ivf2_index_build(emb, path, n_super=4, k2=4)
    loaded = ivf2_index_load(spark, path)
    assert handle["meta"].asDict() == loaded["meta"].asDict()
    got = sorted(map(tuple, ivf2_index_search(emb, handle).collect()))
    want = sorted(map(tuple, ivf2_index_search(emb, loaded).collect()))
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# scale-adaptive write clustering helper
# ---------------------------------------------------------------------------

def test_cluster_for_partitioned_write_local_is_single_key(spark):
    from left_join_on_timeout_spark.partitioning import (
        cluster_for_partitioned_write,
    )

    df = spark.createDataFrame(
        [(i % 8, f"t{i}") for i in range(64)], "tb long, term string")
    # session shuffle partitions (4) < n_dirs (8): g == 1, the plan is
    # the plain single-key clustering — local bench comparability
    out = cluster_for_partitioned_write(df, "tb", "term", 8)
    assert "xxhash64" not in _plan(out)
    assert sorted(map(tuple, out.collect())) == \
        sorted(map(tuple, df.collect()))


def test_cluster_for_partitioned_write_wide_session_adds_group_key(spark):
    from left_join_on_timeout_spark.partitioning import (
        cluster_for_partitioned_write,
    )

    df = spark.createDataFrame(
        [(i % 2, f"t{i}") for i in range(64)], "tb long, term string")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        out = cluster_for_partitioned_write(df, "tb", "term", 2)
        plan = _plan(out)
        assert "xxhash64" in plan and "pmod" in plan, plan
        assert sorted(map(tuple, out.collect())) == \
            sorted(map(tuple, df.collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


# ---------------------------------------------------------------------------
# linear PQ argmin ≡ the sorted-head form
# ---------------------------------------------------------------------------

def test_pq_best_matches_array_sort_head(spark):
    from left_join_on_timeout_spark.operators.similarity import (
        pq_best,
        _pq_cand_fn,
    )

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5) + 0.25 for j in range(8)])
         for i in range(24)],
        "vec_id long, v array<double>")
    cb = spark.createDataFrame(
        [(c, [float((c * 3 + j) % 4) + 0.5 for j in range(8)])
         for c in range(6)],
        "code int, cv array<double>")
    cb_arr = cb.agg(F.collect_list(F.struct("code", "cv")).alias("cb"))
    joined = emb.join(F.broadcast(cb_arr))
    for b in range(2):
        s = F.slice(F.col("v"), b * 4 + 1, 4)
        new = joined.select(
            "vec_id", pq_best(F.col("cb"), s, b, 4).alias("best"))
        old = joined.select(
            "vec_id",
            F.element_at(F.array_sort(F.transform(
                F.col("cb"), _pq_cand_fn(s, b, 4))), 1).alias("best"))
        assert sorted(map(tuple, new.collect())) == \
            sorted(map(tuple, old.collect()))


# ---------------------------------------------------------------------------
# bench line self-reports the session's parallelism
# ---------------------------------------------------------------------------

def test_bench_line_carries_parallelism_fields():
    import json

    import bench

    timings = {n: 1.0 for n in bench.HEADLINE}
    total = round(sum(timings.values()), 3)
    env = {"cpus": 32, "master": "local[32]",
           "default_parallelism": 32, "sf_dir": "/root/testdata/sf0.1"}
    line = bench.build_line(timings, total, total, 0.1, env)
    assert len(line) <= 2000
    d = json.loads(line)
    keys = list(d)
    # the env fields lead the line (they must survive tail capture)
    for k in ("cpus", "master", "default_parallelism", "sf_dir"):
        assert d[k] == env[k]
        assert keys.index(k) < keys.index("queries")


# ---------------------------------------------------------------------------
# overlap(): every failing thunk's error is surfaced
# ---------------------------------------------------------------------------

def test_overlap_notes_other_failures():
    from left_join_on_timeout_spark.concurrency import overlap

    def boom_a():
        raise ValueError("first failure")

    def boom_b():
        raise RuntimeError("second failure")

    with pytest.raises(ValueError, match="first failure") as ei:
        overlap([boom_a, boom_b, lambda: 1])
    notes = getattr(ei.value, "__notes__", [])
    assert any("second failure" in n for n in notes), notes


# ---------------------------------------------------------------------------
# empty-corpus build fails loud BEFORE the pointer flip (ADVICE r14)
# ---------------------------------------------------------------------------

def test_text_build_empty_corpus_fails_with_clear_error(spark, tmp_path):
    from left_join_on_timeout_spark.operators.text_index import (
        text_index_build,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    with pytest.raises(ValueError, match="EMPTY postings"):
        text_index_build(empty, str(tmp_path / "emptyix"))
    # nothing was published: no manifest pointer
    assert not os.path.exists(os.path.join(
        str(tmp_path / "emptyix"), "latest"))
