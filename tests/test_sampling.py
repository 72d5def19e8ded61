"""operators/sampling.py: determinism, rate accuracy, stratified
thresholds, and edge rates 0/1."""

from __future__ import annotations

import pytest

from left_join_on_timeout_spark.operators.sampling import (
    gate_threshold,
    hash_sample,
    stratified_sample,
)


@pytest.fixture(scope="module")
def ids(spark):
    return spark.range(20_000).withColumnRenamed("id", "doc_id")


def test_threshold_encoding():
    assert gate_threshold(0.0) == "0000"
    assert gate_threshold(0.1) == "1999"
    assert gate_threshold(0.5) == "8000"
    assert gate_threshold(1.0) == "ffff"  # clamped; rate>=1 bypasses the gate
    with pytest.raises(ValueError):
        gate_threshold(1.5)


def test_uniform_rate_and_determinism(ids):
    a = hash_sample(ids, "doc_id", 0.2)
    n = a.count()
    assert abs(n / 20_000 - 0.2) < 0.02
    # same seed -> identical set; different seed -> different set
    assert a.collect() == hash_sample(ids, "doc_id", 0.2).collect()
    b = hash_sample(ids, "doc_id", 0.2, seed="other")
    assert sorted(r.doc_id for r in b.collect()) != \
        sorted(r.doc_id for r in a.collect())


def test_sample_nesting_is_monotone(ids):
    """A 10% sample is a subset of the 30% sample under the same seed —
    the property that lets pipelines grow a sample without resampling."""
    small = {r.doc_id for r in hash_sample(ids, "doc_id", 0.1).collect()}
    big = {r.doc_id for r in hash_sample(ids, "doc_id", 0.3).collect()}
    assert small <= big


def test_rate_edges(ids):
    assert hash_sample(ids, "doc_id", 1.0).count() == 20_000
    assert hash_sample(ids, "doc_id", 0.0).count() == 0


def test_stratified_rates(spark):
    rows = [(i, ["en", "de", "zh", "fr"][i % 4]) for i in range(40_000)]
    df = spark.createDataFrame(rows, "doc_id LONG, lang STRING")
    out = stratified_sample(
        df, "doc_id", "lang",
        rates={"en": 0.1, "de": 0.9, "zh": 1.0}, default_rate=0.5)
    got = {r.lang: r.n for r in
           out.groupBy("lang").count().withColumnRenamed("count", "n")
           .collect()}
    assert got["zh"] == 10_000                  # rate 1.0 keeps all
    assert abs(got["en"] / 10_000 - 0.1) < 0.03
    assert abs(got["de"] / 10_000 - 0.9) < 0.03
    assert abs(got["fr"] / 10_000 - 0.5) < 0.03  # default rate


def test_cluster_aware_split_no_neardup_leak(spark):
    """Structural guarantee: no LSH near-dup candidate pair may span the
    train/val boundary, because both ends hash the same group_id."""
    from pyspark.sql import functions as F

    from left_join_on_timeout_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
    )
    from left_join_on_timeout_spark.queries import QUERIES
    from left_join_on_timeout_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    split = QUERIES["cluster_aware_split"](spark, sf)
    docs = load_table(spark, sf, "documents")
    pairs = lsh_candidate_pairs(
        minhash_signature(docs, "doc_id", "text"), "doc_id")
    a = split.select(F.col("doc_id").alias("id_a"),
                     F.col("split").alias("split_a"))
    b = split.select(F.col("doc_id").alias("id_b"),
                     F.col("split").alias("split_b"))
    crossing = (pairs.join(a, "id_a").join(b, "id_b")
                .where(F.col("split_a") != F.col("split_b")))
    assert crossing.count() == 0
    # both splits are non-trivially populated
    sizes = {r["split"]: r["count"]
             for r in split.groupBy("split").count().collect()}
    assert sizes.get("train", 0) > 0 and sizes.get("val", 0) > 0
