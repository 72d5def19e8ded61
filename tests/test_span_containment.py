"""Crafted-corpus unit tests for the exact duplicate-span detector and
the containment join — cases the synthetic driver corpus doesn't pin
down: self-repetition inside one document, adjacent-span merging, and
directed (asymmetric) containment with a non-contained control."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from left_join_on_timeout_spark.queries import QUERIES


def _mk_docs(spark, d, texts: list[str]) -> str:
    """Write a documents.parquet with the given texts under ``d``;
    return ``d``."""
    d = str(d)
    rows = [(i, t, "en", "src0", len(t)) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, "
              "n_chars bigint")
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet"))
    return d


WORDS = "w%d"


def _seq(lo: int, hi: int) -> str:
    return " ".join(WORDS % i for i in range(lo, hi))


def test_dup_span_cross_doc_and_merge(spark, tmp_path):
    """Two docs share a 12-word run inside otherwise-unique text: the
    detector must emit ONE maximal span per doc covering exactly that
    run (the 5 duplicated 8-gram start positions merge into one island,
    never 5 separate spans)."""
    shared = _seq(1000, 1012)                       # 12 shared words
    a = _seq(0, 10) + " " + shared + " " + _seq(20, 30)
    b = _seq(40, 50) + " " + shared + " " + _seq(60, 70)
    sf = _mk_docs(spark, tmp_path, [a, b])
    out = QUERIES["dup_span_detection"](spark, sf).collect()
    spans = {(r.doc_id, r.span_start, r.span_end, r.span_words)
             for r in out}
    # words 11..22 (1-based) in both docs: starts 11..15 merge into one
    # span [11, 22] of width 12
    assert spans == {(0, 11, 22, 12), (1, 11, 22, 12)}


def test_dup_span_self_repetition(spark, tmp_path):
    """A single document that repeats its own 10-word run twice must
    self-report both occurrences (corpus-wide occurrence counting, not
    distinct-per-doc), as two separate spans."""
    run = _seq(500, 510)                            # 10 words
    text = run + " " + _seq(0, 20) + " " + run
    sf = _mk_docs(spark, tmp_path, [text])
    out = QUERIES["dup_span_detection"](spark, sf).collect()
    spans = sorted((r.span_start, r.span_end) for r in out)
    assert spans == [(1, 10), (31, 40)]


def test_containment_directed(spark, tmp_path):
    """Doc 0's shingles are a strict subset of doc 1's (a quote inside a
    longer doc): containment must report (0 ⊂ 1) and NOT (1 ⊂ 0), and an
    unrelated control doc must appear in no pair."""
    quote = _seq(100, 130)                          # 30 words
    book = _seq(0, 40) + " " + quote + " " + _seq(50, 90)
    control = _seq(200, 260)
    sf = _mk_docs(spark, tmp_path, [quote, book, control])
    out = QUERIES["containment_pairs"](spark, sf).collect()
    pairs = {(r.inner_id, r.outer_id): r.containment for r in out}
    assert set(pairs) == {(0, 1)}
    assert pairs[(0, 1)] == pytest.approx(1.0)


def test_span_removal_stats_consistency(spark, tmp_path):
    """kept_frac must equal 1 - dup_words/n_words and a span-free doc
    keeps 100%."""
    shared = _seq(1000, 1012)
    a = _seq(0, 10) + " " + shared + " " + _seq(20, 30)
    b = _seq(40, 50) + " " + shared + " " + _seq(60, 70)
    clean = _seq(300, 340)
    sf = _mk_docs(spark, tmp_path, [a, b, clean])
    rows = {r.doc_id: r for r in
            QUERIES["dup_span_removal_stats"](spark, sf).collect()}
    assert rows[2].n_spans == 0 and rows[2].kept_frac == 1.0
    for i in (0, 1):
        r = rows[i]
        assert r.dup_words == 12
        assert r.kept_frac == pytest.approx(1 - 12 / r.n_words, abs=1e-6)


def test_containment_matches_brute_force(spark, tmp_path):
    """Completeness property: the prefix-filtered containment join must
    equal the brute-force all-pairs answer exactly — seeded corpora with
    a tiny vocabulary force heavy shingle sharing, the regime where a
    broken prefix bound would silently drop pairs."""
    import itertools
    import random

    from left_join_on_timeout_spark.operators.dedup import (
        prefix_filter_containment_pairs,
    )

    for seed in (7, 23):
        rng = random.Random(seed)
        vocab = [f"t{i}" for i in range(12)]
        texts = []
        for i in range(18):
            n = rng.randint(3, 30)
            texts.append(" ".join(rng.choice(vocab) for _ in range(n)))
        # plant a guaranteed quote: doc 18 is a slice of doc 0
        texts.append(" ".join(texts[0].split()[:10]))
        sf = _mk_docs(spark, tmp_path / f"seed{seed}", texts)
        got = {(r.inner_id, r.outer_id)
               for r in prefix_filter_containment_pairs(
                   spark.read.parquet(
                       os.path.join(sf, "documents.parquet")),
                   "doc_id", "text", 0.8).collect()}

        def shset(t):
            w = t.split()
            if len(w) < 3:
                return {" ".join(w)}
            return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

        sets = [shset(t) for t in texts]
        want = {(a, b)
                for a, b in itertools.permutations(range(len(texts)), 2)
                if len(sets[a] & sets[b]) >= 0.8 * len(sets[a])}
        assert got == want, f"seed {seed}: {got ^ want}"



def test_dynamic_window_respects_key_class(spark, tmp_path):
    """A purchase 45 minutes from the view must match ONLY for users in
    the 60-minute class (user_id % 3 == 2); 10- and 30-minute-class
    users time out on the same offset — the per-key CASE, not the
    widest-class state bound, decides matching."""
    import datetime as dt

    from left_join_on_timeout_spark.queries import QUERIES

    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    eid = 0
    for uid in (3, 4, 5):  # classes 0 (10m), 1 (30m), 2 (60m)
        rows.append((eid, t0, uid, "view", 1.0, "{}")); eid += 1
        rows.append((eid, t0 + dt.timedelta(minutes=45), uid,
                     "purchase", 1.0, "{}")); eid += 1
    d = str(tmp_path)
    # write via pyarrow with explicit µs timestamps so the fixture layout
    # is unambiguous (Spark's own INT96 default is covered by the
    # int96 regression test below)
    cols = list(zip(*rows))
    table = pa.table(
        {"event_id": pa.array(cols[0], pa.int64()),
         "ts": pa.array(cols[1], pa.timestamp("us")),
         "user_id": pa.array(cols[2], pa.int64()),
         "event_type": pa.array(cols[3], pa.string()),
         "value": pa.array(cols[4], pa.float64()),
         "props": pa.array(cols[5], pa.string())})
    pq.write_table(table, os.path.join(d, "events.parquet"))
    out = {r.user_id: r for r in
           QUERIES["dynamic_timeout_left_join"](spark, d).collect()}
    assert out[3].r_event_id is None and out[3].window_min == 10
    assert out[4].r_event_id is None and out[4].window_min == 30
    assert out[5].r_event_id is not None and out[5].window_min == 60


def test_load_table_reads_spark_written_int96(spark, tmp_path):
    """Regression: Spark's default parquet output stores timestamps as
    INT96, which pyarrow also reports as timestamp[ns] — load_table must
    NOT apply the driver-layout nanosAsLong+div-1000 conversion to it
    (that crashed round-trips through our own sinks); only true INT64
    TIMESTAMP(NANOS) columns take that path."""
    import datetime as dt

    from left_join_on_timeout_spark.sources.tables import load_table

    d = str(tmp_path)
    spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 12, 0, 0), 7, "view", 1.0, "{}")],
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    ).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    df = load_table(spark, d, "events")
    row = df.collect()[0]
    assert row.ts == dt.datetime(2024, 1, 1, 12, 0, 0)
