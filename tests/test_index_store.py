"""The versioned-index core (``operators.index_store``): the append
id-dtype guard on every tier, real failures injected at the publish's
two crash points, and indexes written by the previous format code."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from left_join_on_timeout_spark import fsio
from left_join_on_timeout_spark.functions.text import gram_rows
from left_join_on_timeout_spark.operators import ann_index, index_store
from left_join_on_timeout_spark.operators import lsh_index, srp_index
from left_join_on_timeout_spark.operators import text_index
from left_join_on_timeout_spark.operators.index_store import IdTypeError

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures", "index_v3")

_WORDS = ["spark", "join", "scan", "filter", "sort", "merge", "window",
          "shuffle", "stage", "task"]


def _vec(i, dim=8):
    return [float((i * 7 + d * 3) % 11 - 5) for d in range(dim)]


def _text(i):
    return " ".join(_WORDS[(i * 3 + j) % 10] for j in range(6))


def _vectors(spark, ids, id_type="LONG"):
    cast = str if id_type == "STRING" else int
    return spark.createDataFrame(
        [(cast(i), _vec(i)) for i in ids],
        f"vec_id {id_type}, embedding ARRAY<DOUBLE>")


def _docs(spark, ids, id_type="LONG"):
    cast = str if id_type == "STRING" else int
    return spark.createDataFrame([(cast(i), _text(i)) for i in ids],
                                 f"doc_id {id_type}, text STRING")


# tier -> (build, append, search), each over a tiny corpus
TIERS = {
    "ivf2": (
        lambda spark, p: ann_index.ivf2_index_build(
            _vectors(spark, range(16)), p, n_super=2, k2=2),
        lambda spark, p, ids, t: ann_index.ivf2_index_append(
            _vectors(spark, ids, t), spark, p),
        lambda spark, p: ann_index.ivf2_index_search(
            _vectors(spark, [0, 5, 10]),
            ann_index.ivf2_index_load(spark, p))),
    "pq": (
        lambda spark, p: ann_index.pq_index_build(
            _vectors(spark, range(16)), p, dim=8, m=2, k=4, n_cells=2),
        lambda spark, p, ids, t: ann_index.pq_index_append(
            _vectors(spark, ids, t), spark, p),
        lambda spark, p: ann_index.pq_index_search(
            _vectors(spark, [0, 5, 10]),
            ann_index.pq_index_load(spark, p))),
    "lsh": (
        lambda spark, p: lsh_index.lsh_index_build(
            _docs(spark, range(16)), p),
        lambda spark, p, ids, t: lsh_index.lsh_index_append(
            _docs(spark, ids, t), spark, p),
        lambda spark, p: lsh_index.lsh_index_probe(
            _docs(spark, [0, 5, 10]), lsh_index.lsh_index_load(spark, p))),
    "srp": (
        lambda spark, p: srp_index.srp_index_build(
            _vectors(spark, range(16)), p, dim=8),
        lambda spark, p, ids, t: srp_index.srp_index_append(
            _vectors(spark, ids, t), spark, p),
        lambda spark, p: srp_index.srp_index_probe(
            _vectors(spark, [0, 5, 10]),
            srp_index.srp_index_load(spark, p))),
    "text": (
        lambda spark, p: text_index.text_index_build(
            _docs(spark, range(16)), p, n_buckets=4),
        lambda spark, p, ids, t: text_index.text_index_append(
            _docs(spark, ids, t), spark, p),
        lambda spark, p: text_index.text_index_search(
            text_index.text_index_load(spark, p), ["spark", "window"])),
}


def _files(path):
    return sum(len(fs) for _, _, fs in os.walk(path))


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """tier -> path of its index, built once per module (each test
    reads its own baseline, so a test that rebuilds harms none)."""
    root, paths = tmp_path_factory.mktemp("tiers"), {}

    def get(tier):
        if tier not in paths:
            paths[tier] = str(root / tier)
            TIERS[tier][0](spark, paths[tier])
        return paths[tier]
    return get


@pytest.mark.parametrize("tier", sorted(TIERS))
def test_append_with_other_id_dtype_is_refused_before_any_write(
        spark, built, tier):
    """An append whose ids are STRING into a BIGINT-keyed index used to
    land (IVF2, PQ, LSH) and break every later read of the version
    with a parquet column type mismatch; the core append refuses it
    before writing, and the index keeps serving."""
    _, append, search = TIERS[tier]
    path = built(tier)
    before = sorted(tuple(r) for r in search(spark, path).collect())
    n_files = _files(path)
    with pytest.raises(IdTypeError, match="id dtype"):
        append(spark, path, [16, 17], "STRING")
    assert _files(path) == n_files
    assert sorted(tuple(r) for r in search(spark, path).collect()) == before


def _boom(*args, **kwargs):
    raise OSError("injected publish failure")


@pytest.mark.parametrize("tier", ["ivf2", "text"])
def test_publish_crash_points_leave_the_old_version_live(
        spark, built, monkeypatch, tier):
    """A rebuild that dies (a) after writing the new postings but
    before its meta, or (b) after its meta but before the pointer
    flips, leaves the old seq live with unchanged results, and the
    next rebuild publishes the new seq over the stray directories."""
    _, _, search = TIERS[tier]
    rebuild = {"ivf2": ann_index.ivf2_index_rebuild,
               "text": text_index.text_index_rebuild}[tier]
    path = built(tier)
    seq = index_store.read_meta(spark, path).seq
    before = sorted(tuple(r) for r in search(spark, path).collect())
    for target, name in ((index_store, "write_meta"),
                         (fsio, "write_text")):
        with monkeypatch.context() as m:
            m.setattr(target, name, _boom)
            with pytest.raises(OSError, match="injected"):
                rebuild(spark, path)
        assert os.path.isdir(os.path.join(path, f"postings_v{seq + 1}"))
        assert index_store.read_meta(spark, path).seq == seq
        assert sorted(tuple(r) for r in search(spark, path).collect()) \
            == before
    assert os.path.isdir(os.path.join(path, f"meta_v{seq + 1}"))
    assert rebuild(spark, path)["meta"].seq == seq + 1
    assert index_store.read_meta(spark, path).seq == seq + 1
    assert sorted(tuple(r) for r in search(spark, path).collect()) == before


# Written by the previous format code with tools/make_index_fixtures.py:
# build on ids 0..15, append 16..19, rebuild, delete ids 3 and 17.
EXPECTED = {
    "ivf2": [(0, 11, 1.0), (5, 16, 1.0), (10, 7, 0.282038), (15, 4, 1.0)],
    "pq": [(0, 11, 0.0), (5, 2, 0.0), (10, 1, 1.267936), (15, 4, 0.0)],
    "lsh": [(0, 7), (0, 10), (0, 13), (5, 2), (5, 12), (5, 15), (10, 0),
            (10, 7), (10, 13), (15, 2), (15, 5), (15, 12)],
    "srp": [(0, 0), (0, 11), (5, 5), (5, 16), (10, 10), (15, 4), (15, 7),
            (15, 15), (15, 18)],
    "text_word": [
        (0, 1.295322), (1, 0.602175), (2, 1.20435), (4, 1.295322),
        (5, 1.20435), (6, 1.295322), (7, 1.295322), (8, 0.602175),
        (9, 1.295322), (10, 1.295322), (11, 0.602175), (12, 1.20435),
        (13, 1.295322), (14, 1.295322), (15, 1.20435), (16, 1.295322),
        (18, 0.602175), (19, 1.295322)],
    "text_ngram": [
        (0, 5, 3, 0.6, True), (2, 5, 1, 0.2, True), (4, 5, 1, 0.2, True),
        (6, 5, 3, 0.6, True), (7, 5, 2, 0.4, True), (9, 5, 2, 0.4, True),
        (10, 5, 3, 0.6, True), (12, 5, 1, 0.2, True),
        (13, 5, 3, 0.6, True), (14, 5, 1, 0.2, True),
        (16, 5, 3, 0.6, True), (19, 5, 2, 0.4, True)],
}


def test_indexes_written_by_the_previous_format_code_still_serve(
        spark, tmp_path):
    """INDEX_FORMAT_VERSION 3 trees written before the core existed
    (meta_v2, live tombstones, the text ids sidecar) load through
    every tier and reproduce their recorded outputs exactly; a load
    through one tier's name refuses another tier's index."""
    root = str(tmp_path / "index_v3")
    shutil.copytree(FIXTURES, root)
    q = _vectors(spark, [0, 5, 10, 15])
    bench = gram_rows(
        spark.createDataFrame([("spark join scan filter",)], "text STRING"),
        "text", 2).select(F.md5("g").alias("h"))
    got = {
        "ivf2": ann_index.ivf2_index_search(
            q, ann_index.ivf2_index_load(spark, f"{root}/ivf2")),
        "pq": ann_index.pq_index_search(
            q, ann_index.pq_index_load(spark, f"{root}/pq")),
        "lsh": lsh_index.lsh_index_probe(
            _docs(spark, [0, 5, 10, 15]),
            lsh_index.lsh_index_load(spark, f"{root}/lsh")),
        "srp": srp_index.srp_index_probe(
            q, srp_index.srp_index_load(spark, f"{root}/srp")),
        "text_word": text_index.text_index_search(
            text_index.text_index_load(spark, f"{root}/text_word"),
            ["spark", "scan", "window"]),
        "text_ngram": text_index.text_index_gram_probe(
            text_index.text_index_load(spark, f"{root}/text_ngram"),
            bench),
    }
    for name, df in got.items():
        assert index_store.index_versions(spark, f"{root}/{name}") == [1, 2]
        assert sorted(tuple(r) for r in df.collect()) == EXPECTED[name], name
    with pytest.raises(ValueError, match="holds a lsh index, not ivf2"):
        ann_index.ivf2_index_load(spark, f"{root}/lsh")
