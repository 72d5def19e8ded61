"""The curation family's per-invocation bookkeeping: decision-set
persists and index trees a query registers are released at the next
query's entry, whatever filesystem the index root is on."""

from __future__ import annotations

import os

import pytest


def test_tracked_persists_release(spark):
    from pyspark import StorageLevel

    from left_join_on_timeout_spark.queries_pipeline import (
        _TRACKED_PERSISTS,
        _tracked_persist,
        release_tracked_persists,
    )

    release_tracked_persists()
    df = _tracked_persist(spark.range(10).toDF("id"))
    assert df.storageLevel != StorageLevel.NONE
    assert len(_TRACKED_PERSISTS) == 1
    release_tracked_persists()
    assert len(_TRACKED_PERSISTS) == 0
    assert df.storageLevel == StorageLevel.NONE


def test_tracked_index_tree_under_a_file_uri_root_is_removed(spark, tmp_path):
    from left_join_on_timeout_spark.queries_pipeline import (
        release_tracked_persists,
        tracked_index_path,
    )

    release_tracked_persists()
    path = tracked_index_path(spark, f"file://{tmp_path}", "tix")
    assert path.startswith("file://")
    spark.range(5).write.parquet(f"{path}/postings_v1")
    local = path[len("file://"):]
    assert os.path.isdir(os.path.join(local, "postings_v1"))
    release_tracked_persists()
    assert not os.path.exists(local)
    assert os.path.isdir(tmp_path)


def test_release_runs_every_cleanup_then_raises_the_first_failure(spark):
    from left_join_on_timeout_spark.queries_pipeline import (
        _TRACKED_CLEANUPS,
        release_tracked_persists,
    )

    release_tracked_persists()
    ran = []

    def fail():
        raise OSError("delete failed")

    _TRACKED_CLEANUPS.extend(
        [lambda: ran.append("a"), fail, lambda: ran.append("b")])
    with pytest.raises(OSError, match="delete failed"):
        release_tracked_persists()
    assert sorted(ran) == ["a", "b"]
    assert not _TRACKED_CLEANUPS
