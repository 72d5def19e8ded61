#!/usr/bin/env python
"""GRAM-tier maintenance lifecycle at the fifth decade (round 13 —
VERDICT r12 missing #1's scale evidence): the 5 M-doc audit index
(~2.5e8 posting rows) walks append → telemetry → tombstone-delete →
rebuild → probe-from-v2, each step timed, so the registered
``contamination_rebuilt_saved`` arc has measured numbers at the scale
a recurring audit actually runs.

What the steps cost, by design:

* APPEND — batch-sized: tokenize + (doc, gram) agg over the arriving
  batch only, parquet append into the bucket directories;
* TELEMETRY — ``index_stats(stats_drift=True)``: one posting
  row-count pass + one doc-count aggregate, the poll a scheduler
  runs between batches (gram-tier naming: appended_docs_frac /
  dl_drift_frac);
* DELETE — a tombstone write, O(|deleted ids|);
* REBUILD — the expensive step by contract: one full postings
  rewrite (tombstones dropped physically, stats refreshed,
  ``postings_v2`` published). This is the cost the bounded-staleness
  contract DEFERS until telemetry says it's due;
* PROBE — the recurring audit against v2: columnar postings scan +
  broadcast gram membership, no corpus tokenize.

The source index (``.scale/gix_5M``) is copied first — the sweep
tool's probes keep serving the original. The appended batch is the
``doc_id % 1000 == 3`` slice (5 k docs the build excluded), the
deleted slice is ``doc_id % 1000 == 4`` (~5 k indexed docs).

Usage: python tools/gram_lifecycle_fifth.py [dense_dir] [src_idx] [work_idx]
Defaults: .scale/sf1000x_dense  .scale/gix_5M  .scale/gix_5M_rb
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from left_join_on_timeout_spark.functions.text import word_ngrams
from left_join_on_timeout_spark.operators.index_admin import (
    index_maintenance_due,
    index_stats,
)
from left_join_on_timeout_spark.operators.text_index import (
    text_index_append,
    text_index_delete,
    text_index_gram_probe,
    text_index_load,
    text_index_rebuild,
)
from left_join_on_timeout_spark.session import get_spark

DENSE = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.scale/sf1000x_dense"
SRC = sys.argv[2] if len(sys.argv) > 2 else "/root/repo/.scale/gix_5M"
WORK = sys.argv[3] if len(sys.argv) > 3 else "/root/repo/.scale/gix_5M_rb"
N = 5


def main() -> None:
    spark = get_spark(app_name="gram_lifecycle_fifth")
    spark.sparkContext.setLogLevel("ERROR")
    res: dict = {"corpus": DENSE, "index": WORK, "n": N}

    if os.path.exists(os.path.join(WORK, "latest")):
        # a prior run already appended/deleted/rebuilt this copy — a
        # re-run would measure a double-appended seq-2 index and
        # present polluted numbers as scale evidence; fail loud
        raise SystemExit(
            f"{WORK} already holds a mutated lifecycle index; delete "
            f"it (rm -rf) to re-measure from a fresh copy of {SRC}")
    t0 = time.time()
    shutil.copytree(SRC, WORK, dirs_exist_ok=True)
    res["copy_sec"] = round(time.time() - t0, 1)

    docs = spark.read.parquet(os.path.join(DENSE, "documents.parquet"))
    batch = docs.where(F.col("doc_id") % 1000 == 3) \
        .select("doc_id", "text")
    t0 = time.time()
    text_index_append(batch, spark, WORK)
    res["append_sec"] = round(time.time() - t0, 1)
    res["append_docs"] = batch.count()

    t0 = time.time()
    stats = index_stats(spark, WORK, stats_drift=True)
    res["telemetry_sec"] = round(time.time() - t0, 1)
    res["appended_docs_frac"] = round(stats["appended_docs_frac"], 6)
    res["dl_drift_frac"] = round(stats["dl_drift_frac"], 6)
    res["due_default"] = index_maintenance_due(stats)
    # 0.1% appended: due only under a tight drift budget — record both
    res["due_tight"] = index_maintenance_due(
        stats, max_stats_drift_frac=0.0005)

    dead = docs.where(F.col("doc_id") % 1000 == 4).select("doc_id")
    t0 = time.time()
    text_index_delete(spark, WORK, dead)
    res["delete_sec"] = round(time.time() - t0, 1)

    t0 = time.time()
    text_index_rebuild(spark, WORK)
    res["rebuild_sec"] = round(time.time() - t0, 1)
    index = text_index_load(spark, WORK)
    res["seq_after"] = int(index["meta"].seq)
    res["n_docs_after"] = int(index["meta"].n_docs)

    bench = (docs.where(F.col("doc_id") % 1000 == 0)
             .select(F.explode(word_ngrams("text", N)).alias("g"))
             .select(F.md5("g").alias("h")).distinct())
    t0 = time.time()
    res["probe_hits"] = text_index_gram_probe(index, bench).count()
    res["probe_sec"] = round(time.time() - t0, 1)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
