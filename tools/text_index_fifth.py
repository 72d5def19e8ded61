#!/usr/bin/env python
"""Saved inverted-index measurement at 5 M documents (round 11 —
VERDICT r10 missing #1's done-criterion): the build-once-serve-many
economics of the lexical arm.

What is measured, on the `make_scale_dense.py` corpus (5 M docs,
realistic ~1 % posting selectivity for the fixed terms):

* the FUSED arm's warm per-query cost — `bm25_scores` re-tokenizes
  and re-aggregates the whole corpus per query (the r10 baseline);
* `text_index_build` — the one-time tokenize + (doc, term) aggregate
  the saved tier amortizes;
* the SAVED arm's warm per-query cost over SEVERAL distinct term
  queries (a contamination sweep's shape): each search scans only the
  query terms' hash-bucket directories, df is a |terms|-row
  aggregate, (N, avgdl) ride the manifest — per-query cost should be
  decoupled from corpus size (bounded by the probed posting lists).

Usage: python tools/text_index_fifth.py [dense_dir] [index_dir]
Defaults: /root/repo/.scale/sf1000x_dense  /root/repo/.scale/tix_5M
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from left_join_on_timeout_spark.operators.retrieval import (
    bm25_scores,
    top_k_ranked,
)
from left_join_on_timeout_spark.operators.text_index import (
    text_index_build,
    text_index_load,
    text_index_search,
)
from left_join_on_timeout_spark.queries_text import BM25_TERMS
from left_join_on_timeout_spark.session import get_spark
from left_join_on_timeout_spark.sources.tables import load_table

# a sweep of distinct term queries — each resolves to its own bucket
# set, so no result caching flatters the saved numbers
SWEEP = [
    list(BM25_TERMS),
    ["data", "model"],
    ["training", "pipeline", "quality"],
    ["document", "window"],
    ["filter", "scan", "join", "stream"],
]


def _tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f))
                     for f in files)
    return total


def main() -> None:
    src = (sys.argv[1] if len(sys.argv) > 1
           else "/root/repo/.scale/sf1000x_dense")
    idx = (sys.argv[2] if len(sys.argv) > 2
           else "/root/repo/.scale/tix_5M")
    spark = get_spark(app_name="text_index_fifth")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, src, "documents")
    n = docs.count()

    def fused(terms) -> float:
        head = top_k_ranked(bm25_scores(docs, terms),
                            "bm25", "doc_id", 20)
        t0 = time.time()
        head.write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 2)

    fused_s = [fused(list(BM25_TERMS)) for _ in range(3)]

    t0 = time.time()
    text_index_build(docs, idx)
    build_s = round(time.time() - t0, 2)

    index = text_index_load(spark, idx)

    def saved(terms) -> float:
        head = top_k_ranked(text_index_search(index, terms),
                            "bm25", index["meta"].id_col, 20)
        t0 = time.time()
        head.write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 2)

    saved(list(BM25_TERMS))  # JVM/codegen warmup on the saved path
    sweep_s = [saved(t) for t in SWEEP]
    warm = min(sweep_s[0], saved(list(BM25_TERMS)))
    print(json.dumps({
        "src": src, "n_docs": n,
        "fused_warm_s": min(fused_s[1:]),
        "index_build_s": build_s,
        "index_bytes": _tree_bytes(idx),
        "saved_warm_s": warm,
        "saved_sweep_s": sweep_s,
        "speedup_per_query": round(min(fused_s[1:]) / max(warm, 1e-9),
                                   1),
        "breakeven_queries": round(
            build_s / max(min(fused_s[1:]) - warm, 1e-9), 1),
    }), flush=True)


if __name__ == "__main__":
    main()
