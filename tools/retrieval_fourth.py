#!/usr/bin/env python
"""Fourth-decade BM25 retrieval measurement (round 10): the registered
`text_bm25_topk` shape — tokenize scan → hash-agg term stats → one-row
broadcast corpus stats → posting-bounded scoring → distributed top-k —
timed at 5 M documents (`tools/make_scale_dense.py` corpus, where the
distinct replicas carry suffixed words, so the query terms hit ~1 % of
docs: realistic posting-list selectivity, not a degenerate all-match).

The claim under test: the only corpus-sized passes are the tokenize
scan and the per-doc sum; the scored relation is bounded by the
posting lists (docs containing ≥1 query term), and the top-k is a
TakeOrdered — so the wall should scale with corpus bytes, not with
k or with pairs.

Usage: python tools/retrieval_fourth.py [dense_dir]
Default: /root/repo/.scale/sf1000x_dense (5 M docs).
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
from left_join_on_timeout_spark.queries_text import BM25_TERMS
from left_join_on_timeout_spark.session import get_spark
from left_join_on_timeout_spark.sources.tables import load_table


def main() -> None:
    src = (sys.argv[1] if len(sys.argv) > 1
           else "/root/repo/.scale/sf1000x_dense")
    spark = get_spark(app_name="retrieval_fourth")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, src, "documents")
    n = docs.count()

    def run() -> tuple[float, int]:
        scored = bm25_scores(docs, list(BM25_TERMS))
        head = top_k_ranked(scored, "bm25", "doc_id", 20)
        t0 = time.time()
        head.write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 2), scored.count()

    cold_s, n_scored = run()
    warm_s, _ = run()
    warm2_s, _ = run()
    print(json.dumps({
        "src": src, "n_docs": n, "terms": list(BM25_TERMS),
        "docs_with_any_term": n_scored,
        "posting_selectivity": round(n_scored / n, 4),
        "bm25_top20_cold_s": cold_s,
        "bm25_top20_warm_s": min(warm_s, warm2_s),
        "us_per_doc_warm": round(min(warm_s, warm2_s) * 1e6 / n, 3),
    }), flush=True)


if __name__ == "__main__":
    main()
