"""Write one tiny saved index per tier for the format-compatibility
test (``tests/test_index_store.py``) and print each index's expected
probe/search output as JSON.

Every index (IVF2, flat PQ, LSH, SRP, word text, ngram text) is built,
appended to once, rebuilt once and deleted from once, so its tree holds
``meta_v1``/``meta_v2``, a live ``tombstones_v2`` and, for text, the
``ids_v*`` sidecar. Only the public tier functions are used, so the
script runs unchanged in any checkout that has them:

    cd <checkout> && python <this file> <out_dir>

Runs under ``local[1]`` with one shuffle partition, which keeps the
written trees to a few files per partition directory. ``.crc`` side
files are removed afterwards; readers do not need them.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.getcwd())

DIM = 8


def vec(i: int) -> list[float]:
    return [float((i * 7 + d * 3) % 11 - 5) for d in range(DIM)]


WORDS = ["spark", "join", "scan", "filter", "sort", "merge", "window",
         "shuffle", "stage", "task"]


def text(i: int) -> str:
    return " ".join(WORDS[(i * 3 + j) % 10] for j in range(6))


def vectors(spark, ids):
    return spark.createDataFrame([(i, vec(i)) for i in ids],
                                 "vec_id LONG, embedding ARRAY<DOUBLE>")


def docs(spark, ids):
    return spark.createDataFrame([(i, text(i)) for i in ids],
                                 "doc_id LONG, text STRING")


def bench_grams(spark):
    from pyspark.sql import functions as F

    from left_join_on_timeout_spark.functions.text import gram_rows

    bench = spark.createDataFrame([("spark join scan filter",)], "text STRING")
    return gram_rows(bench, "text", 2).select(F.md5("g").alias("h"))


def expected(spark, root: str) -> dict:
    """The outputs the compatibility test pins, read from ``root``."""
    from left_join_on_timeout_spark.operators.ann_index import (
        ivf2_index_load, ivf2_index_search, pq_index_load, pq_index_search)
    from left_join_on_timeout_spark.operators.lsh_index import (
        lsh_index_load, lsh_index_probe)
    from left_join_on_timeout_spark.operators.srp_index import (
        srp_index_load, srp_index_probe)
    from left_join_on_timeout_spark.operators.text_index import (
        text_index_gram_probe, text_index_load, text_index_search)

    q = vectors(spark, [0, 5, 10, 15])
    out = {
        "ivf2": ivf2_index_search(
            q, ivf2_index_load(spark, f"{root}/ivf2")).collect(),
        "pq": pq_index_search(
            q, pq_index_load(spark, f"{root}/pq")).collect(),
        "lsh": lsh_index_probe(
            docs(spark, [0, 5, 10, 15]),
            lsh_index_load(spark, f"{root}/lsh")).collect(),
        "srp": srp_index_probe(
            q, srp_index_load(spark, f"{root}/srp")).collect(),
        "text_word": text_index_search(
            text_index_load(spark, f"{root}/text_word"),
            ["spark", "scan", "window"]).collect(),
        "text_ngram": text_index_gram_probe(
            text_index_load(spark, f"{root}/text_ngram"),
            bench_grams(spark)).collect(),
    }
    return {k: sorted(tuple(r) for r in rows) for k, rows in out.items()}


def main(root: str) -> None:
    from pyspark.sql import SparkSession

    from left_join_on_timeout_spark.operators import ann_index as ann
    from left_join_on_timeout_spark.operators import lsh_index as lsh
    from left_join_on_timeout_spark.operators import srp_index as srp
    from left_join_on_timeout_spark.operators import text_index as txt

    spark = (SparkSession.builder.master("local[1]")
             .config("spark.sql.shuffle.partitions", "1")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    base, extra = list(range(16)), [16, 17, 18, 19]
    p = f"{root}/ivf2"
    ann.ivf2_index_build(vectors(spark, base), p, n_super=2, k2=2)
    ann.ivf2_index_append(vectors(spark, extra), spark, p)
    ann.ivf2_index_rebuild(spark, p)
    ann.ivf2_index_delete(spark, p, [3, 17])
    p = f"{root}/pq"
    ann.pq_index_build(vectors(spark, base), p, dim=DIM, m=2, k=4,
                       n_cells=2)
    ann.pq_index_append(vectors(spark, extra), spark, p)
    ann.pq_index_rebuild(spark, p)
    ann.pq_index_delete(spark, p, [3, 17])
    p = f"{root}/lsh"
    lsh.lsh_index_build(docs(spark, base), p)
    lsh.lsh_index_append(docs(spark, extra), spark, p)
    lsh.lsh_index_rebuild(spark, p)
    lsh.lsh_index_delete(spark, p, [3, 17])
    p = f"{root}/srp"
    srp.srp_index_build(vectors(spark, base), p, dim=DIM)
    srp.srp_index_append(vectors(spark, extra), spark, p)
    srp.srp_index_rebuild(spark, p)
    srp.srp_index_delete(spark, p, [3, 17])
    for mode in ("word", "ngram"):
        p = f"{root}/text_{mode}"
        txt.text_index_build(docs(spark, base), p, n_buckets=4,
                             token_mode=mode, ngram_n=2)
        txt.text_index_append(docs(spark, extra), spark, p)
        txt.text_index_rebuild(spark, p)
        txt.text_index_delete(spark, p, [3, 17])
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".crc"):
                os.remove(os.path.join(d, f))
    print(json.dumps(expected(spark, root), indent=1))
    spark.stop()


if __name__ == "__main__":
    out = os.path.abspath(sys.argv[1])
    shutil.rmtree(out, ignore_errors=True)
    main(out)
