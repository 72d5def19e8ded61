#!/usr/bin/env python
"""Generate the FOURTH-decade (1000×-row) corpus at REALISTIC duplicate
density (VERDICT r5 item 5).

The sf10x third-decade corpus replicates every document as a perturbed
near-dup, so at 100× every doc sits in a 100-way near-dup clique — the
*adversarial* density that makes the two output-bound exact joins
(`dedup_lsh_jaccard`, `containment_minhash_est`) pay for their own
answer (26.8 M candidate pairs at 500 k docs). A real web-scale corpus
is nothing like that: measured dup rates are a few percent (e.g. the
C4/CCNet dedup literature — PAPERS.md). This generator scales rows
1000× while CAPPING density:

* replica 0 is the original document;
* a deterministic md5 gate over (doc_id, rep) marks ``dup_rate`` of
  replicas as NEAR-DUPS (same ``repN ``-prefix perturbation as
  make_scale10 — high Jaccard with their original);
* every other replica is made DISTINCT: each word is suffixed with a
  per-replica tag, so its shingle set is disjoint from the original's
  (Jaccard ≈ 0, never an LSH candidate) while the token-count and
  length distributions survive.

Expected near-dup clique size is 1 + factor·dup_rate (≈2 at the
defaults), so the candidate-pair term scales with n·dup_rate — the
corpus-linear profile a 100 TB dedup pass actually sees — instead of
with clique²·n.

Only ``documents`` is scaled (the two measured queries touch nothing
else); other tables copy verbatim so ``load_table`` works unchanged.

Usage: python tools/make_scale_dense.py [out_dir] [factor] [dup_rate]
Defaults: /root/repo/.scale/sf100x_dense  100  0.01   (5 M docs from sf0.1)
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from left_join_on_timeout_spark.session import get_spark
from left_join_on_timeout_spark.sources.tables import TABLES, load_table

SRC = "/root/testdata/sf0.1"
OFFSET = 10_000_000


def main() -> None:
    from left_join_on_timeout_spark.operators.sampling import gate_threshold

    out = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.scale/sf100x_dense"
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    dup_rate = float(sys.argv[3]) if len(sys.argv) > 3 else 0.01
    # the library's md5-gate threshold (clamped to the 4-hex space — a
    # hand-rolled format() would emit a 5-char string at dup_rate=1.0
    # and the lexicographic compare would silently gate ~6%)
    gate_hex = gate_threshold(dup_rate)
    os.makedirs(out, exist_ok=True)
    spark = get_spark(app_name="make_scale_dense")
    spark.sparkContext.setLogLevel("ERROR")

    docs = load_table(spark, SRC, "documents")
    reps = spark.range(factor).select(F.col("id").alias("rep"))
    is_dup = F.substring(
        F.md5(F.concat_ws("#", F.col("doc_id"), F.col("rep"))), 1, 4) \
        < gate_hex
    distinct_text = F.array_join(
        F.transform(F.split(F.col("text"), " "),
                    lambda w: F.concat(w, F.lit("~"),
                                       F.col("rep").cast("string"))), " ")
    # repartition BEFORE the per-word transform (make_scale_vec's r10
    # fix): the single-file source would otherwise run the whole
    # factor× string expansion in one task
    scaled_docs = (docs.crossJoin(F.broadcast(reps))
                   .repartition(32)
                   .select(
                       (F.col("doc_id") + F.col("rep") * OFFSET)
                       .alias("doc_id"),
                       F.when(F.col("rep") == 0, F.col("text"))
                       .when(is_dup,
                             F.concat(F.lit("rep"), F.col("rep"),
                                      F.lit(" "), F.col("text")))
                       .otherwise(distinct_text)
                       .alias("text"),
                       "lang", "source")
                   .withColumn("n_chars", F.length("text")))
    scaled_docs.write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet"))

    for t in TABLES:
        if t == "documents":
            continue
        src = os.path.join(SRC, f"{t}.parquet")
        dst = os.path.join(out, f"{t}.parquet")
        if not os.path.exists(dst) and os.path.isfile(src):
            shutil.copyfile(src, dst)

    n = spark.read.parquet(os.path.join(out, "documents.parquet")).count()
    print(f"documents: {n} rows (factor={factor}, dup_rate={dup_rate}, "
          f"gate<{gate_hex})")


if __name__ == "__main__":
    main()
