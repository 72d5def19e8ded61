#!/usr/bin/env python
"""Part 2 of the append-enforcement cost study: the r14 ids sidecar.
Writes the sidecar the next rebuild would produce onto the 5 M-doc
scratch gram index, then times a checked append against it — the
delta vs the unchecked append is the sidecar check's true cost."""
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from left_join_on_timeout_spark.operators.index_store import (
    postings_dir,
    read_meta,
)
from left_join_on_timeout_spark.operators.text_index import (
    _ids_dir,
    _write_ids,
    text_index_append,
)
from left_join_on_timeout_spark.session import get_spark

WORK = "/root/repo/.scale/gix_5M_rb"
DOCS = "/root/repo/.scale/sf1000x_dense/documents.parquet"

spark = get_spark(app_name="append_check_sidecar", cpus=32,
                  shuffle_partitions=64)
meta = read_meta(spark, WORK)
t0 = time.time()
_write_ids(spark.read.parquet(postings_dir(WORK, meta.seq)),
           WORK, meta.seq)
print(f"RESULT sidecar_backfill {time.time()-t0:.1f}s "
      f"(a rebuild pays this as part of its publish)", flush=True)

docs = spark.read.parquet(DOCS)
# provably-fresh ids: above everything the scratch index has ever
# seen (earlier tool runs appended junk ranges), renumbered densely
mx = spark.read.parquet(_ids_dir(WORK, meta.seq))     .agg(F.max("id")).first()[0]
from pyspark.sql import Window
base = (docs.where(F.col("doc_id") % 1000 == 2).limit(10000)
        .select("text",
                F.row_number().over(
                    Window.orderBy(F.monotonically_increasing_id()))
                .alias("rn")))
base.persist().count()
for half, mode in ((0, "unchecked"), (1, "error")):
    b = (base.where(F.col("rn") % 2 == half)
         .select((F.col("rn") + F.lit(mx + 1)).alias("doc_id"),
                 "text"))
    t0 = time.time()
    text_index_append(b, spark, WORK, on_existing=mode)
    print(f"RESULT append_{mode} {time.time()-t0:.1f}s", flush=True)
