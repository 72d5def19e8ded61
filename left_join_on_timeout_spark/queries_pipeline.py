"""Training-data pipeline surface, part 2: the corpus-preparation
operators a pretraining run needs *between* curation and the trainer —
corpus-adaptive boilerplate stripping, temperature-based source mixing,
leakage-safe train/val splitting, deterministic global shuffle order,
PII redaction, and a unigram-LM quality score (CCNet-style).

Every expression is a built-in-function Column with an exact DuckDB SQL
twin; determinism notes per query. These register after the driver's
~50-entry priority window (queries.py::_PRIORITY), so they extend the
surface without displacing round-4's curated correctness rotation.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from left_join_on_timeout_spark import fsio
from left_join_on_timeout_spark.concurrency import overlap
from left_join_on_timeout_spark.functions.text import (
    BPE_TOKEN_RE,
    fingerprint,
    gram_digest_set,
    gram_rows,
    quality_score,
    token_count,
    words,
)
from left_join_on_timeout_spark.functions.vectors import (
    as_double,
    dot,
    l2_norm,
    srp_bucket_sql,
    srp_planes,
)
from left_join_on_timeout_spark.operators.asof_join import asof_join
from left_join_on_timeout_spark.operators.components import (
    connected_components,
)
from left_join_on_timeout_spark.operators.dedup import (
    DEFAULT_LSH_BUCKET_CAP,
    lsh_candidate_pairs,
    minhash_signature,
    shingle_sets,
)
from left_join_on_timeout_spark.operators.index_store import default_index_root
from left_join_on_timeout_spark.operators.lsh_index import (
    lsh_index_build,
    lsh_index_probe,
)
from left_join_on_timeout_spark.operators.ranking import global_rank
from left_join_on_timeout_spark.operators.sampling import sample_gate
from left_join_on_timeout_spark.operators.similarity import (
    DEFAULT_BANDS,
    DEFAULT_BITS,
    DEFAULT_BUCKET_CAP,
    DEFAULT_SEED,
)
from left_join_on_timeout_spark.operators.srp_index import (
    srp_index_build,
    srp_index_probe,
)
from left_join_on_timeout_spark.operators.text_index import (
    contamination_screen,
    text_index_build,
    text_index_gram_probe,
)
from left_join_on_timeout_spark.partitioning import fan_out
from left_join_on_timeout_spark.queries_text import QUALITY_SQL
from left_join_on_timeout_spark.registry import query
from left_join_on_timeout_spark.sources.tables import load_table
from left_join_on_timeout_spark.sql_lsh import (
    BAND_SELECTS,
    DIGEST_COLS,
    NULLSAFE_SHINGLES_CTE,
    SIG_COLS,
)
from left_join_on_timeout_spark.streaming.harness import drain_stream

_T_NORM = "trim(lower(text))"


# ---------------------------------------------------------------------------
# Tracked within-query persists (VERDICT r14 wrong #3 / ADVICE r14)
# ---------------------------------------------------------------------------
# The curation chains persist batch/hit-bounded decision sets that the
# RETURNED frame still references lazily — they cannot unpersist before
# the caller's action runs, but leaving them registered forever churns
# the context cache in a long-lived serving session (DataFrame persists
# are held by the CacheManager and are NOT GC-reclaimed). Each
# pipeline-family query therefore registers its persists here and
# RELEASES the previous invocation's at entry: at most one query's
# (KB–MB-sized) decision sets are ever outstanding, and a serving loop
# that calls these queries repeatedly is accumulation-free.
#
# The family's index paths are PER-INVOCATION (a monotone counter in
# the path base): a repeated invocation must never mode("overwrite")
# a directory whose files an earlier invocation's plan state might
# still reference — with a fixed path, the overwrite + the cache
# registry's path-keyed refresh machinery raced intermittently into
# FAILED_READ_FILE on the next materialization (caught by this
# round's bench; r14's never-released cache entries had masked it by
# serving repeat invocations from stale-but-identical cached blocks).
# The previous invocation's trees are removed at the next release —
# bounded disk, no live reader (same contract as the unpersists).

_TRACKED_PERSISTS: list = []
_TRACKED_CLEANUPS: list = []
_INVOCATION_SEQ = iter(range(1, 1 << 62))


def _tracked_persist(df: DataFrame) -> DataFrame:
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _TRACKED_PERSISTS.append(df)
    return df


def tracked_index_path(spark: SparkSession, root: str, name: str) -> str:
    """A fresh, never-before-used index path for this invocation,
    registered for removal (through ``fsio``, so a ``file:`` or
    ``hdfs:`` root is removed too) at the NEXT release."""
    path = os.path.join(root, f"{name}_i{next(_INVOCATION_SEQ)}")
    _TRACKED_CLEANUPS.append(lambda: fsio.delete(spark, path))
    return path


def release_tracked_persists() -> None:
    """Unpersist every decision set — and remove every per-invocation
    index tree — a previous curation-family query left behind (safe
    while no such query's returned frame is still being materialized —
    the per-invocation contract of the bench, the oracle runner, and
    any sequential serving loop). Every cleanup runs; the first one
    that failed is then re-raised (``fsio.delete`` ignores missing
    paths, so its errors are real)."""
    while _TRACKED_PERSISTS:
        df = _TRACKED_PERSISTS.pop()
        try:
            df.unpersist()
        except Py4JJavaError:
            pass  # persisted by a stopped session: nothing left to free
    first = None
    while _TRACKED_CLEANUPS:
        try:
            _TRACKED_CLEANUPS.pop()()
        except Exception as e:  # re-raised below, after the others run
            first = first or e
    if first is not None:
        raise first


# ---------------------------------------------------------------------------
# Corpus-adaptive boilerplate stripping
# ---------------------------------------------------------------------------

@query("boilerplate_strip_docs", f"""
WITH toks AS (SELECT doc_id, regexp_split_to_array({_T_NORM}, '\\s+') AS w
              FROM documents),
pos AS (SELECT doc_id, i AS pos, w[i] AS term
        FROM toks, UNNEST(range(1, len(w) + 1)) AS t(i)),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM pos GROUP BY term),
n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
boiler AS (SELECT term FROM dfreq, n WHERE df > 0.5 * n),
tagged AS (SELECT p.doc_id, p.pos, p.term, (b.term IS NOT NULL) AS is_b
           FROM pos p LEFT JOIN boiler b USING (term))
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_terms,
       CAST(sum(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       md5(coalesce(string_agg(CASE WHEN NOT is_b THEN term END,
                               ' ' ORDER BY pos), '')) AS kept_fp
FROM tagged
GROUP BY doc_id
""")
def q_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-adaptive boilerplate removal: tokens appearing in more than
    half of all documents (headers, nav chrome, license blurbs in a real
    crawl) are stripped from every document, and the cleaned text is
    rebuilt in original token order. The boilerplate vocabulary is
    vocab-sized regardless of corpus size, so the strip is a *broadcast*
    left-join against every token shard — map-side, no shuffle of the
    token stream beyond the per-doc rebuild aggregate. Token order is
    restored JVM-side (array_sort over (pos, term) structs), never via a
    data-scale window. The tokenized relation is persisted so the
    explode subtree evaluates once for both its consumers (document
    frequency and the rebuild) — the ReusedExchange-never-fires lesson
    from the round-4 scaling decade."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (fan_out(docs)
            .select("doc_id", F.posexplode(words("text"))
                    .alias("pos", "term"))
            .persist(StorageLevel.MEMORY_AND_DISK))
    dfreq = (toks.select("doc_id", "term").distinct()
             .groupBy("term").agg(F.count(F.lit(1)).alias("df")))
    n = docs.agg(F.countDistinct("doc_id").alias("n"))
    boiler = (dfreq.crossJoin(F.broadcast(n))
              .where(F.col("df") > 0.5 * F.col("n"))
              .select("term").withColumn("b", F.lit(1)))
    tagged = toks.join(F.broadcast(boiler), "term", "left")
    kept = F.array_sort(F.collect_list(
        F.when(F.col("b").isNull(), F.struct("pos", "term"))))
    return tagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.count("b").alias("n_removed"),
        F.md5(F.array_join(
            F.transform(kept, lambda x: x["term"]), " ")).alias("kept_fp"))


# ---------------------------------------------------------------------------
# Temperature-based source mixing
# ---------------------------------------------------------------------------

def _mix_table(docs: DataFrame) -> DataFrame:
    """(source, rate): the temperature-τ=2 keep-rate table — tiny
    (one row per source) and broadcastable, batch or stream-static."""
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w_num = F.round(F.pow(F.col("n_docs").cast("double"), F.lit(0.5)), 6)
    tot = counts.agg(
        F.sum("n_docs").cast("bigint").alias("n_total"),
        F.sum(w_num.cast("decimal(25,6)")).cast("double").alias("denom"))
    return (counts.crossJoin(F.broadcast(tot))
            .withColumn("rate", F.least(
                F.lit(1.0),
                F.lit(0.5) * F.col("n_total") * (w_num / F.col("denom"))
                / F.col("n_docs")))
            .select("source", "rate"))


def _mix_gate(docs: DataFrame, mix: DataFrame) -> DataFrame:
    """Apply the mix table: broadcast join + deterministic md5 gate with
    the per-source rate rendered as a fixed-width hex threshold."""
    key8 = F.substring(
        F.md5(F.concat(F.lit("42#"), F.col("doc_id").cast("string"))), 1, 8)
    thr = F.format_string(
        "%08x", F.floor(F.col("rate") * F.lit(4294967296.0)).cast("long"))
    return (docs.join(F.broadcast(mix), "source")
            .where((F.col("rate") >= 1.0) | (key8 < thr))
            .select("doc_id", "source",
                    F.round("rate", 6).alias("keep_rate")))


SOURCE_MIX_SQL = """
WITH counts AS (SELECT source, count(*) AS n_docs
                FROM documents GROUP BY source),
tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
               CAST(sum(CAST(round(pow(CAST(n_docs AS DOUBLE), 0.5), 6)
                             AS DECIMAL(25,6))) AS DOUBLE) AS denom
        FROM counts),
mix AS (SELECT source, n_docs,
               least(1.0, 0.5 * n_total
                          * (round(pow(CAST(n_docs AS DOUBLE), 0.5), 6)
                             / denom)
                          / n_docs) AS rate
        FROM counts, tot)
SELECT d.doc_id AS doc_id, d.source AS source,
       round(m.rate, 6) AS keep_rate
FROM documents d JOIN mix m ON d.source = m.source
WHERE m.rate >= 1.0
   OR substr(md5('42#' || CAST(d.doc_id AS VARCHAR)), 1, 8) <
      printf('%08x', CAST(floor(m.rate * 4294967296.0) AS BIGINT))
"""


@query("source_mix_temperature", SOURCE_MIX_SQL)
def q_source_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing (the multilingual/multi-corpus
    rebalance from the T5/XLM-R recipes): per-source sampling weight
    w_s ∝ n_s^0.5 (temperature τ=2), overall token budget half the
    corpus, per-source keep rate min(1, 0.5·N·w_s/n_s). The mix table is
    source-count-sized (broadcast); the gate is the deterministic md5
    predicate, so the resample is a map-side decision per row — one tiny
    aggregate pass plus one broadcast join at any corpus size.

    Determinism: the weight denominator sums 6-dp-rounded DECIMALs
    (order-independent), every later step is identical IEEE double math
    in both engines, and the variable rate becomes a fixed-width hex
    threshold (floor(rate·2^32) rendered '%08x') compared against the
    md5 prefix — the data-dependent generalization of
    operators/sampling.py's constant-rate gate."""
    docs = load_table(spark, sf_dir, "documents")
    return _mix_gate(docs, _mix_table(docs))


@query("stream_source_mix", SOURCE_MIX_SQL)
def q_stream_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time source mixing: the τ=2 rebalance applied to a
    *stream* of documents via a STREAM-STATIC broadcast join — the rate
    table is computed once from the reference corpus (batch side) and
    every arriving micro-batch is gated map-side against it, the shape
    a production resampler runs (rates refresh on a slow cadence, data
    flows continuously). Stateless per row beyond the broadcast, so the
    drained output is row-identical to the batch mix — the exact
    oracle."""
    docs = load_table(spark, sf_dir, "documents")
    mix = _mix_table(docs)  # static side, computed once
    stream_in = docs.select("doc_id", "source")
    return drain_stream(spark, stream_in, lambda s: _mix_gate(s, mix))


# ---------------------------------------------------------------------------
# Leakage-safe train/val split
# ---------------------------------------------------------------------------

@query("train_val_split_leakproof", f"""
WITH base AS (
  SELECT doc_id,
         md5(regexp_replace({_T_NORM}, '\\s+', ' ', 'g')) AS cfp
  FROM documents),
naive AS (SELECT doc_id, cfp,
                 CASE WHEN substr(md5('7#' || CAST(doc_id AS VARCHAR)), 1, 4)
                           < '0ccc'
                      THEN 'val' ELSE 'train' END AS split
          FROM base),
content AS (SELECT doc_id, cfp,
                   CASE WHEN substr(cfp, 1, 4) < '0ccc'
                        THEN 'val' ELSE 'train' END AS split
            FROM base),
naive_leak AS (
  SELECT CAST(count(*) AS BIGINT) AS n_leaked_fp
  FROM (SELECT cfp FROM (SELECT DISTINCT cfp, split FROM naive)
        GROUP BY cfp HAVING count(*) > 1)),
content_leak AS (
  SELECT CAST(count(*) AS BIGINT) AS n_leaked_fp
  FROM (SELECT cfp FROM (SELECT DISTINCT cfp, split FROM content)
        GROUP BY cfp HAVING count(*) > 1))
SELECT 'by_doc_id' AS strategy,
       CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_val_docs,
       CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_train_docs,
       (SELECT n_leaked_fp FROM naive_leak) AS n_leaked_fp
FROM naive
UNION ALL
SELECT 'by_content' AS strategy,
       CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_val_docs,
       CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_train_docs,
       (SELECT n_leaked_fp FROM content_leak) AS n_leaked_fp
FROM content
""")
def q_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val split. Splitting by document id leaks:
    byte-identical duplicates land on both sides and the val loss is
    contaminated. Splitting by the *content fingerprint* (md5 of the
    whitespace-collapsed normalized text) co-locates every duplicate by
    construction. The query runs both strategies and reports, per
    strategy, the split sizes and the number of fingerprints spanning
    both splits — nonzero for the naive split wherever duplicates exist,
    structurally zero for the content split. The (doc_id, cfp) base is
    persisted and each leak check is one distinct + one count aggregate
    — nothing heavier than a dedup pass at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    base = (docs.select("doc_id", fingerprint("text").alias("cfp"))
            .persist(StorageLevel.MEMORY_AND_DISK))

    def stats(strategy: str, split: F.Column) -> DataFrame:
        b = base.withColumn("split", split)
        counts = b.agg(
            F.sum(F.when(F.col("split") == "val", 1).otherwise(0))
             .cast("bigint").alias("n_val_docs"),
            F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
             .cast("bigint").alias("n_train_docs"))
        leaks = (b.select("cfp", "split").distinct()
                 .groupBy("cfp").agg(F.count(F.lit(1)).alias("ns"))
                 .where(F.col("ns") > 1)
                 .agg(F.count(F.lit(1)).cast("bigint")
                      .alias("n_leaked_fp")))
        return (counts.crossJoin(F.broadcast(leaks))
                .select(F.lit(strategy).alias("strategy"),
                        "n_val_docs", "n_train_docs", "n_leaked_fp"))

    naive = F.when(sample_gate("doc_id", 0.05, seed="7"), "val") \
             .otherwise("train")
    content = F.when(F.substring("cfp", 1, 4) < "0ccc", "val") \
               .otherwise("train")
    return stats("by_doc_id", naive).unionAll(stats("by_content", content))


# ---------------------------------------------------------------------------
# Deterministic global shuffle order
# ---------------------------------------------------------------------------

@query("training_order_shuffle", """
SELECT row_number() OVER (ORDER BY md5('7#' || CAST(doc_id AS VARCHAR)),
                          doc_id) AS rnk,
       doc_id, source
FROM documents
""")
def q_training_order_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training order: every document's
    1-based position in the corpus ordered by md5(seed # doc_id) — the
    reproducible epoch permutation a trainer reads sequentially.
    Planned through operators/ranking.py::global_rank (range exchange +
    broadcast offset join), NOT a single-partition window — identical
    output to ``row_number() OVER (ORDER BY hash)`` with a plan that
    holds at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    skey = F.md5(F.concat(F.lit("7#"), F.col("doc_id").cast("string")))
    ranked = global_rank(
        docs.select("doc_id", "source", skey.alias("skey")),
        [F.col("skey").asc(), F.col("doc_id").asc()])
    return ranked.select("rnk", "doc_id", "source")


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"

_ENRICH_SQL = f"""(text ||
  CASE WHEN doc_id % 3 <> 0
       THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
       ELSE '' END ||
  CASE WHEN doc_id % 2 = 0
       THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       ELSE '' END)"""


PII_SQL = f"""
WITH enriched AS (SELECT doc_id, {_ENRICH_SQL} AS t FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{_PHONE_RE}')) AS INT) AS n_phones,
       CAST(length(regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                                  '{_PHONE_RE}', '<PHONE>', 'g')) AS INT)
         AS n_chars_redacted,
       md5(regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_fp
FROM enriched
"""


def pii_redact(docs: DataFrame) -> DataFrame:
    """The PII detect/redact pipeline as a stateless transform (shared by
    the batch query and its streaming twin): inject deterministic PII
    derived from doc_id, then count and redact it."""
    t = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 3 != 0,
               F.concat(F.lit(" contact user"),
                        F.col("doc_id").cast("string"),
                        F.lit("@example.com"))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 2 == 0,
               F.concat(F.lit(" call +1-555-"),
                        F.lpad((F.col("doc_id") % 10000).cast("string"),
                               4, "0"))).otherwise(F.lit("")))
    redacted = F.regexp_replace(
        F.regexp_replace(t, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit(_EMAIL_RE), 0))
         .alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(_PHONE_RE), 0))
         .alias("n_phones"),
        F.length(redacted).alias("n_chars_redacted"),
        F.md5(redacted).alias("redacted_fp"))


@query("pii_redaction", PII_SQL)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: count and redact email addresses and phone numbers with
    typed placeholders. The synthetic corpus contains no organic PII, so
    the query first *injects* deterministic PII derived from doc_id
    (emails into 2/3 of docs, phone numbers into 1/2) — the injection is
    part of the query on both engines, the operator under test is the
    regex detect/redact pipeline. Pure per-row codegen expressions: one
    scan, zero shuffles, patterns chosen to behave identically under
    Java regex and RE2."""
    return pii_redact(load_table(spark, sf_dir, "documents"))


@query("stream_pii_redaction", PII_SQL)
def q_stream_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time PII scrub: the same detect/redact pipeline applied to
    a *stream* of documents — the redaction a training pipeline runs as
    data lands, before anything persists. Stateless per-row regex, so no
    watermark or state store; the drained output is row-identical to
    the batch scrub, which is the exact oracle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return drain_stream(spark, docs, pii_redact)


# ---------------------------------------------------------------------------
# Unigram-LM quality score
# ---------------------------------------------------------------------------

@query("doc_lm_score", f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array({_T_NORM}, '\\s+')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
tc AS (SELECT term, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY term),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM tc),
scored AS (
  SELECT tf.doc_id, tf.tf,
         CAST(floor(ln(CAST(tot.total AS DOUBLE) / tc.c)
                    * 1000000 + 0.5) / 1000000.0
              AS DECIMAL(25,6)) AS nll
  FROM tf JOIN tc ON tf.term = tc.term, tot)
SELECT doc_id,
       CAST(sum(tf) AS BIGINT) AS n_tok,
       floor(CAST(sum(nll * tf) AS DOUBLE) / CAST(sum(tf) AS BIGINT)
             * 1000000 + 0.5) / 1000000.0
         AS lm_score
FROM scored
GROUP BY doc_id
""")
def q_doc_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality score (the CCNet recipe's cheap
    stand-in: perplexity under a corpus-trained LM): per-document mean
    negative log-probability of its tokens under the corpus unigram
    distribution. Low = stereotyped/repetitive text, high = rare-token
    soup; both tails get cut in curation. Same skeleton as TF-IDF —
    persist the (doc, term, tf) relation so tokenization runs once,
    derive the unigram counts from it (vocab-sized, broadcastable), and
    cross in the one-row corpus total.

    Determinism: per-term -ln p is rounded to 6 dp then carried as
    DECIMAL, the per-doc sum is exact decimal·int arithmetic (addition
    order can't matter), and the final mean divides the exact sum as one
    IEEE double op per row."""
    docs = load_table(spark, sf_dir, "documents")
    toks = fan_out(docs).select(
        "doc_id", F.explode(words("text")).alias("term"))
    tf = (toks.groupBy("doc_id", "term")
          .agg(F.count(F.lit(1)).alias("tf"))
          .persist(StorageLevel.MEMORY_AND_DISK))
    tc = tf.groupBy("term").agg(F.sum("tf").cast("bigint").alias("c"))
    tot = tc.agg(F.sum("c").cast("bigint").alias("total"))
    nll = r6(
        F.log(F.col("total").cast("double") / F.col("c"))) \
        .cast("decimal(25,6)")
    scored = (tf.join(tc, "term").crossJoin(F.broadcast(tot))
              .select("doc_id", "tf", nll.alias("nll")))
    return scored.groupBy("doc_id").agg(
        F.sum("tf").cast("bigint").alias("n_tok"),
        r6(
            F.sum(F.col("nll") * F.col("tf")).cast("double")
            / F.sum("tf").cast("bigint")).alias("lm_score"))


# ---------------------------------------------------------------------------
# Equi-depth curriculum binning
# ---------------------------------------------------------------------------

@query("length_equidepth_bins", """
WITH ranked AS (
  SELECT doc_id, n_chars,
         row_number() OVER (ORDER BY n_chars, doc_id) AS rnk,
         count(*) OVER () AS n
  FROM documents)
SELECT CAST((rnk - 1) * 8 // n AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM ranked
GROUP BY (rnk - 1) * 8 // n
""")
def q_length_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth length binning — the curriculum/bucketing cut that
    gives each training phase the same number of documents rather than
    the same length range (equi-width collapses under skewed length
    distributions). bin = floor((rank−1)·8 / N) over the total order
    (n_chars, doc_id) — an explicit formula instead of ntile so both
    engines and any re-run agree bit-for-bit. The rank comes from
    operators/ranking.py::global_rank (range exchange + offset join),
    NOT a single-partition window, and N is a broadcast one-row
    aggregate: the whole binning is two small shuffles at any corpus
    size."""
    docs = load_table(spark, sf_dir, "documents")
    ranked = global_rank(
        docs.select("doc_id", "n_chars"),
        [F.col("n_chars").asc(), F.col("doc_id").asc()])
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    binned = (ranked.crossJoin(F.broadcast(n))
              .withColumn("bin", F.floor(
                  (F.col("rnk") - 1) * 8 / F.col("n"))))
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"))


# ---------------------------------------------------------------------------
# FIR smoothing over daily series
# ---------------------------------------------------------------------------

_FIR_W = [0.4, 0.25, 0.15, 0.1, 0.05, 0.03, 0.02]  # sums to 1.0

_FIR_SQL_TERMS = " + ".join(
    f"{w} * COALESCE(lag(v, {k}) OVER "
    f"(PARTITION BY user_id ORDER BY day), 0.0)" if k else f"{w} * v"
    for k, w in enumerate(_FIR_W))


@query("events_fir_smoothing", f"""
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         round(CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE), 6) AS v
  FROM events GROUP BY 1, 2)
SELECT user_id, day, v,
       round({_FIR_SQL_TERMS}, 6) AS smoothed
FROM daily
""")
def q_events_fir_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend smoothing of each user's daily value series with a 7-tap
    finite-impulse-response kernel (weights 0.4…0.02, unit mass) — the
    bounded-window alternative to a recursive EWMA: identical smoothing
    role, but expressible as a fixed number of ``lag`` terms, so it
    runs as ONE keyed window pass (parallel per user, no recursion, no
    pow() overflow trick) and replays bit-identically in the oracle.
    Daily totals go through DECIMAL before the (fixed-order) double
    kernel, so partition order can't move the result."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy("user_id",
                        F.date_trunc("day", F.col("ts")).alias("day"))
             .agg(F.round(
                 F.sum(F.col("value").cast("decimal(25,6)"))
                 .cast("double"), 6).alias("v")))
    w = Window.partitionBy("user_id").orderBy("day")
    smoothed = F.lit(_FIR_W[0]) * F.col("v")
    for k, wt in enumerate(_FIR_W[1:], start=1):
        smoothed = smoothed + F.lit(wt) * F.coalesce(
            F.lag("v", k).over(w), F.lit(0.0))
    return daily.select("user_id", "day", "v",
                        F.round(smoothed, 6).alias("smoothed"))


# ---------------------------------------------------------------------------
# Malformed-record routing (dead-letter channel)
# ---------------------------------------------------------------------------

DEAD_LETTER_SQL = """
WITH enriched AS (
  SELECT event_id,
         CASE WHEN event_id % 7 = 0
              THEN substr(props, 1, length(props) - 1)
              ELSE props END AS p
  FROM events)
SELECT event_id, p AS bad_payload, 'malformed_json' AS reason
FROM enriched
WHERE NOT json_valid(p)
"""


def _dead_letter(events: DataFrame) -> DataFrame:
    """Route rows whose JSON payload fails to parse to the dead-letter
    side. Corruption is injected deterministically (event_id % 7) —
    the synthetic payloads are all valid, the operator under test is
    the routing (corruption = truncating the closing byte, which both
    engines reject; Spark tolerates trailing garbage after a complete
    value). Parse-validity = Spark 4's ``try_parse_json`` (VARIANT)
    null-ness — a *strict* full-document parse, the exact twin of
    DuckDB ``json_valid`` (unlike ``from_json``, whose PERMISSIVE mode
    yields null fields, not a null row)."""
    p = F.when(F.col("event_id") % 7 == 0,
               F.expr("substr(props, 1, length(props) - 1)")) \
        .otherwise(F.col("props"))
    return (events.select("event_id", p.alias("p"))
            .where(F.try_parse_json("p").isNull())
            .select("event_id", F.col("p").alias("bad_payload"),
                    F.lit("malformed_json").alias("reason")))


@query("json_dead_letter", DEAD_LETTER_SQL)
def q_json_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bad-record routing, batch form: the rows a pipeline must NOT
    silently drop or crash on, captured with payload + reason for
    replay after a fix. One scan, per-row parse check, no shuffle."""
    return _dead_letter(load_table(spark, sf_dir, "events"))


@query("stream_json_dead_letter", DEAD_LETTER_SQL)
def q_stream_json_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bad-record routing at ingest: the same dead-letter split on a
    *stream* — malformed payloads peel off to the side channel as data
    lands while good rows continue (a real deployment writes each side
    to its own sink; the harness drains the dead-letter side).
    Stateless, so the batch split is the exact oracle."""
    events = load_table(spark, sf_dir, "events").select("event_id", "props")
    return drain_stream(spark, events, _dead_letter)


# ---------------------------------------------------------------------------
# SCD2-style state intervals from an event stream
# ---------------------------------------------------------------------------

@query("scd2_user_state_intervals", """
WITH ordered AS (
  SELECT user_id, event_type, ts,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events),
changes AS (
  SELECT user_id, event_type, ts
  FROM ordered
  WHERE prev_type IS NULL OR event_type <> prev_type)
SELECT user_id, event_type AS state, ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to,
       (lead(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL)
         AS is_current
FROM changes
""")
def q_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) build from an event stream:
    collapse each user's event sequence into state VERSIONS — one row
    per run of equal event_type, with [valid_from, valid_to) effective
    dating and an is_current flag (valid_to NULL). Change detection is
    a lag() comparison, interval closing a lead() — two passes over
    the SAME keyed ordering, so the second window reuses the first's
    shuffle. Ties in ts break on event_id so the version sequence is a
    total order on both engines."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (ev.select("user_id", "event_type", "ts", "event_id")
               .withColumn("prev_type", F.lag("event_type").over(w))
               .where(F.col("prev_type").isNull()
                      | (F.col("event_type") != F.col("prev_type"))))
    w2 = Window.partitionBy("user_id").orderBy("ts")
    return changes.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
        F.lead("ts").over(w2).isNull().alias("is_current"))


# ---------------------------------------------------------------------------
# Group-wise OLS trend
# ---------------------------------------------------------------------------

@query("user_value_trend", """
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         round(CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE), 6) AS v
  FROM events GROUP BY 1, 2),
idx AS (
  SELECT user_id, v,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) - 1
              AS BIGINT) AS x
  FROM daily),
agg AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(CAST(round(v, 6) AS DECIMAL(25,6))) AS DOUBLE) AS sy,
         CAST(sum(x * CAST(round(v, 6) AS DECIMAL(25,6))) AS DOUBLE) AS sxy
  FROM idx GROUP BY user_id)
SELECT user_id, n,
       CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
            ELSE round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
       END AS slope
FROM agg
""")
def q_user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise trend estimation: per-user OLS slope of daily value
    over day index, from the closed form
    (n·Σxy − Σx·Σy) / (n·Σxx − (Σx)²) — regression over millions of
    groups as ONE aggregate pass (four sums per group, all map-side
    partial-aggregated), no per-group iteration, no ML library.
    Determinism: x and the x-moments are exact integers, y-moments sum
    DECIMALs (order-free), and the final slope is one fixed-order
    double expression rounded to 6 dp. Single-day users get slope 0
    (denominator zero)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy("user_id",
                        F.date_trunc("day", F.col("ts")).alias("day"))
             .agg(F.round(
                 F.sum(F.col("value").cast("decimal(25,6)"))
                 .cast("double"), 6).alias("v")))
    w = Window.partitionBy("user_id").orderBy("day")
    idx = daily.select(
        "user_id", "v",
        (F.row_number().over(w) - 1).cast("bigint").alias("x"))
    vdec = F.round("v", 6).cast("decimal(25,6)")
    agg = idx.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(vdec).cast("double").alias("sy"),
        F.sum(F.col("x") * vdec).cast("double").alias("sxy"))
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = F.when(den == 0, F.lit(0.0)).otherwise(
        F.round((F.col("n") * F.col("sxy")
                 - F.col("sx") * F.col("sy")) / den, 6))
    return agg.select("user_id", "n", slope.alias("slope"))


# ---------------------------------------------------------------------------
# IQR outlier detection per group
# ---------------------------------------------------------------------------

@query("iqr_outlier_stats", """
WITH stats AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         round(quantile_cont(value, 0.25), 6) AS q1,
         round(quantile_cont(value, 0.75), 6) AS q3
  FROM events GROUP BY event_type)
SELECT s.event_type, s.n, s.q1, s.q3,
       CAST(count(CASE WHEN e.value < round(s.q1 - 1.5 * (s.q3 - s.q1), 6)
                         OR e.value > round(s.q3 + 1.5 * (s.q3 - s.q1), 6)
                       THEN 1 END) AS BIGINT) AS n_outliers
FROM events e JOIN stats s ON e.event_type = s.event_type
GROUP BY s.event_type, s.n, s.q1, s.q3
""")
def q_iqr_outlier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier detection per group: exact interpolated
    quartiles (verified bit-identical between Spark ``percentile`` and
    DuckDB ``quantile_cont``), 1.5·IQR fences rounded before the
    comparison so both engines flag identical rows. Two passes: a
    per-group quantile aggregate (group-count-sized, broadcast back
    onto the scan) and a map-side outlier count — the distribution-
    robust alternative to the z-score filter, immune to the outliers
    it is hunting."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.expr("percentile(value, 0.25)"), 6).alias("q1"),
        F.round(F.expr("percentile(value, 0.75)"), 6).alias("q3"))
    iqr = F.col("q3") - F.col("q1")
    lo = F.round(F.col("q1") - 1.5 * iqr, 6)
    hi = F.round(F.col("q3") + 1.5 * iqr, 6)
    joined = ev.join(F.broadcast(stats), "event_type")
    return joined.groupBy("event_type", "n", "q1", "q3").agg(
        F.count(F.when((F.col("value") < lo) | (F.col("value") > hi), 1))
        .cast("bigint").alias("n_outliers"))


# ---------------------------------------------------------------------------
# Z-order (Morton) layout key
# ---------------------------------------------------------------------------

_Z_BITS = 10
_Z_EXPR = " + ".join(
    f"(((a >> {k}) & 1) * {1 << (2 * k)})"
    f" + (((b >> {k}) & 1) * {1 << (2 * k + 1)})"
    for k in range(_Z_BITS))
_Z_DIMS = """
  SELECT CAST(user_id % 1024 AS BIGINT) AS a,
         CAST(CAST(floor(value * 10) AS BIGINT) % 1024 AS BIGINT) AS b
  FROM events"""


@query("zorder_layout_stats", f"""
WITH dims AS ({_Z_DIMS}),
z AS (SELECT a, b, {_Z_EXPR} AS zkey FROM dims)
SELECT CAST(floor(zkey / 16384.0) AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(a) AS BIGINT) AS min_a, CAST(max(a) AS BIGINT) AS max_a,
       CAST(min(b) AS BIGINT) AS min_b, CAST(max(b) AS BIGINT) AS max_b
FROM z
GROUP BY CAST(floor(zkey / 16384.0) AS BIGINT)
""")
def q_zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout keys: interleave the bits of two
    dimensions (user bucket × value bucket) so that sorting by ONE key
    co-locates rows that are close in BOTH — the data-layout trick
    behind multi-column file skipping (Delta/Iceberg OPTIMIZE ZORDER):
    each of the 64 z-ranges spans a tight min/max box in *both*
    dimensions, so a predicate on either column prunes most ranges.
    The query materializes the per-range (n, min/max per dim) stats —
    exactly the footer metadata a writer would produce. The bit
    interleave is ONE integer expression string shared verbatim by
    Spark and the oracle, so parity is by construction."""
    ev = load_table(spark, sf_dir, "events")
    dims = ev.selectExpr(
        "CAST(user_id % 1024 AS BIGINT) AS a",
        "CAST(CAST(floor(value * 10) AS BIGINT) % 1024 AS BIGINT) AS b")
    z = dims.selectExpr("a", "b", f"{_Z_EXPR} AS zkey")
    return (z.selectExpr(
        "CAST(floor(zkey / 16384.0) AS BIGINT) AS bucket", "a", "b")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
             F.min("a").cast("bigint").alias("min_a"),
             F.max("a").cast("bigint").alias("max_a"),
             F.min("b").cast("bigint").alias("min_b"),
             F.max("b").cast("bigint").alias("max_b")))


# ---------------------------------------------------------------------------
# Ordered-funnel sessions (sequence pattern)
# ---------------------------------------------------------------------------

@query("ordered_funnel_sessions", """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events),
sess AS (
  SELECT user_id, event_type, ts,
         sum(new_sess) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM ordered)
SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id,
       CAST(count(*) AS BIGINT) AS n_events,
       (min(CASE WHEN event_type = 'view' THEN ts END)
        < max(CASE WHEN event_type = 'purchase' THEN ts END)) AS converted
FROM sess
GROUP BY user_id, sess_id
""")
def q_ordered_funnel_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern funnel: per (user, 30-min-gap session), did a
    view happen STRICTLY BEFORE a purchase in that session — the
    ordered MATCH_RECOGNIZE-style pattern (A then B), not mere
    co-occurrence. The order constraint compiles to an aggregate:
    ∃ view v, purchase p with v.ts < p.ts ⟺ min(view ts) <
    max(purchase ts) — so the whole pattern is the sessionizer's one
    keyed window pass plus one grouped aggregate, no self-join, no
    per-row state machine. NULL `converted` = session lacking one leg
    (SQL three-valued logic, identical both engines)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_sess = F.when(
        prev.isNull()
        | (F.col("ts").cast("long") - prev.cast("long") > 1800),
        1).otherwise(0)
    wc = (Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    sess = (ev.select("user_id", "event_type", "ts", "event_id",
                      new_sess.alias("new_sess"))
            .withColumn("sess_id",
                        F.sum("new_sess").over(wc).cast("bigint")))
    return sess.groupBy("user_id", "sess_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        (F.min(F.when(F.col("event_type") == "view", F.col("ts")))
         < F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))))
        .alias("converted"))


# ---------------------------------------------------------------------------
# Quantile normalization across sources
# ---------------------------------------------------------------------------


@query("quantile_normalize_quality", f"""
WITH q AS (
  SELECT doc_id, source, round({QUALITY_SQL}, 6) AS qual FROM documents),
ref AS (
  SELECT quantile_cont(qual, [{", ".join(f"{k}/100.0" for k in range(101))}])
           AS arr
  FROM q),
ranked AS (
  SELECT doc_id, source, qual,
         CASE WHEN count(*) OVER (PARTITION BY source) = 1 THEN 0.5
              ELSE CAST(row_number() OVER (PARTITION BY source
                                           ORDER BY qual, doc_id) - 1
                        AS DOUBLE)
                   / (count(*) OVER (PARTITION BY source) - 1)
         END AS pr
  FROM q)
SELECT doc_id, source, qual,
       round(arr[CAST(floor(pr * 100.0 + 0.5) AS INT) + 1], 6) AS q_norm
FROM ranked, ref
""")
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of the quality score across sources — the
    batch-effect correction that maps every source's score distribution
    onto the pooled reference distribution by rank, so a threshold
    means the same thing for every source (upstream scorers drift per
    crawl). The reference curve is compressed to 101 exact interpolated
    percentile points (Spark ``percentile`` ⇄ DuckDB ``quantile_cont``,
    verified bit-identical) carried as ONE broadcast array row; each
    doc computes its per-source percent-rank (keyed windows — parallel
    per source) and reads the nearest reference point with an O(1)
    ``element_at``. No global sort, no single-partition window — the
    production shape: curve resolution is a knob, corpus size is not.
    Index rounding is explicit floor(x + 0.5) so both engines pick the
    same point."""
    docs = load_table(spark, sf_dir, "documents")
    q = docs.select("doc_id", "source",
                    F.round(quality_score("text"), 6).alias("qual"))
    fracs = ", ".join(f"CAST({k} AS DOUBLE)/100.0" for k in range(101))
    ref = q.selectExpr(f"percentile(qual, array({fracs})) AS arr")
    ws = Window.partitionBy("source").orderBy("qual", "doc_id")
    ns = Window.partitionBy("source")
    pr_s = F.when(F.count(F.lit(1)).over(ns) == 1, F.lit(0.5)).otherwise(
        (F.row_number().over(ws) - 1).cast("double")
        / (F.count(F.lit(1)).over(ns) - 1))
    ranked = q.select("doc_id", "source", "qual", pr_s.alias("pr"))
    idx = (F.floor(F.col("pr") * F.lit(100.0) + F.lit(0.5))
           .cast("int") + 1)
    return (ranked.crossJoin(F.broadcast(ref))
            .select("doc_id", "source", "qual",
                    F.round(F.element_at("arr", idx), 6).alias("q_norm")))


# ---------------------------------------------------------------------------
# Rolling distinct count (sliding-window COUNT DISTINCT)
# ---------------------------------------------------------------------------

@query("rolling_7d_active_users", """
WITH days AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
contrib AS (
  SELECT user_id, day + INTERVAL (o) DAY AS win_end
  FROM days, UNNEST(range(0, 7)) AS t(o)),
ends AS (SELECT DISTINCT date_trunc('day', ts) AS win_end FROM events)
SELECT e.win_end,
       CAST(count(DISTINCT c.user_id) AS BIGINT) AS active_users
FROM ends e JOIN contrib c ON c.win_end = e.win_end
GROUP BY e.win_end
""")
def q_rolling_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling DISTINCT user count per day — the sliding-window
    metric that cannot use a running-sum window because DISTINCT does
    not decompose (a user active on 3 of the 7 days must count once).
    The scalable shape: each (user, active-day) row *contributes* to
    the 7 window-ends it falls into (a bounded ×7 explode — window
    length, not data, is the fan-out), then one distinct-aggregate per
    window-end — shuffle keys are (window_end, user), never a
    data-scale self-join and no per-day re-scan of 7 days of history.
    Window-ends are restricted to days that exist in the data so both
    engines enumerate identical rows."""
    ev = load_table(spark, sf_dir, "events")
    days = (ev.select("user_id",
                      F.date_trunc("day", F.col("ts")).alias("day"))
            .distinct())
    contrib = days.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("o"),
        "day").select(
        "user_id",
        (F.col("day") + F.make_interval(days=F.col("o"))).alias("win_end"))
    ends = (ev.select(F.date_trunc("day", F.col("ts")).alias("win_end"))
            .distinct())
    return (contrib.join(ends, "win_end")
            .groupBy("win_end")
            .agg(F.countDistinct("user_id").cast("bigint")
                 .alias("active_users")))


# ---------------------------------------------------------------------------
# DSIR: data selection via importance resampling
# ---------------------------------------------------------------------------

DSIR_HEX = 2     # 16^2 = 256 hashed feature buckets
DSIR_B = 256


def r6(c):
    """Engine-portable 6-dp rounding: ``floor(x*1e6 + 0.5)/1e6`` — pure
    IEEE binary64 ops, bit-identical in Spark and DuckDB. Spark's
    ``round()`` (BigDecimal HALF_UP on the double's shortest decimal
    repr) and DuckDB's (on the binary value) disagree when a score lands
    exactly on a .5 boundary of its shortest repr — observed at sf0.1:
    one doc's mean log-importance-weight -0.0162235 rounded to -0.016224
    (Spark) vs -0.016223 (DuckDB), a silent cross-engine hash break the
    sf0.01 gate never hits. The floor form decides ties identically
    because both engines evaluate the identical double expression (same
    hazard family as embedding_dim_health's micro-unit power sums); the
    SQL twins carry the literal ``floor(x * 1000000 + 0.5) / 1000000.0``.
    Used by the whole LM-scoring family (doc_lm_score, doc_lm2_score,
    DSIR batch + stream)."""
    return F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)


def dsir_tf_and_model(spark: SparkSession, sf_dir: str):
    """(tf, lr): the persisted (doc, bucket, tf) feature relation and
    the {B}-row log-importance-ratio model table — shared by the batch
    scorer and the streaming apply twin so both use the identical
    trained snapshot (see ``q_dsir_importance_weights`` for the plan
    and determinism notes)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = fan_out(docs).select(
        "doc_id", F.explode(words("text")).alias("term"))
    tf = (toks.groupBy(
        "doc_id",
        F.substring(F.md5("term"), 1, DSIR_HEX).alias("b"))
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    raw = tf.groupBy("b").agg(F.sum("tf").cast("bigint").alias("cr"))
    tgt = (tf.where(F.col("doc_id") % 20 == 0)
           .groupBy("b").agg(F.sum("tf").cast("bigint").alias("ct")))
    tot = (raw.agg(F.sum("cr").cast("bigint").alias("tr"))
           .crossJoin(tgt.agg(F.coalesce(F.sum("ct"), F.lit(0))
                              .cast("bigint").alias("tt"))))
    ct = F.coalesce(F.col("ct"), F.lit(0))
    lr_val = r6(
        F.log((ct + 1.0) / (F.col("tt") + float(DSIR_B)))
        - F.log((F.col("cr") + 1.0) / (F.col("tr") + float(DSIR_B)))
        ).cast("decimal(25,6)")
    lr = (raw.join(tgt, "b", "left")
          .crossJoin(F.broadcast(tot))
          .select("b", lr_val.alias("lr")))
    return tf, lr


DSIR_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array({_T_NORM}, '\\s+')) AS term
  FROM documents),
tf AS (SELECT doc_id, substr(md5(term), 1, {DSIR_HEX}) AS b,
              CAST(count(*) AS BIGINT) AS tf
       FROM toks GROUP BY doc_id, substr(md5(term), 1, {DSIR_HEX})),
raw AS (SELECT b, sum(tf) AS cr FROM tf GROUP BY b),
tgt AS (SELECT b, sum(tf) AS ct FROM tf WHERE doc_id % 20 = 0 GROUP BY b),
tot AS (SELECT (SELECT sum(cr) FROM raw) AS tr,
               (SELECT coalesce(sum(ct), 0) FROM tgt) AS tt),
lr AS (SELECT r.b,
              CAST(floor((ln((coalesce(t.ct, 0) + 1.0) / (tt + {DSIR_B}.0))
                          - ln((r.cr + 1.0) / (tr + {DSIR_B}.0)))
                         * 1000000 + 0.5) / 1000000.0
                   AS DECIMAL(25,6)) AS lr
       FROM raw r LEFT JOIN tgt t ON r.b = t.b CROSS JOIN tot)
SELECT f.doc_id,
       CAST(sum(f.tf) AS BIGINT) AS n_tok,
       floor(CAST(sum(l.lr * f.tf) AS DOUBLE) / sum(f.tf)
             * 1000000 + 0.5) / 1000000.0 AS mean_log_iw,
       (floor(CAST(sum(l.lr * f.tf) AS DOUBLE) / sum(f.tf)
              * 1000000 + 0.5) / 1000000.0 > 0.0)
         AS selected
FROM tf f JOIN lr l ON f.b = l.b
GROUP BY f.doc_id
"""


@query("dsir_importance_weights", DSIR_SQL)
def q_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Xie et al., "Data Selection for Language Models via
    Importance Resampling"): score every raw document by how much more
    likely its hashed-n-gram features are under a *target-domain*
    unigram model than under the raw-corpus model, then keep the
    target-like docs. Target sample = ``doc_id % 20 = 0`` (the same
    held-out-domain convention as ``contamination_ngram_overlap``'s
    benchmark set); features = term counts hashed into {DSIR_B}
    md5-prefix buckets (the ``feature_hash_docs`` trick, so the model
    is vocabulary-free); both bucket LMs are add-one smoothed.

    Plan: ONE tokenize+hash pass builds the (doc, bucket, tf) relation;
    both the raw and target bucket models derive from it ({DSIR_B}-row
    aggregates — map-side partials, then broadcast), totals are a
    one-row broadcast cross. The per-doc score is then a broadcast-join
    + keyed sum: nothing vocabulary- or corpus-scale ever sits on the
    driver, and the corpus shuffles once. Determinism follows the
    ``doc_lm_score`` recipe: per-bucket log-ratio rounded to 6 dp and
    carried as DECIMAL, exact decimal·int sums, one final IEEE divide +
    round per row; ``selected`` compares the same rounded value, so
    both engines decide identically."""
    tf, lr = dsir_tf_and_model(spark, sf_dir)
    score = r6(
        F.sum(F.col("lr") * F.col("tf")).cast("double")
        / F.sum("tf").cast("bigint"))
    return (tf.join(F.broadcast(lr), "b")
            .groupBy("doc_id")
            .agg(F.sum("tf").cast("bigint").alias("n_tok"),
                 score.alias("mean_log_iw"),
                 (score > 0.0).alias("selected")))


# ---------------------------------------------------------------------------
# Bigram conditional LM score
# ---------------------------------------------------------------------------

@query("doc_lm2_score", f"""
WITH toks AS (SELECT doc_id, regexp_split_to_array({_T_NORM}, '\\s+') AS w
              FROM documents),
bi AS (SELECT doc_id, array_to_string(w[i:i+1], ' ') AS g
       FROM toks, UNNEST(range(1, greatest(len(w) - 1, 0) + 1)) AS t(i)),
tf2 AS (SELECT doc_id, g, count(*) AS tf FROM bi GROUP BY doc_id, g),
c2 AS (SELECT g, CAST(sum(tf) AS BIGINT) AS c2 FROM tf2 GROUP BY g),
c1 AS (SELECT split_part(g, ' ', 1) AS w1, CAST(sum(c2) AS BIGINT) AS c1
       FROM c2 GROUP BY split_part(g, ' ', 1)),
v AS (SELECT CAST(count(DISTINCT split_part(g, ' ', 2)) AS BIGINT) AS v
      FROM c2),
gs AS (SELECT c2.g,
              CAST(floor(ln(CAST(c1.c1 + v.v AS DOUBLE) / (c2.c2 + 1))
                         * 1000000 + 0.5) / 1000000.0
                   AS DECIMAL(25,6)) AS nll
       FROM c2 JOIN c1 ON split_part(c2.g, ' ', 1) = c1.w1, v)
SELECT tf2.doc_id,
       CAST(sum(tf2.tf) AS BIGINT) AS n_bi,
       floor(CAST(sum(gs.nll * tf2.tf) AS DOUBLE)
             / CAST(sum(tf2.tf) AS BIGINT) * 1000000 + 0.5) / 1000000.0
         AS lm2_score
FROM tf2 JOIN gs ON tf2.g = gs.g
GROUP BY tf2.doc_id
""")
def q_doc_lm2_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram conditional LM quality score — the next rung above
    ``doc_lm_score`` on the CCNet/KenLM ladder: per-document mean
    negative log of the add-one-smoothed conditional ``p(w2 | w1) =
    (c(w1 w2) + 1) / (c(w1 ·) + V)`` (V = successor vocabulary), i.e. a
    distributed bigram perplexity proxy. Fluent text scores low,
    shuffled-word or rare-pair soup scores high — a sharper curation
    signal than unigram rarity because it sees word *order*.

    Plan: ONE shingle pass builds the per-doc bigram tf relation
    (persisted); the corpus bigram model ``c2`` and its prefix
    marginals ``c1`` are successive partial-aggregated rollups of it —
    no second scan, no position joins; V is a one-row broadcast cross.
    The model tables are vocabulary-scale metadata, so their joins
    shuffle digest-sized keys, never the corpus. Determinism is the
    ``doc_lm_score`` recipe: per-gram -ln p rounded to 6 dp as DECIMAL,
    exact decimal·int sums, one final IEEE divide + round per row."""
    docs = load_table(spark, sf_dir, "documents")
    bi = gram_rows(fan_out(docs), "text", 2, id_col="doc_id")
    tf2 = (bi.groupBy("doc_id", "g")
           .agg(F.count(F.lit(1)).alias("tf"))
           .persist(StorageLevel.MEMORY_AND_DISK))
    c2 = tf2.groupBy("g").agg(F.sum("tf").cast("bigint").alias("c2"))
    w1 = F.element_at(F.split(F.col("g"), " "), 1)
    w2 = F.element_at(F.split(F.col("g"), " "), 2)
    c1 = (c2.groupBy(w1.alias("w1"))
          .agg(F.sum("c2").cast("bigint").alias("c1")))
    v = c2.agg(F.countDistinct(w2).cast("bigint").alias("v"))
    nll = r6(
        F.log((F.col("c1") + F.col("v")).cast("double")
              / (F.col("c2") + F.lit(1)))).cast("decimal(25,6)")
    gs = (c2.withColumn("w1", w1).join(c1, "w1")
          .crossJoin(F.broadcast(v))
          .select("g", nll.alias("nll")))
    return (tf2.join(gs, "g")
            .groupBy("doc_id")
            .agg(F.sum("tf").cast("bigint").alias("n_bi"),
                 r6(
                     F.sum(F.col("nll") * F.col("tf")).cast("double")
                     / F.sum("tf").cast("bigint")).alias("lm2_score")))


# ---------------------------------------------------------------------------
# Point-in-time (PIT) enrichment against SCD2 versions
# ---------------------------------------------------------------------------

@query("events_pit_enrich", """
WITH ordered AS (
  SELECT user_id, event_type, ts,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events),
v AS (
  SELECT user_id, event_type AS state, ts AS valid_from
  FROM ordered
  WHERE prev_type IS NULL OR event_type <> prev_type),
pe AS (SELECT event_id, user_id, ts FROM events
       WHERE event_type = 'purchase'),
m AS (
  SELECT pe.event_id, pe.user_id, pe.ts, max(v.valid_from) AS vf
  FROM pe JOIN v ON v.user_id = pe.user_id AND v.valid_from <= pe.ts
  GROUP BY 1, 2, 3)
SELECT m.event_id, m.user_id, m.ts,
       max(v.state) AS state_at_event,
       m.vf AS state_since
FROM m JOIN v ON v.user_id = m.user_id AND v.valid_from = m.vf
GROUP BY 1, 2, 3, 5
""")
def q_events_pit_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME enrichment — the feature-store join: every
    purchase event is labeled with the SCD2 state version *in effect at
    its own timestamp* (never a later one — the leakage a naive
    latest-value join commits, training on knowledge from the future).
    Versions come from the ``scd2_user_state_intervals`` construction;
    the PIT lookup is :func:`operators.asof_join.asof_join` on
    ``valid_from`` — the single-shuffle union-window plan, so the whole
    enrichment is ONE keyed exchange, not a range join per event. Ties
    at identical (user, valid_from) resolve to the greatest state in
    both engines."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    versions = (ev.select("user_id", "event_type", "ts", "event_id")
                .withColumn("prev_type", F.lag("event_type").over(w))
                .where(F.col("prev_type").isNull()
                       | (F.col("event_type") != F.col("prev_type")))
                .select("user_id",
                        F.col("event_type").alias("state"),
                        F.col("ts").alias("valid_from")))
    pe = (ev.where(F.col("event_type") == "purchase")
          .select("user_id", "event_id", "ts"))
    out = asof_join(pe, versions, on="user_id",
                    left_ts="ts", right_ts="valid_from",
                    tiebreak="state")
    return out.select("event_id", "user_id", "ts",
                      F.col("r_state").alias("state_at_event"),
                      F.col("r_valid_from").alias("state_since"))


# ---------------------------------------------------------------------------
# End-to-end curation capstone (round 13)
# ---------------------------------------------------------------------------

# The capstone oracle replays the production chain end to end; its CTE
# stages reuse the canonical SQL twins (sql_lsh fragments, the gram
# pipeline, the cluster-split gate, the packing window) so each stage's
# arithmetic is the exact fragment its standalone oracle pins.
# The capstone's contaminated-spike re-key offset. A fixed constant
# aliases silently once a corpus carries doc_ids at or past it
# (ADVICE r13) — ``_check_spike_offset`` makes the scale assumption
# fail LOUD at query entry instead; a bigger corpus raises the offset
# here and the oracle follows (the SQL embeds the same constant).
SPIKE_OFFSET = 10_000_000


def _check_spike_offset(docs: DataFrame) -> None:
    """Refuse to re-key spike docs into an id range the corpus already
    occupies: one column-pruned max() over doc_id (stat-read class — a
    lake table answers it from footer metadata). Raises ValueError so
    a 10 M+-doc corpus stops the capstone instead of silently aliasing
    spike ids onto real documents and diverging from the oracle."""
    mx = docs.agg(F.max("doc_id").alias("mx")).first()["mx"]
    if mx is not None and int(mx) >= SPIKE_OFFSET:
        raise ValueError(
            f"max(doc_id) = {mx} >= spike re-key offset {SPIKE_OFFSET}"
            f" — re-keyed eval spikes would collide with real doc_ids;"
            f" raise SPIKE_OFFSET past the corpus id range")


def _curation_capstone_sql() -> str:
    # NULLSAFE tokenizer (ADVICE r13): the Spark side's normalize()
    # maps NULL text to '', so the oracle's toks/grams CTEs must too —
    # a NULL-text document otherwise diverges the two sides.
    return f"""
WITH RECURSIVE {NULLSAFE_SHINGLES_CTE},
grams AS (
  SELECT DISTINCT doc_id, md5(array_to_string(w[i:i+4], ' ')) AS h
  FROM toks, UNNEST(range(1, greatest(len(w) - 4, 0) + 1)) AS t(i)),
bench AS (SELECT DISTINCT h FROM grams WHERE doc_id % 20 = 0),
arr AS (SELECT doc_id, source, doc_id AS gid FROM documents
        WHERE doc_id % 10 = 5
        UNION ALL
        SELECT doc_id + {SPIKE_OFFSET} AS doc_id, source, doc_id AS gid
        FROM documents WHERE doc_id % 100 = 0
          AND doc_id IN (SELECT doc_id FROM grams)),
scr AS (SELECT a.doc_id, count(g.h) AS n_g, count(b.h) AS n_hit
        FROM arr a
        LEFT JOIN grams g ON g.doc_id = a.gid
        LEFT JOIN bench b ON g.h = b.h
        GROUP BY a.doc_id),
screened AS (SELECT doc_id FROM scr
             WHERE n_g > 0
               AND round(CAST(n_hit AS DOUBLE) / n_g, 6) > 0.05),
admitted AS (SELECT doc_id FROM arr
             WHERE doc_id NOT IN (SELECT doc_id FROM screened)),
hashed AS (SELECT doc_id, {DIGEST_COLS} FROM sh),
sig AS (SELECT doc_id, {SIG_COLS} FROM hashed GROUP BY doc_id),
bands AS ({BAND_SELECTS}),
idx AS (SELECT doc_id, band, h FROM (
          SELECT doc_id, band, h,
                 count(*) OVER (PARTITION BY band, h) AS bsz
          FROM bands WHERE doc_id % 20 <> 0 AND doc_id % 10 <> 5) t
        WHERE bsz <= {DEFAULT_LSH_BUCKET_CAP}),
prb AS (SELECT doc_id, band, h FROM bands
        WHERE doc_id IN (SELECT doc_id FROM admitted)),
cand AS (SELECT DISTINCT p.doc_id AS new_id, i.doc_id AS old_id
         FROM prb p JOIN idx i ON p.band = i.band AND p.h = i.h),
d AS (SELECT DISTINCT doc_id, shingle FROM sh),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM d GROUP BY doc_id),
inter AS (SELECT c.new_id, c.old_id, count(*) AS inter
          FROM cand c
          JOIN d a ON a.doc_id = c.new_id
          JOIN d b ON b.doc_id = c.old_id AND b.shingle = a.shingle
          GROUP BY 1, 2),
dup AS (SELECT DISTINCT i.new_id AS doc_id
        FROM inter i
        JOIN sizes na ON na.doc_id = i.new_id
        JOIN sizes nb ON nb.doc_id = i.old_id
        WHERE i.inter / (na.n_sh + nb.n_sh - i.inter) >= 0.5),
uniq AS (SELECT doc_id FROM admitted
         WHERE doc_id NOT IN (SELECT doc_id FROM dup)),
stand AS (SELECT doc_id, source FROM documents
          WHERE doc_id % 20 <> 0 AND doc_id % 10 <> 5),
stot AS (SELECT g.doc_id, count(*) AS n_g FROM grams g
         WHERE g.doc_id IN (SELECT doc_id FROM stand)
         GROUP BY g.doc_id),
shit AS (SELECT g.doc_id, count(*) AS n_hit
         FROM grams g JOIN bench b ON g.h = b.h
         WHERE g.doc_id IN (SELECT doc_id FROM stand)
         GROUP BY g.doc_id),
flag AS (SELECT s.doc_id FROM shit s JOIN stot t ON s.doc_id = t.doc_id
         WHERE round(CAST(s.n_hit AS DOUBLE) / t.n_g, 6) > 0.05),
fin AS (SELECT doc_id FROM stand
        WHERE doc_id NOT IN (SELECT doc_id FROM flag)
        UNION ALL SELECT doc_id FROM uniq),
fbands AS (SELECT doc_id, band, h FROM bands
           WHERE doc_id IN (SELECT doc_id FROM fin)),
fcapped AS (SELECT doc_id, band, h FROM (
              SELECT doc_id, band, h,
                     count(*) OVER (PARTITION BY band, h) AS bsz
              FROM fbands) t
            WHERE bsz <= {DEFAULT_LSH_BUCKET_CAP}),
fpairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM fcapped a JOIN fcapped b
             ON a.band = b.band AND a.h = b.h
           WHERE a.doc_id < b.doc_id),
und AS (SELECT id_a AS s, id_b AS t FROM fpairs
        UNION ALL SELECT id_b AS s, id_a AS t FROM fpairs),
reach AS (SELECT s, s AS t FROM (SELECT DISTINCT s FROM und) n
          UNION
          SELECT r.s, u.t FROM reach r JOIN und u ON u.s = r.t),
cl AS (SELECT s AS doc_id, min(t) AS cluster_id FROM reach GROUP BY s),
splits AS (
  SELECT f.doc_id, dd.source,
         CASE WHEN substr(md5('9#' || CAST(coalesce(cl.cluster_id,
                                                    f.doc_id)
                                           AS VARCHAR)), 1, 4) < '0ccc'
              THEN 'val' ELSE 'train' END AS split
  FROM fin f
  JOIN documents dd ON dd.doc_id = f.doc_id
  LEFT JOIN cl ON cl.doc_id = f.doc_id),
ptoks AS (SELECT s.doc_id, s.source,
                 len(regexp_extract_all(dd.text, '{BPE_TOKEN_RE}'))
                   AS n_tok
          FROM splits s JOIN documents dd ON dd.doc_id = s.doc_id
          WHERE s.split = 'train'),
packed AS (SELECT source, n_tok,
                  sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum
           FROM ptoks),
binstats AS (SELECT source,
                    count(DISTINCT (cum - n_tok) // 256) AS n_bins,
                    sum(n_tok) AS train_tokens
             FROM packed GROUP BY source),
acand AS (SELECT source, count(*) AS n FROM arr GROUP BY source),
ascr AS (SELECT a.source, count(*) AS n FROM screened s
         JOIN arr a ON a.doc_id = s.doc_id GROUP BY a.source),
adup AS (SELECT a.source, count(*) AS n FROM dup u
         JOIN arr a ON a.doc_id = u.doc_id GROUP BY a.source),
adec AS (SELECT st.source, count(*) AS n FROM flag f
         JOIN stand st ON st.doc_id = f.doc_id GROUP BY st.source),
asplit AS (SELECT source,
                  sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
                    AS n_train,
                  sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END)
                    AS n_val
           FROM splits GROUP BY source),
srcs AS (SELECT DISTINCT source FROM arr
         UNION SELECT DISTINCT source FROM stand)
SELECT s.source AS source,
       CAST(coalesce(ac.n, 0) AS BIGINT) AS n_candidates,
       CAST(coalesce(sc.n, 0) AS BIGINT) AS n_screened_out,
       CAST(coalesce(du.n, 0) AS BIGINT) AS n_dup_dropped,
       CAST(coalesce(de.n, 0) AS BIGINT) AS n_decontaminated,
       CAST(coalesce(sp.n_train, 0) AS BIGINT) AS n_train,
       CAST(coalesce(sp.n_val, 0) AS BIGINT) AS n_val,
       CAST(coalesce(b.n_bins, 0) AS BIGINT) AS n_bins,
       CAST(coalesce(b.train_tokens, 0) AS BIGINT) AS train_tokens
FROM srcs s
LEFT JOIN asplit sp ON sp.source = s.source
LEFT JOIN acand ac ON ac.source = s.source
LEFT JOIN ascr sc ON sc.source = s.source
LEFT JOIN adup du ON du.source = s.source
LEFT JOIN adec de ON de.source = s.source
LEFT JOIN binstats b ON b.source = s.source
"""


@query("curation_pipeline_e2e", _curation_capstone_sql())
def q_curation_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END curation capstone (round 13 — VERDICT r12 missing
    #4): the production training-data chain composed over ONE doc set,
    so the stage-to-stage COLUMN CONTRACTS are driver-checked as a
    chain instead of only stage by stage:

    1. **ingest screen** — arriving candidates (doc_id ≡ 5 mod 10)
       gate against the standing eval gram set
       (``contamination_screen``; its real-stream twin is
       driver-adjudicated standalone as ``stream_contamination_screen``
       — here the batch transform keeps the chain's lineage
       oracle-replayable); flagged candidates never enter;
    2. **saved-LSH dedup probe** — admitted docs probe the standing
       corpus's persisted capped buckets (``lsh_index_build`` /
       ``lsh_index_probe``), candidates exact-Jaccard-verify at ≥ 0.5
       and near-dups of existing docs drop (the
       ``dedup_lsh_probe_saved`` stage);
    3. **decontaminate** — the standing corpus itself audits against
       the same eval grams through the saved gram index
       (``text_index_gram_probe``) and flagged docs drop (the
       ``decontaminate_corpus_saved`` stage — the screen only ever
       ruled on arrivals);
    4. **cluster-aware split** — the FINAL corpus (clean standing +
       unique admitted) splits by near-dup cluster
       (``lsh_candidate_pairs`` → ``connected_components``, group-hash
       gate) so no near-dup pair crosses train/val;
    5. **sequence packing** — the train split packs per source in
       deterministic doc_id order at a 256-token capacity
       (``sequence_packing_bins``'s keyed window).

    Deliverable: ONE per-source lineage report — candidates arrived,
    screened out, dup-dropped, standing docs decontaminated, final
    train/val doc counts, packed bin count and train token mass. Every
    stage contributes a column, so a doc mis-routed ANYWHERE in the
    chain moves the value hash. Scale: each stage keeps its standalone
    plan shape (broadcast eval grams, saved-index probe bounded by the
    batch, audit-hit-bounded decontamination broadcast, CC on capped
    candidate pairs only, packing a keyed window) — no stage
    introduces a corpus self-join or a global sort."""
    # release the PREVIOUS curation-family invocation's decision-set
    # persists (VERDICT r14 wrong #3 — bounded cache churn in a
    # long-lived session); this invocation re-registers its own below
    release_tracked_persists()
    docs = load_table(spark, sf_dir, "documents")
    # the eval gram set gates BOTH the ingest screen and the
    # decontamination audit — MB-sized by the benchmark contract, so
    # persist one materialization across the stages
    bench = _tracked_persist(
        gram_digest_set(docs.where(F.col("doc_id") % 20 == 0)))
    # The candidate batch carries a CONTAMINATED SPIKE: eval docs
    # re-keyed as new candidates (the leak a screen exists to stop —
    # and the canary that guarantees the screen arm FIRES at every
    # SF; the testdata's organic near-dups never straddle the
    # arrival/bench slices at sf0.01).
    # gram-BEARING eval docs only: a <5-word eval doc has no grams,
    # its spike would pass the screen clean and reach the later
    # stages, where the oracle's re-keyed id (absent from documents)
    # and the Spark side's carried text diverge — the spike must be
    # contaminated by construction (contamination = 1.0, screened)
    _check_spike_offset(docs)
    spike = (docs.where(F.col("doc_id") % 100 == 0)
             .where(F.size(words("text")) >= 5)
             .select((F.col("doc_id") + F.lit(SPIKE_OFFSET))
                     .alias("doc_id"), "source", "text"))
    # the arrival batch feeds the screen, the dedup probe, and three
    # per-source accounting joins — batch-sized, persist it once
    arrivals = _tracked_persist(
        docs.where(F.col("doc_id") % 10 == 5)
        .select("doc_id", "source", "text")
        .unionByName(spike))
    standing = docs.where((F.col("doc_id") % 20 != 0)
                          & (F.col("doc_id") % 10 != 5))

    # both standing indexes (the LSH dedup buckets and the gram audit
    # postings) depend only on the standing slice — build them up
    # front, overlapped from driver threads (disjoint roots;
    # guide §2.6), instead of serializing one inside each stage
    base = os.path.basename(os.path.normpath(sf_dir))
    root = default_index_root()
    lpath = tracked_index_path(spark, root, "caplsh_" + base)
    gpath = tracked_index_path(spark, root, "capgix_" + base)
    lidx, gidx = overlap([
        lambda: lsh_index_build(standing, lpath),
        lambda: text_index_build(standing, gpath, token_mode="ngram",
                                 ngram_n=5),
    ])

    # stage 1 — ingest screen: flagged candidates never enter. Each
    # stage's drop set is batch/hit-bounded and consumed twice (the
    # next stage's anti-join and its accounting column) — persist
    # them so no accounting column replays the upstream chain (r14).
    scr = contamination_screen(arrivals.select("doc_id", "text"),
                               bench, ngram_n=5)
    screened = _tracked_persist(
        scr.where(F.col("flagged")).select("doc_id"))
    admitted = arrivals.join(F.broadcast(screened), "doc_id",
                             "left_anti")

    # stage 2 — saved-LSH dedup probe + exact-Jaccard verify; the
    # verify shingles only docs that appear in candidate pairs (one
    # broadcast semi-join per pair side), never the %20-slice corpus
    # (r14 — results unchanged: jac joins on cand anyway)
    cand = _tracked_persist(lsh_index_probe(admitted, lidx))
    probed_docs = docs.where(F.col("doc_id") % 20 != 0)
    cand_pids = cand.select(F.col("probe_id").alias("doc_id")).distinct()
    cand_iids = cand.select(F.col("index_id").alias("doc_id")).distinct()
    a = (shingle_sets(
        probed_docs.join(F.broadcast(cand_pids), "doc_id", "left_semi"),
        "doc_id", "text")
         .select(F.col("doc_id").alias("probe_id"),
                 F.col("sh_set").alias("set_a"),
                 F.size("sh_set").alias("n_a")))
    b = (shingle_sets(
        probed_docs.join(F.broadcast(cand_iids), "doc_id", "left_semi"),
        "doc_id", "text")
         .select(F.col("doc_id").alias("index_id"),
                 F.col("sh_set").alias("set_b"),
                 F.size("sh_set").alias("n_b")))
    jac = (cand.join(a, "probe_id").join(b, "index_id")
           .withColumn("inter",
                       F.size(F.array_intersect("set_a", "set_b")))
           .where(F.col("inter")
                  / (F.col("n_a") + F.col("n_b") - F.col("inter"))
                  >= 0.5))
    dup = _tracked_persist(
        jac.select(F.col("probe_id").alias("doc_id")).distinct())
    uniq = admitted.join(F.broadcast(dup), "doc_id", "left_anti")

    # stage 3 — decontaminate the standing corpus via the saved grams
    flagged = _tracked_persist(
        text_index_gram_probe(gidx, bench, threshold=0.05)
        .where(F.col("flagged")).select("doc_id"))
    clean = standing.join(F.broadcast(flagged), "doc_id", "left_anti")

    # stage 4 — cluster-aware split over the final corpus
    final = _tracked_persist(
        clean.select("doc_id", "source", "text")
        .unionByName(uniq.select("doc_id", "source", "text")))
    sig = minhash_signature(final, "doc_id", "text")
    pairs = lsh_candidate_pairs(sig, "doc_id")
    cc = connected_components(pairs).select(
        F.col("id").alias("doc_id"), F.col("component"))
    group = F.coalesce(F.col("component"), F.col("doc_id"))
    gate = F.substring(
        F.md5(F.concat(F.lit("9#"), group.cast("string"))), 1, 4)
    splits = (final.join(cc, "doc_id", "left")
              .select("doc_id", "source", "text",
                      F.when(gate < "0ccc", F.lit("val"))
                      .otherwise(F.lit("train")).alias("split")))

    # stage 5 + report — ONE pass over the splits lineage (round 15,
    # VERDICT r14 next #4: asplit and binstats each re-evaluated the
    # final⋈CC subtree; the packing window moves to partitionBy
    # (source, split) — its train partitions are identical to the old
    # train-only partitionBy(source) window, and val rows carry NULL
    # bins that count_distinct ignores — so split counts, bin count,
    # and token mass come out of one aggregate over one evaluation).
    w = (Window.partitionBy("source", "split").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    is_train = F.col("split") == "train"
    packed = (splits.select(
        "doc_id", "source", "split",
        F.when(is_train, token_count("text")).otherwise(F.lit(0))
        .alias("n_tok"))
        .withColumn("bin", F.when(is_train, F.floor(
            (F.sum("n_tok").over(w) - F.col("n_tok")) / 256))))
    asplit = packed.groupBy("source").agg(
        F.sum(F.when(is_train, 1).otherwise(0)).alias("n_train"),
        F.sum(F.when(~is_train, 1).otherwise(0)).alias("n_val"),
        F.count_distinct("bin").alias("n_bins"),
        F.sum(F.when(is_train, F.col("n_tok"))).alias("train_tokens"))

    # arrival-side accounting — the screened/dup memberships attach to
    # the persisted arrival batch as broadcast flags, so candidates,
    # screen-outs and dup-drops come from ONE aggregate instead of
    # three join+agg subtrees (both drop sets are ⊆ arrivals by
    # construction, so the left joins cannot fan out or lose rows)
    amarks = (arrivals.select("doc_id", "source")
              .join(F.broadcast(screened.withColumn("_scr", F.lit(1))),
                    "doc_id", "left")
              .join(F.broadcast(dup.withColumn("_dup", F.lit(1))),
                    "doc_id", "left"))
    acand = amarks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum("_scr").alias("n_screened_out"),
        F.sum("_dup").alias("n_dup_dropped"))
    adec = (flagged.join(standing.select("doc_id", "source"), "doc_id")
            .groupBy("source").agg(
                F.count(F.lit(1)).alias("n_decontaminated")))
    # drive the report from every source that ENTERED the pipeline —
    # a source whose docs were all screened/dropped still reports,
    # with zero survivors (the asplit-driven shape silently lost it)
    srcs = (arrivals.select("source")
            .unionByName(standing.select("source")).distinct())
    out = (srcs
           .join(F.broadcast(asplit), "source", "left")
           .join(F.broadcast(acand), "source", "left")
           .join(F.broadcast(adec), "source", "left"))
    z = F.lit(0)
    return out.select(
        "source",
        F.coalesce("n_candidates", z).cast("bigint")
        .alias("n_candidates"),
        F.coalesce("n_screened_out", z).cast("bigint")
        .alias("n_screened_out"),
        F.coalesce("n_dup_dropped", z).cast("bigint")
        .alias("n_dup_dropped"),
        F.coalesce("n_decontaminated", z).cast("bigint")
        .alias("n_decontaminated"),
        F.coalesce("n_train", z).cast("bigint").alias("n_train"),
        F.coalesce("n_val", z).cast("bigint").alias("n_val"),
        F.coalesce("n_bins", z).cast("bigint").alias("n_bins"),
        F.coalesce("train_tokens", z).cast("bigint")
        .alias("train_tokens"))


# ---------------------------------------------------------------------------
# Lexical + SEMANTIC curation chain (round 14)
# ---------------------------------------------------------------------------

# The semantic spike re-keys standing docs' VECTORS as new arrivals
# above the lexical spike's range (disjoint by the `_check_spike_offset`
# guard: real ids < SPIKE_OFFSET ≤ gram spikes < SEM_SPIKE_OFFSET ≤
# semantic spikes) with a synthesized one-word text — so it passes the
# gram screen (zero 5-grams) and the lexical dedup (singleton unique
# shingle) but is an exact-cosine semantic dup of its source doc: the
# canary that guarantees the semantic arm FIRES at every SF.
SEM_SPIKE_OFFSET = 2 * SPIKE_OFFSET
SEM_DUP_THRESHOLD = 0.95


def curation_semantic_ctes() -> str:
    """Shared WITH-chain of the lexical+semantic ingest oracle — from
    tokenization through the per-source accounting CTEs (`srcs` last,
    no trailing comma); `_curation_semantic_sql` appends the batch
    report tail and the streaming twin appends its own (with the
    post-stream index-membership column). The SRP stage replays
    the saved index's banding bit-for-bit (the deterministic plane
    literals of `functions.vectors.srp_planes` — the proven
    `bitext_margin_mine` twin) over the standing slice, probe-caps the
    arrival side like `srp_index_probe`, and exact-cosine-verifies the
    bucket candidates at the drop threshold."""
    def srp_bands(src: str) -> str:
        return "\nUNION ALL\n".join(
            f"SELECT vec_id, v, {b} AS band, "
            + srp_bucket_sql("v", srp_planes(64, DEFAULT_BITS,
                                             DEFAULT_SEED + b))
            + f" AS h FROM {src}"
            for b in range(DEFAULT_BANDS))

    abands = BAND_SELECTS.replace("FROM sig", "FROM asig")

    return f"""
WITH {NULLSAFE_SHINGLES_CTE},
grams AS (
  SELECT DISTINCT doc_id, md5(array_to_string(w[i:i+4], ' ')) AS h
  FROM toks, UNNEST(range(1, greatest(len(w) - 4, 0) + 1)) AS t(i)),
bench AS (SELECT DISTINCT h FROM grams WHERE doc_id % 20 = 0),
arr AS (SELECT doc_id, source, doc_id AS gid, 'org' AS kind
        FROM documents WHERE doc_id % 10 = 5
        UNION ALL
        SELECT doc_id + {SPIKE_OFFSET}, source, doc_id, 'gsp'
        FROM documents WHERE doc_id % 100 = 0
          AND doc_id IN (SELECT doc_id FROM grams)
        UNION ALL
        SELECT doc_id + {SEM_SPIKE_OFFSET}, source, doc_id, 'sem'
        FROM documents
        WHERE doc_id % 100 = 7 AND doc_id % 20 <> 0
          AND doc_id % 10 <> 5),
scr AS (SELECT a.doc_id, count(g.h) AS n_g, count(b.h) AS n_hit
        FROM arr a
        LEFT JOIN grams g ON g.doc_id = a.gid AND a.kind <> 'sem'
        LEFT JOIN bench b ON g.h = b.h
        GROUP BY a.doc_id),
screened AS (SELECT doc_id FROM scr
             WHERE n_g > 0
               AND round(CAST(n_hit AS DOUBLE) / n_g, 6) > 0.05),
admitted AS (SELECT doc_id FROM arr
             WHERE doc_id NOT IN (SELECT doc_id FROM screened)),
ash AS (SELECT a.doc_id, s.shingle
        FROM arr a JOIN sh s ON s.doc_id = a.gid
        WHERE a.kind <> 'sem'
        UNION ALL
        SELECT doc_id, 'pp-' || CAST(gid AS VARCHAR)
        FROM arr WHERE kind = 'sem'),
ahashed AS (SELECT doc_id, {DIGEST_COLS} FROM ash),
asig AS (SELECT doc_id, {SIG_COLS} FROM ahashed GROUP BY doc_id),
abands AS ({abands}),
hashed AS (SELECT doc_id, {DIGEST_COLS} FROM sh
           WHERE doc_id % 20 <> 0 AND doc_id % 10 <> 5),
sig AS (SELECT doc_id, {SIG_COLS} FROM hashed GROUP BY doc_id),
bands AS ({BAND_SELECTS}),
idx AS (SELECT doc_id, band, h FROM (
          SELECT doc_id, band, h,
                 count(*) OVER (PARTITION BY band, h) AS bsz
          FROM bands) t
        WHERE bsz <= {DEFAULT_LSH_BUCKET_CAP}),
prb AS (SELECT doc_id, band, h FROM abands
        WHERE doc_id IN (SELECT doc_id FROM admitted)),
cand AS (SELECT DISTINCT p.doc_id AS new_id, i.doc_id AS old_id
         FROM prb p JOIN idx i ON p.band = i.band AND p.h = i.h),
ad AS (SELECT DISTINCT doc_id, shingle FROM ash),
sd AS (SELECT DISTINCT doc_id, shingle FROM sh
       WHERE doc_id % 20 <> 0 AND doc_id % 10 <> 5),
na AS (SELECT doc_id, count(*) AS n_sh FROM ad GROUP BY doc_id),
nb AS (SELECT doc_id, count(*) AS n_sh FROM sd GROUP BY doc_id),
inter AS (SELECT c.new_id, c.old_id, count(*) AS inter
          FROM cand c
          JOIN ad a ON a.doc_id = c.new_id
          JOIN sd b ON b.doc_id = c.old_id AND b.shingle = a.shingle
          GROUP BY 1, 2),
dup AS (SELECT DISTINCT i.new_id AS doc_id
        FROM inter i
        JOIN na ON na.doc_id = i.new_id
        JOIN nb ON nb.doc_id = i.old_id
        WHERE i.inter / (na.n_sh + nb.n_sh - i.inter) >= 0.5),
uniq AS (SELECT doc_id FROM admitted
         WHERE doc_id NOT IN (SELECT doc_id FROM dup)),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[],
                                   embedding::DOUBLE[])) AS nrm
      FROM embeddings),
se AS (SELECT vec_id, v, nrm FROM e
       WHERE vec_id % 20 <> 0 AND vec_id % 10 <> 5),
sbanded AS ({srp_bands('se')}),
sidx AS (SELECT vec_id, band, h FROM (
           SELECT vec_id, band, h,
                  count(*) OVER (PARTITION BY band, h) AS bsz
           FROM sbanded) t
         WHERE bsz <= {DEFAULT_BUCKET_CAP}),
qe AS (SELECT u.doc_id AS vec_id, e.v, e.nrm
       FROM uniq u
       JOIN arr a ON a.doc_id = u.doc_id
       JOIN e ON e.vec_id = a.gid),
qbanded AS ({srp_bands('qe')}),
qcap AS (SELECT vec_id, band, h FROM (
           SELECT vec_id, band, h,
                  count(*) OVER (PARTITION BY band, h) AS bsz
           FROM qbanded) t
         WHERE bsz <= {DEFAULT_BUCKET_CAP}),
scand AS (SELECT DISTINCT q.vec_id AS probe_id, i.vec_id AS index_id
          FROM qcap q JOIN sidx i ON q.band = i.band AND q.h = i.h),
scos AS (SELECT c.probe_id,
                round(list_dot_product(qv.v, iv.v)
                      / (qv.nrm * iv.nrm), 6) AS cos_sim
         FROM scand c
         JOIN qe qv ON qv.vec_id = c.probe_id
         JOIN se iv ON iv.vec_id = c.index_id),
semdup AS (SELECT DISTINCT probe_id AS doc_id FROM scos
           WHERE cos_sim >= {SEM_DUP_THRESHOLD}),
fin AS (SELECT doc_id FROM uniq
        WHERE doc_id NOT IN (SELECT doc_id FROM semdup)),
acand AS (SELECT source, count(*) AS n FROM arr GROUP BY source),
ascr AS (SELECT a.source, count(*) AS n FROM screened s
         JOIN arr a ON a.doc_id = s.doc_id GROUP BY a.source),
adup AS (SELECT a.source, count(*) AS n FROM dup u
         JOIN arr a ON a.doc_id = u.doc_id GROUP BY a.source),
asem AS (SELECT a.source, count(*) AS n FROM semdup u
         JOIN arr a ON a.doc_id = u.doc_id GROUP BY a.source),
aadm AS (SELECT a.source, count(*) AS n FROM fin f
         JOIN arr a ON a.doc_id = f.doc_id GROUP BY a.source),
srcs AS (SELECT DISTINCT source FROM arr)"""


def _curation_semantic_sql() -> str:
    return f"""{curation_semantic_ctes()}
SELECT s.source AS source,
       CAST(coalesce(ac.n, 0) AS BIGINT) AS n_candidates,
       CAST(coalesce(sc.n, 0) AS BIGINT) AS n_screened_out,
       CAST(coalesce(du.n, 0) AS BIGINT) AS n_dup_dropped,
       CAST(coalesce(se2.n, 0) AS BIGINT) AS n_semdup_dropped,
       CAST(coalesce(am.n, 0) AS BIGINT) AS n_admitted
FROM srcs s
LEFT JOIN acand ac ON ac.source = s.source
LEFT JOIN ascr sc ON sc.source = s.source
LEFT JOIN adup du ON du.source = s.source
LEFT JOIN asem se2 ON se2.source = s.source
LEFT JOIN aadm am ON am.source = s.source
"""


def curation_fixtures(spark: SparkSession, sf_dir: str) -> dict:
    """Shared fixtures of the lexical+semantic ingest chain (batch and
    streaming twins): the persisted eval gram set, the arrival batch
    (organic + contaminated gram spike + semantic vector spike, each
    carrying its ``gid`` source-doc mapping), and the standing
    corpus/vector slices. ``bench`` and ``arrivals`` come back
    PERSISTED (each feeds several stages)."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    _check_spike_offset(docs)
    bench = _tracked_persist(
        gram_digest_set(docs.where(F.col("doc_id") % 20 == 0)))
    organic = (docs.where(F.col("doc_id") % 10 == 5)
               .select("doc_id", "source", "text",
                       F.col("doc_id").alias("gid")))
    gram_spike = (docs.where(F.col("doc_id") % 100 == 0)
                  .where(F.size(words("text")) >= 5)
                  .select((F.col("doc_id") + F.lit(SPIKE_OFFSET))
                          .alias("doc_id"), "source", "text",
                          F.col("doc_id").alias("gid")))
    sem_spike = (docs.where((F.col("doc_id") % 100 == 7)
                            & (F.col("doc_id") % 20 != 0)
                            & (F.col("doc_id") % 10 != 5))
                 .select((F.col("doc_id") + F.lit(SEM_SPIKE_OFFSET))
                         .alias("doc_id"), "source",
                         F.concat(F.lit("pp-"),
                                  F.col("doc_id").cast("string"))
                         .alias("text"),
                         F.col("doc_id").alias("gid")))
    arrivals = _tracked_persist(
        organic.unionByName(gram_spike).unionByName(sem_spike))
    return {
        "docs": docs,
        "emb": emb,
        "bench": bench,
        "arrivals": arrivals,
        "standing": docs.where((F.col("doc_id") % 20 != 0)
                               & (F.col("doc_id") % 10 != 5)),
        "emb_standing": emb.where((F.col("vec_id") % 20 != 0)
                                  & (F.col("vec_id") % 10 != 5)),
    }


@query("curation_pipeline_semantic", _curation_semantic_sql())
def q_curation_pipeline_semantic(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Lexical + SEMANTIC curation chain (round 14 — VERDICT r13
    missing #2: the e2e capstone's dedup is lexical-only, while a real
    trainer also drops SemDeDup-style semantic near-dups — paraphrases
    and re-encodings that share no shingles but sit on top of each
    other in embedding space): the ingest half of the capstone with a
    semantic stage composed after the lexical one, over ONE arrival
    batch:

    1. **gram screen** — arrivals gate against the standing eval gram
       set (`contamination_screen`); the contaminated gram spike never
       enters;
    2. **lexical dedup** — admitted docs probe the standing corpus's
       SAVED LSH buckets (`lsh_index_probe`), candidates exact-Jaccard
       verify at ≥ 0.5;
    3. **semantic dedup** — surviving docs probe the standing corpus's
       SAVED SRP index (`srp_index_probe` — the embedding tier's
       candidate generator: banded hyperplane buckets, both sides
       capped) and candidates exact-COSINE verify at ≥ 0.95; the
       semantic spike (a re-keyed standing VECTOR under a synthesized
       one-word text) sails through stages 1–2 and drops HERE — the
       arm provably fires at every SF.

    Report: ``(source, n_candidates, n_screened_out, n_dup_dropped,
    n_semdup_dropped, n_admitted)`` — each stage contributes its own
    column, so a doc mis-routed anywhere moves the value hash. Scale:
    the eval grams broadcast, both saved-index probes are bounded by
    the batch (bucket caps on BOTH sides of each candidate join), the
    exact verifies run on candidate pairs only — no stage touches the
    corpus beyond the two index builds, and no all-pairs stage exists.
    The IVF2 retrieval tier stays the top-k serving surface
    (`decontaminate_all_tiers_saved`); candidate GENERATION for dedup
    is the banded tier's job."""
    # release the previous curation-family invocation's persists
    # (VERDICT r14 wrong #3) before the fixtures register this one's
    release_tracked_persists()
    fx = curation_fixtures(spark, sf_dir)
    bench, arrivals = fx["bench"], fx["arrivals"]
    emb, standing = fx["emb"], fx["standing"]
    emb_standing = fx["emb_standing"]

    # both standing indexes depend only on the fixtures — build them
    # up front, overlapped from driver threads (disjoint roots,
    # different sources; guide §2.6), instead of serializing each
    # build inside its stage
    base = os.path.basename(os.path.normpath(sf_dir))
    root = default_index_root()
    lpath = tracked_index_path(spark, root, "semlsh_" + base)
    spath = tracked_index_path(spark, root, "semsrp_" + base)
    lidx, sidx = overlap([
        lambda: lsh_index_build(standing, lpath),
        lambda: srp_index_build(emb_standing, spath, dim=64),
    ])

    # stage 1 — gram screen. The flagged set is batch-bounded and
    # consumed twice (the admission anti-join and the per-source
    # accounting) — persist it so the screen chain runs once; same
    # for each later stage's drop set (r14: the unpersisted sets made
    # every accounting column replay the whole upstream chain).
    scr = contamination_screen(arrivals.select("doc_id", "text"),
                               bench, ngram_n=5)
    screened = _tracked_persist(
        scr.where(F.col("flagged")).select("doc_id"))
    admitted = arrivals.join(F.broadcast(screened), "doc_id",
                             "left_anti")

    # stage 2 — saved-LSH lexical dedup (exact-Jaccard verified).
    # The exact verify shingles only the docs that appear in candidate
    # pairs (a broadcast semi-join on each side of the pair relation),
    # never the whole standing corpus — candidate-bounded like the
    # probe itself (r14; results unchanged: jac joins on cand anyway).
    cand = _tracked_persist(
        lsh_index_probe(admitted.select("doc_id", "text"), lidx))
    psets = (shingle_sets(admitted, "doc_id", "text")
             .select(F.col("doc_id").alias("probe_id"),
                     F.col("sh_set").alias("set_a"),
                     F.size("sh_set").alias("n_a")))
    cand_iids = (cand.select(F.col("index_id").alias("doc_id"))
                 .distinct())
    isets = (shingle_sets(
        standing.join(F.broadcast(cand_iids), "doc_id", "left_semi"),
        "doc_id", "text")
             .select(F.col("doc_id").alias("index_id"),
                     F.col("sh_set").alias("set_b"),
                     F.size("sh_set").alias("n_b")))
    jac = (cand.join(psets, "probe_id").join(isets, "index_id")
           .withColumn("inter",
                       F.size(F.array_intersect("set_a", "set_b")))
           .where(F.col("inter")
                  / (F.col("n_a") + F.col("n_b") - F.col("inter"))
                  >= 0.5))
    dup = _tracked_persist(
        jac.select(F.col("probe_id").alias("doc_id")).distinct())
    uniq = admitted.join(F.broadcast(dup), "doc_id", "left_anti")

    # stage 3 — saved-SRP semantic dedup (exact-cosine verified; the
    # index-side norms are computed for candidate vectors only — the
    # same bounding as the lexical verify)
    qvec = _tracked_persist(
        uniq.select("doc_id", "gid")
        .join(emb.select(F.col("vec_id").alias("gid"), "embedding"),
              "gid")
        .select(F.col("doc_id").alias("vec_id"), "embedding"))
    scand = _tracked_persist(srp_index_probe(qvec, sidx))
    qv = qvec.select(F.col("vec_id").alias("probe_id"),
                     as_double("embedding").alias("va"))
    qv = qv.select("probe_id", "va", l2_norm(F.col("va")).alias("na"))
    scand_iids = (scand.select(F.col("index_id").alias("vec_id"))
                  .distinct())
    iv = (emb_standing
          .join(F.broadcast(scand_iids), "vec_id", "left_semi")
          .select(F.col("vec_id").alias("index_id"),
                  as_double("embedding").alias("vb")))
    iv = iv.select("index_id", "vb", l2_norm(F.col("vb")).alias("nb"))
    scos = (scand.join(qv, "probe_id").join(iv, "index_id")
            .select("probe_id",
                    F.round(dot(F.col("va"), F.col("vb"))
                            / (F.col("na") * F.col("nb")), 6)
                    .alias("cos_sim")))
    semdup = _tracked_persist(
        scos.where(F.col("cos_sim") >= SEM_DUP_THRESHOLD)
        .select(F.col("probe_id").alias("doc_id")).distinct())
    # per-source lineage report — ONE aggregate over the persisted
    # arrival batch with the three drop sets attached as broadcast
    # flags (round 15, the e2e fusion applied here: five join+agg
    # subtrees collapse into one; the sets are DISJOINT subsets of
    # arrivals by construction — each stage drops from the previous
    # stage's survivors — so admitted = no flag set, exactly `fin`)
    amarks = (arrivals.select("doc_id", "source")
              .join(F.broadcast(screened.withColumn("_scr", F.lit(1))),
                    "doc_id", "left")
              .join(F.broadcast(dup.withColumn("_dup", F.lit(1))),
                    "doc_id", "left")
              .join(F.broadcast(semdup.withColumn("_sem", F.lit(1))),
                    "doc_id", "left"))
    acc = amarks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum("_scr").alias("n_screened_out"),
        F.sum("_dup").alias("n_dup_dropped"),
        F.sum("_sem").alias("n_semdup_dropped"),
        F.sum(F.when(F.col("_scr").isNull() & F.col("_dup").isNull()
                     & F.col("_sem").isNull(), 1)).alias("n_admitted"))
    srcs = arrivals.select("source").distinct()
    out = srcs.join(F.broadcast(acc), "source", "left")
    z = F.lit(0)
    return out.select(
        "source",
        F.coalesce("n_candidates", z).cast("bigint")
        .alias("n_candidates"),
        F.coalesce("n_screened_out", z).cast("bigint")
        .alias("n_screened_out"),
        F.coalesce("n_dup_dropped", z).cast("bigint")
        .alias("n_dup_dropped"),
        F.coalesce("n_semdup_dropped", z).cast("bigint")
        .alias("n_semdup_dropped"),
        F.coalesce("n_admitted", z).cast("bigint")
        .alias("n_admitted"))
