"""Deterministic-sampling query surface (operators/sampling.py): the
oracle reproduces the exact sampled row set with the same md5 gate,
proving the sample is a pure function of (seed, id) — not an
engine-dependent rand() stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from left_join_on_timeout_spark.functions.text import (
    quality_score,
    token_count,
)
from left_join_on_timeout_spark.operators.sampling import (
    hash_sample,
    sample_gate,
    stratified_sample,
)
from left_join_on_timeout_spark.queries_text import QUALITY_SQL
from left_join_on_timeout_spark.registry import query
from left_join_on_timeout_spark.sources.tables import load_table


@query("sample_uniform_events", """
SELECT event_id, user_id
FROM events
WHERE substr(md5('42#' || CAST(event_id AS VARCHAR)), 1, 4) < '1999'
""")
def q_sample_uniform_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% uniform deterministic sample of events (threshold 0x1999 =
    floor(0.1 * 16^4)); the gate is a scan-pushed string predicate, no
    shuffle, no rand()."""
    events = load_table(spark, sf_dir, "events")
    return hash_sample(events, "event_id", 0.1).select(
        "event_id", "user_id")


_N_TOKENS = "len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))"


@query("sequence_packing_bins", f"""
WITH toks AS (
  SELECT doc_id, source, {_N_TOKENS} AS n_tok FROM documents),
packed AS (
  SELECT source, n_tok,
         sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM toks)
SELECT source,
       CAST((cum - n_tok) // 256 AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens
FROM packed
GROUP BY source, (cum - n_tok) // 256
""")
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing: concatenate each source shard's docs
    in deterministic (doc_id) order and split at a 256-token capacity —
    a doc starting inside bin k belongs to bin k (GPT-style packing
    with document spillover). Per-bin occupancy stats. The running sum
    is a *keyed* window (partitioned by source), so packing
    parallelizes across shards — exactly how a 1000-executor packing
    job would run, one shard per task, no global sort."""
    docs = load_table(spark, sf_dir, "documents")
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    toks = docs.select(
        "doc_id", "source", token_count("text").alias("n_tok"))
    packed = toks.withColumn(
        "bin", F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / 256))
    return (packed.groupBy("source", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens")))


def quality_gate(docs: DataFrame) -> DataFrame:
    """The quality-tiered curation cut as a stateless transform (shared
    by the batch query and its streaming twin): keep every high-quality
    doc, hash-sample 50% of the middle tier, 10% of the tail."""
    q = docs.select(
        "doc_id", "lang", "source",
        F.round(quality_score("text"), 6).alias("quality"))
    gate50 = sample_gate("doc_id", 0.5)
    gate10 = sample_gate("doc_id", 0.1)
    tier = (F.when(F.col("quality") >= 0.9, "keep")
            .when(F.col("quality") >= 0.75, "half")
            .otherwise("tail"))
    return (q.withColumn("tier", tier)
            .where((F.col("quality") >= 0.9)
                   | ((F.col("quality") >= 0.75) & gate50)
                   | ((F.col("quality") < 0.75) & gate10)))


QUALITY_GATE_SQL = """
WITH q AS (
  SELECT doc_id, lang, source,
    round((
      0.3 * least(CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS DOUBLE) / 100.0, 1.0)
    + 0.3 * greatest(0.0, 1.0 - 4.0 * (len(regexp_extract_all(text, '[^\\w\\s]')) / greatest(length(text), 1)))
    + 0.2 * least(3.0 * CAST(len(regexp_extract_all(trim(lower(text)), '\\b(the|a|an|and|or|of|to|in|is|it)\\b')) AS DOUBLE)
                  / greatest(CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS DOUBLE), 1.0), 1.0)
    + 0.2 * (CASE WHEN (length(regexp_replace(trim(lower(text)), '\\s+', '', 'g'))
                        / greatest(len(regexp_split_to_array(trim(lower(text)), '\\s+')), 1)) BETWEEN 3.0 AND 10.0
                  THEN 1.0 ELSE 0.5 END)
    ), 6) AS quality
  FROM documents)
SELECT doc_id, lang, source, quality,
       CASE WHEN quality >= 0.9 THEN 'keep'
            WHEN quality >= 0.75 THEN 'half'
            ELSE 'tail' END AS tier
FROM q
WHERE quality >= 0.9
   OR (quality >= 0.75 AND
       substr(md5('42#' || CAST(doc_id AS VARCHAR)), 1, 4) < '8000')
   OR (quality < 0.75 AND
       substr(md5('42#' || CAST(doc_id AS VARCHAR)), 1, 4) < '1999')
"""


@query("quality_gated_sample", QUALITY_GATE_SQL)
def q_quality_gated_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-tiered downsampling — the standard pretraining curation
    cut (see :func:`quality_gate`). The tier comes from the
    6-dp-rounded quality score (both engines agree at the thresholds)
    and the gate is the same deterministic md5 predicate as
    ``hash_sample``, pushed to the scan; rerunning yields the identical
    corpus."""
    return quality_gate(load_table(spark, sf_dir, "documents"))


@query("sample_stratified_docs", """
SELECT doc_id, lang, source
FROM documents
WHERE lang = 'zh'
   OR substr(md5('42#' || CAST(doc_id AS VARCHAR)), 1, 4) <
      CASE WHEN lang = 'en' THEN '4000'
           WHEN lang = 'de' THEN 'c000'
           ELSE '8000' END
""")
def q_sample_stratified_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rebalancing: downsample dominant English to 25%, keep 75%
    of German, all of rare Chinese, 50% of everything else — one CASE
    threshold per row, deterministic across engines and re-runs."""
    docs = load_table(spark, sf_dir, "documents")
    out = stratified_sample(
        docs, id_col="doc_id", strata_col="lang",
        rates={"en": 0.25, "de": 0.75, "zh": 1.0},
        default_rate=0.5)
    return out.select("doc_id", "lang", "source")


@query("weighted_sample_docs", f"""
WITH q AS (
  SELECT doc_id, source, round({QUALITY_SQL}, 6) AS w FROM documents),
keyed AS (
  SELECT doc_id, source, w,
         round(ln((CAST('0x' || substr(md5('es#' || CAST(doc_id AS VARCHAR)),
                                       1, 8) AS BIGINT) + 0.5)
                  / 4294967296.0) / w, 6) AS es_key
  FROM q)
SELECT doc_id, source, w, es_key
FROM keyed
ORDER BY es_key DESC, doc_id
LIMIT 100
""")
def q_weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, quality-proportional: the
    Efraimidis–Spirakis one-pass scheme — per doc draw u ~ U(0,1) and
    keep the k largest u^(1/w) (ranked here by the monotone-equivalent
    ln(u)/w). Inclusion probability follows the weight exactly, the
    whole draw is one scan plus a distributed TakeOrdered top-k (no
    global sort), and — because u comes from the md5 hash gate rather
    than rand() — the sample is a pure function of (seed, id):
    reproducible across retries, partitionings, and engines, which is
    what lets the oracle verify the exact row set. The ES key is
    rounded to 6 dp before ranking (libm ln() isn't bit-specified
    across engines) with doc_id as tiebreak, the same discipline as
    TF-IDF's idf ranking."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.round(quality_score("text"), 6)
    u_int = F.conv(F.substring(
        F.md5(F.concat(F.lit("es#"), F.col("doc_id").cast("string"))),
        1, 8), 16, 10).cast("double")
    es_key = F.round(
        F.log((u_int + F.lit(0.5)) / F.lit(4294967296.0)) / w, 6)
    keyed = docs.select("doc_id", "source", w.alias("w"),
                        es_key.alias("es_key"))
    return keyed.orderBy(F.desc("es_key"), F.asc("doc_id")).limit(100)


# ---------------------------------------------------------------------------
# Neyman-allocation stratified sampling
# ---------------------------------------------------------------------------


@query("neyman_allocation_sample", f"""
WITH q AS (
  SELECT doc_id, source,
         CAST(round({QUALITY_SQL}, 3) AS DECIMAL(12,3)) AS q3
  FROM documents),
st AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(q3) AS DOUBLE) AS s1,
         CAST(sum(q3 * q3) AS DOUBLE) AS s2
  FROM q GROUP BY source),
sd AS (
  SELECT source, n_docs, s1, s2,
         CAST(floor(n_docs * sqrt((s2 - s1 * s1 / n_docs)
                                  / (n_docs - 1)) * 1000000.0) AS BIGINT)
           AS wq
  FROM st),
tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
               CAST(sum(wq) AS BIGINT) AS denom
        FROM sd),
alloc AS (
  SELECT s.source, s.n_docs, s.s1, s.s2, s.wq, t.n_total, t.denom,
         least(1.0, 0.25 * t.n_total * s.wq / t.denom / s.n_docs) AS rate
  FROM sd s, tot t)
SELECT a.source,
       a.n_docs,
       floor(sqrt((a.s2 - a.s1 * a.s1 / a.n_docs) / (a.n_docs - 1))
             * 1000000.0) / 1000000.0 AS sd_quality,
       floor(a.rate * 1000000.0) / 1000000.0 AS alloc_rate,
       CAST(sum(CASE WHEN a.rate >= 1.0
                       OR substr(md5('57#' || CAST(d.doc_id AS VARCHAR)),
                                 1, 8)
                          < printf('%08x',
                                   CAST(floor(a.rate * 4294967296.0)
                                        AS BIGINT))
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM alloc a JOIN documents d ON d.source = a.source
GROUP BY 1, 2, 3, 4
""")
def q_neyman_allocation_sample(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Neyman-allocation stratified sampling: the statistically optimal
    split of a fixed sample budget (25% of the corpus) across strata —
    allocation ∝ N_h·σ_h, so volatile-quality sources get
    proportionally MORE budget than uniform ones at equal size (the
    variance-minimizing estimator for a stratified mean, vs
    ``sample_stratified_docs``'s fixed per-stratum rates and
    ``source_mix_temperature``'s count-only weights). Per source:
    size, quality σ, the allocated keep-rate, and the realized sample
    count under the deterministic md5 gate.

    Determinism: σ comes from exact DECIMAL power sums of the 3-dp
    quality — 3 dp, not 6, because Spark caps a DECIMAL product's scale
    at 6 where DuckDB keeps all 12: squares of 3-dp decimals (6 dp) are
    the widest that stay EXACT in both engines; the allocation weight N_h·σ_h floor-quantizes to bigint
    micro-units so the Σ-denominator is exact integer addition (order-
    free); the rate is then one left-to-right IEEE chain mirrored
    textually in both engines, and the gate threshold renders it as
    fixed-width hex (the ``source_mix_temperature`` mechanism). All
    reported stats floor-quantize — no round() ties anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    q3 = F.round(quality_score("text"), 3).cast("decimal(12,3)")
    st = (docs.select("doc_id", "source", q3.alias("q3"))
          .groupBy("source")
          .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
               F.sum("q3").cast("double").alias("s1"),
               F.sum(F.col("q3") * F.col("q3")).cast("double")
               .alias("s2")))
    sd_expr = F.sqrt((F.col("s2") - F.col("s1") * F.col("s1")
                      / F.col("n_docs")) / (F.col("n_docs") - 1))
    sd = st.withColumn(
        "wq", F.floor(F.col("n_docs") * sd_expr * 1000000.0)
        .cast("bigint"))
    tot = sd.agg(F.sum("n_docs").cast("bigint").alias("n_total"),
                 F.sum("wq").cast("bigint").alias("denom"))
    rate = F.least(
        F.lit(1.0),
        F.lit(0.25) * F.col("n_total") * F.col("wq")
        / F.col("denom") / F.col("n_docs"))
    alloc = (sd.crossJoin(F.broadcast(tot))
             .withColumn("rate", rate))
    gate = (F.col("rate") >= 1.0) | (
        F.substring(F.md5(F.concat(F.lit("57#"),
                                   F.col("doc_id").cast("string"))),
                    1, 8)
        < F.format_string(
            "%08x",
            F.floor(F.col("rate") * F.lit(4294967296.0)).cast("long")))
    qfl = lambda c: F.floor(c * 1000000.0) / 1000000.0
    return (docs.join(F.broadcast(alloc), "source")
            .groupBy("source", "n_docs",
                     qfl(sd_expr).alias("sd_quality"),
                     qfl(F.col("rate")).alias("alloc_rate"))
            .agg(F.sum(F.when(gate, 1).otherwise(0)).cast("bigint")
                 .alias("n_sampled")))


# ---------------------------------------------------------------------------
# Poisson bootstrap: distribution-free CI for the corpus mean quality
# ---------------------------------------------------------------------------

_BOOT_B = 50
# cumulative Poisson(1) CDF at k = 0..6, rendered as 8-hex md5 thresholds
_POIS_THR = ["5e2d58d8", "bc5ab1b1", "eb715e1d", "fb239797",
             "ff1025f5", "ffd90f3b", "fffa8b71"]


def _pois_w_sql(u: str) -> str:
    arms = "\n         ".join(
        f"WHEN {u} < '{t}' THEN {k}" for k, t in enumerate(_POIS_THR))
    return f"(CASE {arms} ELSE 7 END)"


@query("bootstrap_mean_quality", f"""
WITH q AS (
  SELECT doc_id, CAST(round({{_Q}}, 3) AS DECIMAL(12,3)) AS q3
  FROM documents),
rep AS (
  SELECT q.doc_id, q.q3, CAST(t.b AS INT) AS b,
         substr(md5(CAST(t.b AS VARCHAR) || '#'
                    || CAST(q.doc_id AS VARCHAR)), 1, 8) AS u8
  FROM q, UNNEST(range(0, {_BOOT_B})) AS t(b)),
w AS (SELECT b, q3, {_pois_w_sql('u8')} AS w FROM rep),
means AS (
  SELECT b,
         floor(CAST(sum(w * q3) AS DOUBLE) / sum(w) * 1000000.0)
           / 1000000.0 AS m
  FROM w GROUP BY b HAVING sum(w) > 0),
ranked AS (
  SELECT m, row_number() OVER (ORDER BY m, b) AS rnk,
         count(*) OVER () AS nb
  FROM means),
pt AS (SELECT floor(CAST(sum(q3) AS DOUBLE) / count(*) * 1000000.0)
                / 1000000.0 AS point
       FROM q)
SELECT (SELECT point FROM pt) AS mean_quality,
       (SELECT m FROM ranked
        WHERE rnk = CAST(ceil(0.025 * nb) AS BIGINT)) AS ci_lo,
       (SELECT m FROM ranked
        WHERE rnk = CAST(ceil(0.975 * nb) AS BIGINT)) AS ci_hi,
       CAST((SELECT max(nb) FROM ranked) AS BIGINT) AS n_replicas
""".replace("{_Q}", QUALITY_SQL))
def q_bootstrap_mean_quality(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Poisson bootstrap (the distributed bootstrap: per replica, each
    row enters w ~ Poisson(1) times — no sampling-with-replacement
    shuffle, no per-replica scan): a 95% confidence interval for the
    corpus mean quality from {_BOOT_B} replicas. The weight is the
    Poisson(1) inverse-CDF applied to the row's deterministic md5
    uniform, so the CDF breakpoints become fixed 8-hex string
    thresholds — every replica is reproducible across engines, retries,
    and partitionings, and the whole resampling is ONE map-side CASE
    per (replica, row) followed by a {_BOOT_B}-group aggregate. At
    100 TB the replica fan-out is a constant ×{_BOOT_B} on map output
    feeding partial aggregation — the shuffle itself carries only
    {_BOOT_B} rows of decimal partials. Replica means use exact
    decimal·int sums; means and the point estimate floor-quantize; the
    CI bounds are exact order statistics (rank ⌈0.025·B⌉ / ⌈0.975·B⌉,
    replica-id tiebreak)."""
    docs = load_table(spark, sf_dir, "documents")
    q3 = F.round(quality_score("text"), 3).cast("decimal(12,3)")
    q = docs.select("doc_id", q3.alias("q3"))
    rep = q.select(
        "doc_id", "q3",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"))
    u8 = F.substring(
        F.md5(F.concat(F.col("b").cast("string"), F.lit("#"),
                       F.col("doc_id").cast("string"))), 1, 8)
    w = F.lit(7)
    for k in range(len(_POIS_THR) - 1, -1, -1):
        w = F.when(u8 < _POIS_THR[k], F.lit(k)).otherwise(w)
    qfl = lambda c: F.floor(c * 1000000.0) / 1000000.0
    means = (rep.withColumn("w", w)
             .groupBy("b")
             .agg(F.sum(F.col("w") * F.col("q3")).alias("swq"),
                  F.sum("w").alias("sw"))
             .where(F.col("sw") > 0)
             .select("b", qfl(F.col("swq").cast("double")
                              / F.col("sw")).alias("m")))
    wr = Window.orderBy("m", "b")
    ranked = (means.withColumn("rnk", F.row_number().over(wr))
              .crossJoin(F.broadcast(
                  means.agg(F.count(F.lit(1)).alias("nb")))))
    lo = (ranked.where(F.col("rnk")
                       == F.ceil(0.025 * F.col("nb")).cast("bigint"))
          .select(F.col("m").alias("ci_lo")))
    hi = (ranked.where(F.col("rnk")
                       == F.ceil(0.975 * F.col("nb")).cast("bigint"))
          .select(F.col("m").alias("ci_hi")))
    nb = ranked.agg(F.max("nb").cast("bigint").alias("n_replicas"))
    pt = q.agg(qfl(F.sum("q3").cast("double") / F.count(F.lit(1)))
               .alias("mean_quality"))
    return (pt.crossJoin(F.broadcast(lo))
            .crossJoin(F.broadcast(hi))
            .crossJoin(F.broadcast(nb)))
