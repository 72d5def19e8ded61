"""Dedup queries over the documents table, with generated DuckDB-oracle
twins. The md5-string MinHash family makes signatures engine-portable, so
even the LSH pipeline is oracle-checked end to end (SURVEY.md §2.2
extensions)."""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from left_join_on_timeout_spark.functions.text import n_words, quality_score
from left_join_on_timeout_spark.operators.components import (
    connected_components,
)
from left_join_on_timeout_spark.operators.dedup import (
    DEFAULT_K,
    DEFAULT_LSH_BUCKET_CAP,
    edit_distance_near_dups,
    exact_dedup_groups,
    jaccard_pairs,
    lsh_candidate_pairs,
    lsh_probe_pairs,
    lsh_verified_near_dups,
    minhash_signature,
    prefix_filter_containment_pairs,
    prefix_filter_jaccard_pairs,
    shingle_sets,
    simhash16,
    simhash_hamming_pairs,
    with_minhash,
)
from left_join_on_timeout_spark.operators.index_store import default_index_root
from left_join_on_timeout_spark.operators.lsh_index import (
    lsh_index_build,
    lsh_index_probe,
)
from left_join_on_timeout_spark.operators.ranking import global_rank
from left_join_on_timeout_spark.queries_text import QUALITY_SQL
from left_join_on_timeout_spark.registry import query
from left_join_on_timeout_spark.sources.tables import load_table
from left_join_on_timeout_spark.sql_lsh import (
    BAND_SELECTS,
    DIGEST_COLS,
    SHINGLES_CTE,
    SIG_COLS,
)
from left_join_on_timeout_spark.sql_lsh import WORDS_SQL as _WORDS


@query("dedup_exact", """
SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS digest,
       min(doc_id) AS keep_id,
       count(*) AS n
FROM documents
GROUP BY 1
""")
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-aggregate on a normalized digest (the shuffle
    carries 32-byte digests, not documents)."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup_groups(docs, "doc_id", "text")


@query("dedup_minhash_lsh", f"""
WITH {SHINGLES_CTE},
hashed AS (SELECT doc_id, {DIGEST_COLS} FROM sh),
sig AS (SELECT doc_id, {SIG_COLS} FROM hashed GROUP BY doc_id),
bands AS ({BAND_SELECTS}),
capped AS (
  SELECT doc_id, band, h FROM (
    SELECT doc_id, band, h,
           count(*) OVER (PARTITION BY band, h) AS bsz
    FROM bands) t
  WHERE bsz <= {DEFAULT_LSH_BUCKET_CAP}
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM capped a JOIN capped b ON a.band = b.band AND a.h = b.h
WHERE a.doc_id < b.doc_id
""")
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash({DEFAULT_K} perms) + LSH({DEFAULT_BANDS} bands) candidate
    pairs — near-dup detection as equi-joins, zero O(n²) stages."""
    docs = load_table(spark, sf_dir, "documents")
    sig = minhash_signature(docs, "doc_id", "text")
    return lsh_candidate_pairs(sig, "doc_id")


# shared candidate CTE tail: minhash sig → bands → capped buckets → pairs
_LSH_PAIRS_CTE = f"""
hashed AS (SELECT doc_id, {{digests}} FROM sh),
sig AS (SELECT doc_id, {{sigs}} FROM hashed GROUP BY doc_id),
bands AS ({{bands}}),
capped AS (
  SELECT doc_id, band, h FROM (
    SELECT doc_id, band, h,
           count(*) OVER (PARTITION BY band, h) AS bsz
    FROM bands) t
  WHERE bsz <= {DEFAULT_LSH_BUCKET_CAP}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM capped a JOIN capped b ON a.band = b.band AND a.h = b.h
  WHERE a.doc_id < b.doc_id
)"""


@query("dedup_lsh_jaccard", f"""
WITH {SHINGLES_CTE},
{_LSH_PAIRS_CTE.format(digests=DIGEST_COLS, sigs=SIG_COLS,
                       bands=BAND_SELECTS)},
d AS (SELECT DISTINCT doc_id, shingle FROM sh),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM d GROUP BY doc_id),
inter AS (
  SELECT p.id_a, p.id_b, count(*) AS inter
  FROM pairs p
  JOIN d a ON a.doc_id = p.id_a
  JOIN d b ON b.doc_id = p.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2)
SELECT id_a, id_b,
       round(inter / (na.n_sh + nb.n_sh - inter), 6) AS jaccard
FROM inter
JOIN sizes na ON na.doc_id = id_a
JOIN sizes nb ON nb.doc_id = id_b
WHERE inter / (na.n_sh + nb.n_sh - inter) >= 0.5
""")
def q_dedup_lsh_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup pipeline composed at its 100 TB shape: MinHash → LSH
    banding → candidates → exact Jaccard ≥ 0.5 verified on candidates
    only (the standalone all-shared-shingle join never runs)."""
    docs = load_table(spark, sf_dir, "documents")
    return lsh_verified_near_dups(docs, "doc_id", "text", threshold=0.5)


_SIMHASH_BITS = ",\n       ".join(
    "CASE WHEN sum(CASE WHEN substr(h, {i}, 1) IN "
    "('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) > 0 "
    "THEN '1' ELSE '0' END AS b{b}".format(i=b + 1, b=b)
    for b in range(16))


@query("dedup_simhash", f"""
WITH toks AS (
  SELECT doc_id, unnest({_WORDS}) AS tok FROM documents),
h AS (SELECT doc_id, md5(tok) AS h FROM toks),
bits AS (SELECT doc_id, {_SIMHASH_BITS} FROM h GROUP BY doc_id)
SELECT doc_id, {' || '.join(f'b{b}' for b in range(16))} AS simhash
FROM bits
""")
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash signature per document; equal signatures = near-dup
    bucket."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash16(docs, "doc_id", "text")


_SIM16 = " || ".join(f"b{b}" for b in range(16))
_HAMMING = " + ".join(
    f"(CASE WHEN substr(sh_a, {i + 1}, 1) <> substr(sh_b, {i + 1}, 1) "
    "THEN 1 ELSE 0 END)"
    for i in range(16))


@query("dedup_simhash_hamming1", f"""
WITH toks AS (
  SELECT doc_id, unnest({_WORDS}) AS tok FROM documents),
h AS (SELECT doc_id, md5(tok) AS h FROM toks),
bits AS (SELECT doc_id, {_SIMHASH_BITS} FROM h GROUP BY doc_id),
sim AS (SELECT doc_id, {_SIM16} AS simhash FROM bits),
slices AS (
  SELECT doc_id, simhash, 0 AS slice, substr(simhash, 1, 8) AS val FROM sim
  UNION ALL
  SELECT doc_id, simhash, 1 AS slice, substr(simhash, 9, 8) AS val FROM sim),
capped AS (
  SELECT doc_id, simhash, slice, val FROM (
    SELECT doc_id, simhash, slice, val,
           count(*) OVER (PARTITION BY slice, val) AS bsz
    FROM slices) t
  WHERE bsz <= {DEFAULT_LSH_BUCKET_CAP}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.simhash AS sh_a, b.simhash AS sh_b
  FROM capped a JOIN capped b ON a.slice = b.slice AND a.val = b.val
  WHERE a.doc_id < b.doc_id)
SELECT id_a, id_b, hamming
FROM (SELECT id_a, id_b, CAST({_HAMMING} AS INT) AS hamming FROM cand) t
WHERE hamming <= 1
""")
def q_dedup_simhash_hamming1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance 1 — pigeonhole
    half-signature banding (an exact-match equi-join per half) generates
    candidates; 16 codegen char-compares verify the distance."""
    docs = load_table(spark, sf_dir, "documents")
    sig = simhash16(docs, "doc_id", "text")
    return simhash_hamming_pairs(sig, "doc_id", max_hamming=1)


@query("dedup_ngram_jaccard", f"""
WITH {SHINGLES_CTE},
d AS (SELECT DISTINCT doc_id, shingle FROM sh),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM d GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM d a JOIN d b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       round(inter / (na.n_sh + nb.n_sh - inter), 6) AS jaccard
FROM inter
JOIN sizes na ON na.doc_id = id_a
JOIN sizes nb ON nb.doc_id = id_b
WHERE inter / (na.n_sh + nb.n_sh - inter) >= 0.5
""")
def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard ≥ 0.5 over shared-shingle candidate pairs."""
    docs = load_table(spark, sf_dir, "documents")
    return jaccard_pairs(docs, "doc_id", "text", threshold=0.5)


@query("dedup_simhash_hamming2", f"""
WITH toks AS (
  SELECT doc_id, unnest({_WORDS}) AS tok FROM documents),
h AS (SELECT doc_id, md5(tok) AS h FROM toks),
bits AS (SELECT doc_id, {_SIMHASH_BITS} FROM h GROUP BY doc_id),
sim AS (SELECT doc_id, {_SIM16} AS simhash FROM bits),
slices AS (
  SELECT doc_id, simhash, 0 AS slice, substr(simhash, 1, 6) AS val FROM sim
  UNION ALL
  SELECT doc_id, simhash, 1 AS slice, substr(simhash, 7, 5) AS val FROM sim
  UNION ALL
  SELECT doc_id, simhash, 2 AS slice, substr(simhash, 12, 5) AS val FROM sim),
capped AS (
  SELECT doc_id, simhash, slice, val FROM (
    SELECT doc_id, simhash, slice, val,
           count(*) OVER (PARTITION BY slice, val) AS bsz
    FROM slices) t
  WHERE bsz <= {DEFAULT_LSH_BUCKET_CAP}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.simhash AS sh_a, b.simhash AS sh_b
  FROM capped a JOIN capped b ON a.slice = b.slice AND a.val = b.val
  WHERE a.doc_id < b.doc_id)
SELECT id_a, id_b, hamming
FROM (SELECT id_a, id_b, CAST({_HAMMING} AS INT) AS hamming FROM cand) t
WHERE hamming <= 2
""")
def q_dedup_simhash_hamming2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance 2 — pigeonhole
    banding with three near-equal slices (6+5+5 bits): any two
    signatures ≤2 bits apart agree exactly on at least one slice, so
    candidates are still equi-join buckets, with the same per-bucket
    cap; recall over Hamming-1 widens without any all-pairs stage."""
    docs = load_table(spark, sf_dir, "documents")
    sig = simhash16(docs, "doc_id", "text")
    return simhash_hamming_pairs(sig, "doc_id", max_hamming=2)


def _hamming_oracle(max_hamming: int) -> str:
    """DuckDB twin of ``simhash_hamming_pairs`` for any distance bound:
    the slice widths replicate the operator's divmod split exactly."""
    n_slices = max_hamming + 1
    base, rem = divmod(16, n_slices)
    widths = [base + (1 if i < rem else 0) for i in range(n_slices)]
    starts = [1 + sum(widths[:i]) for i in range(n_slices)]
    slice_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, simhash, {i} AS slice, "
        f"substr(simhash, {starts[i]}, {widths[i]}) AS val FROM sim"
        for i in range(n_slices))
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({_WORDS}) AS tok FROM documents),
h AS (SELECT doc_id, md5(tok) AS h FROM toks),
bits AS (SELECT doc_id, {_SIMHASH_BITS} FROM h GROUP BY doc_id),
sim AS (SELECT doc_id, {_SIM16} AS simhash FROM bits),
slices AS (
{slice_selects}),
capped AS (
  SELECT doc_id, simhash, slice, val FROM (
    SELECT doc_id, simhash, slice, val,
           count(*) OVER (PARTITION BY slice, val) AS bsz
    FROM slices) t
  WHERE bsz <= {DEFAULT_LSH_BUCKET_CAP}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.simhash AS sh_a, b.simhash AS sh_b
  FROM capped a JOIN capped b ON a.slice = b.slice AND a.val = b.val
  WHERE a.doc_id < b.doc_id)
SELECT id_a, id_b, hamming
FROM (SELECT id_a, id_b, CAST({_HAMMING} AS INT) AS hamming FROM cand) t
WHERE hamming <= {max_hamming}
"""


@query("dedup_simhash_hamming3", _hamming_oracle(3))
def q_dedup_simhash_hamming3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance 3 — four 4-bit
    pigeonhole slices. The honest scale caveat: 4-bit slices have only
    16 possible values, so on a large corpus every bucket hits the cap
    and recall collapses — at 100 TB this distance bound needs a 64-bit
    signature (16-bit SimHash is the oracle-portable demonstrator; the
    slicing/cap/verify plan is signature-width-independent)."""
    docs = load_table(spark, sf_dir, "documents")
    sig = simhash16(docs, "doc_id", "text")
    return simhash_hamming_pairs(sig, "doc_id", max_hamming=3)


@query("dedup_cc_clusters", f"""
WITH RECURSIVE {SHINGLES_CTE},
{_LSH_PAIRS_CTE.format(digests=DIGEST_COLS, sigs=SIG_COLS,
                       bands=BAND_SELECTS)},
und AS (
  SELECT id_a AS s, id_b AS t FROM pairs
  UNION ALL
  SELECT id_b AS s, id_a AS t FROM pairs),
reach AS (
  SELECT s, s AS t FROM (SELECT DISTINCT s FROM und) n
  UNION
  SELECT r.s, u.t FROM reach r JOIN und u ON u.s = r.t)
SELECT s AS doc_id, min(t) AS cluster_id
FROM reach
GROUP BY s
""")
def q_dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-CLUSTER resolution: LSH candidate pairs → hash-min
    connected components (operators/components.py). One row per document
    that appears in any near-dup pair, labelled with the minimum doc_id
    of its transitive cluster — the id a pipeline keeps as the cluster
    representative. The oracle walks the same pair list with a recursive
    transitive-closure CTE (tractable at oracle scale; the Spark side is
    the iterative formulation that survives 100 TB)."""
    docs = load_table(spark, sf_dir, "documents")
    sig = minhash_signature(docs, "doc_id", "text")
    pairs = lsh_candidate_pairs(sig, "doc_id")
    cc = connected_components(pairs)
    return cc.select(F.col("id").alias("doc_id"),
                     F.col("component").alias("cluster_id"))


@query("dedup_keep_canonical", f"""
WITH RECURSIVE {SHINGLES_CTE},
{_LSH_PAIRS_CTE.format(digests=DIGEST_COLS, sigs=SIG_COLS,
                       bands=BAND_SELECTS)},
und AS (
  SELECT id_a AS s, id_b AS t FROM pairs
  UNION ALL
  SELECT id_b AS s, id_a AS t FROM pairs),
reach AS (
  SELECT s, s AS t FROM (SELECT DISTINCT s FROM und) n
  UNION
  SELECT r.s, u.t FROM reach r JOIN und u ON u.s = r.t),
clusters AS (
  SELECT s AS doc_id, min(t) AS cluster_id FROM reach GROUP BY s)
SELECT d.doc_id AS doc_id, d.source AS source
FROM documents d
WHERE NOT EXISTS (
  SELECT 1 FROM clusters c
  WHERE c.doc_id = d.doc_id AND c.cluster_id <> c.doc_id)
""")
def q_dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup *deliverable*: the cleaned corpus. MinHash-LSH pairs →
    connected components → drop every cluster member except the
    minimum-id representative; untouched docs pass through. One
    broadcastable anti-join against the (tiny relative to the corpus)
    non-canonical id list — the full pipeline a 100 TB dedup run
    materializes, not just the cluster labels."""
    docs = load_table(spark, sf_dir, "documents")
    sig = minhash_signature(docs, "doc_id", "text")
    pairs = lsh_candidate_pairs(sig, "doc_id")
    cc = connected_components(pairs)
    drop = (cc.where(F.col("component") != F.col("id"))
            .select(F.col("id").alias("doc_id")))
    return (docs.join(F.broadcast(drop), "doc_id", "left_anti")
            .select("doc_id", "source"))


@query("dedup_edit_distance", f"""
WITH base AS (
  SELECT doc_id, lang,
         substr(regexp_replace(trim(lower(COALESCE(text, ''))),
                               '[^a-z0-9 ]', '', 'g'), 1, 80) AS key
  FROM documents),
bkts AS (
  SELECT doc_id, lang, key,
         CAST(floor(length(key) / 25) AS INT) AS bkt
  FROM base),
capped AS (
  SELECT doc_id, lang, key, bkt FROM (
    SELECT doc_id, lang, key, bkt,
           count(*) OVER (PARTITION BY lang, bkt) AS bsz
    FROM bkts) t
  WHERE bsz <= {DEFAULT_LSH_BUCKET_CAP}),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.key AS key_a, b.key AS key_b
  FROM capped a JOIN capped b
    ON a.lang = b.lang AND b.bkt - a.bkt IN (0, 1)
  WHERE a.bkt < b.bkt OR (a.bkt = b.bkt AND a.doc_id < b.doc_id))
SELECT least(id_a, id_b) AS id_a, greatest(id_a, id_b) AS id_b,
       levenshtein(key_a, key_b) AS dist
FROM cand
WHERE levenshtein(key_a, key_b) <= 5
""")
def q_dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs: (lang, length-bucket) blocking with
    adjacent-bucket probing — exhaustive for dist ≤ 5 because a 5-edit
    pair differs by ≤ 5 chars in key length — then one built-in
    ``levenshtein`` per candidate over an ASCII-normalized 80-char
    prefix. The oracle's within-lang pairing is tractable at oracle
    scale; the Spark side equi-joins on the full (lang, bucket) key."""
    docs = load_table(spark, sf_dir, "documents")
    return edit_distance_near_dups(docs, "doc_id", "text")


# Edit-distance blocking CTEs, renamed e* to compose with the LSH chain
# (which owns toks/sh/capped/pairs) in one WITH clause.
_EDIT_PAIRS_CTE = f"""
ebase AS (
  SELECT doc_id, lang,
         substr(regexp_replace(trim(lower(COALESCE(text, ''))),
                               '[^a-z0-9 ]', '', 'g'), 1, 80) AS key
  FROM documents),
ebkts AS (
  SELECT doc_id, lang, key,
         CAST(floor(length(key) / 25) AS INT) AS bkt
  FROM ebase),
ecapped AS (
  SELECT doc_id, lang, key, bkt FROM (
    SELECT doc_id, lang, key, bkt,
           count(*) OVER (PARTITION BY lang, bkt) AS bsz
    FROM ebkts) t
  WHERE bsz <= {DEFAULT_LSH_BUCKET_CAP}),
epairs AS (
  SELECT least(a.doc_id, b.doc_id) AS id_a,
         greatest(a.doc_id, b.doc_id) AS id_b
  FROM ecapped a JOIN ecapped b
    ON a.lang = b.lang AND b.bkt - a.bkt IN (0, 1)
  WHERE (a.bkt < b.bkt OR (a.bkt = b.bkt AND a.doc_id < b.doc_id))
    AND levenshtein(a.key, b.key) <= 5)"""


@query("dedup_multi_signal_clusters", f"""
WITH RECURSIVE {SHINGLES_CTE},
{_LSH_PAIRS_CTE.format(digests=DIGEST_COLS, sigs=SIG_COLS,
                       bands=BAND_SELECTS)},
{_EDIT_PAIRS_CTE},
allp AS (
  SELECT id_a, id_b FROM pairs
  UNION
  SELECT id_a, id_b FROM epairs),
und AS (
  SELECT id_a AS s, id_b AS t FROM allp
  UNION ALL
  SELECT id_b AS s, id_a AS t FROM allp),
reach AS (
  SELECT s, s AS t FROM (SELECT DISTINCT s FROM und) n
  UNION
  SELECT r.s, u.t FROM reach r JOIN und u ON u.s = r.t)
SELECT s AS doc_id, min(t) AS cluster_id
FROM reach
GROUP BY s
""")
def q_dedup_multi_signal_clusters(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Multi-signal duplicate clustering — the production dedup shape: a
    document pair is an edge if ANY candidate generator fires (MinHash-
    LSH shingle overlap ∪ edit-distance blocking; each generator keeps
    its own caps), and ONE connected-components pass resolves the union
    graph, so a chain like A ≈lsh B ≈edit C lands in one cluster even
    though no single signal connects A to C. Candidate generators stay
    independently bounded equi-joins; the union is a distinct over
    (id, id) edges — composition adds zero quadratic stages. The oracle
    walks the identical union graph with a recursive closure CTE."""
    docs = load_table(spark, sf_dir, "documents")
    sig = minhash_signature(docs, "doc_id", "text")
    lsh = lsh_candidate_pairs(sig, "doc_id").select("id_a", "id_b")
    edit = edit_distance_near_dups(docs, "doc_id", "text") \
        .select("id_a", "id_b")
    edges = lsh.unionAll(edit).distinct()
    cc = connected_components(edges)
    return cc.select(F.col("id").alias("doc_id"),
                     F.col("component").alias("cluster_id"))


@query("dedup_graph_triangles", f"""
WITH {SHINGLES_CTE},
{_LSH_PAIRS_CTE.format(digests=DIGEST_COLS, sigs=SIG_COLS,
                       bands=BAND_SELECTS)},
verts AS (SELECT id_a AS v FROM pairs UNION SELECT id_b AS v FROM pairs),
tri AS (
  SELECT count(*) AS n_triangles
  FROM pairs ab
  JOIN pairs bc ON bc.id_a = ab.id_b
  JOIN pairs ac ON ac.id_a = ab.id_a AND ac.id_b = bc.id_b)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM verts) AS n_vertices,
       (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_edges,
       CAST(tri.n_triangles AS BIGINT) AS n_triangles
FROM tri
""")
def q_dedup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the near-dup candidate graph — the graph-
    analytics pass that separates tight duplicate cliques (dense
    triangles → safe to collapse) from chain-shaped false-positive
    strings (no triangles → review before deleting). Edges are already
    oriented (id_a < id_b), so each triangle a<b<c is counted exactly
    once by the two-join wedge-closing pattern — the standard
    distributed formulation: both joins are equi-joins on vertex ids,
    input bounded by the LSH bucket caps, never corpus-quadratic. The
    candidate edge list is persisted: three self-join sides would
    otherwise plan the whole MinHash pipeline three times
    (ReusedExchange never fires across self-join sides)."""
    docs = load_table(spark, sf_dir, "documents")
    sig = minhash_signature(docs, "doc_id", "text")
    e = (lsh_candidate_pairs(sig, "doc_id").select("id_a", "id_b")
         .persist(StorageLevel.MEMORY_AND_DISK))
    ab = e.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    bc = e.select(F.col("id_a").alias("b"), F.col("id_b").alias("c"))
    ac = e.select(F.col("id_a").alias("a"), F.col("id_b").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"]) \
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    verts = (e.select(F.col("id_a").alias("v"))
             .union(e.select(F.col("id_b").alias("v"))).distinct()
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_vertices")))
    edges = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (verts.crossJoin(F.broadcast(edges))
            .crossJoin(F.broadcast(tri))
            .select("n_vertices", "n_edges", "n_triangles"))


@query("dedup_prefix_jaccard", f"""
WITH {SHINGLES_CTE},
d AS (SELECT DISTINCT doc_id, shingle FROM sh),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM d GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM d a JOIN d b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       round(inter / (na.n_sh + nb.n_sh - inter), 6) AS jaccard
FROM inter
JOIN sizes na ON na.doc_id = id_a
JOIN sizes nb ON nb.doc_id = id_b
WHERE inter / (na.n_sh + nb.n_sh - inter) >= 0.5
""")
def q_dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard ≥ 0.5 near-dup pairs via PREFIX FILTERING — the
    same complete answer as ``dedup_ngram_jaccard`` (identical oracle:
    brute shared-shingle join), produced by joining only prefix tokens
    under a rare-first global order with a length filter. The
    deterministic alternative to LSH when completeness is contractual:
    no missed pairs, candidate volume bounded by rare-token bucket
    sizes instead of banding probabilities
    (operators/dedup.py::prefix_filter_jaccard_pairs)."""
    docs = load_table(spark, sf_dir, "documents")
    return prefix_filter_jaccard_pairs(docs, "doc_id", "text",
                                       threshold=0.5)


# ---------------------------------------------------------------------------
# Incremental-ingest probe: new batch vs standing corpus index
# ---------------------------------------------------------------------------

_INCR_PROBE_ORACLE = f"""
WITH {SHINGLES_CTE},
hashed AS (SELECT doc_id, {DIGEST_COLS} FROM sh),
sig AS (SELECT doc_id, {SIG_COLS} FROM hashed GROUP BY doc_id),
bands AS ({BAND_SELECTS}),
idx AS (
  SELECT doc_id, band, h FROM (
    SELECT doc_id, band, h,
           count(*) OVER (PARTITION BY band, h) AS bsz
    FROM bands WHERE doc_id % 10 != 0) t
  WHERE bsz <= {DEFAULT_LSH_BUCKET_CAP}),
prb AS (SELECT doc_id, band, h FROM bands WHERE doc_id % 10 = 0),
cand AS (
  SELECT DISTINCT p.doc_id AS new_id, i.doc_id AS old_id
  FROM prb p JOIN idx i ON p.band = i.band AND p.h = i.h),
d AS (SELECT DISTINCT doc_id, shingle FROM sh),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM d GROUP BY doc_id),
inter AS (
  SELECT c.new_id, c.old_id, count(*) AS inter
  FROM cand c
  JOIN d a ON a.doc_id = c.new_id
  JOIN d b ON b.doc_id = c.old_id AND b.shingle = a.shingle
  GROUP BY 1, 2),
jac AS (
  SELECT new_id, old_id,
         round(inter / (na.n_sh + nb.n_sh - inter), 6) AS jaccard
  FROM inter
  JOIN sizes na ON na.doc_id = new_id
  JOIN sizes nb ON nb.doc_id = old_id
  WHERE inter / (na.n_sh + nb.n_sh - inter) >= 0.5)
SELECT new_id, old_id, jaccard FROM (
  SELECT new_id, old_id, jaccard,
         row_number() OVER (PARTITION BY new_id
                            ORDER BY jaccard DESC, old_id) AS rn
  FROM jac) t
WHERE rn = 1
"""


@query("dedup_incremental_probe", _INCR_PROBE_ORACLE)
def q_dedup_incremental_probe(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Incremental near-dup screening — the shape a production ingest
    actually runs: a NEW batch of documents (``doc_id % 10 = 0``, the
    arrivals) probes the standing corpus index (the other 90%) for
    near-duplicates, without the corpus ever re-pairing with itself.
    Per new doc: its best existing match (highest exact Jaccard ≥ 0.5,
    smallest old id on ties) or no row if it's genuinely novel.

    Plan: ONE shingle-set pass feeds both splits and both verify sides
    (persisted); signatures are row-local array math; candidates come
    from :func:`operators.dedup.lsh_probe_pairs` (batch bands ⋈ capped
    index buckets — cost scales with the batch, not the corpus); exact
    Jaccard runs only on candidates via ``array_intersect``; the final
    best-match is a per-new-doc window over candidate matches (bounded
    by bands × cap). Nothing re-indexes the standing corpus."""
    docs = load_table(spark, sf_dir, "documents")
    sets = shingle_sets(docs, "doc_id", "text") \
        .persist(StorageLevel.MEMORY_AND_DISK)
    old_sets = sets.where(F.col("doc_id") % 10 != 0)
    new_sets = sets.where(F.col("doc_id") % 10 == 0)
    sig_old = with_minhash(old_sets, "doc_id", DEFAULT_K).drop("sh_set")
    sig_new = with_minhash(new_sets, "doc_id", DEFAULT_K).drop("sh_set")
    cand = (lsh_probe_pairs(sig_old, sig_new, "doc_id")
            .withColumnRenamed("probe_id", "new_id")
            .withColumnRenamed("index_id", "old_id"))
    sized = sets.select("doc_id", "sh_set", F.size("sh_set").alias("n_sh"))
    a = sized.select(F.col("doc_id").alias("new_id"),
                     F.col("sh_set").alias("set_a"),
                     F.col("n_sh").alias("n_a"))
    b = sized.select(F.col("doc_id").alias("old_id"),
                     F.col("sh_set").alias("set_b"),
                     F.col("n_sh").alias("n_b"))
    jac = (cand.join(a, "new_id").join(b, "old_id")
           .withColumn("inter", F.size(F.array_intersect("set_a", "set_b")))
           .withColumn("jaccard",
                       F.col("inter") /
                       (F.col("n_a") + F.col("n_b") - F.col("inter")))
           .where(F.col("jaccard") >= 0.5)
           .select("new_id", "old_id",
                   F.round("jaccard", 6).alias("jaccard")))
    w = Window.partitionBy("new_id").orderBy(F.desc("jaccard"),
                                             F.asc("old_id"))
    return (jac.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .drop("rn"))


# ---------------------------------------------------------------------------
# Cluster-aware train/val split (near-dup leakage-proof)
# ---------------------------------------------------------------------------

@query("cluster_aware_split", f"""
WITH RECURSIVE {SHINGLES_CTE},
{_LSH_PAIRS_CTE.format(digests=DIGEST_COLS, sigs=SIG_COLS,
                       bands=BAND_SELECTS)},
und AS (
  SELECT id_a AS s, id_b AS t FROM pairs
  UNION ALL
  SELECT id_b AS s, id_a AS t FROM pairs),
reach AS (
  SELECT s, s AS t FROM (SELECT DISTINCT s FROM und) n
  UNION
  SELECT r.s, u.t FROM reach r JOIN und u ON u.s = r.t),
cl AS (SELECT s AS doc_id, min(t) AS cluster_id FROM reach GROUP BY s)
SELECT d.doc_id,
       coalesce(cl.cluster_id, d.doc_id) AS group_id,
       CASE WHEN substr(md5('9#' || CAST(coalesce(cl.cluster_id, d.doc_id)
                                         AS VARCHAR)), 1, 4) < '0ccc'
            THEN 'val' ELSE 'train' END AS split
FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id
""")
def q_cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/val split — the rung above
    ``train_val_split_leakproof``: content-fingerprint splitting only
    co-locates *byte-identical* duplicates, but a paraphrased near-dup
    still lands across the split and leaks. Here the split unit is the
    near-dup CLUSTER: LSH candidate pairs → connected components, every
    document inherits its cluster representative as ``group_id``
    (singletons are their own group), and the val gate is a
    deterministic md5 hash of the group — so a near-dup pair crossing
    the split is impossible *by construction*, not just unlikely.

    Plan: the pair/CC machinery is exactly ``dedup_cc_clusters``
    (bucketed equi-joins, large-star/small-star contraction); the split
    itself is one broadcast-sized left join (only docs that appear in
    some pair carry a cluster row) plus row-local hashing. The gate
    hashes the *group*, so membership changes upstream never reshuffle
    unrelated groups between splits."""
    docs = load_table(spark, sf_dir, "documents")
    sig = minhash_signature(docs, "doc_id", "text")
    pairs = lsh_candidate_pairs(sig, "doc_id")
    cc = connected_components(pairs).select(
        F.col("id").alias("doc_id"), F.col("component"))
    base = docs.select("doc_id").join(cc, "doc_id", "left")
    group = F.coalesce(F.col("component"), F.col("doc_id"))
    gate = F.substring(
        F.md5(F.concat(F.lit("9#"), group.cast("string"))), 1, 4)
    return base.select(
        "doc_id",
        group.alias("group_id"),
        F.when(gate < "0ccc", F.lit("val"))
         .otherwise(F.lit("train")).alias("split"))


# ---------------------------------------------------------------------------
# Exact containment join (asymmetric: quote / excerpt detection)
# ---------------------------------------------------------------------------

@query("containment_pairs", f"""
WITH {SHINGLES_CTE},
d AS (SELECT DISTINCT doc_id, md5(shingle) AS h FROM sh),
dfreq AS (SELECT h, count(*) AS df FROM d GROUP BY h),
ord AS (
  SELECT d.doc_id, d.h,
         row_number() OVER (PARTITION BY d.doc_id
                            ORDER BY f.df, d.h) AS pos,
         count(*) OVER (PARTITION BY d.doc_id) AS n_a
  FROM d JOIN dfreq f ON d.h = f.h),
pre AS (
  SELECT doc_id, h, n_a FROM ord
  WHERE pos <= n_a - CAST(ceil(0.8 * n_a) AS BIGINT) + 1),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM d GROUP BY doc_id),
cand AS (
  SELECT DISTINCT p.doc_id AS inner_id, t.doc_id AS outer_id, p.n_a
  FROM pre p JOIN d t ON t.h = p.h AND t.doc_id != p.doc_id),
sized AS (
  SELECT c.inner_id, c.outer_id, c.n_a
  FROM cand c JOIN sizes s ON s.doc_id = c.outer_id
  WHERE s.n_sh >= CAST(ceil(0.8 * c.n_a) AS BIGINT)),
inter AS (
  SELECT c.inner_id, c.outer_id, c.n_a, count(*) AS inter
  FROM sized c
  JOIN d a ON a.doc_id = c.inner_id
  JOIN d b ON b.doc_id = c.outer_id AND b.h = a.h
  GROUP BY 1, 2, 3)
SELECT inner_id, outer_id, round(inter / n_a, 6) AS containment
FROM inter
WHERE inter / n_a >= 0.8
""")
def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-containment join at t = 0.8: every directed pair where
    ≥80% of the inner document's shingles appear in the outer document
    — quotation/excerpt/page-wrap inclusion, the asymmetric duplication
    Jaccard structurally misses (a paragraph quoted in a book has
    Jaccard ≈ 0 but containment ≈ 1). Candidates come from prefix
    filtering on the PROBE side only (rare-first order, complete by the
    pigeonhole argument in
    ``operators/dedup.py::prefix_filter_containment_pairs``); the
    container side is the full postings relation, with a size filter
    pruning impossible containers before the exact
    ``array_intersect`` verify."""
    docs = load_table(spark, sf_dir, "documents")
    return prefix_filter_containment_pairs(docs, "doc_id", "text", 0.8)


# ---------------------------------------------------------------------------
# PageRank over the near-dup candidate graph
# ---------------------------------------------------------------------------

_PR_ITERS = 5
_PR_ITER_CTES = []
_prev = "pr0"
for _i in range(1, _PR_ITERS + 1):
    _PR_ITER_CTES.append(f"""
pr{_i} AS (
  SELECT u.t AS id,
         round(0.15 / (SELECT n FROM n)
               + 0.85 * CAST(sum(CAST(round(p.pr / d.deg, 9)
                                      AS DECIMAL(28,9))) AS DOUBLE), 9) AS pr
  FROM und u JOIN {_prev} p ON p.id = u.s JOIN deg d ON d.s = u.s
  GROUP BY u.t)""")
    _prev = f"pr{_i}"


@query("pagerank_candidates", f"""
WITH {SHINGLES_CTE},
{_LSH_PAIRS_CTE.format(digests=DIGEST_COLS, sigs=SIG_COLS,
                       bands=BAND_SELECTS)},
und AS (
  SELECT id_a AS s, id_b AS t FROM pairs
  UNION ALL
  SELECT id_b AS s, id_a AS t FROM pairs),
deg AS (SELECT s, count(*) AS deg FROM und GROUP BY s),
n AS (SELECT count(*) AS n FROM deg),
pr0 AS (SELECT s AS id, 1.0 / (SELECT n FROM n) AS pr FROM deg),
{",".join(_PR_ITER_CTES)}
SELECT id AS doc_id, round(pr, 6) AS pagerank FROM pr{_PR_ITERS}
""")
def q_pagerank_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, {_PR_ITERS} synchronous iterations) over
    the undirected LSH near-dup candidate graph — the centrality signal
    that ranks *hub* documents inside duplication neighborhoods (a
    boilerplate template touching many clusters outranks a leaf
    replica), complementing ``dedup_graph_triangles``'s density and
    ``dedup_cc_clusters``'s membership. The graph is undirected so no
    dangling-mass term exists (every node has out-degree ≥ 1).

    Plan: the power iteration is the canonical Spark shape — per round,
    one equi-join of the rank vector against the (persisted) edge list
    and one sum-aggregate keyed by destination, with ``localCheckpoint``
    truncating lineage (the ``connected_components`` discipline). Ranks
    and degrees shuffle as (id, double) pairs; the edge relation
    shuffles once when persisted. Iterations are a fixed constant, so
    the oracle unrolls them as CTEs. Determinism: per-edge contributions
    round to 9 dp and sum as DECIMAL (order-free), each new rank rounds
    to 9 dp — both engines iterate bit-identical vectors."""
    docs = load_table(spark, sf_dir, "documents")
    sig = minhash_signature(docs, "doc_id", "text")
    pairs = lsh_candidate_pairs(sig, "doc_id")
    und = (pairs.select(F.col("id_a").alias("s"), F.col("id_b").alias("t"))
           .unionAll(pairs.select(F.col("id_b").alias("s"),
                                  F.col("id_a").alias("t")))
           .persist(StorageLevel.MEMORY_AND_DISK))
    deg = (und.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
           .persist(StorageLevel.MEMORY_AND_DISK))
    n = deg.count()
    pr = deg.select(F.col("s").alias("id"),
                    (F.lit(1.0) / F.lit(n)).alias("pr")).localCheckpoint()
    ed = und.join(deg, "s")  # (s, t, deg) — static across iterations
    for _ in range(_PR_ITERS):
        contrib = F.round(F.col("pr") / F.col("deg"), 9) \
            .cast("decimal(28,9)")
        pr = (ed.join(pr, ed.s == pr.id)
              .select(F.col("t"), contrib.alias("c"))
              .groupBy("t")
              .agg(F.round(F.lit(0.15) / F.lit(n)
                           + F.lit(0.85) * F.sum("c").cast("double"),
                           9).alias("pr"))
              .select(F.col("t").alias("id"), "pr")
              .localCheckpoint())
    return pr.select(F.col("id").alias("doc_id"),
                     F.round("pr", 6).alias("pagerank"))


# ---------------------------------------------------------------------------
# MinHash containment ESTIMATE (the capped screening sibling of
# containment_pairs) with measured estimator error
# ---------------------------------------------------------------------------

_AGREE = " + ".join(
    f"(CASE WHEN a.m{j} = b.m{j} THEN 1 ELSE 0 END)"
    for j in range(DEFAULT_K))


@query("containment_minhash_est", f"""
WITH {SHINGLES_CTE},
{_LSH_PAIRS_CTE.format(digests=DIGEST_COLS, sigs=SIG_COLS,
                       bands=BAND_SELECTS)},
d AS (SELECT DISTINCT doc_id, shingle FROM sh),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM d GROUP BY doc_id),
ag AS (
  SELECT p.id_a, p.id_b, CAST({_AGREE} AS BIGINT) AS k_agree
  FROM pairs p
  JOIN sig a ON a.doc_id = p.id_a
  JOIN sig b ON b.doc_id = p.id_b),
inter AS (
  SELECT p.id_a, p.id_b, CAST(count(*) AS BIGINT) AS inter
  FROM pairs p
  JOIN d a ON a.doc_id = p.id_a
  JOIN d b ON b.doc_id = p.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2)
SELECT g.id_a, g.id_b, g.k_agree,
       round(g.k_agree * (na.n_sh + nb.n_sh)
             / (({DEFAULT_K} + g.k_agree) * na.n_sh), 6) AS c_ab_est,
       round(coalesce(i.inter, 0) / na.n_sh, 6) AS c_ab_exact,
       round(g.k_agree * (na.n_sh + nb.n_sh)
             / (({DEFAULT_K} + g.k_agree) * na.n_sh)
             - coalesce(i.inter, 0) / na.n_sh, 6) AS est_err
FROM ag g
LEFT JOIN inter i ON i.id_a = g.id_a AND i.id_b = g.id_b
JOIN sizes na ON na.doc_id = g.id_a
JOIN sizes nb ON nb.doc_id = g.id_b
""")
def q_containment_minhash_est(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """MinHash containment ESTIMATION — the capped screening sibling of
    the exact ``containment_pairs`` join (whose cost is lower-bounded by
    its own answer on dup-heavy corpora; PLANS.md ‡). For every LSH
    candidate pair, estimate containment from signature agreement alone:
    k agreeing slots of 12 estimate Jaccard k/12, and with known set
    sizes the intersection solves to ``k·(n_a+n_b)/(12+k)``, so
    ``ĉ(A⊂B) = k·(n_a+n_b)/((12+k)·n_a)`` — pure integer arithmetic and
    ONE division, no per-pair set work at all. The query also computes
    the exact containment on the same (capped) candidates and reports
    the signed estimator error per pair — the ``ann_recall_*``
    discipline: the approximation ships with its measured accuracy.

    Plan: candidates from the capped band equi-join; agreement is a
    12-column compare against the signature relation (id-keyed joins,
    signature rows are 12×8 hex chars); the exact-verify join exists
    only for the error column and a screening deployment drops it."""
    docs = load_table(spark, sf_dir, "documents")

    sets = shingle_sets(docs, "doc_id", "text") \
        .persist(StorageLevel.MEMORY_AND_DISK)
    sig = with_minhash(sets, "doc_id", DEFAULT_K).drop("sh_set") \
        .persist(StorageLevel.MEMORY_AND_DISK)
    pairs = lsh_candidate_pairs(sig, "doc_id")
    a = sig.select(F.col("doc_id").alias("id_a"),
                   *[F.col(f"m{j}").alias(f"a{j}")
                     for j in range(DEFAULT_K)])
    b = sig.select(F.col("doc_id").alias("id_b"),
                   *[F.col(f"m{j}").alias(f"b{j}")
                     for j in range(DEFAULT_K)])
    agree = sum(
        (F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
         for j in range(DEFAULT_K)),
        F.lit(0)).cast("bigint")
    ag = (pairs.join(a, "id_a").join(b, "id_b")
          .select("id_a", "id_b", agree.alias("k_agree")))
    sized = sets.select("doc_id", "sh_set", F.size("sh_set").alias("n_sh"))
    sa = sized.select(F.col("doc_id").alias("id_a"),
                      F.col("sh_set").alias("set_a"),
                      F.col("n_sh").alias("n_a"))
    sb = sized.select(F.col("doc_id").alias("id_b"),
                      F.col("sh_set").alias("set_b"),
                      F.col("n_sh").alias("n_b"))
    inter = F.size(F.array_intersect("set_a", "set_b")).cast("bigint")
    est = (F.col("k_agree") * (F.col("n_a") + F.col("n_b"))
           / ((F.lit(DEFAULT_K) + F.col("k_agree")) * F.col("n_a")))
    exact = F.col("inter") / F.col("n_a")
    return (ag.join(sa, "id_a").join(sb, "id_b")
            .withColumn("inter", inter)
            .select("id_a", "id_b", "k_agree",
                    F.round(est, 6).alias("c_ab_est"),
                    F.round(exact, 6).alias("c_ab_exact"),
                    F.round(est - exact, 6).alias("est_err")))


# ---------------------------------------------------------------------------
# Dedup savings report (the curation run's executive summary)
# ---------------------------------------------------------------------------

@query("dedup_savings_report", f"""
WITH RECURSIVE {SHINGLES_CTE},
{_LSH_PAIRS_CTE.format(digests=DIGEST_COLS, sigs=SIG_COLS,
                       bands=BAND_SELECTS)},
und AS (
  SELECT id_a AS s, id_b AS t FROM pairs
  UNION ALL
  SELECT id_b AS s, id_a AS t FROM pairs),
reach AS (
  SELECT s, s AS t FROM (SELECT DISTINCT s FROM und) n
  UNION
  SELECT r.s, u.t FROM reach r JOIN und u ON u.s = r.t),
clusters AS (
  SELECT s AS doc_id, min(t) AS cluster_id FROM reach GROUP BY s),
nw AS (SELECT doc_id,
              CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+'))
                   AS BIGINT) AS n_words,
              md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS digest
       FROM documents),
exact AS (SELECT CAST(sum(cnt - 1) AS BIGINT) AS n_exact_extra
          FROM (SELECT digest, count(*) AS cnt FROM nw GROUP BY digest)),
dropped AS (SELECT doc_id FROM clusters WHERE cluster_id <> doc_id)
SELECT CAST((SELECT count(*) FROM nw) AS BIGINT) AS n_docs,
       (SELECT n_exact_extra FROM exact) AS n_exact_extra,
       CAST((SELECT count(*) FROM dropped) AS BIGINT) AS n_near_removed,
       CAST((SELECT sum(n_words) FROM nw) AS BIGINT) AS words_before,
       CAST((SELECT sum(n_words) FROM nw
             WHERE doc_id NOT IN (SELECT doc_id FROM dropped)) AS BIGINT)
         AS words_after,
       round(CAST((SELECT count(*) FROM dropped) AS DOUBLE)
             / (SELECT count(*) FROM nw), 6) AS doc_removal_frac
""")
def q_dedup_savings_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation run's EXECUTIVE SUMMARY — one row answering "what
    did dedup buy us": corpus size, byte-identical extra copies, docs
    the near-dup pass removes (LSH → CC → non-canonical members), word
    mass before/after, and the removal fraction. Every term reuses the
    pipeline's own relations (exact digests, candidate pairs, cluster
    labels), so the report costs two tiny aggregates on top of machinery
    the run already executed — and its numbers are definitionally
    consistent with ``dedup_exact`` / ``dedup_keep_canonical`` because
    they ARE those queries' aggregates."""
    docs = load_table(spark, sf_dir, "documents")
    nw = docs.select(
        "doc_id",
        n_words("text").cast("bigint").alias("n_words"),
        F.md5(F.regexp_replace(
            F.trim(F.lower(F.coalesce(F.col("text"), F.lit("")))),
            r"\s+", " ")).alias("digest"))
    sig = minhash_signature(docs, "doc_id", "text")
    cc = connected_components(lsh_candidate_pairs(sig, "doc_id"))
    dropped = (cc.where(F.col("component") != F.col("id"))
               .select(F.col("id").alias("doc_id")))
    exact = (nw.groupBy("digest").agg(F.count(F.lit(1)).alias("cnt"))
             .agg(F.sum(F.col("cnt") - 1).cast("bigint")
                  .alias("n_exact_extra")))
    kept = nw.join(F.broadcast(dropped), "doc_id", "left_anti")
    totals = nw.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("words_before"))
    after = kept.agg(F.sum("n_words").cast("bigint").alias("words_after"))
    n_rm = dropped.agg(F.count(F.lit(1)).cast("bigint")
                       .alias("n_near_removed"))
    return (totals.crossJoin(F.broadcast(exact))
            .crossJoin(F.broadcast(n_rm))
            .crossJoin(F.broadcast(after))
            .select("n_docs", "n_exact_extra", "n_near_removed",
                    "words_before", "words_after",
                    F.round(F.col("n_near_removed").cast("double")
                            / F.col("n_docs"), 6)
                    .alias("doc_removal_frac")))


# ---------------------------------------------------------------------------
# Quality ↔ duplication calibration
# ---------------------------------------------------------------------------


@query("quality_dup_calibration", f"""
WITH {SHINGLES_CTE},
{_LSH_PAIRS_CTE.format(digests=DIGEST_COLS, sigs=SIG_COLS,
                       bands=BAND_SELECTS)},
dup AS (SELECT DISTINCT doc_id FROM (
          SELECT id_a AS doc_id FROM pairs
          UNION ALL SELECT id_b AS doc_id FROM pairs)),
q AS (SELECT doc_id, CAST(round({{q}}, 3) AS DECIMAL(12,3)) AS q3
      FROM documents),
ranked AS (
  SELECT doc_id, q3,
         row_number() OVER (ORDER BY q3, doc_id) AS rnk,
         count(*) OVER () AS n
  FROM q)
SELECT CAST((rnk - 1) * 4 // n AS BIGINT) AS quartile,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dup,
       round(CAST(sum(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS dup_frac
FROM ranked r LEFT JOIN dup d ON d.doc_id = r.doc_id
GROUP BY (rnk - 1) * 4 // n
""".replace("{q}", QUALITY_SQL))
def q_quality_dup_calibration(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Cross-signal calibration: does the quality score PREDICT
    near-duplication? Documents split into equi-depth quality quartiles
    (the ``length_equidepth_bins`` rank formula on (quality, doc_id) —
    no ntile ties), each labeled with the fraction of its docs that
    appear in any LSH candidate pair. A flat curve means the two
    signals are independent (dedup and quality filtering both earn
    their cost); a steep one means one signal subsumes the other — the
    measurement that decides whether a pipeline stage is redundant.
    Rank via the distributed ``global_rank`` (range exchange, never a
    single-partition window); dup membership is a broadcast-sized
    distinct-id join."""
    docs = load_table(spark, sf_dir, "documents")
    q3 = F.round(quality_score("text"), 3).cast("decimal(12,3)")
    q = docs.select("doc_id", q3.alias("q3"))
    ranked = global_rank(q, [F.col("q3"), F.col("doc_id")])
    n = ranked.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    sig = minhash_signature(docs, "doc_id", "text")
    pairs = lsh_candidate_pairs(sig, "doc_id")
    dup = (pairs.select(F.col("id_a").alias("doc_id"))
           .unionAll(pairs.select(F.col("id_b").alias("doc_id")))
           .distinct()
           .withColumn("is_dup", F.lit(1)))
    quart = F.floor((F.col("rnk") - 1) * 4 / F.col("n")).cast("bigint")
    return (ranked.crossJoin(F.broadcast(n))
            .join(F.broadcast(dup), "doc_id", "left")
            .groupBy(quart.alias("quartile"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum(F.coalesce(F.col("is_dup"), F.lit(0)))
                 .cast("bigint").alias("n_dup"),
                 F.round(
                     F.sum(F.coalesce(F.col("is_dup"), F.lit(0)))
                     .cast("double") / F.count(F.lit(1)), 6)
                 .alias("dup_frac")))


@query("dedup_lsh_probe_saved", _INCR_PROBE_ORACLE)
def q_dedup_lsh_probe_saved(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """The incremental near-dup probe through the SAVED-index lifecycle
    (round 9 — the dedup family gets the build-once-serve-many shape
    the ANN tiers have): band + cap the standing 90% corpus ONCE and
    persist the capped buckets to parquet (`lsh_index_build`), LOAD
    the index back, probe the 10% arrival batch against the saved
    postings (`lsh_index_probe` — one equi-join whose cost scales
    with the batch), then exact-Jaccard-verify candidates and keep
    each new doc's best existing match. Hash-matches the fused
    ``dedup_incremental_probe`` oracle row-for-row — the lifecycle is
    a refactoring of the plan, not a new approximation; the probe
    plan reads the index from a FileScan instead of re-banding the
    corpus (plan-gated in tests/test_plans.py)."""
    docs = load_table(spark, sf_dir, "documents")
    old_docs = docs.where(F.col("doc_id") % 10 != 0)
    new_docs = docs.where(F.col("doc_id") % 10 == 0)
    root = default_index_root()
    path = os.path.join(
        root, "lsh_" + os.path.basename(os.path.normpath(sf_dir)))
    index = lsh_index_build(old_docs, path)
    cand = (lsh_index_probe(new_docs, index)
            .withColumnRenamed("probe_id", "new_id")
            .withColumnRenamed("index_id", "old_id"))
    # verify stage: one shingle pass feeds both sides (persisted),
    # exact Jaccard only on candidates — identical to the fused query
    sets = shingle_sets(docs, "doc_id", "text") \
        .persist(StorageLevel.MEMORY_AND_DISK)
    sized = sets.select("doc_id", "sh_set", F.size("sh_set").alias("n_sh"))
    a = sized.select(F.col("doc_id").alias("new_id"),
                     F.col("sh_set").alias("set_a"),
                     F.col("n_sh").alias("n_a"))
    b = sized.select(F.col("doc_id").alias("old_id"),
                     F.col("sh_set").alias("set_b"),
                     F.col("n_sh").alias("n_b"))
    jac = (cand.join(a, "new_id").join(b, "old_id")
           .withColumn("inter", F.size(F.array_intersect("set_a", "set_b")))
           .withColumn("jaccard",
                       F.col("inter") /
                       (F.col("n_a") + F.col("n_b") - F.col("inter")))
           .where(F.col("jaccard") >= 0.5)
           .select("new_id", "old_id",
                   F.round("jaccard", 6).alias("jaccard")))
    w = Window.partitionBy("new_id").orderBy(F.desc("jaccard"),
                                             F.asc("old_id"))
    return (jac.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .drop("rn"))
