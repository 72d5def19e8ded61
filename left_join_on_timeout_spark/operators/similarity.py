"""Similarity search over embedding columns (``array<float>``).

Two tiers, as a 100 TB design demands:

* ``brute_force_knn`` — exact cosine top-k against a (broadcast) query
  vector: one scan, no shuffle but the final top-k (TakeOrdered). The
  correctness baseline.
* ``srp_candidate_pairs`` / ``ann_top_neighbor`` — the scale path:
  multi-band sign-random-projection LSH (seeded Gaussian hyperplanes,
  ``functions.vectors.srp_planes``) turns neighbor search into equi-joins
  within (band, bucket) groups. Bits per band are sized so expected bucket
  size stays small (bits ≈ log₂(n / target)); a hard per-bucket cap drops
  degenerate buckets before the self-join, so no bucket can go quadratic —
  the capped rows are an explicit recall tradeoff, never a runtime risk.
  Multiple bands OR the candidates back together for recall.

All vector math is JVM-side higher-order functions in double
(``functions.vectors``), bit-compatible with the DuckDB oracle.
"""

from __future__ import annotations

import math

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from left_join_on_timeout_spark.functions.vectors import (
    as_double,
    cosine,
    dot,
    l2_norm,
    srp_bucket,
    srp_planes,
)
from left_join_on_timeout_spark.operators.sampling import sample_gate
from left_join_on_timeout_spark.partitioning import (
    fan_out,
    session_shuffle_partitions,
)

DEFAULT_BANDS = 4
DEFAULT_BITS = 8
DEFAULT_SEED = 42
DEFAULT_BUCKET_CAP = 200


def brute_force_knn(emb: DataFrame, query_id: int, k: int = 10,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Exact top-k by cosine against the embedding of ``query_id``.

    The single query row is broadcast — the scan side never shuffles; the
    global top-k is a TakeOrdered (per-partition heads, then driver merge
    of k·partitions rows)."""
    q = (emb.where(F.col(id_col) == query_id)
         .select(as_double(vec_col).alias("q_vec")))
    scored = (emb.where(F.col(id_col) != query_id)
              .crossJoin(F.broadcast(q))
              .select(F.col(id_col),
                      F.round(cosine(as_double(vec_col), F.col("q_vec")), 6)
                      .alias("cos_sim")))
    return scored.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


def _banded(emb: DataFrame, id_col: str, vec_col: str, dim: int,
            bands: int, n_bits: int, seed: int, bucket_cap: int) -> DataFrame:
    """(id, band, bucket) rows — ids and short keys only, never vectors:
    the banded self-join must shuffle ≤``n_bits``-char strings, not
    64-double arrays (bands× amplified).

    The cap is enforced with a window count over (band, bucket) — the same
    shuffle partitioning the candidate self-join needs, so AQE can reuse
    the exchange. At 100 TB a popular bucket is bounded before any pairing
    happens, which is what keeps the stage linear."""
    v = fan_out(emb).select(F.col(id_col), as_double(vec_col).alias("v"))
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            srp_bucket("v", srp_planes(dim, n_bits, seed + b))
            .alias("bucket"))
        for b in range(bands)
    ]
    banded = (v.select(id_col,
                       F.explode(F.array(*band_structs)).alias("bb"))
              .select(id_col,
                      F.col("bb.band").alias("band"),
                      F.col("bb.bucket").alias("bucket")))
    w = Window.partitionBy("band", "bucket")
    return (banded.withColumn("bsz", F.count("*").over(w))
            .where(F.col("bsz") <= bucket_cap)
            .drop("bsz"))


def srp_candidate_pairs(emb: DataFrame,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        dim: int = 64,
                        bands: int = DEFAULT_BANDS,
                        n_bits: int = DEFAULT_BITS,
                        seed: int = DEFAULT_SEED,
                        bucket_cap: int = DEFAULT_BUCKET_CAP) -> DataFrame:
    """Distinct candidate pairs (id_a, id_b, va, vb) sharing ≥1
    (band, bucket). Pair generation and dedup run on bare ids; the
    vectors are re-attached afterwards by two id-equi-joins, so each
    vector crosses the wire once per side instead of once per band row.

    The banded relation is persisted (tiny: id + band + bucket string):
    the a×b self-join would otherwise plan the whole signature subtree —
    bands × n_bits hyperplane dot products per vector — twice, since no
    ReusedExchange fires across self-join sides (measured, r4, same as
    the IVF index). This is the SRP *index* materialization every LSH
    deployment does once per corpus pass."""
    banded = _banded(emb, id_col, vec_col, dim, bands, n_bits, seed,
                     bucket_cap).persist(StorageLevel.MEMORY_AND_DISK)
    a = banded.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "bucket")
    pairs = (a.join(b, ["band", "bucket"])
             .where(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b")
             .distinct())
    # attach vectors with their norms precomputed once per vector —
    # scoring then costs one dot product per pair instead of three
    v = emb.select(F.col(id_col), as_double(vec_col).alias("v"))
    v = v.select(id_col, "v", l2_norm(F.col("v")).alias("nrm"))
    va = v.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"),
                  F.col("nrm").alias("na"))
    vb = v.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"),
                  F.col("nrm").alias("nb"))
    return pairs.join(va, "id_a").join(vb, "id_b")


def score_pairs(pairs: DataFrame) -> DataFrame:
    """(id_a, id_b, cos_sim): cosine from the pair's single dot product
    and the precomputed norms — same IEEE operation order as
    ``functions.vectors.cosine`` (dot / (norm_a * norm_b))."""
    return pairs.select(
        "id_a", "id_b",
        F.round(dot(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb")), 6).alias("cos_sim"))


def bidir_top1(scored: DataFrame) -> DataFrame:
    """(vec_id, neighbor_id, cos_sim): each pair feeds BOTH directions
    from one evaluation of the scoring subtree (a union of two selects
    would re-run the whole candidate+score plan per branch), then a
    per-vector argmax — desc cos_sim, ties to the smaller neighbor id
    via the negated-id struct field. The shared tail of every top-1 ANN
    searcher here (SRP, IVF, IVF multi-probe, two-level, IVF-PQ
    rerank)."""
    both = scored.select(F.explode(F.array(
        F.struct(F.col("id_a").alias("vec_id"),
                 F.col("id_b").alias("nbr"), F.col("cos_sim")),
        F.struct(F.col("id_b").alias("vec_id"),
                 F.col("id_a").alias("nbr"), F.col("cos_sim")),
    )).alias("e")).select("e.*")
    best = both.groupBy("vec_id").agg(
        F.max(F.struct(F.col("cos_sim"), (-F.col("nbr")).alias("neg_id")))
        .alias("best"))
    return best.select(
        "vec_id",
        (-F.col("best.neg_id")).alias("neighbor_id"),
        F.col("best.cos_sim").alias("cos_sim"))


def bidir_topk(scored: DataFrame, k: int) -> DataFrame:
    """(vec_id, neighbor_id, cos_sim, rank): each vector's top-``k``
    candidates by cosine — the k>1 generalization of
    :func:`bidir_top1`. Same both-directions explode from one scoring
    evaluation; the per-vector head is a rank window (desc cos_sim,
    ties to the smaller neighbor id), k rows out per vector instead of
    the argmax's one. Retrieval surfaces (k-NN graphs, rerank
    shortlists, dedup review queues) need the head, not just the
    winner."""
    both = scored.select(F.explode(F.array(
        F.struct(F.col("id_a").alias("vec_id"),
                 F.col("id_b").alias("nbr"), F.col("cos_sim")),
        F.struct(F.col("id_b").alias("vec_id"),
                 F.col("id_a").alias("nbr"), F.col("cos_sim")),
    )).alias("e")).select("e.*")
    # multi-probe can score the same pair once per shared cell; the
    # argmax path dedups for free, a rank head must dedup explicitly
    # (cos_sim is a pure function of the pair, so this is exact)
    both = both.dropDuplicates(["vec_id", "nbr"])
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_sim"),
                                             F.asc("nbr"))
    return (both.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("vec_id", F.col("nbr").alias("neighbor_id"),
                    "cos_sim", "rank"))


def _pair_within_cells(capped: DataFrame, keys: list[str],
                       id_col: str) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing ALL ``keys`` cell columns,
    vectors and norms carried through — the within-cell pairing stage
    shared by the flat-IVF and two-level searchers. ``capped`` must be
    the persisted index relation (both join sides read it; no
    ReusedExchange fires across self-join sides)."""
    a = capped.select(F.col(id_col).alias("id_a"), *keys,
                      F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = capped.select(F.col(id_col).alias("id_b"), *keys,
                      F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    return (a.join(b, keys)
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "va", "na", "vb", "nb"))


def ann_top_neighbor(emb: DataFrame,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     dim: int = 64,
                     bands: int = DEFAULT_BANDS,
                     n_bits: int | None = None,
                     seed: int = DEFAULT_SEED,
                     bucket_cap: int = DEFAULT_BUCKET_CAP) -> DataFrame:
    """Approximate nearest neighbor per vector among its SRP candidates:
    (vec_id, neighbor_id, cos_sim). Vectors with no candidate are absent
    (honest ANN recall semantics). Ties break to the smaller neighbor id.

    ``n_bits=None`` (the default) derives the bit width from the corpus
    size via :func:`auto_knobs` — the fixed-knob quadratic cannot be
    written by default; pass an explicit value to pin it (the recall
    harnesses do, so their oracle CTEs stay static). The derivation
    runs an eager ``count()`` at construction (memoized per source,
    see :func:`corpus_rows`)."""
    if n_bits is None:
        n_bits = auto_knobs(corpus_rows(emb))["n_bits"]
    pairs = srp_candidate_pairs(emb, id_col, vec_col, dim, bands, n_bits,
                                seed, bucket_cap)
    return bidir_top1(score_pairs(pairs))


DEFAULT_IVF_CELLS = 32
DEFAULT_CELL_CAP = 2000

# The corpus size the library defaults are sized for (the sf0.1 bench
# corpus: 2000 vectors → 32 cells ≈ 62 rows/cell, 8 SRP bits ≈ 2000/256
# expected rows/bucket).
ANN_REF_ROWS = 2000


# Keyed on (semanticHash, schema string): the 32-bit semanticHash alone
# can collide across distinct sources (ADVICE r5) — the schema second
# component makes an accidental collision need BOTH a hash collision and
# an identical schema. Capped so a long-lived session scanning many
# corpora can't grow it unboundedly; eviction is whole-cache (counts are
# cheap to re-derive, simplicity beats LRU bookkeeping here).
_ROWCOUNT_CACHE: dict[tuple[int, str], int] = {}
_ROWCOUNT_CACHE_CAP = 256


def corpus_rows(df: DataFrame) -> int:
    """Corpus cardinality for knob derivation, memoized per canonical
    plan (``semanticHash`` + schema — stable across separate reads of
    the same source, distinct across different sources). This is the
    catalog-statistics analog: a table's row count is a property of the
    catalog, not of each query, so a session deriving auto knobs for N
    ANN queries over one corpus pays the count job once instead of N
    times (measured: the per-query count job was the whole 1.3-1.8×
    bench delta when knob derivation became the default path).

    NOTE this runs an EAGER ``count()`` job on first sight of a plan —
    operators whose knobs default to ``None`` (``ann_top_neighbor``,
    ``ivf_top_neighbor``) trigger it at construction time, not at
    execution time. Caveat: like any cached statistic it can go stale
    if the underlying files are rewritten mid-session — call
    :func:`invalidate_corpus_rows` after a rewrite; knobs derived from
    a stale count shift performance, never correctness."""
    try:
        key = (df._jdf.queryExecution().analyzed().semanticHash(),
               df.schema.simpleString())
    except Exception:  # non-JVM-backed frames (e.g. connect) — no memo
        return df.count()
    if key not in _ROWCOUNT_CACHE:
        if len(_ROWCOUNT_CACHE) >= _ROWCOUNT_CACHE_CAP:
            _ROWCOUNT_CACHE.clear()
        _ROWCOUNT_CACHE[key] = df.count()
    return _ROWCOUNT_CACHE[key]


def invalidate_corpus_rows() -> None:
    """Drop all memoized corpus counts — call after rewriting source
    files mid-session so auto knobs re-derive from fresh statistics."""
    _ROWCOUNT_CACHE.clear()


# The measured flat-argmax → two-level-tree assignment crossover
# (tools/ivf2_crossover.py, round 7 — cold builds, training included):
#
#   cells    32    322    558    799    1008    3200
#   flat    1.7s   3.1s   9.3s  15.3s   21.2s  156.8s
#   tree    5.6s   4.6s   8.0s   6.4s    6.8s   20.9s
#
# Flat wins through 322 cells (the tree pays two Lloyd passes plus its
# extra stage overhead); the arms meet near ~500 cells and the tree
# wins from 558 up, widening to 7.5× at 3200 and 42.8× at 32 000 (the
# fourth decade, PLANS.md). 512 splits the measured bracket and is
# conservative at the boundary (the arms are within noise there).
IVF2_CROSSOVER_CELLS = 512


def auto_knobs(n_rows: int) -> dict:
    """Corpus-size-derived ANN knobs (VERDICT r4 item 4): the measured
    scaling rules from the PLANS.md heavy-query study, as code.

    * ``n_cells`` grows **linearly** (cells ∝ n): constant ~62 rows per
      cell keeps both the per-cell pairing work and the cell-cap
      truncation rate flat as the corpus grows — the fixed-knob variant
      reproduced a 10× quadratic at 10× rows, the scaled knob restored
      linear (8.4 s → 1.2 s, PLANS.md §"second decade").
    * ``n_bits`` grows **logarithmically** (bits ∝ log n): each extra
      hyperplane halves expected bucket occupancy, so ``+log2(scale)``
      bits hold bucket sizes constant (measured: 4.1 s → 2.2 s at 10×
      with 8 → 11 bits).
    * ``assign`` routes the IVF assignment stage (VERDICT r6 item 6):
      ``"flat"`` (one broadcast argmax over all anchors) below the
      measured ``IVF2_CROSSOVER_CELLS``, ``"tree"`` (the trained
      two-level quantizer, O(n_super + k2) dots per row) at or above
      it — so a scale user gets the fourth-decade-surviving path
      without opting in.

    Numeric knobs are floored at the library defaults, so any corpus at
    or below the reference bench scale (``ANN_REF_ROWS``) resolves to
    exactly the default plan — existing oracle hashes at the bench SFs
    are byte-identical (the crossover sits at ~16× the bench corpus,
    far above every test SF). MinHash-LSH banding knobs are
    deliberately NOT derived here: (bands, rows-per-band) encode the
    target Jaccard threshold, not a corpus-size tradeoff, and bucket
    growth there is bounded by the per-bucket cap instead."""
    scale = max(n_rows, 1) / ANN_REF_ROWS
    n_cells = max(DEFAULT_IVF_CELLS, round(DEFAULT_IVF_CELLS * scale))
    return {
        "n_cells": n_cells,
        "n_bits": max(DEFAULT_BITS,
                      DEFAULT_BITS + round(math.log2(scale))),
        "assign": "tree" if n_cells >= IVF2_CROSSOVER_CELLS else "flat",
    }


_SEED_ID_TYPES = ("tinyint", "smallint", "int", "bigint")


def check_seed_id_dtype(emb: DataFrame, id_col: str, fn: str) -> None:
    """The flat IVF/PQ tiers seed anchors and codebooks via the
    deterministic ``id < n`` rule (seedless; a k-means pass drops in
    unchanged). On a non-integer id column that comparison would run
    through an implicit cast and silently produce an empty or garbage
    seed set instead of failing — inconsistent with the append-time
    dtype guards (VERDICT r12 wrong #1). Fail loud at build/encode
    entry; string-keyed corpora belong on the IVF2 tier, whose
    rank-based seed rule is id-dtype-agnostic."""
    # alias before reading dtypes: Spark resolves id_col
    # case-insensitively but dtypes reports the schema's spelling, so
    # a bare dict lookup by the caller's spelling could KeyError
    dt = emb.select(F.col(id_col).alias("_sid")).dtypes[0][1]
    if dt not in _SEED_ID_TYPES:
        raise ValueError(
            f"{fn} seeds anchors/codebooks via the id<n rule, which "
            f"needs an integer id column; {id_col!r} is {dt!r} — use "
            f"the IVF2 tier (rank-based seeds) for non-integer ids")


def ivf_assign(emb: DataFrame,
               id_col: str = "vec_id",
               vec_col: str = "embedding",
               n_cells: int = DEFAULT_IVF_CELLS) -> DataFrame:
    """(id, v, nrm, cell): IVF coarse quantization — assign each vector
    to its nearest anchor by cosine. Anchors are the vectors with
    ``id < n_cells`` (deterministic, seedless; a k-means pass would drop
    in here unchanged). The anchors collapse into one broadcast array
    row, so the n_cells dot products and the argmax run as a per-row
    array reduction in the scanning tasks
    (see :func:`assign_to_anchors`) — no shuffle anywhere."""
    check_seed_id_dtype(emb, id_col, "ivf_assign")
    v = fan_out(emb).select(F.col(id_col), as_double(vec_col).alias("v"))
    v = v.select(id_col, "v", l2_norm(F.col("v")).alias("nrm"))
    anchors = (v.where(F.col(id_col) < n_cells)
               .select(F.col(id_col).alias("cell"),
                       F.col("v").alias("av"),
                       F.col("nrm").alias("anrm")))
    return assign_to_anchors(v, anchors, id_col)


def assign_to_anchors(v: DataFrame, anchors: DataFrame,
                       id_col: str) -> DataFrame:
    """(id, v, nrm, cell): nearest anchor by cosine, ties to the lowest
    cell id — fully map-side: the anchors collapse into ONE broadcast
    array row and each vector argmaxes over it with a per-row
    ``transform`` + native ``array_max`` (desc sim, ties to lowest cell
    via the negated cell field, NaN high — identical ordering to the
    grouped-max it replaces, oracle-checked).

    The previous shape (broadcast-join the anchor *table*, then a
    ``groupBy(id)`` argmax) materialized n·n_cells candidate rows each
    carrying the full vector and paid a by-id shuffle to collapse them;
    at the third scaling decade (200k vectors × 3200 auto cells) that
    OOM'd (PLANS.md §"third decade"). This path is O(n_cells) memory
    per row and adds NO exchange beyond the n_cells→1 anchor collect —
    each k-means iteration and the IVF-PQ coarse assign drop one
    data-scale shuffle outright."""
    anchor_arr = anchors.agg(
        F.collect_list(F.struct("cell", "av", "anrm")).alias("arr"))
    # The EMPTY-anchor guard (ADVICE r5 — array_max over an empty arr
    # would emit every vector with cell=NULL into groupBy-cell
    # consumers) lives in the JOIN CONDITION as a cheap size() check,
    # NOT as a post-filter on the derived cell: a filter on the argmax
    # output gets predicate-pushed into the BroadcastNestedLoopJoin's
    # bound condition, where Spark re-evaluates the ENTIRE interpreted
    # dot-product argmax per row a second time (measured 2× on the
    # third-decade assignment). size(arr) > 0 is O(1) per row and with
    # a non-empty anchor array the argmax struct is always non-null, so
    # cell cannot be NULL downstream.
    best = (v.join(F.broadcast(anchor_arr), F.size("arr") > 0)
            .select(id_col, "v", "nrm",
                    F.array_max(F.transform(
                        "arr",
                        lambda a: F.struct(
                            (dot(F.col("v"), a["av"])
                             / (F.col("nrm") * a["anrm"])).alias("sim"),
                            (-a["cell"]).alias("negc")))).alias("b")))
    # coalesce with an unreachable sentinel makes `cell` NON-NULLABLE:
    # otherwise any downstream equi-join on cell has
    # InferFiltersFromConstraints add isnotnull(cell), which predicate-
    # pushes the ENTIRE interpreted argmax back into the BNLJ condition
    # (the functions/text.py::normalize hazard, here with a 2× wall
    # cost). The sentinel cannot occur: the join condition guarantees a
    # non-empty anchor array, so the argmax struct is never null.
    return best.select(F.col(id_col), "v", "nrm",
                       F.coalesce(-F.col("b")["negc"],
                                  F.lit(-1).cast("long")).alias("cell"))


def ivf_assign_multi(emb: DataFrame,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     n_cells: int = DEFAULT_IVF_CELLS,
                     nprobe: int = 2) -> DataFrame:
    """(id, v, nrm, cell, pri) with up to ``nprobe`` rows per vector —
    the multi-probe IVF assignment (top-``nprobe`` anchors by cosine,
    ties to the lowest cell id), the recall/cost knob every IVF
    deployment tunes. ``pri`` marks the pos-0 PRIMARY probe (the
    nprobe=1 assignment); consumers cap cells on primaries so probe
    copies can never evict them (the only-improves contract).

    Fully map-side (VERDICT r3 item 3): the ``n_cells`` anchors collapse
    into ONE broadcast array row; each vector scores all anchors with a
    per-row ``transform`` into ``struct(sim, -cell)`` keys, then takes
    the top-``nprobe`` by ``nprobe`` successive native ``array_max`` +
    ``filter`` passes (argmax semantics = desc sim, ties to the lowest
    cell via the negated cell field; NaN sorts high, exactly the
    ``row_number`` ordering this replaces). Each pass is one LINEAR
    native struct-compare scan — the previous comparator-lambda
    ``array_sort`` interpreted a ~12-node expression per comparison,
    which at the third scaling decade (200k vectors × 3200 auto cells ≈
    7 billion comparisons) dominated the whole query; the argmax loop
    is O(nprobe·n_cells) per row with no per-comparison lambda. Nothing
    shuffles the n·n_cells candidate relation: the only exchange left
    is the n_cells→1 anchor collect, so the stage scales like a
    map-side argmax instead of a per-id window."""
    check_seed_id_dtype(emb, id_col, "ivf_assign_multi")
    v = fan_out(emb).select(F.col(id_col), as_double(vec_col).alias("v"))
    v = v.select(id_col, "v", l2_norm(F.col("v")).alias("nrm"))
    anchors = (v.where(F.col(id_col) < n_cells)
               .select(F.col(id_col).alias("cell"),
                       F.col("v").alias("av"),
                       F.col("nrm").alias("anrm")))
    return assign_to_anchors_multi(v, anchors, id_col, nprobe)


def assign_to_anchors_multi(v: DataFrame, anchors: DataFrame,
                             id_col: str, nprobe: int) -> DataFrame:
    """The multi-probe body of :func:`ivf_assign_multi`, factored so a
    SAVED index can run the identical top-``nprobe`` argmax through its
    LOADED anchor relation (the PQ tier's serving recall knob) — a pure
    extraction, the plan is unchanged. See the caller for the argmax
    loop's design notes."""
    anchor_arr = anchors.agg(
        F.collect_list(F.struct("cell", "av", "anrm")).alias("arr"))
    # struct(sim, negc): natural struct ordering makes array_max the
    # argmax over (sim asc, then -cell asc) = (best sim, lowest cell)
    scored = (v.join(F.broadcast(anchor_arr))
              .select(id_col, "v", "nrm",
                      F.transform(
                          "arr",
                          lambda a: F.struct(
                              (dot(F.col("v"), a["av"])
                               / (F.col("nrm") * a["anrm"])).alias("sim"),
                              (-a["cell"]).alias("negc"))).alias("sims")))
    cur = scored
    best_cols = []
    for i in range(nprobe):
        b = f"__b{i}"
        cur = cur.withColumn(b, F.array_max("sims"))
        best_cols.append(b)
        if i + 1 < nprobe:
            def _excl(bname: str):
                return lambda s: s["negc"] != F.col(bname)["negc"]

            cur = cur.withColumn("sims", F.filter("sims", _excl(b)))
    # explode_OUTER, not explode: InferFiltersFromGenerate turns a plain
    # explode into an inferred size(top) > 0 predicate that sinks into
    # the BroadcastNestedLoopJoin condition — re-evaluating the ENTIRE
    # interpreted scoring transform per row a second time (measured ~2×
    # of the whole third-decade assignment wall; 96 s of the 196 s cold
    # build at 200k × 3200). The outer generator infers nothing; the
    # NULL rows it adds (empty anchor set) and NULL probes (nprobe >
    # live anchors) are dropped by the isNotNull on the generator
    # OUTPUT, which cannot be pushed below the Generate and costs one
    # null-check on a long.
    top = cur.select(
        id_col, "v", "nrm",
        F.array(*[(-F.col(b)["negc"]).alias("cell")
                  for b in best_cols]).alias("top"))
    # posexplode keeps the probe rank so consumers can tell PRIMARY
    # rows (pos 0, the nprobe=1 assignment) from secondary probe
    # copies: the cell cap must count primaries only, or a probe copy
    # landing in a cell that passed the cap at nprobe=1 would evict the
    # whole cell and multi-probe could LOSE matches (the only-improves
    # contract — same rule as ivf2_top_neighbor's pri flag).
    return (top.select(id_col, "v", "nrm",
                       F.posexplode_outer("top").alias("pos", "cell"))
            .where(F.col("cell").isNotNull())
            .select(id_col, "v", "nrm", "cell",
                    (F.col("pos") == 0).alias("pri")))


def _lloyd(v: DataFrame, anchors: DataFrame, id_col: str,
           iters: int, persisted: list | None = None) -> DataFrame:
    """``iters`` Lloyd iterations over persisted parsed vectors ``v``
    (id, v, nrm): argmax assignment to the broadcast anchors, then a
    DECIMAL(25,6) per-dimension mean rebuilt into the next centroid
    table — bit-identical regardless of partition order, so the loop
    replays exactly in an unrolled-CTE DuckDB oracle. Each centroid
    table (n_cells rows) is persisted to truncate lineage (the MLlib
    k-means pattern); callers own persisting ``v``. ``persisted``
    (when given) collects every relation this pass persists so a
    materializing caller can unpersist them after its actions run
    (ADVICE r7 — repeated builds must not accumulate cached
    relations)."""
    for _ in range(iters):
        assigned = assign_to_anchors(v, anchors, id_col)
        dims = (assigned.select("cell", F.posexplode("v").alias("pos", "x"))
                .groupBy("cell", "pos")
                .agg((F.sum(F.col("x").cast("decimal(25,6)")).cast("double")
                      / F.count("*")).alias("m")))
        cent = (dims.groupBy("cell")
                .agg(F.array_sort(
                    F.collect_list(F.struct("pos", "m"))).alias("a"))
                .select("cell",
                        F.transform(F.col("a"), lambda s: s["m"]).alias("av")))
        anchors = cent.select("cell", "av",
                              l2_norm(F.col("av")).alias("anrm")) \
            .persist(StorageLevel.MEMORY_AND_DISK)
        if persisted is not None:
            persisted.append(anchors)
    return anchors


def kmeans_refined_cells(emb: DataFrame,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         n_cells: int = DEFAULT_IVF_CELLS,
                         iters: int = 2) -> DataFrame:
    """(cell, n_members, centroid_norm): IVF coarse cells after ``iters``
    Lloyd iterations — the distributed iterative-algorithm path promised
    by :func:`ivf_assign` ("a k-means pass would drop in here").

    Each iteration is two shuffles: an argmax assignment (broadcast
    anchors, map-side partial agg) and a centroid recompute
    (posexplode → per-(cell, dim) mean → rebuild array). Means go
    through DECIMAL(25,6) so centroids are bit-identical regardless of
    partition order — the whole loop replays exactly in the unrolled-CTE
    DuckDB oracle. Work per iteration is linear in rows; no step depends
    on collect() or driver-side state, so the loop runs unchanged at
    100 TB (iters stays a small constant).

    Iterative-lineage discipline (the MLlib k-means pattern): without
    caching, every broadcast of iteration i's centroids replays
    iterations 1..i-1 from the scan — O(iters²) passes. The parsed
    vectors are persisted once (MEMORY_AND_DISK: the corpus must fit
    cluster memory+disk, the standing cost of any iterative pass), and
    each iteration's centroid table (n_cells rows) is persisted to
    truncate lineage, so every pass over the data runs exactly once."""
    check_seed_id_dtype(emb, id_col, "kmeans_refined_cells")
    v = fan_out(emb).select(F.col(id_col), as_double(vec_col).alias("v"))
    v = v.select(id_col, "v", l2_norm(F.col("v")).alias("nrm")) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    anchors = (v.where(F.col(id_col) < n_cells)
               .select(F.col(id_col).alias("cell"),
                       F.col("v").alias("av"),
                       F.col("nrm").alias("anrm")))
    anchors = _lloyd(v, anchors, id_col, iters)
    final = assign_to_anchors(v, anchors, id_col)
    sizes = final.groupBy("cell").agg(F.count("*").alias("n_members"))
    return (sizes.join(anchors.select("cell", "anrm"), "cell")
            .select("cell", "n_members",
                    F.round("anrm", 6).alias("centroid_norm")))


DEFAULT_SUPER_CELLS = 8
DEFAULT_SUB_CELLS = 8


def two_level_knobs(n_cells: int) -> dict[str, int]:
    """Size the two-level coarse quantizer from a flat cell budget: the
    per-row assignment cost is O(n_super + n_cells/n_super) dot
    products, minimized at ``n_super = sqrt(n_cells)`` — the standard
    inverted-multi-index decomposition (Babenko & Lempitsky, CVPR 2012,
    applied to a cell *tree* rather than a product split; the untrained
    product-split IMI prototype was measured and rejected at 0.42
    assignment agreement, PLANS.md §"fourth decade"). ``k2`` is the
    sub-cell budget per super-cell."""
    n_super = max(DEFAULT_SUPER_CELLS, round(math.sqrt(n_cells)))
    k2 = max(DEFAULT_SUB_CELLS, -(-n_cells // n_super))
    return {"n_super": n_super, "k2": k2}


def _sub_anchor_buckets(sub_anchors: DataFrame) -> DataFrame:
    """One broadcast row PER SUPER-CELL: ``(g = sid, cells = [(sub, av,
    anrm)])`` — the build side of every grouped sub-anchor lookup.
    Single construction site so the bucket layout and the per-row
    argmaxes can never drift apart.

    This was originally ONE collapsed row holding all buckets, looked
    up per row through a ``filter``/``element_at`` over the nested
    array. The fourth-decade A/B exposed that shape's hidden cost:
    every interpreted-fallback expression eval against the joined row
    COPIES the whole row (``UnsafeRow.copy`` — jstack showed the
    executors memcpy-bound, not FLOP-bound), and the one-row form puts
    the ENTIRE index (n_super · k2 anchors, ~17.6 MB at 179×179) into
    every joined row: an O(n_rows · index_bytes) memcpy term, ~35 TB
    at 2 M rows, invisible at the third decade where the index was
    1.8 MB. Bucketed per super-cell, the broadcast HASH equi-join on
    ``g`` hands each row only its OWN ~k2-anchor bucket (~100 KB) —
    the copy term drops by n_super× and the per-row filter scan
    disappears into the hash lookup."""
    return (sub_anchors.groupBy(F.col("sid").alias("g"))
            .agg(F.collect_list(
                F.struct("sub", "av", "anrm")).alias("cells")))


def _best_sub(cells) -> F.Column:
    """argmax over one bucket's sub-anchors by cosine, ties to the
    lowest sub id (the (sim, -sub) struct-max discipline shared with
    ``assign_to_anchors``)."""
    return F.array_max(F.transform(
        cells,
        lambda a: F.struct(
            (dot(F.col("v"), a["av"])
             / (F.col("nrm") * a["anrm"])).alias("sim"),
            (-a["sub"]).alias("negs"))))


def assign_to_subs(sup: DataFrame, sub_anchors: DataFrame,
                    id_col: str) -> DataFrame:
    """(id, v, nrm, sid, sub): nearest sub-anchor *within the row's own
    super-cell* by cosine, ties to the lowest sub id — a broadcast HASH
    equi-join on the super-cell id (no shuffle: the bucket side is
    n_super rows), then an in-row argmax over only the own bucket's
    ``k2`` anchors. Per-row dot-product cost is O(k2), not O(n_cells) —
    the whole point of the two-level tree; per-row payload is the own
    bucket, not the whole index (see :func:`_sub_anchor_buckets`).

    The inner equi-join IS the empty-bucket guard: a sid with no
    sub-anchors simply has no build row (cannot happen for a primary
    assignment — any sid with a member seeds and retains ≥1 sub through
    each grouped Lloyd mean — and for a probed secondary super it is
    the defined probed-empty semantics: no index entry)."""
    buckets = _sub_anchor_buckets(sub_anchors)
    best = (sup.join(F.broadcast(buckets), F.col("sid") == F.col("g"))
            .select(id_col, "v", "nrm", "sid",
                    _best_sub(F.col("cells")).alias("b")))
    # non-nullable via unreachable sentinel — same
    # InferFiltersFromConstraints hazard as assign_to_anchors
    return best.select(F.col(id_col), "v", "nrm", "sid",
                       F.coalesce(-F.col("b")["negs"],
                                  F.lit(-1).cast("long")).alias("sub"))


def _lloyd_grouped(sup: DataFrame, sub_anchors: DataFrame, id_col: str,
                   iters: int, persisted: list | None = None) -> DataFrame:
    """Grouped Lloyd: like :func:`_lloyd` but each vector only competes
    for the sub-anchors of its own super-cell, and means aggregate per
    (sid, sub). DECIMAL(25,6) means keep both engines bit-identical.
    ``persisted`` collects the per-iteration anchor persists for a
    materializing caller to release (ADVICE r7)."""
    for _ in range(iters):
        assigned = assign_to_subs(sup, sub_anchors, id_col)
        dims = (assigned
                .select("sid", "sub", F.posexplode("v").alias("pos", "x"))
                .groupBy("sid", "sub", "pos")
                .agg((F.sum(F.col("x").cast("decimal(25,6)")).cast("double")
                      / F.count("*")).alias("m")))
        cent = (dims.groupBy("sid", "sub")
                .agg(F.array_sort(
                    F.collect_list(F.struct("pos", "m"))).alias("a"))
                .select("sid", "sub",
                        F.transform(F.col("a"), lambda s: s["m"]).alias("av")))
        sub_anchors = cent.select("sid", "sub", "av",
                                  l2_norm(F.col("av")).alias("anrm")) \
            .persist(StorageLevel.MEMORY_AND_DISK)
        if persisted is not None:
            persisted.append(sub_anchors)
    return sub_anchors


def train_two_level(
        emb: DataFrame, id_col: str, vec_col: str, n_super: int, k2: int,
        iters: int, train_frac: float | None = None,
        train_seed: str = "42", persisted: list | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Shared trainer for the two-level quantizer variants: returns
    (v, sup_anchors, sup, sub_anchors) with ``v`` (parsed vectors) and
    ``sup`` (the primary super-assignment) persisted, and the level-2
    anchors trained against the PRIMARY (top-1) super-assignment —
    multi-probe is a search-time recall knob, the index is trained once
    (the standard IVF discipline).

    ``train_frac`` (VERDICT r6 item 2): when set, every Lloyd pass —
    the O(iters) full-corpus scans that dominate the fourth-decade
    build wall — trains on a deterministic md5-gated sample (the
    ``operators.sampling`` hash gate: reproducible across retries,
    partition counts, and engines, so a DuckDB oracle can replay the
    exact sample). The FULL corpus is still assigned exactly once per
    level: seeds stay id-deterministic (level-1 seeds = ids <
    ``n_super`` from the full corpus; level-2 seeds = each cell's first
    ``k2`` SAMPLED members), centroid means aggregate over sampled
    members only, and the final super/sub assignments run over
    everything. This is the standard large-scale k-means recipe (train
    on a slice, assign the universe).

    ``persisted`` (when given) collects EVERY relation this trainer
    persists — the parsed corpus, the training sample, the
    super-assignment, and each Lloyd pass's centroid tables — so a
    caller that materializes its result (the index builders do) can
    unpersist them all once its actions have run; repeated builds in
    one session must not accumulate cached relations (ADVICE r7).
    Fused-searcher callers leave it None: their results are lazy and
    the persists ARE the standing index cost."""
    v = fan_out(emb).select(F.col(id_col), as_double(vec_col).alias("v"))
    v = v.select(id_col, "v", l2_norm(F.col("v")).alias("nrm")) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    if persisted is not None:
        persisted.append(v)
    if train_frac is not None and train_frac < 1.0:
        gate = sample_gate(id_col, train_frac, train_seed)
        vt = v.where(gate).persist(StorageLevel.MEMORY_AND_DISK)
        if persisted is not None:
            persisted.append(vt)
    else:
        gate = None
        vt = v
    # level-1 seeds: the first ``n_super`` rows by id — TakeOrdered +
    # a rank over the surviving ≤n_super rows, NOT ``id < n_super``
    # (VERDICT r10 wrong #3: the saved tiers must serve string-keyed
    # corpora, and an id<int comparison pins the id type to numerics).
    # On dense integer ids rank-1 == id, so cell labels — and every
    # oracle's ``pa0`` CTE (cell = vec_id) — are unchanged; the rank
    # window runs over ``n_super`` rows only, never the corpus.
    wseed = Window.orderBy(id_col)
    sup_anchors = (v.orderBy(id_col).limit(n_super)
                   .select((F.row_number().over(wseed) - 1).cast("long")
                           .alias("cell"),
                           F.col("v").alias("av"),
                           F.col("nrm").alias("anrm")))
    sup_anchors = _lloyd(vt, sup_anchors, id_col, iters, persisted)
    sup = (assign_to_anchors(v, sup_anchors, id_col)
           .withColumnRenamed("cell", "sid")
           .persist(StorageLevel.MEMORY_AND_DISK))
    if persisted is not None:
        persisted.append(sup)
    supt = sup.where(gate) if gate is not None else sup
    # level-2 seeds: each cell's first k2 members by id. A single
    # row_number window partitioned by sid would shuffle the WHOLE
    # corpus into n_super partitions (8 tasks at the default — the
    # r14 low-cardinality parallelism collapse, here inside the
    # trainer): a salted pre-window keeps ≤ k2 candidates per
    # (sid, salt) at full shuffle parallelism, then the exact window
    # ranks only the ≤ k2·n_salt survivors. Any cell-wide top-k2 row
    # is also its salt group's top-k2, so the seed set is
    # bit-identical to the single-window form (round 15).
    n_salt = max(1, session_shuffle_partitions(sup))
    pre = supt.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salt)))
    w1 = Window.partitionBy("sid", "_salt").orderBy(id_col)
    cand = (pre.withColumn("rn", F.row_number().over(w1))
            .where(F.col("rn") <= k2).drop("rn", "_salt"))
    w = Window.partitionBy("sid").orderBy(id_col)
    sub0 = (cand.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k2)
            .select("sid", (F.col("rn") - 1).cast("long").alias("sub"),
                    F.col("v").alias("av"), F.col("nrm").alias("anrm")))
    sub_anchors = _lloyd_grouped(supt, sub0, id_col, iters, persisted)
    if gate is not None:
        # A super-cell whose members are ALL unsampled has no level-2
        # seeds and would silently drop its vectors from the index (the
        # inner bucket join). Fall back to ONE sub-anchor per such sid:
        # the cell's first FULL-corpus member by id — deterministic,
        # mirrored in the DuckDB oracle, and vanishing as train_frac or
        # the corpus grows (a sid with any sampled member trains
        # normally).
        # min-id row per seedless sid as a partial-aggregating MIN over
        # struct(id, v, nrm) — ids are unique so the comparison never
        # reaches the payload fields; bit-identical to the rn == 1
        # window it replaces, without shuffling the anti-join output
        # into |seedless sids| partitions (round 15)
        fb = (sup.join(sub_anchors.select("sid").distinct(), "sid",
                       "left_anti")
              .groupBy("sid")
              .agg(F.min(F.struct(F.col(id_col).alias("i"),
                                  F.col("v"), F.col("nrm"))).alias("m"))
              .select("sid", F.lit(0).cast("long").alias("sub"),
                      F.col("m.v").alias("av"),
                      F.col("m.nrm").alias("anrm")))
        sub_anchors = sub_anchors.unionByName(fb)
    return v, sup_anchors, sup, sub_anchors


def two_level_assign(emb: DataFrame,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     n_super: int = DEFAULT_SUPER_CELLS,
                     k2: int = DEFAULT_SUB_CELLS,
                     iters: int = 1,
                     train_frac: float | None = None,
                     train_seed: str = "42") -> DataFrame:
    """(id, v, nrm, sid, sub): the TRAINED two-level coarse quantizer —
    the fourth-decade successor to the flat broadcast argmax (VERDICT r5
    item 3). The flat assign is O(n · n_cells) dot products, ~4 TFLOP at
    2M vectors × 32k cells; this tree is O(n · (n_super + k2)) — at
    n_cells = 32k with n_super = k2 = 181 that is ~90× fewer FLOPs for
    the same cell budget.

    Both levels are k-means-TRAINED (``iters`` Lloyd passes each — the
    drop-in trainer promised by ``kmeans_refined_cells``), which is what
    the measured-and-rejected *untrained* product-split IMI prototype
    lacked (0.42 assignment agreement vs flat, PLANS.md §"fourth
    decade"):

    1. level-1 centroids: seed anchors = ids < ``n_super``, refined by
       :func:`_lloyd` over the whole corpus;
    2. every vector → nearest super-centroid (flat broadcast argmax
       over only ``n_super`` anchors);
    3. level-2 sub-anchors per super-cell: seeded by each cell's first
       ``k2`` members (by id), refined by :func:`_lloyd_grouped` —
       each refinement assigns members only against their own cell's
       anchors (map-side nested-broadcast lookup, O(k2) dots per row);
    4. final (sid, sub) assignment through the same grouped argmax.

    Every pass is linear in the corpus; the only exchanges are the
    centroid aggregations (n_super·k2 rows) and the decimal means. The
    parsed corpus is persisted once (the standing cost of any iterative
    pass, as in ``kmeans_refined_cells``)."""
    v, _sup_anchors, sup, sub_anchors = train_two_level(
        emb, id_col, vec_col, n_super, k2, iters, train_frac, train_seed)
    return assign_to_subs(sup, sub_anchors, id_col)


def two_level_assign_multi(emb: DataFrame,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           n_super: int = DEFAULT_SUPER_CELLS,
                           k2: int = DEFAULT_SUB_CELLS,
                           iters: int = 1,
                           nprobe: int = 2,
                           train_frac: float | None = None,
                           train_seed: str = "42") -> DataFrame:
    """(id, v, nrm, sid, sub, pri) with up to ``nprobe`` rows per
    vector (``pri`` marks the primary probe — cell caps count only
    primaries, see :func:`ivf2_top_neighbor`) —
    SUPER-level multi-probe over the trained two-level quantizer: the
    recall knob for the tree's one measured cost (the greedy super-cell
    choice splits some true neighbor pairs a flat argmax co-locates;
    PLANS.md §"fourth-decade ANN"). Each vector takes its top-``nprobe``
    super-cells by ``nprobe`` successive native argmax passes (the
    ``ivf_assign_multi`` pattern), then the best sub-cell WITHIN each
    probed super via the per-super broadcast hash join — O(n_super +
    nprobe·k2) dot products per row, still ~n_cells/√n_cells cheaper
    than the flat argmax. Training (level-1 Lloyd, level-2 seeds and
    grouped Lloyd) uses only the primary assignment — multi-probe is a
    search-time knob, the index is trained once.

    The probe chain computes SIDS ONLY; the sub lookup happens after
    the explode, as a hash equi-join of the (row, probed sid) pairs
    against the per-super buckets — so neither the whole sub-anchor
    index nor any bucket rides through the probe chain's fallback-eval
    row copies (see :func:`_sub_anchor_buckets`)."""
    v, sup_anchors, _sup, sub_anchors = train_two_level(
        emb, id_col, vec_col, n_super, k2, iters, train_frac, train_seed)
    return probe_assign_multi(v, sup_anchors, sub_anchors, id_col, nprobe)


def probe_assign_multi(v: DataFrame, sup_anchors: DataFrame,
                       sub_anchors: DataFrame, id_col: str,
                       nprobe: int) -> DataFrame:
    """(id, v, nrm, sid, sub, pri): assign parsed vectors ``v`` (id, v,
    nrm) through GIVEN trained two-level anchors — no training. The
    probe/assignment stage of :func:`two_level_assign_multi`, factored
    out so a search over a LOADED index (``operators.ann_index``) runs
    the identical chain: top-``nprobe`` super-cells per vector by
    successive native argmax passes, then the best sub-cell within each
    probed super via the per-super broadcast hash join."""
    sup_arr = sup_anchors.agg(
        F.collect_list(F.struct("cell", "av", "anrm")).alias("arr"))
    scored = (v.join(F.broadcast(sup_arr), F.size("arr") > 0)
              .select(id_col, "v", "nrm",
                      F.transform(
                          "arr",
                          lambda a: F.struct(
                              (dot(F.col("v"), a["av"])
                               / (F.col("nrm") * a["anrm"])).alias("sim"),
                              (-a["cell"]).alias("negc"))).alias("sims")))
    cur = scored
    entries = []
    for i in range(nprobe):
        b = f"__b{i}"
        cur = cur.withColumn(b, F.array_max("sims"))
        # NULL when fewer than i+1 supers exist (sims exhausted) — the
        # post-explode filter drops that probe's row
        entries.append(F.struct((-F.col(b)["negc"]).alias("sid"),
                                F.lit(i == 0).alias("pri")))
        if i + 1 < nprobe:
            def _excl(bname: str):
                return lambda s: s["negc"] != F.col(bname)["negc"]

            cur = cur.withColumn("sims", F.filter("sims", _excl(b)))
    # explode_outer + generator-output filter: the InferFiltersFromGenerate
    # hazard (see ivf_assign_multi) would re-run the whole probe chain
    # inside the BNLJ condition with a plain explode
    top = cur.select(id_col, "v", "nrm",
                     F.array(*entries).alias("top"))
    out = top.select(id_col, "v", "nrm",
                     F.explode_outer("top").alias("e"))
    probed = (out.where(F.col("e")["sid"].isNotNull())
              .select(id_col, "v", "nrm",
                      F.coalesce(F.col("e")["sid"],
                                 F.lit(-1).cast("long")).alias("sid"),
                      F.coalesce(F.col("e")["pri"],
                                 F.lit(False)).alias("pri")))
    # Inner hash join = the probed-empty-super semantics: a NON-primary
    # probed super that seeded no sub-anchors (every member's primary
    # lies elsewhere) has no bucket row → no index entry, by design
    buckets = _sub_anchor_buckets(sub_anchors)
    best = (probed.join(F.broadcast(buckets), F.col("sid") == F.col("g"))
            .select(id_col, "v", "nrm", "sid", "pri",
                    _best_sub(F.col("cells")).alias("b")))
    return best.select(F.col(id_col), "v", "nrm", "sid",
                       F.coalesce(-F.col("b")["negs"],
                                  F.lit(-1).cast("long")).alias("sub"),
                       "pri")


def ivf2_top_neighbor(emb: DataFrame,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      n_super: int | None = None,
                      k2: int | None = None,
                      iters: int = 1,
                      cell_cap: int = DEFAULT_CELL_CAP,
                      nprobe: int = 1,
                      train_frac: float | None = None,
                      train_seed: str = "42") -> DataFrame:
    """Approximate nearest neighbor per vector over the TRAINED
    two-level quantizer: pair only within the final (sid, sub) cell,
    exact cosine on cell-mates, bidirectional top-1 — identical search
    semantics to :func:`ivf_top_neighbor`, with the assignment cost cut
    from O(n_cells) to O(n_super + k2) dot products per row.
    ``nprobe`` > 1 probes the top-``nprobe`` SUPER-cells per vector
    (:func:`two_level_assign_multi`) — the recall knob that recovers
    neighbor pairs the greedy super-cell split separates.

    ``n_super``/``k2`` default to :func:`two_level_knobs` over the
    corpus-sized flat cell budget from :func:`auto_knobs` (an eager
    memoized ``count()``, see :func:`corpus_rows`); pass explicit values
    to pin a static plan (the oracle-paired query does)."""
    capped = _ivf2_capped(emb, id_col, vec_col, n_super, k2, iters,
                          cell_cap, nprobe, train_frac, train_seed)
    pairs = _pair_within_cells(capped, ["sid", "sub"], id_col)
    return bidir_top1(score_pairs(pairs))


def ivf2_top_neighbors(emb: DataFrame, k: int = 3,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       n_super: int | None = None,
                       k2: int | None = None,
                       iters: int = 1,
                       cell_cap: int = DEFAULT_CELL_CAP,
                       nprobe: int = 1,
                       train_frac: float | None = None,
                       train_seed: str = "42") -> DataFrame:
    """(vec_id, neighbor_id, cos_sim, rank): top-``k`` retrieval head
    over the TRAINED two-level quantizer — the tree-assignment sibling
    of :func:`ivf_top_neighbors` (ADVICE r7: the top-K head must have a
    path that survives the fourth decade, where the flat argmax is
    42.8× slower than the tree). Identical capped candidate generation
    to :func:`ivf2_top_neighbor`; the tail is the per-vector rank
    window (desc cosine, ties to the smaller id, explicit pair dedup)
    instead of the argmax."""
    capped = _ivf2_capped(emb, id_col, vec_col, n_super, k2, iters,
                          cell_cap, nprobe, train_frac, train_seed)
    pairs = _pair_within_cells(capped, ["sid", "sub"], id_col)
    return bidir_topk(score_pairs(pairs), k)


def _ivf2_capped(emb: DataFrame, id_col: str, vec_col: str,
                 n_super: int | None, k2: int | None, iters: int,
                 cell_cap: int, nprobe: int,
                 train_frac: float | None, train_seed: str) -> DataFrame:
    """The shared front half of the two-level searchers: knob
    derivation, trained (multi-probe-aware) assignment, and the
    two-sided cell cap, persisted as the standing index relation."""
    if n_super is None or k2 is None:
        budget = auto_knobs(corpus_rows(emb))["n_cells"]
        if n_super is None and k2 is None:
            tk = two_level_knobs(budget)
            n_super, k2 = tk["n_super"], tk["k2"]
        elif n_super is None:
            # derive the companion from the CALLER's knob so the tree
            # still covers the corpus-sized cell budget — mixing one
            # explicit knob with the sqrt decomposition's other half
            # could silently undershoot it ~budget/sqrt-fold
            n_super = max(DEFAULT_SUPER_CELLS, -(-budget // k2))
        else:
            k2 = max(DEFAULT_SUB_CELLS, -(-budget // n_super))
    if nprobe > 1:
        assigned = two_level_assign_multi(emb, id_col, vec_col, n_super,
                                          k2, iters, nprobe, train_frac,
                                          train_seed)
    else:
        assigned = two_level_assign(emb, id_col, vec_col, n_super, k2,
                                    iters, train_frac,
                                    train_seed).withColumn("pri",
                                                           F.lit(True))
    # Two-sided cap (ADVICE r6). The cell cap counts PRIMARY rows to
    # gate the whole cell: a secondary-probe row landing in a cell must
    # not evict a cell that passed the cap at nprobe=1, or multi-probe
    # could LOSE matches (the only-improves contract pinned by
    # tests/test_auto_knobs.py). SECONDARY probe rows are then
    # rank-capped per cell (by vec_id — unique within a cell, so
    # deterministic) at cell_cap, bounding a hub cell's probe volume:
    # total rows per surviving cell ≤ 2·cell_cap at any nprobe, and
    # primaries are never dropped.
    w = Window.partitionBy("sid", "sub")
    csz = F.sum(F.when(F.col("pri"), 1).otherwise(0)).over(w)
    srk = F.row_number().over(
        Window.partitionBy("sid", "sub", "pri").orderBy(id_col))
    return (assigned.withColumn("csz", csz).withColumn("srk", srk)
            .where((F.col("csz") <= cell_cap)
                   & (F.col("pri") | (F.col("srk") <= cell_cap)))
            .drop("csz", "srk", "pri")) \
        .persist(StorageLevel.MEMORY_AND_DISK)


def ivf_top_neighbor(emb: DataFrame,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     n_cells: int | None = None,
                     cell_cap: int = DEFAULT_CELL_CAP,
                     nprobe: int = 1) -> DataFrame:
    """Approximate nearest neighbor per vector, IVF variant: pair only
    within the coarse cell(s), exact cosine on cell-mates,
    bidirectional top-1 — the inverted-file counterpart to
    :func:`ann_top_neighbor`'s SRP hashing. ``nprobe`` > 1 assigns each
    vector to its top-``nprobe`` cells (multi-probe), trading candidate
    volume for recall.

    Scale shape: cells shuffle on the cell id; ``n_cells`` is sized to
    the corpus (cells ≈ n / target_cell_size) and ``cell_cap`` bounds
    every cell before pairing — the PRIMARY count gates the whole cell
    (a cell whose primaries exceed the cap is degenerate and dropped)
    and SECONDARY probe rows are separately rank-capped at ``cell_cap``
    per cell (by vec_id, deterministic), so a "hub" cell that is the
    second-nearest anchor for many vectors cannot accumulate O(n)
    probe rows. Within-cell work is therefore bounded by (2·cap)² per
    cell at any nprobe, never corpus-quadratic, and primaries are never
    evicted by probe copies (the only-improves contract). Recall comes
    from cell locality (× nprobe) instead of SRP band OR-ing.

    ``n_cells=None`` (the default) sizes the cell count from the corpus
    via :func:`auto_knobs` (cells ∝ n), so the fixed-knob quadratic
    cannot be written by default; pass an explicit value to pin it. The
    derivation runs an eager ``count()`` at construction (memoized per
    source, see :func:`corpus_rows`)."""
    if n_cells is None:
        knobs = auto_knobs(corpus_rows(emb))
        if knobs["assign"] == "tree":
            # Past the measured crossover (IVF2_CROSSOVER_CELLS) the
            # flat argmax is no longer the surviving plan — route the
            # auto path to the trained two-level tree at the same cell
            # budget (VERDICT r6 item 6). Explicit n_cells pins the
            # flat arm (the oracle-paired queries do).
            tk = two_level_knobs(knobs["n_cells"])
            return ivf2_top_neighbor(emb, id_col, vec_col,
                                     n_super=tk["n_super"], k2=tk["k2"],
                                     cell_cap=cell_cap, nprobe=nprobe)
        n_cells = knobs["n_cells"]
    # ALL nprobe values (including 1) assign through the map-side
    # multi-probe path: ivf_assign's broadcast-join shape materializes
    # n·n_cells candidate rows each carrying the full vector, which at
    # the third scaling decade (200k vectors × 3200 auto cells = 640M
    # vector-bearing rows) exhausts the heap before the argmax collapses
    # it; the multi path scores all anchors per row inside ONE array
    # expression, so memory stays O(n_cells) per row regardless of
    # corpus size. Tie-breaking is identical (desc sim, lowest cell), so
    # nprobe=1 results are row-for-row the same (oracle-checked).
    assigned = ivf_assign_multi(emb, id_col, vec_col, n_cells, nprobe)
    # The capped assignment is the IVF *index*: persist it so the a×b
    # cell self-join reads it twice without planning the whole assign
    # subtree twice (no ReusedExchange fires across the join sides —
    # measured, r4: the duplicated subtree cost more than the pairing).
    # Same standing cost as kmeans_refined_cells' iterative persist: an
    # IVF deployment always materializes its index once per corpus pass.
    # Two-sided cap (ADVICE r6). PRIMARY rows (pos-0 probes) gate the
    # whole cell: a secondary probe copy must not evict a cell that
    # passed the cap at nprobe=1, or multi-probe could LOSE matches —
    # the same only-improves rule ivf2_top_neighbor applies; at
    # nprobe=1 every row is primary and this is exactly the old
    # count(*). SECONDARY rows are then rank-capped per cell (by
    # vec_id, deterministic — vec_id is unique within a cell) so a hub
    # cell that is the second-nearest anchor for many vectors cannot
    # accumulate O(n) probe rows: total rows per surviving cell are
    # ≤ 2·cell_cap at any nprobe, and primaries are never dropped.
    w = Window.partitionBy("cell")
    csz = F.sum(F.when(F.col("pri"), 1).otherwise(0)).over(w)
    srk = F.row_number().over(
        Window.partitionBy("cell", "pri").orderBy(id_col))
    capped = (assigned.withColumn("csz", csz).withColumn("srk", srk)
              .where((F.col("csz") <= cell_cap)
                     & (F.col("pri") | (F.col("srk") <= cell_cap)))
              .drop("csz", "srk", "pri")) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    pairs = _pair_within_cells(capped, ["cell"], id_col)
    return bidir_top1(score_pairs(pairs))


def ivf_top_neighbors(emb: DataFrame, k: int = 3,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      n_cells: int | None = None,
                      cell_cap: int = DEFAULT_CELL_CAP,
                      nprobe: int = 1) -> DataFrame:
    """(vec_id, neighbor_id, cos_sim, rank): each vector's top-``k``
    approximate neighbors — the retrieval-head generalization of
    :func:`ivf_top_neighbor` (k-NN graph construction, rerank
    shortlists, near-dup review queues all consume the head, not just
    the argmax). Identical candidate generation (capped IVF cells,
    exact cosine on cell-mates, both directions from one scoring
    evaluation); the final stage is a per-vector rank window instead
    of a groupBy argmax. Vectors with fewer than ``k`` cell-mates
    return fewer rows (honest recall semantics, as everywhere in this
    module).

    The auto path (``n_cells=None``) mirrors :func:`ivf_top_neighbor`'s
    flat→tree routing (ADVICE r7): past the measured crossover
    (``IVF2_CROSSOVER_CELLS``) it delegates to
    :func:`ivf2_top_neighbors` at the same cell budget, so a scale user
    of the top-K head cannot silently land on the flat argmax the
    crossover measurements show is up to 42.8× slower at the fourth
    decade. Explicit ``n_cells`` pins the flat arm (the oracle-paired
    query does)."""
    if n_cells is None:
        knobs = auto_knobs(corpus_rows(emb))
        if knobs["assign"] == "tree":
            tk = two_level_knobs(knobs["n_cells"])
            return ivf2_top_neighbors(emb, k, id_col, vec_col,
                                      n_super=tk["n_super"], k2=tk["k2"],
                                      cell_cap=cell_cap, nprobe=nprobe)
        n_cells = knobs["n_cells"]
    assigned = ivf_assign_multi(emb, id_col, vec_col, n_cells, nprobe)
    w = Window.partitionBy("cell")
    csz = F.sum(F.when(F.col("pri"), 1).otherwise(0)).over(w)
    srk = F.row_number().over(
        Window.partitionBy("cell", "pri").orderBy(id_col))
    capped = (assigned.withColumn("csz", csz).withColumn("srk", srk)
              .where((F.col("csz") <= cell_cap)
                     & (F.col("pri") | (F.col("srk") <= cell_cap)))
              .drop("csz", "srk", "pri")) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    pairs = _pair_within_cells(capped, ["cell"], id_col)
    return bidir_topk(score_pairs(pairs), k)


def embedding_near_dup_pairs(emb: DataFrame, threshold: float,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             dim: int = 64,
                             bands: int = DEFAULT_BANDS,
                             n_bits: int = DEFAULT_BITS,
                             seed: int = DEFAULT_SEED,
                             bucket_cap: int = DEFAULT_BUCKET_CAP) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above ``threshold`` among SRP
    candidates (the dedup scale path: candidates from equi-joins, exact
    cosine verify only on candidates)."""
    pairs = srp_candidate_pairs(emb, id_col, vec_col, dim, bands, n_bits,
                                seed, bucket_cap)
    return score_pairs(pairs).where(F.col("cos_sim") >= threshold)


def srp_cross_candidates(x: DataFrame, y: DataFrame,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         dim: int = 64,
                         bands: int = DEFAULT_BANDS,
                         n_bits: int = DEFAULT_BITS,
                         seed: int = DEFAULT_SEED,
                         bucket_cap: int = DEFAULT_BUCKET_CAP,
                         eager: bool = True) -> DataFrame:
    """EAGER by default — returns a ``localCheckpoint``'ed DataFrame:
    the candidate set is computed NOW and lives in non-replicated
    executor-local blocks, so callers cannot compose it lazily and an
    executor loss invalidates it (ADVICE r11); pass ``eager=False``
    on clusters with dynamic allocation to get a lazy plan instead
    (the banding subtree then recomputes once per downstream action —
    the plan-reuse tradeoff, documented below).

    Cross-side SRP candidates ``(x_id, y_id)`` for bipartite mining:
    both sides band TOGETHER — one global bucket cap, the exact layout
    of :func:`srp_candidate_pairs` — then x-side rows pair with y-side
    rows within (band, bucket). Equi-joins only, cap bounds every
    bucket before pairing.

    Side membership travels as a TAG COLUMN on the unioned relation
    (ADVICE r10): the earlier id-equi-join back to each side silently
    put an id present in BOTH inputs on both sides of the bucket join;
    with the tag, a row belongs to exactly the side it came from, so
    overlapping side ids are well-defined (they can at most pair with
    the other side's row of the same id). The banded relation (id +
    side + band + bucket, never vectors) is persisted only for the
    duration of this call: the distinct candidate set — output-bound
    by the capped buckets — is materialized eagerly via
    ``localCheckpoint`` and the banded cache RELEASED before
    returning, instead of pinning a corpus-sized relation for the
    session (ADVICE r10)."""
    both = (x.select(F.col(id_col), F.col(vec_col),
                     F.lit("x").alias("side"))
            .unionByName(y.select(F.col(id_col), F.col(vec_col),
                                  F.lit("y").alias("side"))))
    v = fan_out(both).select(F.col(id_col), "side",
                             as_double(vec_col).alias("v"))
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            srp_bucket("v", srp_planes(dim, n_bits, seed + b))
            .alias("bucket"))
        for b in range(bands)
    ]
    banded = (v.select(id_col, "side",
                       F.explode(F.array(*band_structs)).alias("bb"))
              .select(id_col, "side",
                      F.col("bb.band").alias("band"),
                      F.col("bb.bucket").alias("bucket")))
    w = Window.partitionBy("band", "bucket")
    capped = (banded.withColumn("bsz", F.count("*").over(w))
              .where(F.col("bsz") <= bucket_cap).drop("bsz"))
    if eager:
        capped = capped.persist(StorageLevel.MEMORY_AND_DISK)
    xs = (capped.where(F.col("side") == "x")
          .select(F.col(id_col).alias("x_id"), "band", "bucket"))
    ys = (capped.where(F.col("side") == "y")
          .select(F.col(id_col).alias("y_id"), "band", "bucket"))
    cand = xs.join(ys, ["band", "bucket"]).select("x_id", "y_id") \
        .distinct()
    if not eager:
        return cand
    cand = cand.localCheckpoint(eager=True)
    capped.unpersist()
    return cand


def margin_mine_pairs(x: DataFrame, y: DataFrame,
                      k: int = 4,
                      threshold: float = 1.0,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      candidates: DataFrame | None = None,
                      eager: bool = True) -> DataFrame:
    """EAGER by default — returns a ``localCheckpoint``'ed DataFrame:
    the mined pairs are computed NOW and live in non-replicated
    executor-local blocks, so callers cannot compose this lazily and
    an executor loss invalidates the result (ADVICE r11); pass
    ``eager=False`` on clusters with dynamic allocation for a lazy
    plan (the candidate-scoring subtree then recomputes per
    downstream action).

    Margin-based bitext/pair mining between two embedding sides
    (Artetxe & Schwenk's published margin criterion — the method
    large-scale parallel-corpus mining uses): a candidate pair's raw
    cosine is normalized by the mean of both endpoints' top-``k``
    neighborhood cosines, ``margin = cos(x,y) / ((knn̄(x) + knn̄(y)) /
    2)``, which cancels hubness (a vector that is close to EVERYTHING
    scores no pair highly), then only MUTUAL-best pairs above
    ``threshold`` survive — the "max" strategy, each side matched at
    most once. Output: ``(x_id, y_id, margin)``.

    ``candidates`` is the scale knob: pass a ``(x_id, y_id)`` relation
    (e.g. each side's saved-index shortlist —
    ``ann_index.ivf2_index_search(..., k=K)`` renamed) and every
    stage — scoring, neighborhood means, mutual-best — runs over that
    bounded set; the neighborhood mean is then the candidate-top-k
    mean, the standard shortlist approximation of the published
    criterion. ``None`` (default) scores the full bipartite cross —
    the exact baseline, bench-SF / oracle territory like
    :func:`brute_force_knn`.

    Determinism discipline: cosines round to 6 dp; the neighborhood
    mean divides an EXACT decimal(10,6) sum by the count (summation-
    order-proof, the corpus-health recipe) and stays unrounded — only
    the final margin rounds; ranks break ties on the partner id.

    The candidate-scoring subtree ``cs`` (ids + cos_sim only — the
    most expensive stage: candidate join + per-pair dot products) is
    referenced by the neighborhood means AND the margin join, so it is
    persisted for the duration of the call (ADVICE r10 — it was
    recomputed 3× at mining scale); the mutual-best result — tiny by
    construction, each side matched at most once — is materialized
    eagerly via ``localCheckpoint`` so the cache can be RELEASED
    before returning instead of pinning for the session."""
    xv = fan_out(x).select(F.col(id_col).alias("x_id"),
                           as_double(vec_col).alias("xv"))
    xv = xv.select("x_id", "xv", l2_norm(F.col("xv")).alias("xn"))
    yv = fan_out(y).select(F.col(id_col).alias("y_id"),
                           as_double(vec_col).alias("yv"))
    yv = yv.select("y_id", "yv", l2_norm(F.col("yv")).alias("yn"))
    if candidates is not None:
        paired = (candidates.select("x_id", "y_id")
                  .join(xv, "x_id").join(yv, "y_id"))
    else:
        paired = xv.crossJoin(yv)
    cs = paired.select(
        "x_id", "y_id",
        F.round(dot(F.col("xv"), F.col("yv"))
                / (F.col("xn") * F.col("yn")), 6).alias("cos_sim"))
    if eager:
        cs = cs.persist(StorageLevel.MEMORY_AND_DISK)
    wx = Window.partitionBy("x_id").orderBy(F.desc("cos_sim"),
                                            F.asc("y_id"))
    wy = Window.partitionBy("y_id").orderBy(F.desc("cos_sim"),
                                            F.asc("x_id"))
    ranked = (cs.withColumn("rnx", F.row_number().over(wx))
              .withColumn("rny", F.row_number().over(wy)))
    # the mean stays UNROUNDED: an exact decimal sum cast to double,
    # divided by the count — deterministic IEEE in both engines. A
    # 6 dp round here would sit exactly on .5 boundaries (6 dp values
    # / 2) where Spark's decimal-string HALF_UP and DuckDB's binary
    # round disagree (observed: two dx flaps at sf0.01); the margin
    # rounds ONCE at the end, where the full-precision quotient makes
    # a boundary hit vanishingly unlikely.
    dec = F.col("cos_sim").cast("decimal(10,6)")
    dx = (ranked.where(F.col("rnx") <= k).groupBy("x_id")
          .agg((F.sum(dec).cast("double")
                / F.count(F.lit(1))).alias("dx")))
    dy = (ranked.where(F.col("rny") <= k).groupBy("y_id")
          .agg((F.sum(dec).cast("double")
                / F.count(F.lit(1))).alias("dy")))
    # a NON-POSITIVE denominator (possible when both neighborhoods
    # average negative cosine — adversarial inputs; found by the
    # hypothesis fuzz as an ANSI DIVIDE_BY_ZERO at dx = -dy) makes the
    # ratio criterion meaningless, so those pairs are unscorable and
    # drop before the division ever runs
    den = (F.col("dx") + F.col("dy")) / 2
    m = (cs.join(dx, "x_id").join(dy, "y_id")
         .where(den > 0)
         .select("x_id", "y_id",
                 F.round(F.col("cos_sim") / den, 6).alias("margin")))
    bx = Window.partitionBy("x_id").orderBy(F.desc("margin"),
                                            F.asc("y_id"))
    by = Window.partitionBy("y_id").orderBy(F.desc("margin"),
                                            F.asc("x_id"))
    mined = (m.withColumn("bx", F.row_number().over(bx))
             .withColumn("by", F.row_number().over(by))
             .where((F.col("bx") == 1) & (F.col("by") == 1)
                    & (F.col("margin") > threshold))
             .select("x_id", "y_id", "margin"))
    if not eager:
        return mined
    mined = mined.localCheckpoint(eager=True)
    cs.unpersist()
    return mined


DEFAULT_PQ_BLOCKS = 4
DEFAULT_PQ_CODEWORDS = 16


def _pq_cand_fn(s: F.Column, b: int, sub: int):
    """Per-block codeword candidate: struct(d2, code) with d2 expanded
    as (s·s − 2·s·c) + c·c in that exact operation order — the single
    construction site for the PQ argmin expression shared by
    :func:`pq_codes`, :func:`pq_sdc_top_neighbor`, and the saved-index
    encoder (``operators.ann_index``), so the engines and the lifecycle
    can never drift on encoding arithmetic."""
    def _cand(c: F.Column) -> F.Column:
        cs = F.slice(c["cv"], b * sub + 1, sub)
        d2 = dot(s, s) - F.lit(2.0) * dot(s, cs) + dot(cs, cs)
        return F.struct(d2.alias("d2"), c["code"].alias("code"))
    return _cand


def pq_best(cb: F.Column, s: F.Column, b: int, sub: int) -> F.Column:
    """The per-block PQ argmin — ``struct(d2, code)`` of the nearest
    codeword: a LINEAR native ``array_min`` struct-compare over the
    broadcast codebook array (min d2, ties to the lowest code — the
    same total ordering as ``array_sort(...)[1]``, which this replaces:
    the sort materialized and ordered all k candidates per row per
    block, O(k log k) + an array allocation, for a head-1 read —
    round 15, guide §1.2 per-task work). The single shared argmin site
    for every encoder (fused, trainer, saved-index build/search), so
    the lifecycle can never drift on encoding arithmetic."""
    return F.array_min(F.transform(cb, _pq_cand_fn(s, b, sub)))


# One-slot, plan-keyed cache for the PQ trainer's persisted codebook
# chain (ADVICE r8): a training call whose logical plan is the SAME
# RESULT as the slot's (same corpus, same knobs — Catalyst
# ``sameResult``) reuses the cached codebook, a different one releases
# the slot and takes it. A session that trains many codebooks
# (repeated builds, bench loops, serving sessions) therefore holds AT
# MOST one k-row cached chain at any time — accumulation-free — while
# repeated identical trainings (retry loops, repeated self-searches
# over one corpus) stay amortized, and the returned codebook stays a
# lazy, persist-backed relation that fuses into the consumer's single
# action (an eager collect-to-literal variant measured 1.9× slower at
# bench scale: two extra driver jobs of pure stage overhead). A
# consumer still holding a RELEASED plan simply recomputes it
# (deterministic DECIMAL means — bit-identical).
_TRAINED_SLOT: list = []


def _slot_lookup(cb: DataFrame) -> DataFrame | None:
    """Return the slot's cached codebook when its logical plan computes
    the same result as ``cb``; otherwise release the slot. Any py4j
    failure (e.g. the slot belongs to a stopped session) counts as a
    miss and clears the slot."""
    if not _TRAINED_SLOT:
        return None
    prev = _TRAINED_SLOT[-1]
    try:
        if cb._jdf.queryExecution().analyzed().sameResult(
                prev._jdf.queryExecution().analyzed()):
            return prev
    except Exception:
        pass
    for df in _TRAINED_SLOT:
        try:
            df.unpersist()
        except Exception:
            pass
    _TRAINED_SLOT.clear()
    return None


def train_pq_codebook(v: DataFrame, id_col: str, dim: int, m: int,
                       k: int, iters: int = 1,
                       train_frac: float | None = None,
                       train_seed: str = "42",
                       seeds: DataFrame | None = None) -> DataFrame:
    """Per-block k-means TRAINING of the PQ codebook (VERDICT r7
    item 3) — the production recipe the first-k seed path stands in
    for: each of the ``m`` blocks runs ``iters`` Lloyd passes over the
    (optionally md5-gate-sampled) corpus subvectors, seeded by the
    first-``k`` unit rows (or the caller's ``seeds`` — the saved-index
    builder passes its densified codebook). Returns (code, cv) with
    ``cv`` the concatenation of the per-block trained centroids, the
    exact layout every encoder/LUT consumer slices.

    Parity contract: assignment uses the single shared
    :func:`_pq_cand_fn` arithmetic ((s·s − 2·s·c) + c·c, ties to the
    lowest code), means are DECIMAL(25,6) per dimension (bit-identical
    across engines and partitionings, the :func:`_lloyd` rule), and a
    codeword that attracts NO members keeps its previous value — k
    stays fixed and code ids contiguous, which the SDC LUT's position
    arithmetic requires.

    Cache discipline (ADVICE r8): the final codebook is persisted and
    registered in the module's one-slot plan-keyed cache — an
    identical retraining (same corpus, same knobs) reuses it, a
    different one releases it, so repeated builds never accumulate
    cached relations (pytest-pinned). Iterations feed each other
    lazily (no intermediate persists — with the production iters of
    1-2 the worst case is one recompute of the previous pass inside
    the single consuming action)."""
    sub = dim // m
    vu = v.select(F.col(id_col),
                  F.transform(F.col("v"), lambda x: x / F.col("nrm"))
                  .alias("vu"))
    if train_frac is not None and train_frac < 1.0:
        vt = vu.where(sample_gate(id_col, train_frac, train_seed))
    else:
        vt = vu
    if seeds is not None:
        cb = seeds
    else:
        check_seed_id_dtype(vu, id_col, "train_pq_codebook")
        cb = vu.where(F.col(id_col) < k).select(
            F.col(id_col).cast("int").alias("code"),
            F.col("vu").alias("cv"))
    for _ in range(iters):
        cb_arr = cb.agg(F.collect_list(F.struct("code", "cv")).alias("cb"))
        enc = vt.join(F.broadcast(cb_arr))
        entries = []
        for b in range(m):
            s = F.slice(F.col("vu"), b * sub + 1, sub)
            best = pq_best(F.col("cb"), s, b, sub)
            entries.append(F.struct(F.lit(b).alias("b"),
                                    best["code"].alias("code"),
                                    s.alias("s")))
        rows = (enc.select(F.explode(F.array(*entries)).alias("e"))
                .select("e.*"))
        dims = (rows.select("b", "code", F.posexplode("s").alias("pos", "x"))
                .groupBy("b", "code", "pos")
                .agg((F.sum(F.col("x").cast("decimal(25,6)")).cast("double")
                      / F.count("*")).alias("mn")))
        cent = (dims.groupBy("b", "code")
                .agg(F.array_sort(
                    F.collect_list(F.struct("pos", "mn"))).alias("a"))
                .select("b", "code",
                        F.transform(F.col("a"), lambda e: e["mn"])
                        .alias("cs")))
        seed_entries = [F.struct(F.lit(b).alias("b"), F.col("code"),
                                 F.slice(F.col("cv"), b * sub + 1, sub)
                                 .alias("cs0")) for b in range(m)]
        prior = (cb.select(F.explode(F.array(*seed_entries)).alias("e"))
                 .select("e.*"))
        merged = (prior.join(cent, ["b", "code"], "left")
                  .select("code", "b",
                          F.coalesce(F.col("cs"), F.col("cs0"))
                          .alias("cs")))
        cb = (merged.groupBy("code")
              .agg(F.array_sort(F.collect_list(F.struct("b", "cs")))
                   .alias("a"))
              .select("code",
                      F.flatten(F.transform(F.col("a"), lambda e: e["cs"]))
                      .alias("cv")))
    hit = _slot_lookup(cb)
    if hit is not None:
        return hit
    cb = cb.persist(StorageLevel.MEMORY_AND_DISK)
    _TRAINED_SLOT.append(cb)
    return cb


def pq_codes(emb: DataFrame,
             id_col: str = "vec_id",
             vec_col: str = "embedding",
             dim: int = 64,
             m: int = DEFAULT_PQ_BLOCKS,
             k: int = DEFAULT_PQ_CODEWORDS) -> DataFrame:
    """Product-quantization codes: compress each ``dim``-dim vector to
    ``m`` sub-codes (one per contiguous block of ``dim/m`` dims), each
    the argmin-L2 codeword of that block's codebook — the IVF-**PQ**
    memory-side of a billion-vector ANN deployment (Jégou et al., PAMI
    2011): 64 floats become 4 bytes, and distances can later be
    approximated from codes alone via a per-block lookup table.

    Codebook: block-slices of the vectors with ``id < k`` —
    deterministic and seedless like :func:`ivf_assign`'s anchors (a
    per-block k-means would drop in unchanged). The whole codebook
    (m·k short arrays) collapses into ONE broadcast row, so encoding is
    a per-row ``transform``: m·k small dot products inside the scan
    task, **zero data shuffles** — the plan a 100 TB encode pass needs
    (the only exchange is the k-row codebook collect).

    Per block the argmin is ``element_at(array_sort(struct(d2, code)),
    1)`` — ascending (distance, code), so ties break to the lowest code
    deterministically. d2 is expanded as ``(s·s − 2·s·c) + c·c`` in
    that exact operation order; the DuckDB oracle mirrors it
    bit-identically via ``list_dot_product``.

    Returns (id, code_0..code_{m-1}, recon_err) where recon_err is the
    total squared quantization error — the distortion metric PQ
    codebook training monitors."""
    check_seed_id_dtype(emb, id_col, "pq_codes")
    sub = dim // m
    v = fan_out(emb).select(F.col(id_col), as_double(vec_col).alias("v"))
    cb = (v.where(F.col(id_col) < k)
          .select(F.col(id_col).cast("int").alias("code"),
                  F.col("v").alias("cv")))
    cb_arr = cb.agg(F.collect_list(F.struct("code", "cv")).alias("cb"))
    row = v.join(F.broadcast(cb_arr))

    out_cols = [F.col(id_col)]
    d2_cols = []
    for b in range(m):
        s = F.slice(F.col("v"), b * sub + 1, sub)
        best = pq_best(F.col("cb"), s, b, sub)
        out_cols.append(best["code"].alias(f"code{b}"))
        d2_cols.append(best["d2"])
    recon = d2_cols[0]
    for d2 in d2_cols[1:]:
        recon = recon + d2
    out_cols.append(F.round(recon, 6).alias("recon_err"))
    return row.select(*out_cols)


def pq_sdc_top_neighbor(emb: DataFrame,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        dim: int = 64,
                        m: int = DEFAULT_PQ_BLOCKS,
                        k: int = DEFAULT_PQ_CODEWORDS,
                        n_cells: int = DEFAULT_IVF_CELLS,
                        cell_cap: int = DEFAULT_CELL_CAP,
                        rerank: int = 0,
                        train_iters: int = 0,
                        train_frac: float | None = None,
                        train_seed: str = "42") -> DataFrame:
    """IVF-PQ search: approximate nearest neighbor per vector where the
    candidate set comes from the IVF coarse cell and the distance comes
    from **PQ codes only** — the symmetric-distance (SDC) table lookup
    of Jégou et al. Full vectors never enter the pairing stage: the
    persisted index relation is (id, cell, m small ints), so the cell
    self-join shuffles a few bytes per row where the exact-cosine IVF
    path shuffles 64 doubles — the memory/bandwidth win that makes
    billion-vector ANN fit a cluster.

    The m·k² per-block codeword-distance table collapses into ONE
    broadcast sorted array; a pair's distance is m O(1) ``element_at``
    lookups (index = (b·k + code_a)·k + code_b + 1 over the
    (b, ca, cb)-sorted array) summed in fixed order and rounded before
    the argmin, so both engines rank identically.

    ``rerank=0`` returns the pure compressed-domain answer
    (vec_id, neighbor_id, sdc). ``rerank=R`` adds the deployment-shape
    refine stage: shortlist each vector's top-R candidates by SDC, then
    exact-cosine only those n·R rows (vectors re-attached by two
    id-equi-joins — the *only* stage raw vectors touch after encoding)
    and return (vec_id, neighbor_id, cos_sim). Measured at sf0.01,
    R=20 recovers the full exact-within-cell ceiling (recall@1 0.198
    vs 0.036 for raw SDC with this untrained 4×16 codebook) while
    exact-scoring ~R rows per vector instead of the whole cell.

    ``train_iters`` > 0 swaps the first-``k`` seed codebook for the
    per-block-Lloyd TRAINED one (:func:`train_pq_codebook`, optionally
    gate-sampled via ``train_frac``) — the production codebook; the
    measured recall lift is in PLANS.md (VERDICT r7 item 3)."""
    check_seed_id_dtype(emb, id_col, "pq_sdc_top_neighbor")
    sub = dim // m
    v = fan_out(emb).select(F.col(id_col), as_double(vec_col).alias("v"))
    v = v.select(id_col, "v", l2_norm(F.col("v")).alias("nrm"))
    anchors = (v.where(F.col(id_col) < n_cells)
               .select(F.col(id_col).alias("cell"),
                       F.col("v").alias("av"),
                       F.col("nrm").alias("anrm")))
    assigned = assign_to_anchors(v, anchors, id_col)
    # Cosine metric: encode UNIT vectors, so argmin-L2 over codes is
    # argmax-cosine (L2² = 2 − 2·cos on the unit sphere). Without this
    # the SDC ranking answers "nearest by raw L2", which for
    # unnormalized embeddings is norm-dominated and measured recall@1
    # collapses to ~0 against the cosine ground truth.
    assigned = assigned.withColumn(
        "vu", F.transform(F.col("v"), lambda x: x / F.col("nrm")))

    if train_iters > 0:
        cb = train_pq_codebook(v, id_col, dim, m, k, train_iters,
                                train_frac, train_seed)
    else:
        cb = (v.where(F.col(id_col) < k)
              .select(F.col(id_col).cast("int").alias("code"),
                      F.transform(F.col("v"), lambda x: x / F.col("nrm"))
                      .alias("cv")))
    cb_arr = cb.agg(F.collect_list(F.struct("code", "cv")).alias("cb"))

    enc_cols = [F.col(id_col), F.col("cell")]
    for b in range(m):
        s = F.slice(F.col("vu"), b * sub + 1, sub)
        best = pq_best(F.col("cb"), s, b, sub)
        enc_cols.append(best["code"].alias(f"code{b}"))
    index = assigned.join(F.broadcast(cb_arr)).select(*enc_cols)
    w = Window.partitionBy("cell")
    index = (index.withColumn("csz", F.count("*").over(w))
             .where(F.col("csz") <= cell_cap).drop("csz")) \
        .persist(StorageLevel.MEMORY_AND_DISK)

    # per-block codeword-distance table -> one sorted broadcast array
    cba = cb.select(F.col("code").alias("ca"), F.col("cv").alias("cva"))
    cbb = cb.select(F.col("code").alias("cbc"), F.col("cv").alias("cvb"))
    lut_structs = []
    for b in range(m):
        sa = F.slice(F.col("cva"), b * sub + 1, sub)
        sb = F.slice(F.col("cvb"), b * sub + 1, sub)
        d2 = dot(sa, sa) - F.lit(2.0) * dot(sa, sb) + dot(sb, sb)
        lut_structs.append(F.struct(
            F.lit(b).alias("b"), F.col("ca"), F.col("cbc"),
            d2.alias("d2")))
    lut_rows = (cba.crossJoin(F.broadcast(cbb))
                .select(F.explode(F.array(*lut_structs)).alias("e"))
                .select("e.*"))
    lut_arr = lut_rows.agg(F.array_sort(
        F.collect_list(F.struct("b", "ca", "cbc", "d2"))).alias("lut"))

    a = index.select(F.col(id_col).alias("id_a"), F.col("cell"),
                     *[F.col(f"code{b}").alias(f"ca{b}") for b in range(m)])
    bi = index.select(F.col(id_col).alias("id_b"), F.col("cell"),
                      *[F.col(f"code{b}").alias(f"cb{b}") for b in range(m)])
    pairs = (a.join(bi, "cell")
             .where(F.col("id_a") < F.col("id_b"))
             .join(F.broadcast(lut_arr)))

    def _lookup(b: int) -> F.Column:
        idx = (F.lit(b * k) + F.col(f"ca{b}")) * k + F.col(f"cb{b}") + 1
        return F.element_at(F.col("lut"), idx.cast("int"))["d2"]

    sdc = _lookup(0)
    for b in range(1, m):
        sdc = sdc + _lookup(b)
    scored = pairs.select("id_a", "id_b", F.round(sdc, 6).alias("sdc"))
    both = scored.select(F.explode(F.array(
        F.struct(F.col("id_a").alias("vec_id"),
                 F.col("id_b").alias("nbr"), F.col("sdc")),
        F.struct(F.col("id_b").alias("vec_id"),
                 F.col("id_a").alias("nbr"), F.col("sdc")),
    )).alias("e")).select("e.*")
    if rerank <= 0:
        best = both.groupBy("vec_id").agg(
            F.min(F.struct(F.col("sdc"), F.col("nbr"))).alias("best"))
        return best.select(
            "vec_id",
            F.col("best.nbr").alias("neighbor_id"),
            F.col("best.sdc").alias("sdc"))
    # refine: top-R shortlist by SDC, exact cosine on those rows only
    ws = Window.partitionBy("vec_id").orderBy(F.asc("sdc"), F.asc("nbr"))
    short = (both.withColumn("rn", F.row_number().over(ws))
             .where(F.col("rn") <= rerank).select("vec_id", "nbr"))
    va = v.select(F.col(id_col).alias("vec_id"), F.col("v").alias("va"),
                  F.col("nrm").alias("na"))
    vb = v.select(F.col(id_col).alias("nbr"), F.col("v").alias("vb"),
                  F.col("nrm").alias("nb"))
    exact = (short.join(va, "vec_id").join(vb, "nbr")
             .select("vec_id", "nbr",
                     F.round(dot(F.col("va"), F.col("vb"))
                             / (F.col("na") * F.col("nb")), 6)
                     .alias("cos_sim")))
    best = exact.groupBy("vec_id").agg(
        F.max(F.struct(F.col("cos_sim"), (-F.col("nbr")).alias("neg_id")))
        .alias("best"))
    return best.select(
        "vec_id",
        (-F.col("best.neg_id")).alias("neighbor_id"),
        F.col("best.cos_sim").alias("cos_sim"))
