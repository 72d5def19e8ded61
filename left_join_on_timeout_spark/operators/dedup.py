"""Deduplication operators for the training-data pipeline surface:
exact, MinHash+LSH, SimHash, and n-gram Jaccard.

Design for 100 TB:

* Exact dedup is one hash aggregation on a text digest — never on the raw
  text (shuffling a 64-char digest instead of multi-KB documents).
* MinHash is **string-min based**: the ``k`` permutation values for a
  shingle are non-overlapping 8-hex-char chunks of ``ceil(k/4)`` md5
  digests (``md5(shingle)``, ``md5(shingle‖'#1')``, …) — 3 md5 calls per
  shingle instead of one per permutation (the r1 plan spent 53% of the
  whole bench in 12× md5). Signatures are computed **row-local** from
  each doc's distinct-shingle array (``array_min`` over ``transform``):
  zero shuffles to build, embarrassingly parallel at any corpus size.
  Banding turns near-dup search into an equi-join on
  (band_idx, band_hash) with a hard per-bucket cap (a degenerate common
  band hash is dropped, never joined quadratically). The md5 chunk family
  is engine-portable, so the DuckDB oracle reproduces signatures
  bit-for-bit.
* SimHash packs a 16-bit signature from the high bit of each md5 hex digit
  of every token; Hamming-0 buckets come out of a plain group-by.
* Jaccard verification joins candidate pairs on shared shingles only —
  the join key prunes non-overlapping pairs before any pair is scored.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from left_join_on_timeout_spark.functions.text import normalize, words
from left_join_on_timeout_spark.partitioning import fan_out

DEFAULT_SHINGLE = 3  # word 3-grams
DEFAULT_K = 12       # minhash permutations
DEFAULT_BANDS = 4    # 4 bands × 3 rows


def lsh_band_knobs(threshold: float, k: int = DEFAULT_K,
                   dense: bool = False) -> dict[str, int]:
    """Banding knobs from the target Jaccard threshold — the LSH analog
    of :func:`~left_join_on_timeout_spark.operators.similarity.auto_knobs`
    (VERDICT r5 item 5). Unlike the IVF/SRP knobs these do NOT scale
    with corpus size: (bands, rows-per-band) set the S-curve inflection
    ``t* = (1/bands)^(rows/1)``⁻¹ — i.e. ``(1/b)^(1/r)`` — the
    similarity at which a pair's candidate probability
    ``1 − (1 − s^r)^b`` crosses ~50%. What corpus size DOES change is
    the *cost of the choice*, and that is governed by duplicate
    DENSITY, not rows:

    * ``dense=False`` (the realistic web-corpus case, measured dup
      rates of a few percent — see the fourth-decade density study in
      PLANS.md): pick the decomposition with the LARGEST inflection ≤
      ``threshold`` — recall-first. The candidate term is
      ~n·dup_rate·E[clique−1], corpus-linear, so extra candidate mass
      from a generous curve is cheap.
    * ``dense=True`` (dup-heavy or adversarial corpora — replica
      cliques, boilerplate floods): pick the SMALLEST inflection ≥
      ``threshold`` — precision-first. Candidates grow with
      clique²·n_cliques (the third-decade 26.8 M-pair shape), so the
      curve must suppress sub-threshold mass; the per-bucket cap then
      bounds what remains. The library default (4 bands × 3 rows,
      inflection ≈ 0.63 for t = 0.5) is exactly this arm — sized for
      the adversarial bench corpora the suite measures.

    Only exact divisors of ``k`` are considered (bands must tile the
    signature); falls back to the nearest-inflection decomposition when
    no divisor lands on the requested side of the threshold."""
    if not (0.0 < threshold < 1.0):
        raise ValueError(f"threshold must be in (0, 1): {threshold}")
    opts = [(b, k // b) for b in range(1, k + 1) if k % b == 0]

    def infl(bt: tuple[int, int]) -> float:
        b, r = bt
        return (1.0 / b) ** (1.0 / r)

    side = ([o for o in opts if infl(o) >= threshold] if dense
            else [o for o in opts if infl(o) <= threshold])
    pick = (min(side, key=infl) if dense else max(side, key=infl)) \
        if side else min(opts, key=lambda o: abs(infl(o) - threshold))
    return {"bands": pick[0], "rows_per_band": pick[1]}


def streaming_exact_dedup(stream: DataFrame, keys: list[str], ts_col: str,
                          delay: str) -> DataFrame:
    """Streaming exact dedup (SURVEY §2.2): keep the first record per key
    among records within ``delay`` of each other on the event clock —
    ``dropDuplicatesWithinWatermark``, so per-key state is evicted once
    the watermark passes (bounded state at 100 TB, unlike a plain
    streaming ``dropDuplicates`` whose state grows forever)."""
    return (stream.withWatermark(ts_col, delay)
            .dropDuplicatesWithinWatermark(keys))


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups keyed by a whitespace-normalized md5 digest:
    (digest, keep_id = min id, n copies)."""
    digest = F.md5(F.regexp_replace(normalize(text_col), r"\s+", " "))
    return (df.select(F.col(id_col), digest.alias("digest"))
            .groupBy("digest")
            .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n")))


def shingles_of(w: Column, n: int = DEFAULT_SHINGLE) -> Column:
    """Word n-gram shingles of a *materialized* words-array column
    (1-based element_at so the SQL twin matches). Docs shorter than n
    words contribute one whole-text shingle.

    ``w`` must be a plain column reference, not the tokenizer expression:
    higher-order-function lambdas re-evaluate captured expressions per
    element, so an inlined ``split(lower(text))`` would re-run the regex
    ~3× per shingle (this was 85% of the r1 minhash cost)."""
    make = F.transform(
        F.sequence(F.lit(1), F.size(w) - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(w, i + j) for j in range(n)]),
    )
    return F.when(F.size(w) >= n, make).otherwise(
        F.array(F.concat_ws(" ", w)))


def shingle_sets(df: DataFrame, id_col: str, text_col: str,
                 n: int = DEFAULT_SHINGLE) -> DataFrame:
    """(id, sh_set): the *distinct* shingle set of each document as one
    array column — a pure narrow projection (tokenize → n-gram →
    array_distinct), no explode and no shuffle. The whole MinHash /
    Jaccard family derives from this row shape: signature mins and set
    intersections are per-row array expressions, so signature build costs
    zero shuffles at any corpus size. The input is fanned out first so
    the md5-heavy projections use every core even off a tiny scan."""
    return (fan_out(df).select(F.col(id_col), words(text_col).alias("_w"))
            .select(F.col(id_col),
                    F.array_distinct(
                        shingles_of(F.col("_w"), n)).alias("sh_set")))


CHUNKS_PER_MD5 = 4  # 32 hex chars → 4 non-overlapping 8-char chunks


def minhash_digest_plan(k: int) -> list[tuple[int, int]]:
    """Permutation j ← (digest index, 1-based substr offset). Digest 0 is
    ``md5(shingle)``, digest d>0 is ``md5(shingle‖'#d')``; each digest
    yields 4 independent 32-bit (8-hex-char) chunks."""
    return [(j // CHUNKS_PER_MD5, (j % CHUNKS_PER_MD5) * 8 + 1)
            for j in range(k)]


def with_minhash(sets: DataFrame, id_col: str, k: int) -> DataFrame:
    """Append m0..m{k-1} minhash columns to a (id, sh_set) frame as pure
    per-row array expressions: one projection concatenates the ceil(k/4)
    md5 digests of each shingle into ``_hcat`` (md5 runs once per shingle
    — the separate Project keeps CollapseProject from inlining it k
    times), a second takes ``array_min`` of each 8-hex-char slice. Zero
    shuffles — signature build is embarrassingly parallel at any scale."""
    plan = minhash_digest_plan(k)
    n_digests = max(d for d, _ in plan) + 1
    hcat = F.transform(
        F.col("sh_set"),
        lambda s: F.concat(*[
            F.md5(s if d == 0 else F.concat(s, F.lit(f"#{d}")))
            for d in range(n_digests)]))
    hashed = sets.withColumn("_hcat", hcat)
    mins = [
        F.array_min(F.transform(
            F.col("_hcat"),
            lambda h: h.substr(F.lit(d * 32 + off), F.lit(8)))).alias(f"m{j}")
        for j, (d, off) in enumerate(plan)
    ]
    return hashed.select(id_col, "sh_set", *mins)


def minhash_signature(df: DataFrame, id_col: str, text_col: str,
                      k: int = DEFAULT_K,
                      shingle_n: int = DEFAULT_SHINGLE) -> DataFrame:
    """(id, m0..m{k-1}): per-doc minhash signature, computed entirely
    row-local from the document's distinct-shingle array — no explode, no
    group-by, no shuffle (duplicate shingles can't change a min, so
    array_distinct is semantics-preserving)."""
    sets = shingle_sets(df, id_col, text_col, shingle_n)
    return with_minhash(sets, id_col, k).drop("sh_set")


DEFAULT_LSH_BUCKET_CAP = 200


def band_rows(sig: DataFrame, id_col: str,
              k: int = DEFAULT_K,
              bands: int = DEFAULT_BANDS) -> DataFrame:
    """(id, band, h): each signature's per-band bucket digests — one
    row-local explode, the only relation LSH joins ever touch."""
    rows = k // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"m{b * rows + r}") for r in range(rows)]
        band_cols.append(F.struct(F.lit(b).alias("band"),
                                  F.md5(F.concat_ws("|", *parts)).alias("h")))
    return sig.select(
        F.col(id_col),
        F.explode(F.array(*band_cols)).alias("bh"),
    ).select(id_col, F.col("bh.band").alias("band"), F.col("bh.h").alias("h"))


def lsh_candidate_pairs(sig: DataFrame, id_col: str,
                        k: int = DEFAULT_K,
                        bands: int = DEFAULT_BANDS,
                        bucket_cap: int = DEFAULT_LSH_BUCKET_CAP) -> DataFrame:
    """Band the signature and equi-join on (band_idx, band_hash):
    distinct candidate pairs (id_a < id_b). The self-join key is a 32-char
    digest — tiny shuffle payload regardless of document size. Buckets
    bigger than ``bucket_cap`` (a degenerate common band hash — e.g. a
    boilerplate shingle set shared by millions of docs) are dropped before
    the self-join: an explicit recall tradeoff instead of an O(bucket²)
    stage."""
    banded = band_rows(sig, id_col, k, bands)
    w = Window.partitionBy("band", "h")
    # persisted index (id + band + digest only): the a×b self-join below
    # would otherwise plan the whole upstream signature subtree — k
    # row-local minhashes over every shingle — twice (ReusedExchange
    # never fires across self-join sides; measured r4, PLANS.md)
    banded = (banded.withColumn("bsz", F.count("*").over(w))
              .where(F.col("bsz") <= bucket_cap)
              .drop("bsz")).persist(StorageLevel.MEMORY_AND_DISK)
    a = banded.select(F.col(id_col).alias("id_a"), "band", "h")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "h")
    return (a.join(b, ["band", "h"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct())


def lsh_probe_pairs(index_sig: DataFrame, probe_sig: DataFrame, id_col: str,
                    k: int = DEFAULT_K,
                    bands: int = DEFAULT_BANDS,
                    bucket_cap: int = DEFAULT_LSH_BUCKET_CAP) -> DataFrame:
    """Probe-only LSH — the incremental-ingest shape: a *new batch*
    probes the standing corpus index without the index ever re-pairing
    with itself. Both sides band row-locally; the capacity cap applies
    to INDEX buckets (the standing side is where degenerate boilerplate
    buckets accumulate over time); candidates are one equi-join of
    batch bands against index buckets. At 100 TB this is the only join
    whose cost grows with the batch, not the corpus — the index side is
    a pre-bucketed (band, digest) relation a real deployment keeps
    materialized between ingests. Returns distinct
    ``(probe_id, index_id)``."""
    idx = band_rows(index_sig, id_col, k, bands)
    w = Window.partitionBy("band", "h")
    idx = (idx.withColumn("bsz", F.count("*").over(w))
           .where(F.col("bsz") <= bucket_cap)
           .drop("bsz")).persist(StorageLevel.MEMORY_AND_DISK)
    prb = band_rows(probe_sig, id_col, k, bands)
    return (prb.select(F.col(id_col).alias("probe_id"), "band", "h")
            .join(idx.select(F.col(id_col).alias("index_id"), "band", "h"),
                  ["band", "h"])
            .select("probe_id", "index_id")
            .distinct())


def lsh_verified_near_dups(df: DataFrame, id_col: str, text_col: str,
                           threshold: float = 0.5,
                           k: int = DEFAULT_K,
                           bands: int | None = None,
                           shingle_n: int = DEFAULT_SHINGLE,
                           bucket_cap: int = DEFAULT_LSH_BUCKET_CAP,
                           dense: bool = True) -> DataFrame:
    """The full near-dup pipeline at its 100 TB shape: MinHash → LSH
    banding → candidate pairs → exact Jaccard ≥ ``threshold`` verify on
    candidates only. Signatures are row-local array math (no shuffle);
    candidates come from a capped equi-join; the verify stage joins the
    (small) candidate list back to per-doc shingle arrays on id and
    scores each pair with one ``array_intersect`` — nothing is quadratic
    in the corpus, and no shingle-level join ever runs.

    ``bands=None`` (the default) derives the band count from the target
    ``threshold`` via :func:`lsh_band_knobs` — ``dense=True``
    (precision-first, the conservative arm for dup-heavy corpora; at
    the default threshold 0.5 it resolves to the library's historical
    4×3 banding, so existing plans and oracle hashes are unchanged) or
    ``dense=False`` (recall-first, for corpora with measured-sparse dup
    density — the fourth-decade study in PLANS.md). Pass an explicit
    value to pin the banding regardless of threshold."""
    if bands is None:
        bands = lsh_band_knobs(threshold, k, dense=dense)["bands"]

    # the shingle-set relation feeds the signature AND both verify
    # sides — persist it once (the pipeline's standing index cost)
    # instead of shingling the corpus three times
    sets = shingle_sets(df, id_col, text_col, shingle_n) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    sig = with_minhash(sets, id_col, k).drop("sh_set")
    cand = lsh_candidate_pairs(sig, id_col, k, bands, bucket_cap)
    sized = sets.select(F.col(id_col), "sh_set",
                        F.size("sh_set").alias("n_sh"))
    a = sized.select(F.col(id_col).alias("id_a"),
                     F.col("sh_set").alias("set_a"),
                     F.col("n_sh").alias("n_a"))
    b = sized.select(F.col(id_col).alias("id_b"),
                     F.col("sh_set").alias("set_b"),
                     F.col("n_sh").alias("n_b"))
    jac = (cand.join(a, "id_a").join(b, "id_b")
           .withColumn("inter", F.size(F.array_intersect("set_a", "set_b")))
           .withColumn("jaccard",
                       F.col("inter") /
                       (F.col("n_a") + F.col("n_b") - F.col("inter"))))
    return (jac.where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))


def simhash16(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash) — 16-bit SimHash as a bit-string. Bit b is the sign of
    Σ_tokens (±1 by the high bit of hex digit b of md5(token))."""
    tok = (fan_out(df)
           .select(F.col(id_col), F.explode(words(text_col)).alias("tok")))
    tok = tok.withColumn("h", F.md5("tok"))
    bit_aggs = []
    for b in range(16):
        digit = F.substring("h", b + 1, 1)
        signed = F.when(digit.isin(*"89abcdef"), 1).otherwise(-1)
        bit_aggs.append(
            F.when(F.sum(signed) > 0, F.lit("1")).otherwise(F.lit("0"))
            .alias(f"b{b}"))
    per_doc = tok.groupBy(id_col).agg(*bit_aggs)
    return per_doc.select(
        F.col(id_col),
        F.concat(*[F.col(f"b{b}") for b in range(16)]).alias("simhash"))


def simhash_hamming_pairs(sig: DataFrame, id_col: str,
                          sim_col: str = "simhash",
                          max_hamming: int = 1,
                          bucket_cap: int = DEFAULT_LSH_BUCKET_CAP
                          ) -> DataFrame:
    """Near-dup pairs within Hamming distance ≤ ``max_hamming`` of a
    16-bit simhash — multi-probe beyond the Hamming-0 group-by.

    Pigeonhole banding: split the signature into ``max_hamming + 1``
    equal slices; two signatures within the distance bound must agree
    exactly on ≥1 slice, so candidates come from equi-joins on
    (slice_idx, slice_value) — never an all-pairs scan — and the exact
    Hamming distance verifies each candidate (16 char compares, pure
    codegen). Big slice buckets are capped like every other LSH stage."""
    n_slices = max_hamming + 1
    if n_slices > 16:
        raise ValueError("max_hamming must be < 16")
    # Near-equal slice widths (pigeonhole needs any partition into
    # max_hamming+1 slices, not equal ones): 16 = e.g. 6+5+5 for h=2.
    base, rem = divmod(16, n_slices)
    widths = [base + (1 if i < rem else 0) for i in range(n_slices)]
    starts = [1 + sum(widths[:i]) for i in range(n_slices)]
    slices = F.array(*[
        F.struct(F.lit(i).alias("slice"),
                 F.substring(sim_col, starts[i], widths[i]).alias("val"))
        for i in range(n_slices)])
    s = (sig.select(id_col, sim_col, F.explode(slices).alias("sv"))
         .select(id_col, sim_col,
                 F.col("sv.slice").alias("slice"),
                 F.col("sv.val").alias("val")))
    w = Window.partitionBy("slice", "val")
    # persisted index (id + 16-char signature + slice key): the slice
    # self-join would otherwise plan the simhash16 subtree (token
    # explode + 16-bit groupBy) twice
    s = (s.withColumn("bsz", F.count("*").over(w))
         .where(F.col("bsz") <= bucket_cap).drop("bsz")) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    a = s.select(F.col(id_col).alias("id_a"),
                 F.col(sim_col).alias("sh_a"), "slice", "val")
    b = s.select(F.col(id_col).alias("id_b"),
                 F.col(sim_col).alias("sh_b"), "slice", "val")
    cand = (a.join(b, ["slice", "val"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "sh_a", "sh_b")
            .distinct())
    hamming = sum(
        (F.substring("sh_a", i + 1, 1) != F.substring("sh_b", i + 1, 1))
        .cast("int")
        for i in range(16))
    return (cand.withColumn("hamming", hamming)
            .where(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


def jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                  threshold: float = 0.5,
                  shingle_n: int = DEFAULT_SHINGLE) -> DataFrame:
    """Exact shingle-set Jaccard over pairs that share ≥1 shingle
    (the join prunes everything else): (id_a, id_b, jaccard ≥ threshold).
    At scale this runs AFTER LSH candidate generation; standalone it is
    still shuffle-bounded by the shared-shingle join, not n².

    The shingle-set relation is persisted: it feeds both sides of the
    shared-shingle self-join AND both size lookups — four evaluations
    of the shingle subtree otherwise (the persisted-index pattern,
    PLANS.md)."""
    sets = shingle_sets(df, id_col, text_col, shingle_n) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    sh = sets.select(F.col(id_col), F.explode("sh_set").alias("shingle"))
    sizes = sets.select(F.col(id_col), F.size("sh_set").alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (a.join(b, "shingle")
             .where(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b")
             .agg(F.count("*").alias("inter")))
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = (inter.join(na, "id_a").join(nb, "id_b")
           .withColumn("jaccard",
                       F.col("inter") /
                       (F.col("n_a") + F.col("n_b") - F.col("inter"))))
    return (jac.where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b",
                    F.round("jaccard", 6).alias("jaccard")))


def edit_distance_near_dups(df: DataFrame, id_col: str, text_col: str,
                            max_dist: int = 5, prefix_len: int = 80,
                            bucket_width: int = 25,
                            bucket_cap: int = DEFAULT_LSH_BUCKET_CAP
                            ) -> DataFrame:
    """Edit-distance near-dup pairs, length-blocked so the quadratic
    verify only ever runs inside small buckets.

    Blocking key = (lang, len(key) div ``bucket_width``); a pair within
    ``max_dist`` edits differs in length by at most ``max_dist``, so
    probing a doc's own bucket and the next one is exhaustive when
    ``max_dist < bucket_width`` (asserted). Buckets above ``bucket_cap``
    are dropped (explicit recall tradeoff, same policy as every LSH
    stage). Verification is one built-in ``levenshtein`` per candidate
    pair over an ASCII-normalized prefix — byte distance == char
    distance on both engines, and O(prefix²) cost is constant per pair."""
    if max_dist >= bucket_width:
        raise ValueError("bucket probing requires max_dist < bucket_width")
    key = F.substring(
        F.regexp_replace(normalize(F.col(text_col)), "[^a-z0-9 ]", ""),
        1, prefix_len)
    base = df.select(F.col(id_col), F.col("lang"), key.alias("key"),
                     (F.length(key) / bucket_width).cast("int").alias("bkt"))
    w = Window.partitionBy("lang", "bkt")
    # persisted index (id + lang + 80-char key + bucket): the probe
    # self-join below would otherwise plan the normalize/regexp/prefix
    # subtree over the full text twice
    base = (base.withColumn("bsz", F.count("*").over(w))
            .where(F.col("bsz") <= bucket_cap).drop("bsz")) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    a = base.select(F.col(id_col).alias("id_a"), "lang",
                    F.col("key").alias("key_a"), F.col("bkt").alias("bkt_a"))
    b = base.select(F.col(id_col).alias("id_b"),
                    F.col("lang").alias("lang_b"),
                    F.col("key").alias("key_b"), F.col("bkt").alias("bkt_b"))
    # each row probes its own bucket and the next; the join key is the
    # full (lang, bucket) pair, so bucket size bounds every hash bucket
    probes = a.select(
        "id_a", "lang", "key_a", "bkt_a",
        F.explode(F.array(F.col("bkt_a"), F.col("bkt_a") + 1)).alias("pb"))
    cand = (probes.join(b, (F.col("lang") == F.col("lang_b")) &
                        (F.col("pb") == F.col("bkt_b")))
            # orient by (bucket, id): each unordered pair matches once
            .where((F.col("bkt_a") < F.col("bkt_b")) |
                   ((F.col("bkt_a") == F.col("bkt_b")) &
                    (F.col("id_a") < F.col("id_b")))))
    return (cand.withColumn("dist", F.levenshtein("key_a", "key_b"))
            .where(F.col("dist") <= max_dist)
            .select(F.least("id_a", "id_b").alias("id_a"),
                    F.greatest("id_a", "id_b").alias("id_b"),
                    "dist"))


def prefix_filter_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                                threshold: float = 0.5,
                                shingle_n: int = DEFAULT_SHINGLE) -> DataFrame:
    """Exact set-similarity join via PREFIX FILTERING (the
    AllPairs/PPJoin family, Chaudhuri et al. / Xiao et al.): the same
    complete Jaccard ≥ t result as :func:`jaccard_pairs`, but the
    candidate join touches only each document's *prefix* tokens.

    Under one global token order (ascending document frequency — rare
    first — then digest), two sets with J ≥ t MUST share a token within
    their first ``n − ⌈t·n⌉ + 1`` tokens: if all common tokens sat
    outside both prefixes, the overlap would be ≤ ⌈t·n⌉ − 1 < t·max(n),
    contradicting J ≥ t. So the equi-join on prefix tokens is
    *complete* — unlike LSH, nothing is missed — while shuffling only
    ~(1−t) of the token rows, and rare-first ordering makes prefix
    buckets the SMALLEST ones (popular shingles land in suffixes and
    never generate candidates). A size filter (⌈t·n_a⌉ ≤ n_b ≤
    ⌊n_a/t⌋) prunes length-incompatible pairs before verification.
    Verification is the exact intersection count over candidates only.

    The (id, token-with-df) relation is persisted — it feeds the
    prefix build, both verification sides, and the size lookups (the
    persisted-index pattern, PLANS.md)."""
    sets = shingle_sets(df, id_col, text_col, shingle_n)
    sh = (sets.select(F.col(id_col), F.explode("sh_set").alias("s"))
          .select(F.col(id_col), F.md5("s").alias("h"))
          .persist(StorageLevel.MEMORY_AND_DISK))
    dfreq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    ordered = (sh.join(dfreq, "h")
               .groupBy(id_col)
               .agg(F.array_sort(
                   F.collect_list(F.struct("df", "h"))).alias("arr")))
    n_sh = F.size("arr")
    p = n_sh - F.ceil(F.lit(threshold) * n_sh) + 1
    prefix = (ordered
              .select(F.col(id_col), n_sh.alias("n_sh"),
                      F.posexplode(F.transform(
                          F.slice("arr", F.lit(1), p.cast("int")),
                          lambda x: x["h"])).alias("pos", "h")))
    a = prefix.select(F.col(id_col).alias("id_a"),
                      F.col("n_sh").alias("n_a"),
                      F.col("pos").alias("pos_a"), "h")
    b = prefix.select(F.col(id_col).alias("id_b"),
                      F.col("n_sh").alias("n_b"),
                      F.col("pos").alias("pos_b"), "h")
    # positional filter (PPJoin): a shared prefix token at 0-based
    # positions (i, j) can start an overlap of at most
    # 1 + min(n_a - i - 1, n_b - j - 1); if even that upper bound is
    # under the Jaccard-implied overlap floor a = ceil(t/(1+t)(na+nb)),
    # this occurrence cannot witness J >= t. A pair survives if ANY of
    # its shared prefix occurrences passes (a superset of PPJoin's
    # first-occurrence rule), so completeness is preserved.
    alpha = F.ceil(F.lit(threshold / (1.0 + threshold))
                   * (F.col("n_a") + F.col("n_b")))
    ubound = 1 + F.least(F.col("n_a") - F.col("pos_a") - 1,
                         F.col("n_b") - F.col("pos_b") - 1)
    cand = (a.join(b, "h")
            .where(F.col("id_a") < F.col("id_b"))
            .where((F.col("n_b") >= F.ceil(F.lit(threshold) * F.col("n_a")))
                   & (F.col("n_b") <= F.floor(F.col("n_a")
                                              / F.lit(threshold))))
            .where(ubound >= alpha)
            .select("id_a", "id_b", "n_a", "n_b")
            .distinct())
    sa = sh.select(F.col(id_col).alias("id_a"), "h")
    sb = sh.select(F.col(id_col).alias("id_b"), "h")
    inter = (cand.join(sa, "id_a").join(sb, ["id_b", "h"])
             .groupBy("id_a", "id_b", "n_a", "n_b")
             .agg(F.count(F.lit(1)).alias("inter")))
    jac = inter.withColumn(
        "jaccard",
        F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")))
    return (jac.where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b",
                    F.round("jaccard", 6).alias("jaccard")))


def prefix_filter_containment_pairs(df: DataFrame, id_col: str,
                                    text_col: str,
                                    threshold: float = 0.8,
                                    shingle_n: int = DEFAULT_SHINGLE
                                    ) -> DataFrame:
    """Exact set-CONTAINMENT join via prefix filtering: all directed
    pairs where ``|A∩B| / |A| ≥ t`` — document A's shingles are mostly
    inside document B (quotation, excerpt, page-wrap inclusion). This
    is the asymmetric relation Jaccard misses: a paragraph quoted
    inside a book has near-zero Jaccard but containment ≈ 1.

    Completeness argument: order every document's shingles rare-first
    (ascending global df, digest tiebreak). If B holds ≥ t·n_a of A's
    shingles, the ones missing from B number ≤ (1−t)·n_a, so among A's
    first ``n_a − ⌈t·n_a⌉ + 1`` ordered shingles at least one is in B —
    probing with A's prefix against the full postings list is exact.
    Only the PROBE side is prefix-cut (the container side has no
    positional constraint, unlike the Jaccard join); rare-first order
    keeps the probe tokens in the smallest postings buckets. A size
    filter ``n_b ≥ ⌈t·n_a⌉`` prunes impossible containers before
    verification; verification is one exact ``array_intersect`` per
    candidate. Nothing is corpus-quadratic: the join cost is bounded by
    Σ_probe-token df — the price of EXACT asymmetric results (the
    sibling of :func:`prefix_filter_jaccard_pairs`'s analysis in
    PLANS.md)."""
    sets = shingle_sets(df, id_col, text_col, shingle_n) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    sh = (sets.select(F.col(id_col), F.explode("sh_set").alias("s"))
          .select(F.col(id_col), F.md5("s").alias("h"))
          .persist(StorageLevel.MEMORY_AND_DISK))
    dfreq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    ordered = (sh.join(dfreq, "h")
               .groupBy(id_col)
               .agg(F.array_sort(
                   F.collect_list(F.struct("df", "h"))).alias("arr")))
    n_sh = F.size("arr")
    p = n_sh - F.ceil(F.lit(threshold) * n_sh) + 1
    prefix = (ordered
              .select(F.col(id_col), n_sh.alias("n_a"),
                      F.explode(F.transform(
                          F.slice("arr", F.lit(1), p.cast("int")),
                          lambda x: x["h"])).alias("h")))
    a = prefix.select(F.col(id_col).alias("inner_id"), "n_a", "h")
    b = sh.select(F.col(id_col).alias("outer_id"), "h")
    sizes = sets.select(F.col(id_col).alias("outer_id"),
                        F.size("sh_set").alias("n_b"))
    cand = (a.join(b, "h")
            .where(F.col("inner_id") != F.col("outer_id"))
            .select("inner_id", "outer_id", "n_a")
            .distinct()
            .join(sizes, "outer_id")
            .where(F.col("n_b")
                   >= F.ceil(F.lit(threshold) * F.col("n_a"))))
    seta = sets.select(F.col(id_col).alias("inner_id"),
                       F.col("sh_set").alias("set_a"))
    setb = sets.select(F.col(id_col).alias("outer_id"),
                       F.col("sh_set").alias("set_b"))
    scored = (cand.join(seta, "inner_id").join(setb, "outer_id")
              .withColumn("inter",
                          F.size(F.array_intersect("set_a", "set_b")))
              .withColumn("containment", F.col("inter") / F.col("n_a")))
    return (scored.where(F.col("containment") >= threshold)
            .select("inner_id", "outer_id",
                    F.round("containment", 6).alias("containment")))
