"""Corpus-size-derived ANN knobs (VERDICT r4 item 4): the measured
scaling rules (cells ∝ n, bits ∝ log n — PLANS.md §"second decade") are
code now, not prose. These tests pin the derived values at the corpus
sizes the study measured, so a regression in the formula is a test
failure, not a silent quadratic at 100 TB.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from left_join_on_timeout_spark.operators.similarity import (
    ANN_REF_ROWS,
    DEFAULT_BITS,
    DEFAULT_IVF_CELLS,
    auto_knobs,
    ivf_top_neighbor,
)


def test_reference_scale_resolves_to_defaults():
    # at (or below) the bench corpus size the derived knobs ARE the
    # library defaults — existing oracle hashes at the bench SFs cannot
    # move
    assert auto_knobs(ANN_REF_ROWS) == {"n_cells": 32, "n_bits": 8,
                                        "assign": "flat"}
    assert auto_knobs(500) == {"n_cells": 32, "n_bits": 8,
                               "assign": "flat"}                # sf0.01
    assert auto_knobs(1) == {"n_cells": DEFAULT_IVF_CELLS,
                             "n_bits": DEFAULT_BITS,
                             "assign": "flat"}


def test_second_decade_matches_measured_ab():
    # the 10× corpus (20k vectors): the PLANS.md A/B measured 320 cells
    # and 11 bits as the knobs that restore linear scaling; still below
    # the assignment crossover (flat won 3.1 s vs 4.6 s at 322 cells)
    assert auto_knobs(10 * ANN_REF_ROWS) == {"n_cells": 320, "n_bits": 11,
                                             "assign": "flat"}


def test_third_decade_extrapolates_the_rules():
    # 100×: cells keep growing linearly, bits logarithmically; well past
    # the crossover (tree won 20.9 s vs 156.8 s at 3200 cells)
    assert auto_knobs(100 * ANN_REF_ROWS) == {"n_cells": 3200,
                                              "n_bits": 15,
                                              "assign": "tree"}


def test_assignment_crossover_pinned_to_measured_bracket():
    """The flat→tree routing flips inside the measured bracket
    (tools/ivf2_crossover.py: flat wins at 322 cells, tree from 558):
    a regression that routes a fourth-decade corpus to the flat argmax
    is a test failure, not a 7-hour build."""
    from left_join_on_timeout_spark.operators.similarity import (
        IVF2_CROSSOVER_CELLS,
    )

    assert 322 < IVF2_CROSSOVER_CELLS <= 558
    assert auto_knobs(20_000)["assign"] == "flat"      # 320 cells
    assert auto_knobs(35_000)["assign"] == "tree"      # 560 cells
    assert auto_knobs(200_000)["assign"] == "tree"     # 3200 cells
    assert auto_knobs(2_000_000)["assign"] == "tree"   # fourth decade


def test_auto_path_routes_to_tree_past_crossover(spark, monkeypatch):
    """ivf_top_neighbor's auto path must DELEGATE to the two-level tree
    when the derived budget crosses IVF2_CROSSOVER_CELLS — verified by
    forcing the corpus-size stat and comparing against the explicitly
    pinned tree at the same derived knobs."""
    from left_join_on_timeout_spark.operators import similarity as sim

    emb = spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(0), F.lit(7)),
                    lambda i: F.cos(F.col("id") * (i + 1)))
        .alias("embedding"))
    monkeypatch.setattr(sim, "corpus_rows", lambda df: 200_000)
    budget = auto_knobs(200_000)["n_cells"]
    tk = sim.two_level_knobs(budget)
    routed = {(r.vec_id, r.neighbor_id, r.cos_sim)
              for r in sim.ivf_top_neighbor(emb).collect()}
    pinned = {(r.vec_id, r.neighbor_id, r.cos_sim)
              for r in sim.ivf2_top_neighbor(
                  emb, n_super=tk["n_super"], k2=tk["k2"]).collect()}
    assert routed == pinned


def test_cells_linear_bits_logarithmic():
    base = auto_knobs(8 * ANN_REF_ROWS)
    up = auto_knobs(64 * ANN_REF_ROWS)
    assert up["n_cells"] == 8 * base["n_cells"]   # linear in n
    assert up["n_bits"] == base["n_bits"] + 3     # +log2(8) in n


def test_default_path_equals_explicit_default_knobs(spark):
    # at reference scale the None-default resolves to the same plan as
    # the explicit default — same rows, same neighbors
    emb = spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(0), F.lit(7)),
                    lambda i: F.cos(F.col("id") * (i + 1)))
        .alias("embedding"))
    auto = ivf_top_neighbor(emb).orderBy("vec_id").collect()
    pinned = ivf_top_neighbor(
        emb, n_cells=DEFAULT_IVF_CELLS).orderBy("vec_id").collect()
    assert auto == pinned


def test_corpus_rows_memoized_across_reads(spark):
    """Two independent reads of the same source must hit one cache
    entry (the catalog-statistics analog); a different source must not
    collide with it."""
    from left_join_on_timeout_spark.operators import similarity as s

    s._ROWCOUNT_CACHE.clear()
    a = s.corpus_rows(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))
    b = s.corpus_rows(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))
    assert a == b and len(s._ROWCOUNT_CACHE) == 1
    c = s.corpus_rows(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    assert len(s._ROWCOUNT_CACHE) == 2 and c != 0


def test_two_level_knobs_sqrt_decomposition():
    from left_join_on_timeout_spark.operators.similarity import (
        two_level_knobs,
    )

    # floors at the library defaults for small budgets
    assert two_level_knobs(32) == {"n_super": 8, "k2": 8}
    # third-decade budget: n_super ≈ sqrt(3200), k2 covers the budget
    k = two_level_knobs(3200)
    assert k["n_super"] == 57 and k["k2"] == 57
    assert k["n_super"] * k["k2"] >= 3200
    # assignment cost collapses vs the flat argmax at the same budget
    assert k["n_super"] + k["k2"] < 3200 / 20


def test_two_level_assign_trains_and_groups(spark):
    """Axis-clustered vectors: the trained two-level quantizer puts
    same-axis vectors in the same final (sid, sub) cell, and every
    vector gets exactly one assignment."""
    from left_join_on_timeout_spark.operators.similarity import (
        two_level_assign,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (10, [0.9, 0.1, 0.0, 0.0]),
        (11, [0.8, 0.0, 0.1, 0.0]),
        (20, [0.0, 0.9, 0.1, 0.0]),
        (21, [0.1, 0.8, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    out = two_level_assign(emb, n_super=2, k2=2).collect()
    assert len(out) == len(rows)
    cell = {r.vec_id: (r.sid, r.sub) for r in out}
    # same dominant axis ⇒ same super-cell
    assert cell[10][0] == cell[11][0] == cell[0][0]
    assert cell[20][0] == cell[21][0] == cell[1][0]
    assert cell[0][0] != cell[1][0]


def test_ivf2_matches_ivf_search_semantics(spark):
    """With one super-cell the two-level search degenerates to pairing
    within sub-cells — every vector sharing a final cell with another
    gets its exact-cosine best cell-mate, same contract as
    ivf_top_neighbor."""
    from left_join_on_timeout_spark.operators.similarity import (
        ivf2_top_neighbor,
    )

    rows = [(i, [float((i * 7 + d * 3) % 11 - 5) for d in range(4)])
            for i in range(24)]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    out = ivf2_top_neighbor(emb, n_super=2, k2=3).collect()
    assert 0 < len(out) <= 24
    for r in out:
        assert r.vec_id != r.neighbor_id
        assert -1.0 <= r.cos_sim <= 1.0


def test_lsh_band_knobs_threshold_brackets():
    """The LSH analog of auto_knobs (VERDICT r5 item 5): banding knobs
    derive from the target threshold and the measured dup DENSITY, not
    the corpus size — value-pinned like the IVF/SRP rules."""
    import pytest

    from left_join_on_timeout_spark.operators.dedup import lsh_band_knobs

    # dense (adversarial) arm at t=0.5 reproduces the library default:
    # 4 bands x 3 rows, inflection (1/4)^(1/3) ~ 0.63 >= 0.5
    assert lsh_band_knobs(0.5, dense=True) == {"bands": 4,
                                               "rows_per_band": 3}
    # sparse (realistic) arm goes recall-first: 6 bands x 2 rows,
    # inflection (1/6)^(1/2) ~ 0.41 <= 0.5
    assert lsh_band_knobs(0.5, dense=False) == {"bands": 6,
                                                "rows_per_band": 2}
    # a high-precision threshold tightens both arms
    assert lsh_band_knobs(0.9, dense=False)["bands"] == 2
    # bands always tile the signature
    for t in (0.3, 0.5, 0.7, 0.9):
        for dense in (True, False):
            kn = lsh_band_knobs(t, dense=dense)
            assert 12 % kn["bands"] == 0
            assert kn["bands"] * kn["rows_per_band"] == 12
    with pytest.raises(ValueError):
        lsh_band_knobs(1.5)


def test_ivf2_super_multiprobe_only_improves(spark):
    """nprobe=2 probes a superset of cells: every vector matched at
    nprobe=1 is still matched, and its best cosine can only improve
    (the recall-knob contract of the super-level multi-probe)."""
    from left_join_on_timeout_spark.operators.similarity import (
        ivf2_top_neighbor,
    )

    rows = [(i, [float((i * 7 + d * 3) % 11 - 5) for d in range(4)])
            for i in range(24)]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    one = {r.vec_id: r.cos_sim
           for r in ivf2_top_neighbor(emb, n_super=2, k2=2).collect()}
    two = {r.vec_id: r.cos_sim
           for r in ivf2_top_neighbor(emb, n_super=2, k2=2,
                                      nprobe=2).collect()}
    assert set(one) <= set(two)
    for vid, cs in one.items():
        assert two[vid] >= cs


def _duck_on(pdf):
    import duckdb

    con = duckdb.connect()
    con.register("pdf", pdf)
    con.execute("CREATE VIEW embeddings AS SELECT * FROM pdf")
    return con


def test_ivf_binding_cap_counts_primaries_only(spark):
    """ADVICE r6 (high): at a cap where a cell's probe-inclusive row
    count exceeds cell_cap but its PRIMARY count does not, the cell
    must SURVIVE (primary-only gating) with secondaries rank-capped —
    and the parametric DuckDB oracle agrees exactly. Under the old
    count(*)-over-all-probe-rows semantics both cells here would be
    evicted and the result would be empty."""
    from left_join_on_timeout_spark.queries_similarity import _ivf_oracle
    from tools.check_oracle import compare

    # 2 anchors (ids 0, 1) on orthogonal axes; 5 vectors near each.
    # nprobe=2 puts ALL 12 vectors in BOTH cells: probe-inclusive size
    # 12 > cap 6 > primary count 6 per cell.
    rows = []
    for i in range(12):
        side = i % 2
        v = [0.0, 0.0, 0.0, 0.0]
        v[side] = 1.0
        v[1 - side] = 0.01 + 0.007 * i   # distinct cosines, no ties
        v[2] = 0.002 * i
        rows.append((i, v))
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    got = ivf_top_neighbor(emb, n_cells=2, cell_cap=6, nprobe=2)
    spark_pdf = got.toPandas()
    # the binding condition: cells survive (old semantics -> empty)
    assert len(spark_pdf) > 0
    import pandas as pd

    pdf = pd.DataFrame({"vec_id": [r[0] for r in rows],
                        "embedding": [r[1] for r in rows]})
    con = _duck_on(pdf)
    duck_pdf = con.execute(_ivf_oracle(2, cell_cap=6, nprobe=2)).fetchdf()
    problems = compare("ivf_binding_cap", spark_pdf, duck_pdf)
    assert not problems, problems
    # only-improves still holds at the binding cap
    one = {r.vec_id: r.cos_sim
           for r in ivf_top_neighbor(emb, n_cells=2, cell_cap=6,
                                     nprobe=1).collect()}
    two = dict(zip(spark_pdf.vec_id, spark_pdf.cos_sim))
    assert set(one) <= set(two)
    for vid, cs in one.items():
        assert two[vid] >= cs


def test_ivf2_binding_cap_matches_oracle(spark):
    """The two-level quantizer's two-sided cap (primary gate +
    secondary rank-cap) matches its unrolled oracle at caps that BIND
    on the 24-row corpus — both engines drop exactly the same rows."""
    import pandas as pd

    from left_join_on_timeout_spark.operators.similarity import (
        ivf2_top_neighbor,
    )
    from left_join_on_timeout_spark.queries_similarity import _ivf2_oracle
    from tools.check_oracle import compare

    rows = [(i, [float((i * 7 + d * 3) % 11 - 5) for d in range(4)])
            for i in range(24)]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    pdf = pd.DataFrame({"vec_id": [r[0] for r in rows],
                        "embedding": [r[1] for r in rows]})
    con = _duck_on(pdf)
    for cap in (3, 7):
        spark_pdf = ivf2_top_neighbor(emb, n_super=2, k2=2, nprobe=2,
                                      cell_cap=cap).toPandas()
        duck_pdf = con.execute(
            _ivf2_oracle(2, 2, dim=4, cell_cap=cap, nprobe=2)).fetchdf()
        problems = compare(f"ivf2_binding_cap_{cap}", spark_pdf, duck_pdf)
        assert not problems, problems


def test_topk_head_contains_top1(spark):
    """The rank-1 row of the top-K head must equal the argmax searcher's
    answer for every vector (same candidates, same tie-break), and each
    vector returns at most k distinct neighbors."""
    from left_join_on_timeout_spark.operators.similarity import (
        ivf_top_neighbors,
    )

    rows = [(i, [float((i * 7 + d * 3) % 11 - 5) for d in range(4)])
            for i in range(24)]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    one = {(r.vec_id, r.neighbor_id, r.cos_sim)
           for r in ivf_top_neighbor(emb, n_cells=4).collect()}
    topk = ivf_top_neighbors(emb, k=3, n_cells=4).collect()
    rank1 = {(r.vec_id, r.neighbor_id, r.cos_sim)
             for r in topk if r.rank == 1}
    assert rank1 == one
    from collections import Counter
    per_vec = Counter(r.vec_id for r in topk)
    assert all(c <= 3 for c in per_vec.values())
    nbrs = Counter((r.vec_id, r.neighbor_id) for r in topk)
    assert all(c == 1 for c in nbrs.values())


def test_topk_auto_path_routes_to_tree_past_crossover(spark, monkeypatch):
    """ADVICE r7: the top-K head's auto path must take the same
    flat→tree routing as the top-1 searcher — a scale user of
    ivf_top_neighbors must not silently land on the flat argmax the
    crossover measurements rejected."""
    from left_join_on_timeout_spark.operators import similarity as sim

    emb = spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(0), F.lit(7)),
                    lambda i: F.cos(F.col("id") * (i + 1)))
        .alias("embedding"))
    monkeypatch.setattr(sim, "corpus_rows", lambda df: 200_000)
    budget = auto_knobs(200_000)["n_cells"]
    tk = sim.two_level_knobs(budget)
    routed = {(r.vec_id, r.neighbor_id, r.cos_sim, r.rank)
              for r in sim.ivf_top_neighbors(emb, k=3).collect()}
    pinned = {(r.vec_id, r.neighbor_id, r.cos_sim, r.rank)
              for r in sim.ivf2_top_neighbors(
                  emb, k=3, n_super=tk["n_super"],
                  k2=tk["k2"]).collect()}
    assert routed == pinned


def test_maintenance_budgets_derivation_value_pinned():
    """Round 14 (VERDICT r13 wrong #2): per-tier maintenance budgets
    derive from the MEASURED rebuild-over-serve ratios (PLANS.md
    fifth-decade arcs), value-pinned like auto_knobs so a refactor
    that changes the economics is caught. The amortization rule:
    tombstone budget = 2·(R/S)/serves_per_cycle, clamped to the
    broadcast ceiling; stats budget = the 1% score-error tolerance."""
    from left_join_on_timeout_spark.operators.index_admin import (
        maintenance_budgets,
        SCORE_DRIFT_BUDGET,
        TOMBSTONE_BROADCAST_CEILING,
    )

    # default cycle (100 serves): expensive-rebuild tiers clamp at
    # the broadcast ceiling, the cheap vector rebuild compacts sooner
    assert maintenance_budgets("text[ngram]")["max_tombstone_frac"] \
        == TOMBSTONE_BROADCAST_CEILING  # 2*7.0/100 = 0.14 -> clamp
    assert maintenance_budgets("ivf2")["max_tombstone_frac"] \
        == pytest.approx(0.038)         # 2*1.9/100 — below ceiling
    assert maintenance_budgets("lsh")["max_tombstone_frac"] \
        == TOMBSTONE_BROADCAST_CEILING  # 2*3.8/100 = 0.076 -> clamp
    # a hot serving tier derives a much tighter budget
    assert maintenance_budgets("text[ngram]", serves_per_cycle=1000)[
        "max_tombstone_frac"] == pytest.approx(0.014)
    assert maintenance_budgets("ivf2", serves_per_cycle=1000)[
        "max_tombstone_frac"] == 0.005  # 0.0038 -> floor
    for tier in ("text[ngram]", "text[word]", "lsh", "srp", "ivf2",
                 "pq"):
        b = maintenance_budgets(tier)
        assert b["max_stats_drift_frac"] == SCORE_DRIFT_BUDGET
        assert b["max_over_cap_frac"] == 0.10
    with pytest.raises(ValueError, match="unknown tier"):
        maintenance_budgets("text")


def test_maintenance_due_fires_at_documented_batch_sizes():
    """The r13 complaint made concrete: the measured 5 M-doc
    lifecycle appended ONE 0.1% batch (appended_docs_frac 0.001,
    dl_drift 0.000269) and the old 10% default could never fire.
    Under the derived defaults the single batch still does NOT fire
    (0.1% score error is noise — the economically right call), a
    ~10-batch backlog (1.2%) DOES, and the tombstone arm fires at
    each tier's derived budget instead of one global 2%."""
    from left_join_on_timeout_spark.operators.index_admin import (
        index_maintenance_due,
    )

    one_batch = {"tier": "text", "token_mode": "ngram",
                 "appended_docs_frac": 0.001004,
                 "dl_drift_frac": 0.000269}
    assert not index_maintenance_due(one_batch)
    backlog = dict(one_batch, appended_docs_frac=0.012)
    assert index_maintenance_due(backlog), (
        "a ten-batch append backlog must trigger at the 1% budget")
    # tombstone arm: 3% mass — above ivf2's derived 0.038? no: below;
    # above at a hot cycle (1000 serves -> 0.005)
    ivf = {"tier": "ivf2", "tombstone_frac": 0.03}
    assert not index_maintenance_due(ivf)
    assert index_maintenance_due(ivf, serves_per_cycle=1000)
    # word tier clamps at the 5% broadcast ceiling
    word = {"tier": "text", "token_mode": "word",
            "tombstone_frac": 0.04}
    assert not index_maintenance_due(word)
    assert index_maintenance_due(dict(word, tombstone_frac=0.06))
    # a hand-built dict without tier keeps the pre-r14 literals
    legacy = {"tombstone_frac": 0.03}
    assert index_maintenance_due(legacy)  # old 2% default
