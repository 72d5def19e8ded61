"""Deterministic hash-based sampling — the reproducible alternative to
``df.sample()`` for training-data pipelines.

``rand()``-based sampling is non-reproducible across retries, partition
counts, and engines; at 100 TB a re-run that samples a *different*
subset silently invalidates every downstream artifact. Hash gating
fixes that: a row is kept iff the first 4 hex chars of
``md5(seed || '#' || id)`` fall below ``rate * 16^4``. The decision is
a pure function of (seed, id) — stable under repartitioning, restarts,
speculative execution, and engine swaps (md5 is md5 everywhere, which
is what lets a DuckDB oracle verify the exact row set).

Lexicographic compare of the fixed-width lowercase-hex prefix equals
numeric compare, so the predicate is a codegen string comparison pushed
into the scan — sampling never costs a shuffle. Granularity is
1/65536; plenty for corpus-rate control.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HASH_WIDTH = 4
_SPACE = 16 ** HASH_WIDTH


def gate_threshold(rate: float) -> str:
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    return format(min(int(rate * _SPACE), _SPACE - 1), f"0{HASH_WIDTH}x")


def sample_key(id_col: str | Column, seed: str = "42") -> Column:
    """The gating key: first HASH_WIDTH hex chars of md5(seed # id)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.substring(
        F.md5(F.concat(F.lit(seed), F.lit("#"), c.cast("string"))),
        1, HASH_WIDTH)


def sample_gate(id_col: str | Column, rate: float,
                seed: str = "42") -> Column:
    """The boolean keep-gate as a composable Column (True for the
    ~``rate`` fraction) — for queries mixing per-tier rates in one
    predicate."""
    return sample_key(id_col, seed) < F.lit(gate_threshold(rate))


def hash_sample(df: DataFrame, id_col: str, rate: float,
                seed: str = "42") -> DataFrame:
    """Uniform deterministic sample: keep ~``rate`` of rows, decided per
    row by the hash gate (rate 1.0 keeps everything exactly)."""
    if rate >= 1.0:
        return df
    return df.where(sample_key(id_col, seed) < gate_threshold(rate))


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    seed: str = "42",
) -> DataFrame:
    """Per-stratum deterministic sampling — the corpus-rebalancing
    primitive (e.g. downsample dominant languages, keep all of rare
    ones). ``rates`` maps stratum value -> keep rate; anything absent
    uses ``default_rate``. The threshold is a CASE expression, so the
    whole gate stays one codegen predicate with no join."""
    thr = F.lit(gate_threshold(default_rate))
    for val, rate in sorted(rates.items()):
        thr = F.when(F.col(strata_col) == val,
                     F.lit(gate_threshold(rate))).otherwise(thr)
    keep_all = F.lit(default_rate >= 1.0)
    for val, rate in sorted(rates.items()):
        if rate >= 1.0:
            keep_all = keep_all | (F.col(strata_col) == val)
    return df.where(keep_all | (sample_key(id_col, seed) < thr))
