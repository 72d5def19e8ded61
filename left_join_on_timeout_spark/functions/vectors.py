"""Vector column expressions over ``array<float>`` embeddings.

All math runs JVM-side via higher-order functions (``zip_with`` /
``aggregate``) in DOUBLE — no Python in the loop, and the sequential
left-fold accumulation is bit-identical to DuckDB's ``list_dot_product``
on ``DOUBLE[]`` (verified empirically), so similarity oracles compare
exactly, without rounding slop.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(v: Column | str) -> Column:
    """Vector as non-nullable array<double>; NULL becomes []. The
    coalesce is load-bearing for performance: with a nullable input,
    Catalyst's InferFiltersFromConstraints can synthesize
    `isnotnull(<bucket/dot expression>)` from downstream join keys and
    push the whole vector computation into the scan as a serial filter
    (see functions.text.normalize for the same pattern)."""
    v = F.col(v) if isinstance(v, str) else v
    return F.coalesce(v.cast("array<double>"),
                      F.array().cast("array<double>"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-order double dot product (whole-stage codegen)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def srp_planes(dim: int, n_bits: int, seed: int) -> list[list[float]]:
    """``n_bits`` random Gaussian hyperplanes for sign-random-projection
    LSH, deterministically seeded so the DuckDB oracle reproduces the
    buckets bit-for-bit (weights rendered as identical double literals in
    both engines). Rounded to 6 dp to keep SQL literals short; rounding
    does not affect the LSH guarantee."""
    rng = np.random.RandomState(seed)
    return [[round(float(w), 6) for w in row]
            for row in rng.standard_normal((n_bits, dim))]


def srp_bucket(vec_sql: str, planes: list[list[float]]) -> Column:
    """Sign-random-projection bucket string over the column named by
    ``vec_sql``: bit b is the sign of ``dot(v, planes[b])``. True random
    hyperplanes (not axis signs), so P[same bucket] = (1 − θ/π)^n_bits
    for angle θ — recall is data-independent and bits can be sized to
    bound expected bucket size (bits ≈ log₂(n / target_bucket)). The
    bucket string is the LSH key: candidate generation becomes an
    equi-join instead of an O(n²) cross join. Dot products are the same
    sequential fold both engines use, so the sign — hence the bucket —
    is engine-portable.

    Built as ONE SQL expression string: plane weights as array literals
    inside a single ``F.expr`` keep query construction at one py4j call
    per bucket (per-weight ``F.lit`` round-trips made plan construction
    dominate execution)."""
    def dot_sql(plane: list[float]) -> str:
        arr = "array(" + ", ".join(f"{w!r}D" for w in plane) + ")"
        return (f"aggregate(zip_with({vec_sql}, {arr}, (x, y) -> x * y), "
                "0.0D, (acc, x) -> acc + x)")

    bits = ", ".join(
        f"CASE WHEN {dot_sql(p)} >= 0 THEN '1' ELSE '0' END"
        for p in planes)
    return F.expr(f"concat({bits})")


def srp_bucket_sql(vec_expr: str, planes: list[list[float]]) -> str:
    """The DuckDB twin of :func:`srp_bucket` over the same plane literals."""
    bits = [
        "CASE WHEN list_dot_product({v}, [{w}]::DOUBLE[]) >= 0 "
        "THEN '1' ELSE '0' END".format(
            v=vec_expr, w=", ".join(repr(w) for w in plane))
        for plane in planes
    ]
    return " || ".join(bits)
