"""Batch LEFT JOIN ON TIMEOUT — the reference's core operator (O2/O3/O6/O7).

Reference semantics (``/root/reference/README.md:5-8``,
``LeftJoinOnTimeoutBuilder.java:95-122``): join two keyed, timestamped
streams; a pair ``(l, r)`` matches iff keys are equal and
``|ts_l − ts_r| ≤ window`` (``JoinWindows.of``, symmetric,
``LeftJoinOnTimeoutBuilder.java:112-115``); a left record with **no** match
in its window yields ``joiner(l, null)`` carrying the *original left event
timestamp* (``LeftJoinOnTimeoutBuilder.java:164-166``). Each pending left
matches independently — two lefts + one in-window right ⇒ two joined rows
(``LeftJoinOnTimeoutTest.java:85-91``).

In batch, that is *exactly* a left-outer equi-join with a time-range
residual condition — one declarative plan, fully Catalyst-optimizable:

* The equi-key makes it a hash/sort-merge join (shuffle on the key), never
  a cartesian range join; the time-range is a cheap residual filter.
* At 100 TB both sides shuffle-partition on the key; AQE splits skewed
  keys. If the right side is a small stream/dimension, pass
  ``broadcast=True`` to skip the shuffle entirely.
* No Python runs per-row: the joiner is a Column expression evaluated in
  whole-stage codegen.

Implementation note: the right side's columns are renamed
``{right_prefix}{col}`` *before* the join, so self-joins (left and right
carved from the same DataFrame — the flagship events fixture) never trip
Spark's ambiguous-self-join analysis, and the joiner addresses columns
unambiguously by name.

Semantic divergence (recorded, deliberate — SURVEY.md §2 fine print 2/3):
the reference's per-key *cancel-all* and wall-clock timers can suppress or
duplicate emissions under race; this batch operator is deterministic and
SQL-correct. The exact-timer behavior lives in ``streaming.timer_join``.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from left_join_on_timeout_spark.config import TimeoutJoinConfig, parse_interval_ms


class Side(Mapping):
    """Column accessor handed to the joiner: ``side['value']`` resolves to
    the post-rename column, so user joiners stay side-symmetric."""

    def __init__(self, names: dict[str, str]):
        self._names = names

    def __getitem__(self, name: str) -> Column:
        return F.col(self._names[name])

    def __iter__(self):
        return iter(self._names)

    def __len__(self):
        return len(self._names)


Joiner = Callable[[Side, Side], Column]


def _keys(on: str | Sequence[str]) -> list[str]:
    return [on] if isinstance(on, str) else list(on)


def prepare(left: DataFrame, right: DataFrame, on: str | Sequence[str],
            left_ts: str, right_ts: str, window_ms: int,
            right_prefix: str):
    """Rename right cols to {prefix}{col}; build key+range condition."""
    collisions = {f"{right_prefix}{c}" for c in right.columns} & set(left.columns)
    if collisions:
        raise ValueError(f"left columns collide with prefixed right columns: {collisions}")
    r = right.select([F.col(c).alias(f"{right_prefix}{c}") for c in right.columns])
    cond = None
    for k in _keys(on):
        c = F.col(k) == F.col(f"{right_prefix}{k}")
        cond = c if cond is None else (cond & c)
    if isinstance(window_ms, Column):
        # per-left-row window (dynamic_left_join_on_timeout): evaluated
        # against the LEFT row's columns, microsecond-exact interval.
        # A NEGATIVE per-row window fails loudly at runtime (ADVICE r5 —
        # it would otherwise silently produce an empty range, i.e. a
        # null-padded left indistinguishable from a real timeout); a
        # NULL window is a defined no-match (see the operator docstring).
        checked = F.when(
            window_ms < F.lit(0),
            F.raise_error(F.concat(
                F.lit("dynamic window_ms must be non-negative, got "),
                window_ms.cast("string")))
        ).otherwise(window_ms)
        w = F.make_interval(secs=checked.cast("double") / F.lit(1000.0))
    else:
        w = F.expr(f"INTERVAL {window_ms / 1000.0} SECOND")
    rng = F.col(f"{right_prefix}{right_ts}").between(
        F.col(left_ts) - w, F.col(left_ts) + w)
    cond = cond & rng if cond is not None else rng
    l_side = Side({c: c for c in left.columns})
    r_side = Side({c: f"{right_prefix}{c}" for c in right.columns})
    return r, cond, l_side, r_side


def _join(left: DataFrame, right: DataFrame, on, window, left_ts, right_ts,
          joiner, joined_col, right_prefix, broadcast, how) -> DataFrame:
    if isinstance(window, Column):
        window_ms: int | Column = window  # per-row; range-guarded in prepare
    else:
        window_ms = TimeoutJoinConfig.of(window).window_ms  # validates (O15)
    r, cond, l_side, r_side = prepare(
        left, right, on, left_ts, right_ts, window_ms, right_prefix)
    rhs = F.broadcast(r) if broadcast else r
    out = left.join(rhs, cond, how)
    if joiner is not None:
        out = out.withColumn(joined_col, joiner(l_side, r_side))
    return out


def left_join_on_timeout(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    window: str | int,
    left_ts: str = "ts",
    right_ts: str = "ts",
    joiner: Joiner | None = None,
    joined_col: str = "joined",
    right_prefix: str = "r_",
    broadcast: bool = False,
) -> DataFrame:
    """LEFT JOIN ON TIMEOUT, batch form (O3).

    Returns every left row; matched rows carry the right columns (renamed
    ``{right_prefix}{col}``), timed-out rows carry nulls there. ``joiner``
    — the reference's ``ValueJoiner`` (O7) — receives two column accessors
    and must return a Column (codegen, never per-row Python). The left
    event-timestamp column passes through untouched (reference
    ``LeftJoinOnTimeoutBuilder.java:166``).
    """
    return _join(left, right, on, window, left_ts, right_ts,
                 joiner, joined_col, right_prefix, broadcast, "left")


def window_inner_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    window: str | int,
    left_ts: str = "ts",
    right_ts: str = "ts",
    joiner: Joiner | None = None,
    joined_col: str = "joined",
    right_prefix: str = "r_",
    broadcast: bool = False,
) -> DataFrame:
    """The windowed inner equi-join the reference delegates to Kafka
    Streams (O2, ``LeftJoinOnTimeoutBuilder.java:112-115``)."""
    return _join(left, right, on, window, left_ts, right_ts,
                 joiner, joined_col, right_prefix, broadcast, "inner")


def timeout_only(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    window: str | int,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_prefix: str = "r_",
) -> DataFrame:
    """Only the timeout emissions (O6): lefts with *no* in-window match,
    original columns and event timestamp preserved.

    Planned as a LEFT ANTI join — cheaper than outer-join-then-filter
    because unmatched lefts stream straight out of the join without
    null-padding or match-row multiplication.
    """
    window_ms = parse_interval_ms(window)
    r, cond, _, _ = prepare(
        left, right, on, left_ts, right_ts, window_ms, right_prefix)
    return left.join(r, cond, "left_anti")


def dynamic_left_join_on_timeout(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    window_ms: Column,
    left_ts: str = "ts",
    right_ts: str = "ts",
    joiner: Joiner | None = None,
    joined_col: str = "joined",
    right_prefix: str = "r_",
    broadcast: bool = False,
) -> DataFrame:
    """O3 extension — LEFT JOIN ON TIMEOUT with a PER-ROW window: the
    join window is a Column evaluated against the LEFT row (milliseconds,
    e.g. an SLA tier keyed on a customer-class column), not a constant.
    The reference hard-codes one ``joinWindowInMs`` for the whole
    topology (``LeftJoinOnTimeoutBuilder.java:33``); a DataFrame-native
    operator gets data-dependent windows for free because the range
    bound is just an expression — still an equi-key hash join with a
    residual range filter, never a cartesian.

    Per-row window domain: a NEGATIVE evaluated window raises at
    runtime (``raise_error`` inside the range bound — a silent empty
    range would be indistinguishable from a real timeout); a NULL
    window is a defined no-match — the row emits as a timeout
    (null-padded right), the "unknown SLA class waits for nothing"
    semantics.

    Streaming deployments must carry the widest class as constant
    conjuncts for state-bound analysis (see
    ``q_stream_dynamic_timeout_left_join``); the batch form needs no
    such bound."""
    if not isinstance(window_ms, Column):
        raise TypeError(
            "window_ms must be a Column; use left_join_on_timeout for "
            "constant windows")
    return _join(left, right, on, window_ms, left_ts, right_ts,
                 joiner, joined_col, right_prefix, broadcast, "left")


def full_outer_join_on_timeout(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    window: str | int,
    left_ts: str = "ts",
    right_ts: str = "ts",
    joiner: Joiner | None = None,
    joined_col: str = "joined",
    right_prefix: str = "r_",
) -> DataFrame:
    """FULL OUTER JOIN ON TIMEOUT — the symmetric extension of O3: both
    sides get timeout emissions. Matched pairs carry both sides;
    unmatched lefts carry nulls on the right (the reference's timeout
    row); unmatched rights carry nulls on the left (what the reference
    cannot express — its topology only schedules timers for lefts, so a
    right with no left vanishes). A ``joiner`` must handle both null
    sides. Same shuffle/broadcast shape as the left form; no broadcast
    option (Spark cannot broadcast either side of a full outer)."""
    return _join(left, right, on, window, left_ts, right_ts,
                 joiner, joined_col, right_prefix, False, "full")
