"""Configuration + validation for the timeout join (reference O15).

Mirrors the invariants of ``LeftJoinOnTimeoutBuilder.validateArguments()``
(reference ``LeftJoinOnTimeoutBuilder.java:124-143``), re-expressed for the
watermark design: the timeout (watermark delay past the window) must exceed
the join window, defaulting to ``window + 100ms`` exactly like the
reference's ``DEFAULT_TIMEOUT_GAP_IN_MS`` (``LeftJoinOnTimeoutBuilder.java:24,59``).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_INTERVAL_RE = re.compile(
    r"^\s*(\d+(?:\.\d+)?)\s*"
    r"(millisecond|milli|ms|second|sec|s|minute|min|m|hour|hr|h|day|d)s?\s*$",
    re.IGNORECASE,
)

_UNIT_MS = {
    "millisecond": 1, "milli": 1, "ms": 1,
    "second": 1000, "sec": 1000, "s": 1000,
    "minute": 60_000, "min": 60_000, "m": 60_000,
    "hour": 3_600_000, "hr": 3_600_000, "h": 3_600_000,
    "day": 86_400_000, "d": 86_400_000,
}

DEFAULT_TIMEOUT_GAP_MS = 100  # reference LeftJoinOnTimeoutBuilder.java:24
DEFAULT_SCHEDULED_CAPACITY = 1000  # reference LeftJoinOnTimeoutBuilder.java:25


def parse_interval_ms(interval: str | int | float) -> int:
    """'30 minutes' / '100 ms' / 1500 → milliseconds."""
    if isinstance(interval, (int, float)):
        return int(interval)
    m = _INTERVAL_RE.match(interval)
    if not m:
        raise ValueError(f"unparseable interval: {interval!r}")
    qty, unit = float(m.group(1)), m.group(2).lower()
    return int(qty * _UNIT_MS[unit])


@dataclass(frozen=True)
class TimeoutJoinConfig:
    """Validated knobs of the timeout join.

    window_ms       — join window D: match iff |ts_l − ts_r| ≤ D
                      (reference JoinWindows.of(D), LeftJoinOnTimeoutBuilder.java:113)
    timeout_ms      — when the (left, null) row may be emitted; must be > window
                      (reference invariant, LeftJoinOnTimeoutBuilder.java:130)
    scheduled_capacity — max pending timers before backpressure in the
                      exact-timer variant (reference semantics: block;
                      ours: flag/raise — blocking a Spark task is an
                      anti-pattern). LeftJoinOnTimeoutBuilder.java:25.
    """

    window_ms: int
    timeout_ms: int = field(default=-1)
    scheduled_capacity: int = DEFAULT_SCHEDULED_CAPACITY

    def __post_init__(self) -> None:
        if self.window_ms <= 0:
            raise ValueError("join window must be positive")
        if self.timeout_ms < 0:
            object.__setattr__(
                self, "timeout_ms", self.window_ms + DEFAULT_TIMEOUT_GAP_MS
            )
        if self.timeout_ms <= self.window_ms:
            # reference: "leftJoinTimeoutInMs should be more than joinWindowDurationInMs"
            raise ValueError(
                f"timeout ({self.timeout_ms} ms) must exceed join window "
                f"({self.window_ms} ms)"
            )
        if self.scheduled_capacity <= 0:
            raise ValueError("scheduled_capacity must be positive")

    @classmethod
    def of(cls, window: str | int, timeout: str | int | None = None,
           scheduled_capacity: int = DEFAULT_SCHEDULED_CAPACITY) -> "TimeoutJoinConfig":
        return cls(
            window_ms=parse_interval_ms(window),
            timeout_ms=parse_interval_ms(timeout) if timeout is not None else -1,
            scheduled_capacity=scheduled_capacity,
        )
