"""Engine configuration: SAX params, rollup tiers, retention horizons."""

from __future__ import annotations

from dataclasses import dataclass, field

from symtseries_spark.kernel import validate_nwc

#: Rollup tiers: name → (bucket duration seconds, default retention seconds).
#: Retention horizons follow the usual continuous-aggregate laddering: fine
#: tiers age out quickly, coarse tiers are kept long.
TIERS = {
    "1m": 60,
    "1h": 3600,
    "1d": 86400,
}

DEFAULT_RETENTION = {
    "1m": 7 * 86400,
    "1h": 90 * 86400,
    "1d": 5 * 365 * 86400,
}

TIER_INTERVAL = {"1m": "1 minute", "1h": "1 hour", "1d": "1 day"}


@dataclass(frozen=True)
class SaxConfig:
    """(n, w, c) triple fixed at construction, validated with the
    reference's API bounds (1 < n ≤ 4096, 1 < w ≤ 2048, w | n, 2 ≤ c ≤ 16;
    reference contract: /root/reference/lua/lua_sax.c:26-35)."""

    n: int = 60
    w: int = 12
    c: int = 8

    def __post_init__(self):
        validate_nwc(self.n, self.w, self.c)


@dataclass(frozen=True)
class EngineConfig:
    sax: SaxConfig = field(default_factory=SaxConfig)
    #: points per compressed chunk (one day of 1m buckets)
    chunk_points: int = 1440
