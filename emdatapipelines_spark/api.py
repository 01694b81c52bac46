"""Public query API: ``engine.sql()`` with usage tracking, rate limiting and
a TTL result cache.

≈ the read path traced in SURVEY §3.3:
`resources/public_resources.py:66-98` (execute_public_query),
`utils/usage_tracking.py:58-93` (sliding 1-hour per-organization quotas),
`public_resources.py:217-288` (query classification + fingerprinting),
`public_resources.py:482-627` (TTL cache, 300 s default, warm queries).
StarRocks-over-pymysql becomes ``spark.sql`` over registered views; the
middleware stays deliberately driver-side plain Python (it guards the query
boundary, not the data path).
"""

from __future__ import annotations

import hashlib
import threading
import time
from collections import defaultdict, deque
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

#: org-type hourly quotas (`utils/usage_tracking.py:58-93`).
DEFAULT_QUOTAS = {"public": 1000, "research": 5000, "government": 10000}


def classify_query(sql: str) -> str:
    """Coarse query classification for usage logs
    (`public_resources.py:217-227`)."""
    s = sql.lower()
    for kw, label in [
        ("disaster", "disaster_query"),
        ("weather", "weather_query"),
        ("agricultural", "agricultural_query"),
        ("usda", "usda_query"),
    ]:
        if kw in s:
            return label
    return "select_query" if s.lstrip().startswith("select") else "other"


def fingerprint_query(sql: str) -> str:
    """Stable query fingerprint (the reference hashes to 6 digits,
    `public_resources.py:223`; md5 here to avoid collisions)."""
    return hashlib.md5(" ".join(sql.split()).lower().encode()).hexdigest()[:12]


@dataclass
class RateLimiter:
    """Sliding 1-hour window per organization (`usage_tracking.py:58-93`)."""

    quotas: dict[str, int] = field(default_factory=lambda: dict(DEFAULT_QUOTAS))
    window_seconds: int = 3600
    _events: dict[str, deque] = field(default_factory=lambda: defaultdict(deque))

    def check(self, org: str, org_type: str = "public", now: float | None = None) -> bool:
        now = now if now is not None else time.time()
        q = self._events[org]
        while q and q[0] <= now - self.window_seconds:
            q.popleft()
        if len(q) >= self.quotas.get(org_type, self.quotas["public"]):
            return False
        q.append(now)
        return True


@dataclass
class _CacheEntry:
    df: DataFrame
    expires_at: float


class QueryEngine:
    """SQL entry point with middleware. Usage: register views (or build a
    ModelRegistry DAG), then ``engine.sql("select ...", org="x")``."""

    def __init__(
        self, spark: SparkSession, cache_ttl_seconds: int = 300, governance=None
    ) -> None:
        self.spark = spark
        self.cache_ttl = cache_ttl_seconds
        self.rate_limiter = RateLimiter()
        self.usage_log: list[dict] = []
        self._cache: dict[str, _CacheEntry] = {}
        #: guards ``_cache`` and ``_filling``; ``_filling`` holds one gate per
        #: fingerprint being planned, so concurrent misses on one query wait
        #: for the first client's frame instead of each persisting their own
        self._lock = threading.Lock()
        self._filling: dict[str, threading.Lock] = {}
        #: optional GovernanceLog (`lineage.py`): data-access compliance
        #: events per served query + rate-limit denials, the reference's
        #: federal-compliance usage logging at the query boundary
        #: (`utils/usage_tracking.py`, `macros/log_federal_compliance_event.sql`)
        self.governance = governance

    def sql(
        self,
        query: str,
        org: str = "anonymous",
        org_type: str = "public",
        use_cache: bool = True,
        now: float | None = None,
    ) -> DataFrame:
        now = now if now is not None else time.time()
        fp = fingerprint_query(query)
        if not self.rate_limiter.check(org, org_type, now):
            if self.governance is not None:
                self.governance.compliance_event(
                    "rate_limit_denied", f"query:{fp}", f"org={org} type={org_type}"
                )
            # denied requests are still usage (`usage_metrics.sql` computes a
            # success RATE, so the log must carry failures too)
            self.usage_log.append(
                {
                    "org": org,
                    "type": classify_query(query),
                    "fingerprint": fp,
                    "at": now,
                    "ok": False,
                    "elapsed_ms": 0.0,
                }
            )
            raise PermissionError(f"rate limit exceeded for organization {org}")
        entry = {
            "org": org,
            "type": classify_query(query),
            "fingerprint": fp,
            "at": now,
            "ok": True,
            "elapsed_ms": 0.0,
        }
        self.usage_log.append(entry)
        if self.governance is not None:
            self.governance.compliance_event(
                "data_access", f"query:{fp}", f"org={org} type={org_type} class={classify_query(query)}"
            )
        t0 = time.perf_counter()
        try:
            if use_cache:
                return self._cached(fp, query, now)
            return self.spark.sql(query)
        except Exception:
            entry["ok"] = False
            raise
        finally:
            # serving latency (analysis/plan build; execution is lazy) — the
            # field api_performance aggregates into its percentile buffers
            entry["elapsed_ms"] = (time.perf_counter() - t0) * 1000.0

    def _cached(self, fp: str, query: str, now: float) -> DataFrame:
        """The cached frame for ``fp``, planned and persisted by exactly one
        of the clients that miss on it at once; the others wait for it.
        Planning runs outside the engine-wide lock, so misses on different
        queries do not wait for each other. An expired entry is unpersisted
        before its replacement is planned."""
        with self._lock:
            hit = self._cache.get(fp)
            if hit is not None and hit.expires_at > now:
                return hit.df
            gate = self._filling.setdefault(fp, threading.Lock())
        with gate:
            with self._lock:
                hit = self._cache.get(fp)
                if hit is not None and hit.expires_at > now:
                    return hit.df
                expired = self._cache.pop(fp, None)
            if expired is not None:
                _unpersist(expired.df)
            try:
                df = self.spark.sql(query).cache()
                with self._lock:
                    self._cache[fp] = _CacheEntry(df, now + self.cache_ttl)
            finally:
                with self._lock:
                    self._filling.pop(fp, None)
        return df

    def warm(self, queries: list[str], now: float | None = None) -> None:
        """Pre-populate the cache (`public_resources.py:537-599` warm list)."""
        for q in queries:
            self.sql(q, org="cache-warmer", now=now).count()

    def evict_expired(self, now: float | None = None) -> int:
        now = now if now is not None else time.time()
        with self._lock:
            dead = [self._cache.pop(k) for k, v in list(self._cache.items())
                    if v.expires_at <= now]
        for entry in dead:
            _unpersist(entry.df)
        return len(dead)


def _unpersist(df: DataFrame) -> None:
    try:
        df.unpersist()
    except Exception:
        pass
