"""Public query API middleware: rate limiting, usage logging, TTL cache
(SURVEY §3.3 read path).
"""

from __future__ import annotations

import pytest

from emdatapipelines_spark.api import (
    QueryEngine,
    RateLimiter,
    classify_query,
    fingerprint_query,
)


def test_rate_limiter_sliding_window():
    rl = RateLimiter(quotas={"public": 3})
    t0 = 1000.0
    assert all(rl.check("org1", "public", t0 + i) for i in range(3))
    assert not rl.check("org1", "public", t0 + 3)          # quota exhausted
    assert rl.check("org2", "public", t0 + 3)              # per-org isolation
    assert rl.check("org1", "public", t0 + 3601)           # window slides


def test_classify_and_fingerprint():
    assert classify_query("SELECT * FROM disaster_events") == "disaster_query"
    assert classify_query("select 1") == "select_query"
    # fingerprint is whitespace/case insensitive
    assert fingerprint_query("SELECT  1") == fingerprint_query("select 1")
    assert fingerprint_query("select 1") != fingerprint_query("select 2")


def test_engine_sql_cache_and_quota(spark):
    eng = QueryEngine(spark, cache_ttl_seconds=300)
    eng.rate_limiter = RateLimiter(quotas={"public": 5})
    t0 = 5000.0

    spark.range(10).createOrReplaceTempView("api_test_tbl")
    df1 = eng.sql("SELECT COUNT(*) AS n FROM api_test_tbl", org="o", now=t0)
    assert df1.first()["n"] == 10
    # cache hit returns the identical cached DataFrame
    df2 = eng.sql("select   count(*) as n from api_test_tbl", org="o", now=t0 + 1)
    assert df2 is df1
    assert len(eng.usage_log) == 2

    # TTL expiry evicts
    assert eng.evict_expired(now=t0 + 301) == 1
    df3 = eng.sql("SELECT COUNT(*) AS n FROM api_test_tbl", org="o", now=t0 + 302)
    assert df3 is not df1

    # rate limit raises once quota is burned
    with pytest.raises(PermissionError):
        for i in range(10):
            eng.sql("SELECT 1 AS one", org="greedy", now=t0 + 10 + i)


def test_concurrent_misses_persist_one_frame(spark):
    """Clients that miss on one query at the same instant share one cached
    frame: exactly one is planned and persisted, and it is the frame the
    cache holds, so none is left pinned without an entry pointing at it."""
    import sys
    import threading

    n = 8
    eng = QueryEngine(spark, cache_ttl_seconds=300)
    spark.range(50).createOrReplaceTempView("api_race_tbl")
    query = "SELECT id % 5 AS k, COUNT(*) AS c FROM api_race_tbl GROUP BY id % 5"
    barrier = threading.Barrier(n)
    frames = [None] * n
    errors = []

    def client(i):
        try:
            barrier.wait()
            frames[i] = eng.sql(query, org=f"org{i}", now=7000.0)
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    threads = [threading.Thread(target=client, args=(i,)) for i in range(n)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(60)
    finally:
        sys.setswitchinterval(switch)
    assert not any(th.is_alive() for th in threads)
    assert not errors
    cached = eng._cache[fingerprint_query(query)].df
    assert all(df is cached for df in frames)
    assert cached.is_cached
    assert eng._filling == {}
    assert sorted(r["c"] for r in cached.collect()) == [10] * 5
    assert eng.evict_expired(now=7301.0) == 1
    assert not cached.is_cached
