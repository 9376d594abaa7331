import time

import pytest


def make_fetcher(log):
    def fetch(bucket, key):
        log.append((bucket, key))
        return {"key": key, "size": len(key), "etag": f"e{len(log)}"}

    return fetch


def test_cache_hit_and_miss():
    from rehiver_spark.sources.metacache import MetadataCache

    log = []
    c = MetadataCache(fetcher=make_fetcher(log), ttl=60, background=False)
    a1 = c.get("bucket-a", "x/y.parquet")
    a2 = c.get("bucket-a", "x/y.parquet")
    assert a1 == a2 and len(log) == 1
    assert c.stats.hits == 1 and c.stats.misses == 1
    # %-encoded keys normalize to the same cache entry
    c.get("bucket-a", "x%2Fy.parquet")
    assert len(log) == 1 and c.stats.hits == 2


def test_invalid_bucket_rejected():
    from rehiver_spark.sources.metacache import MetadataCache

    c = MetadataCache(fetcher=make_fetcher([]), background=False)
    with pytest.raises(ValueError, match="Invalid bucket"):
        c.get("Bad_Bucket", "k")


def test_ttl_expiry_and_refresh_ahead():
    from rehiver_spark.sources.metacache import MetadataCache

    log = []
    c = MetadataCache(
        fetcher=make_fetcher(log), ttl=0.2, refresh_threshold=50, background=False
    )
    c.get("bkt", "k")
    assert len(log) == 1
    # within threshold: pure hit, no refresh
    c.get("bkt", "k")
    assert len(log) == 1
    # past 50% of TTL but fresh: served from cache AND refreshed inline
    time.sleep(0.12)
    r = c.get("bkt", "k")
    assert r["etag"] == "e1"  # stale-while-revalidate: old value served
    assert len(log) == 2 and c.stats.refreshes == 1
    # fully expired: miss + refetch
    time.sleep(0.25)
    c.get("bkt", "k")
    assert c.stats.misses == 2


def test_lru_eviction():
    from rehiver_spark.sources.metacache import MetadataCache

    log = []
    c = MetadataCache(fetcher=make_fetcher(log), max_size=2, background=False)
    c.get("bkt", "k1"); c.get("bkt", "k2"); c.get("bkt", "k1"); c.get("bkt", "k3")
    # k2 was least-recently-used → evicted
    assert len(c) == 2 and c.stats.evictions == 1
    c.get("bkt", "k2")
    assert c.stats.misses == 4


def test_disabled_cache_always_fetches():
    from rehiver_spark.sources.metacache import MetadataCache

    log = []
    c = MetadataCache(fetcher=make_fetcher(log), enabled=False)
    c.get("bkt", "k"); c.get("bkt", "k")
    assert len(log) == 2 and len(c) == 0


def test_retry_backoff_throttle_only():
    from rehiver_spark.sources.metacache import RetryableError, retry_with_backoff

    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise RetryableError("SlowDown")
        return "ok"

    slept = []
    assert retry_with_backoff(flaky, sleep=slept.append) == "ok"
    assert calls["n"] == 3 and len(slept) == 2
    assert slept[1] > slept[0] * 1.3  # exponential-ish despite jitter

    def fatal():
        raise KeyError("nope")

    with pytest.raises(KeyError):
        retry_with_backoff(fatal, sleep=lambda s: None)


def test_background_refresh_thread():
    from rehiver_spark.sources.metacache import MetadataCache

    log = []
    c = MetadataCache(
        fetcher=make_fetcher(log), ttl=0.3, refresh_threshold=10, background=True
    )
    c.get("bkt", "k")
    time.sleep(0.1)  # past 10% of ttl
    c.get("bkt", "k")  # triggers daemon refresh
    for _ in range(50):
        if c.stats.refreshes:
            break
        time.sleep(0.02)
    assert c.stats.refreshes == 1 and len(log) == 2


def test_retry_matches_botocore_error_shape():
    from rehiver_spark.sources.metacache import retry_with_backoff

    class FakeClientError(Exception):
        def __init__(self, code):
            self.response = {"Error": {"Code": code}, "ResponseMetadata": {}}

    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise FakeClientError("SlowDown")
        return "ok"

    assert retry_with_backoff(flaky, sleep=lambda s: None) == "ok"
    assert calls["n"] == 3

    def fatal():
        raise FakeClientError("AccessDenied")

    calls["n"] = 0
    import pytest as _pytest

    with _pytest.raises(FakeClientError):
        retry_with_backoff(fatal, sleep=lambda s: None)


def test_invalidate_cancels_inflight_refresh():
    """A refresh that started before invalidate() must not re-cache the
    pre-invalidation value."""
    from rehiver_spark.sources.metacache import MetadataCache

    c = MetadataCache(fetcher=None, ttl=10, refresh_threshold=0, background=False)
    values = {"v": 1}

    def fetch(bucket, key):
        # simulate a write+invalidate racing the in-flight refresh:
        # by the time this fetch returns, the entry was invalidated
        if values["v"] == 1:
            out = {"key": key, "size": 1}
        else:
            out = {"key": key, "size": values["v"]}
        if values.get("race"):
            c.invalidate("bkt", key)
            values["race"] = False
        return out

    c.fetcher = fetch
    c.get("bkt", "k")                       # miss → cached size=1
    values["race"] = True
    import time as _t

    _t.sleep(0.01)
    c.get("bkt", "k")                       # hit past threshold → inline refresh
    # the refresh fetched size=1 but invalidate() ran mid-fetch: the
    # stale value must NOT be back in the cache
    assert len(c) == 0
    assert c.stats.refreshes == 0


def test_gen_map_stays_bounded():
    """_gen entries exist only while a refresh is in flight: invalidate
    on idle keys must not grow it, and a finished refresh must drop its
    entry (round-3 advice: unbounded growth)."""
    from rehiver_spark.sources.metacache import MetadataCache

    c = MetadataCache(
        fetcher=lambda b, k: {"key": k}, ttl=100, refresh_threshold=0, background=False
    )
    for i in range(20):
        c.get("bkt", f"k{i}")      # miss → store
        c.get("bkt", f"k{i}")      # hit → inline refresh (threshold 0)
    for i in range(20):
        c.invalidate("bkt", f"k{i}")   # idle key: no pending refresh
    c.invalidate("bkt", "never-seen")  # idle unseen key: no-op
    assert len(c._gen) == 0
    assert c.stats.refreshes == 20


def test_clear_cancels_inflight_refresh():
    """clear() must bump generations for pending refreshes so they
    cannot re-cache, without leaving residual _gen entries after the
    refresh thread finishes."""
    from rehiver_spark.sources.metacache import MetadataCache

    c = MetadataCache(fetcher=None, ttl=10, refresh_threshold=0, background=False)

    def fetch(bucket, key):
        out = {"key": key, "size": 1}
        if c._pending_refresh:  # we are inside the refresh fetch
            c.clear()
        return out

    c.fetcher = fetch
    c.get("bkt", "k")   # miss → cached
    import time as _t

    _t.sleep(0.01)
    c.get("bkt", "k")   # hit past threshold → inline refresh; clear() races it
    assert len(c) == 0
    assert c.stats.refreshes == 0
    assert len(c._gen) == 0


def test_invalidate_during_miss_fetch_not_resurrected():
    """An invalidate() that lands while a MISS fetch is in flight must
    prevent the fetched (pre-invalidation) value from being cached —
    the same guarantee the generation guard already gave refreshes."""
    from rehiver_spark.sources.metacache import MetadataCache

    cache = MetadataCache(fetcher=None, background=False)
    state = {"v": "old"}

    def fetcher(bucket, key):
        # simulate the overwrite+invalidate racing the in-flight fetch
        cache.invalidate(bucket, key)
        state["v"] = "new"
        return {"key": key, "etag": "old-etag"}

    cache.fetcher = fetcher
    got = cache.get("test-bucket", "a/k.parquet")
    assert got["etag"] == "old-etag"  # the caller still gets the fetch result

    def fetcher2(bucket, key):
        return {"key": key, "etag": "new-etag"}

    cache.fetcher = fetcher2
    # the stale value must NOT have been cached: next get re-fetches
    assert cache.get("test-bucket", "a/k.parquet")["etag"] == "new-etag"
    # and the guard bookkeeping is fully drained (bounded memory)
    assert not cache._gen and not cache._pending_fetch


def test_miss_fetch_error_propagates_and_drains():
    """A non-retryable fetch error reaches the caller after one attempt,
    caches nothing, counts one miss and leaves no in-flight state."""
    from rehiver_spark.sources.metacache import MetadataCache

    calls = []

    def fetch(bucket, key):
        calls.append(key)
        raise KeyError("AccessDenied")

    c = MetadataCache(fetcher=fetch, background=False)
    with pytest.raises(KeyError):
        c.get("bkt", "k")
    assert len(calls) == 1 and len(c) == 0
    assert c.stats.misses == 1 and c.stats.hits == 0
    assert not c._pending_fetch and not c._gen


def test_miss_fetch_retries_throttling_then_caches(monkeypatch):
    import functools

    from rehiver_spark.sources import metacache

    slept = []
    monkeypatch.setattr(
        metacache,
        "retry_with_backoff",
        functools.partial(metacache.retry_with_backoff, sleep=slept.append),
    )
    calls = []

    def fetch(bucket, key):
        calls.append(key)
        if len(calls) < 3:
            raise metacache.RetryableError("SlowDown")
        return {"key": key}

    c = metacache.MetadataCache(fetcher=fetch, background=False)
    assert c.get("bkt", "k") == {"key": "k"}
    assert len(calls) == 3 and len(slept) == 2
    assert c.get("bkt", "k") == {"key": "k"} and len(calls) == 3  # cached
    assert c.stats.misses == 1 and c.stats.hits == 1
    assert not c._pending_fetch and not c._gen


def test_disabled_cache_counts_misses_and_drains():
    from rehiver_spark.sources.metacache import MetadataCache

    c = MetadataCache(fetcher=lambda b, k: {"key": k}, enabled=False)
    for _ in range(3):
        assert c.get("bkt", "k") == {"key": "k"}
    assert c.stats.misses == 3 and c.stats.hits == 0
    assert len(c) == 0 and not c._pending_fetch and not c._gen


def test_concurrent_get_invalidate_stress():
    """8 threads mix get and write+invalidate over 50 keys through a
    16-entry cache whose entries expire and refresh inline. Counters
    must not lose updates, the LRU bound must hold, in-flight state
    must drain, and once a key's version is bumped and the key
    invalidated, no later get may return an older version."""
    import random
    import sys
    import threading

    from rehiver_spark.sources.metacache import MetadataCache

    n_threads, ops, n_keys = 8, 1500, 50
    keys = [f"k{i}" for i in range(n_keys)]
    vlock = threading.Lock()
    version = dict.fromkeys(keys, 0)
    floor = dict.fromkeys(keys, 0)  # version every later get must reach

    def fetch(bucket, key):
        with vlock:
            return {"key": key, "v": version[key]}

    c = MetadataCache(
        fetcher=fetch, max_size=16, ttl=0.01, refresh_threshold=10, background=False
    )
    gets = [0] * n_threads
    errors = []

    def worker(t):
        rng = random.Random(t)
        try:
            for _ in range(ops):
                k = keys[min(int(rng.expovariate(0.1)), n_keys - 1)]
                if rng.random() < 0.2:
                    with vlock:
                        version[k] += 1
                        v = version[k]
                    c.invalidate("bkt", k)
                    with vlock:
                        floor[k] = max(floor[k], v)
                else:
                    with vlock:
                        f = floor[k]
                    got = c.get("bkt", k)
                    gets[t] += 1
                    if got["v"] < f:
                        errors.append((k, got["v"], f))
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(t,)) for t in range(n_threads)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors[:5]
    assert c.stats.hits + c.stats.misses == sum(gets)
    assert len(c) <= c.max_size
    assert not c._pending_fetch and not c._gen and not c._pending_refresh
