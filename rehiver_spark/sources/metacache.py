"""Driver-side object-metadata cache: LRU + TTL + background refresh.

Mirrors the reference's MetadataCacheConfig / getObjectMetadata /
refreshMetadataInBackground surface (src/index.ts:845-1005): bounded
LRU keyed by ``bucket:key``, entries expire after ``ttl`` seconds, and
a read served from cache past ``refresh_threshold`` percent of the TTL
triggers ONE background re-fetch so hot entries never go stale-then-
miss. Fetch-on-miss retries with exponential backoff + jitter on
throttle-class errors only (reference retryWithBackoff defaults,
src/index.ts:250-308).

Role in the engine: Spark's own FileStatusCache / REFRESH TABLE covers
metadata for *scan planning*; this cache serves the DRIVER-side object
workflows (head-before-write, change-detection probes, catalog
backfills) where the reference used it — per-key metadata reads that
would otherwise hit the object store once per call. It is deliberately
driver-only: executors never see it (a distributed scan gets metadata
from ``_metadata``/listers, never point lookups).
"""

from __future__ import annotations

import random
import threading
import time
from collections import OrderedDict
from collections.abc import Callable
from dataclasses import dataclass, field

from rehiver_spark.sources.catalog import (
    decode_s3_key,
    head_object,
    is_valid_bucket_name,
)

# error names treated as retryable (reference retryWithBackoff's
# throttle classification, src/index.ts:259-276)
RETRYABLE = {
    "SlowDown",
    "Throttling",
    "ThrottlingException",
    "RequestLimitExceeded",
    "TooManyRequestsException",
    "InternalError",
    "ServiceUnavailable",
}


class RetryableError(Exception):
    """Raise (or set ``err.name`` to a RETRYABLE value) to mark a fetch
    failure as throttle-class — only these are retried."""


def _error_code(e: Exception) -> str:
    """Throttle-class code of an exception: botocore ClientError keeps
    it at ``e.response['Error']['Code']``, our RetryableError / fakes at
    ``e.name``; fall back to the type name."""
    resp = getattr(e, "response", None)
    if isinstance(resp, dict):
        code = (resp.get("Error") or {}).get("Code")
        if code:
            return code
    return getattr(e, "name", None) or type(e).__name__


def retry_with_backoff(
    fn: Callable[[], object],
    max_attempts: int = 5,
    base_delay: float = 0.1,
    max_delay: float = 30.0,
    sleep: Callable[[float], None] = time.sleep,
):
    """Exponential backoff with ±20% jitter, throttle-class errors only
    (reference defaults: 5 attempts, 100 ms base, 30 s cap,
    src/index.ts:250-308)."""
    attempt = 0
    while True:
        try:
            return fn()
        except Exception as e:
            retryable = isinstance(e, RetryableError) or _error_code(e) in RETRYABLE
            attempt += 1
            if not retryable or attempt >= max_attempts:
                raise
            delay = min(max_delay, base_delay * (2 ** (attempt - 1)))
            sleep(delay * (0.8 + 0.4 * random.random()))


@dataclass
class CacheStats:
    hits: int = 0
    misses: int = 0
    refreshes: int = 0
    evictions: int = 0


@dataclass
class _Entry:
    value: object
    stored_at: float = field(default_factory=time.monotonic)


class MetadataCache:
    """LRU-TTL metadata cache with refresh-ahead.

    ``fetcher(bucket, key) -> dict | None`` defaults to
    :func:`head_object` (boto3-gated); inject a fake for tests or a
    different store. ``get`` returns the cached dict when fresh,
    fetches (with retry) on miss/expiry, and — when a hit is older than
    ``refresh_threshold`` percent of the TTL — serves the cached value
    immediately while ONE daemon thread re-fetches in the background
    (errors there are swallowed, reference parity).

    Thread-safe. All bookkeeping is under one lock and no fetch runs
    while it is held: a hit takes one critical section (lookup, TTL
    check, LRU touch, hit count, refresh-ahead decision); a miss takes
    two — miss count plus in-flight registration before the fetch, and
    the generation-checked store plus the in-flight drain after it.
    """

    def __init__(
        self,
        fetcher: Callable[[str, str], dict | None] | None = None,
        enabled: bool = True,
        max_size: int = 1000,
        ttl: float = 300.0,
        refresh_threshold: float = 80.0,
        background: bool = True,
    ):
        self.fetcher = fetcher or head_object
        self.enabled = enabled
        self.max_size = max_size
        self.ttl = ttl
        self.refresh_threshold = refresh_threshold
        self.background = background  # False → refresh inline (deterministic tests)
        self.stats = CacheStats()
        self._lock = threading.Lock()
        self._data: OrderedDict[str, _Entry] = OrderedDict()
        self._pending_refresh: set[str] = set()
        # per-key generation: bumped by invalidate()/clear() so an
        # in-flight fetch (background refresh OR a plain miss fetch)
        # that started before the invalidation cannot re-cache
        # pre-invalidation metadata. _pending_fetch counts in-flight
        # fetches per key; _gen entries live only while one is pending,
        # keeping the dict bounded by concurrency, not keys-ever-seen.
        self._gen: dict[str, int] = {}
        self._pending_fetch: dict[str, int] = {}

    def _fetch_begin(self, ck: str) -> int:
        """Register an in-flight fetch; returns the generation to check
        before storing its result. Caller holds ``self._lock``."""
        self._pending_fetch[ck] = self._pending_fetch.get(ck, 0) + 1
        return self._gen.get(ck, 0)

    def _fetch_end(self, ck: str) -> None:
        """Unregister an in-flight fetch. Caller holds ``self._lock``."""
        n = self._pending_fetch.get(ck, 1) - 1
        if n <= 0:
            self._pending_fetch.pop(ck, None)
            self._gen.pop(ck, None)
        else:
            self._pending_fetch[ck] = n

    def get(self, bucket: str, key: str):
        if not is_valid_bucket_name(bucket):
            raise ValueError(f"Invalid bucket name: {bucket}")
        # '%'-in-key → decode before fetching: REFERENCE PARITY
        # (src/index.ts:884-886 computes safeKey the same way and HEADs
        # it) — a key whose literal name contains '%xx' text is fetched
        # decoded there too; callers with such keys pre-encode them.
        safe = decode_s3_key(key) if "%" in key else key
        ck = f"{bucket}:{safe}"
        # one critical section decides hit or miss and does its
        # bookkeeping; the fetch and the refresh (which may run inline
        # when background=False) happen OUTSIDE it — the lock is
        # non-reentrant
        with self._lock:
            e = self._data.get(ck) if self.enabled else None
            if e is not None:
                age = time.monotonic() - e.stored_at
                if age < self.ttl:
                    self._data.move_to_end(ck)
                    self.stats.hits += 1
                    if (
                        age <= self.ttl * self.refresh_threshold / 100.0
                        or ck in self._pending_refresh
                    ):
                        return e.value
                    self._pending_refresh.add(ck)
                else:
                    del self._data[ck]  # expired
                    e = None
            if e is None:
                self.stats.misses += 1
                gen = self._fetch_begin(ck)
        if e is not None:  # a hit past the refresh threshold
            self._refresh(bucket, safe, ck)
            return e.value
        value = None
        try:
            value = retry_with_backoff(lambda: self.fetcher(bucket, safe))
        finally:
            with self._lock:
                # an invalidate() that landed while this miss-fetch was
                # in flight bumped the generation: storing now would
                # resurrect pre-invalidation metadata for ttl
                if value is not None and self.enabled and self._gen.get(ck, 0) == gen:
                    self._store(ck, value)
                self._fetch_end(ck)
        return value

    def _store(self, ck: str, value) -> None:
        self._data[ck] = _Entry(value)
        self._data.move_to_end(ck)
        while len(self._data) > self.max_size:
            self._data.popitem(last=False)
            self.stats.evictions += 1

    def _refresh(self, bucket: str, safe_key: str, ck: str) -> None:
        with self._lock:
            gen = self._fetch_begin(ck)

        def work():
            try:
                value = self.fetcher(bucket, safe_key)
                if value is not None:
                    with self._lock:
                        if self._gen.get(ck, 0) == gen:  # not invalidated since
                            self._store(ck, value)
                            self.stats.refreshes += 1
            except Exception:
                pass  # background refresh errors are swallowed (parity)
            finally:
                with self._lock:
                    self._pending_refresh.discard(ck)
                    self._fetch_end(ck)

        if self.background:
            threading.Thread(target=work, daemon=True).start()
        else:
            work()

    def invalidate(self, bucket: str, key: str) -> None:
        """Drop one entry. Lenient about ``bucket``: write paths accept
        local directories as bucket stand-ins (writer.put_object's
        default mode), and invalidating an entry that could never have
        been cached is simply a no-op — it must not raise. Bumps the
        key's generation so an in-flight background refresh started
        before this call cannot re-cache pre-invalidation metadata."""
        safe = decode_s3_key(key) if "%" in key else key
        ck = f"{bucket}:{safe}"
        with self._lock:
            self._data.pop(ck, None)
            # only an in-flight fetch (refresh OR miss) can re-cache
            # stale data, so only pending keys need a generation bump —
            # keys without one would otherwise accumulate a _gen entry
            # forever
            if ck in self._pending_fetch:
                self._gen[ck] = self._gen.get(ck, 0) + 1

    def clear(self) -> None:
        with self._lock:
            for ck in self._pending_fetch:
                self._gen[ck] = self._gen.get(ck, 0) + 1
            self._data.clear()
            self._pending_refresh.clear()

    def __len__(self) -> int:
        with self._lock:
            return len(self._data)
