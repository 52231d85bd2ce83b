"""Result-level query cache + scheduler hints.

Reference: Druid's broker result cache (ResultLevelCachingQueryRunner,
Caffeine-backed client/cache/CaffeineCache.java) stores FINISHED result rows
under the query's cache key (query/CacheStrategy.java), with the set of
segments the query read folded into the entry, so an append invalidates it;
it is controlled per query by the context flags useCache / populateCache
(query/QueryContexts.java).  Here the analogue is a bounded LRU of finished
``api.native_query`` responses: a hit runs no Spark job and holds no Spark
storage.  Entries are stored pickled, so every hit hands out its own copy
and a caller mutating a response cannot alter the cached one.

Freshness comes from the key: ``cache_key(query)`` (which carries the
registered-lookup version) plus ``Catalog.version()`` — the catalog's
identity and mutation count, bumped by every ``register`` (and so by every
``sources.ingest`` write).  Writes made outside the engine's catalog (files
dropped under a registered path without re-registering it) are not seen,
the same as for registered views.

Query prioritization (server/.../QueryScheduler.java laning,
QueryContexts.getPriority) maps to Spark fair-scheduler pools: context.lane
names the pool, context.priority picks between built-in "high"/"low" pools.
Pool assignment is a thread-local Spark property, matching the
one-query-per-request execution model.
"""

from __future__ import annotations

import json
import pickle
import threading
from collections import OrderedDict

from pyspark.sql import SparkSession

_MAX_ENTRIES = 64
_CACHE: OrderedDict[str, bytes] = OrderedDict()
# ThreadingHTTPServer serves concurrent requests: the OrderedDict's
# move_to_end/popitem must not interleave
_LOCK = threading.Lock()


def cache_key(query: dict) -> str:
    """Canonical cache key: the query JSON minus cache/priority context flags
    (two queries differing only in cache directives share results — same rule
    as CacheKey generation skipping context).  The registered-lookup version
    is folded in: Druid refuses to cache lookup-dependent queries
    (CacheStrategy), since a lookup re-registration would serve stale
    results — versioning the key achieves the same safety while still
    caching between lookup updates."""
    q = dict(query)
    ctx = dict(q.pop("context", None) or {})
    for k in ("useCache", "populateCache", "priority", "lane", "timeout",
              "queryId"):
        ctx.pop(k, None)
    if ctx:
        q["context"] = ctx
    from incubator_druid_spark.functions.lookups import lookup_version
    return json.dumps(q, sort_keys=True, default=str) + \
        f"#lkv{lookup_version()}"


def _entry_key(query: dict, catalog) -> str:
    return f"{cache_key(query)}#cat{catalog.version()}"


def lookup(query: dict, catalog) -> list | None:
    """The cached response for ``query`` over ``catalog``'s current
    version, as a fresh copy; None on a miss or without context.useCache."""
    if not (query.get("context") or {}).get("useCache"):
        return None
    key = _entry_key(query, catalog)
    with _LOCK:
        blob = _CACHE.get(key)
        if blob is None:
            return None
        _CACHE.move_to_end(key)
    return pickle.loads(blob)


def populate(query: dict, catalog, response: list) -> list:
    """Store ``response`` under context.populateCache; returns it as is."""
    if not (query.get("context") or {}).get("populateCache"):
        return response
    key = _entry_key(query, catalog)
    blob = pickle.dumps(response, protocol=pickle.HIGHEST_PROTOCOL)
    with _LOCK:
        _CACHE[key] = blob
        _CACHE.move_to_end(key)
        while len(_CACHE) > _MAX_ENTRIES:
            _CACHE.popitem(last=False)
    return response


def clear() -> None:
    with _LOCK:
        _CACHE.clear()


def apply_scheduling(query: dict, spark: SparkSession) -> None:
    """context.lane / context.priority → fair-scheduler pool for jobs this
    thread triggers (QueryScheduler lane semantics; priority >0 → 'high',
    <0 → 'low', matching QueryContexts.getPriority default 0)."""
    ctx = query.get("context") or {}
    pool = ctx.get("lane")
    if pool is None and "priority" in ctx:
        p = int(ctx["priority"])
        pool = "high" if p > 0 else "low" if p < 0 else None
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", pool)
