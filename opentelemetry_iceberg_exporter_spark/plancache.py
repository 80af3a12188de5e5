"""Process-level caches for immutable Column expression trees.

Column objects are py4j handles into the ACTIVE JVM gateway: caching
them across a gateway restart (embedded use stopping and relaunching
Spark, some test harnesses) would hand back references to dead JVM
objects that fail opaquely on next use. `column_cache` is lru_cache
with the live gateway's launch stamp folded into the key, so a
relaunched gateway transparently rebuilds the Column trees while the
steady-state hit path stays a plain dict lookup.
"""

from __future__ import annotations

import functools
import itertools

_launches = itertools.count(1)


def gateway_epoch() -> int | None:
    """Launch stamp of the active py4j gateway (None before any
    context): changes whenever Spark is stopped and relaunched
    in-process. The stamp is a counter value stored ON the gateway
    object the first time it is seen — unlike `id(gateway)`, which a
    relaunched gateway can reuse once the old one is freed."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return None
    gateway = sc._gateway
    stamp = getattr(gateway, "_column_cache_epoch", None)
    if stamp is None:
        stamp = next(_launches)
        gateway._column_cache_epoch = stamp
    return stamp


def column_cache(maxsize: int = 16):
    """lru_cache for functions returning Column expressions, keyed on
    the live gateway in addition to the arguments. Exposes cache_clear/
    cache_info like functools.lru_cache."""

    def deco(fn):
        @functools.lru_cache(maxsize=maxsize)
        def cached(_epoch, *args, **kwargs):
            return fn(*args, **kwargs)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            return cached(gateway_epoch(), *args, **kwargs)

        wrapper.cache_clear = cached.cache_clear
        wrapper.cache_info = cached.cache_info
        return wrapper

    return deco
