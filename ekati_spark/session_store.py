"""State built once per live Spark session (tables, graphs, stores).

A *slot* names what is stored and holds one entry per session; the
*key* names what it was built from. A hit returns the entry; a new key
disposes the old entry, then builds and stores a new one. A miss also
drops every other applicationId's entries: PySpark runs one
SparkContext per process, so those sessions are stopped. ``stats()``
counts hits, misses and build seconds per slot kind (a tuple slot's
first element)."""

from __future__ import annotations

import logging
import threading
import time

log = logging.getLogger(__name__)


class SessionStore:
    def __init__(self):
        self._lock = threading.Lock()
        self._entries = {}  # (applicationId, slot) -> (key, value, dispose)
        self._counts = {}  # slot kind -> {"hits", "misses", "build_s"}

    def get_or_build(self, spark, slot, key, build, dispose=None):
        """The session's ``slot`` entry if built from ``key``, else
        ``build()``'s result, stored; ``dispose(value)`` releases it."""
        # unlike id(spark), which the allocator can reuse, applicationId
        # never names a stopped session's entries after a restart
        sk = spark.sparkContext.applicationId
        kind = slot[0] if isinstance(slot, tuple) else slot
        with self._lock:
            counts = self._counts.setdefault(
                kind, {"hits": 0, "misses": 0, "build_s": 0.0}
            )
            old = self._entries.get((sk, slot))
            if old is not None and old[0] == key:
                counts["hits"] += 1
                return old[1]
            counts["misses"] += 1
            gone = [k for k in self._entries if k[0] != sk or k[1] == slot]
            gone = [self._entries.pop(k) for k in gone]
        for entry in gone:
            _release(entry)
        t0 = time.perf_counter()
        value = build()  # unlocked: a build may use the store itself
        with self._lock:
            counts["build_s"] += time.perf_counter() - t0
            old = self._entries.get((sk, slot))
            if old is None or old[0] != key:
                self._entries[(sk, slot)] = (key, value, dispose)
            else:  # a concurrent miss stored first: serve its entry
                old, value = (key, value, dispose), old[1]
        _release(old)
        return value

    def evict(self, spark, slot) -> None:
        with self._lock:
            key = (spark.sparkContext.applicationId, slot)
            entry = self._entries.pop(key, None)
        _release(entry)

    def stats(self) -> dict:
        with self._lock:
            return {kind: dict(c) for kind, c in self._counts.items()}


def _release(entry) -> None:
    if entry is None or entry[2] is None:
        return
    try:
        entry[2](entry[1])
    except Exception:  # e.g. unpersist through a stopped SparkContext
        log.warning("disposing a session store entry failed", exc_info=True)


_STORE = SessionStore()
get_or_build, evict, stats = _STORE.get_or_build, _STORE.evict, _STORE.stats
