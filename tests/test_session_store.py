"""Spark-free tests of the session-scoped store: fake sessions expose
only ``sparkContext.applicationId``, which is all the store reads."""

from __future__ import annotations

import sys
import threading
from types import SimpleNamespace

from ekati_spark.session_store import SessionStore


def _session(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


class _Recorder:
    """``build`` returns fresh numbered values; ``dispose`` logs them."""

    def __init__(self) -> None:
        self.builds = 0
        self.disposed: list[str] = []

    def build(self, tag: str):
        def run() -> str:
            self.builds += 1
            return f"{tag}#{self.builds}"

        return run

    def dispose(self, value: str) -> None:
        self.disposed.append(value)


def test_hit_new_key_restart_and_counters():
    store, rec = SessionStore(), _Recorder()
    a = _session("app-a")

    v1 = store.get_or_build(a, "fk_graph", "sf1", rec.build("sf1"), rec.dispose)
    # a hit returns the stored entry without calling build again
    assert store.get_or_build(a, "fk_graph", "sf1", rec.build("sf1"), rec.dispose) == v1
    assert rec.builds == 1 and rec.disposed == []

    # a new key for the same slot disposes the old entry exactly once
    v2 = store.get_or_build(a, "fk_graph", "sf2", rec.build("sf2"), rec.dispose)
    assert v2 != v1 and rec.disposed == [v1]
    assert store.get_or_build(a, "fk_graph", "sf2", rec.build("sf2"), rec.dispose) == v2
    assert rec.disposed == [v1]

    # tuple slots count under their first element
    t = store.get_or_build(a, ("table", "sf2", "orders"), "p", rec.build("t"))
    assert store.get_or_build(a, ("table", "sf2", "orders"), "p", rec.build("t")) == t

    # "restart": a new applicationId never sees the stopped session's
    # entry, and its miss drops (and disposes) that entry
    b = _session("app-b")
    v3 = store.get_or_build(b, "fk_graph", "sf2", rec.build("sf2"), rec.dispose)
    assert v3 != v2
    assert rec.disposed == [v1, v2]
    assert store.get_or_build(b, "fk_graph", "sf2", rec.build("sf2"), rec.dispose) == v3
    # the stopped session's table handle is gone too: b rebuilds it
    assert store.get_or_build(b, ("table", "sf2", "orders"), "p", rec.build("t")) != t

    stats = store.stats()
    assert set(stats) == {"fk_graph", "table"}
    assert (stats["fk_graph"]["hits"], stats["fk_graph"]["misses"]) == (3, 3)
    assert (stats["table"]["hits"], stats["table"]["misses"]) == (1, 2)
    assert all(c["build_s"] >= 0.0 for c in stats.values())


def test_stopped_session_dispose_failure_does_not_raise():
    store = SessionStore()

    def unpersist_on_stopped_context(_value):
        raise RuntimeError("Cannot call methods on a stopped SparkContext")

    store.get_or_build(
        _session("old"), "fk_graph", "sf", lambda: "g", unpersist_on_stopped_context
    )
    # the restarted session's miss drops the old entry without raising
    assert store.get_or_build(_session("new"), "fk_graph", "sf", lambda: "g2") == "g2"
    # and the old session's entry is not retained
    assert store.get_or_build(_session("old"), "fk_graph", "sf", lambda: "g3") == "g3"


def test_evict_disposes_the_sessions_entry():
    store, rec = SessionStore(), _Recorder()
    a = _session("app-a")
    v = store.get_or_build(a, "l133_graph", "sf", rec.build("g"), rec.dispose)
    store.evict(a, "l133_graph")
    store.evict(a, "l133_graph")  # already gone: a no-op
    assert rec.disposed == [v]
    assert store.get_or_build(a, "l133_graph", "sf", rec.build("g"), rec.dispose) != v


def test_concurrent_misses_serve_one_entry():
    """Threads racing on one (slot, key) all get the same value; every
    redundant build is disposed and the counters lose no update."""
    store, rec = SessionStore(), _Recorder()
    lock = threading.Lock()
    a = _session("app-a")
    n_threads, n_calls = 16, 200
    seen: list[str] = []

    def build():
        with lock:
            return rec.build("v")()

    def work():
        for _ in range(n_calls):
            v = store.get_or_build(a, "l127b_postings", "sf", build, rec.dispose)
            with lock:
                seen.append(v)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(seen) == n_threads * n_calls
    assert len(set(seen)) == 1
    assert len(rec.disposed) == rec.builds - 1
    assert seen[0] not in rec.disposed
    c = store.stats()["l127b_postings"]
    assert c["hits"] + c["misses"] == n_threads * n_calls
    assert c["misses"] == rec.builds
