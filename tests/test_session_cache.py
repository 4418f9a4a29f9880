"""SessionCache: entries live as long as one Spark application, and
concurrent makers all get the one stored value."""

from __future__ import annotations

import sys
import threading
import types

from bacalhau_spark.session import SessionCache


def _app(app_id: str):
    return types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(applicationId=app_id))


def test_new_application_drops_every_entry():
    cache = SessionCache()
    first, second = _app("app-1"), _app("app-2")
    cache.setdefault(first, "k", 1)
    cache.setdefault(first, "j", 2)
    assert cache.get(first, "k") == 1
    assert cache.get(second, "k") is None
    assert cache.keys(second) == []
    assert cache.get(first, "k") is None, "a stopped session's entries " \
        "must not come back"


def test_evict_removes_only_matching_keys():
    cache = SessionCache()
    app = _app("app-1")
    for k in ("a1", "a2", "b1"):
        cache.setdefault(app, k, k.upper())
    assert sorted(cache.evict(app, lambda k: k.startswith("a"))) == \
        ["A1", "A2"]
    assert cache.keys(app) == ["b1"]
    assert cache.values(app) == ["B1"]
    assert cache.clear() == ["B1"]
    assert cache.keys(app) == []


def test_concurrent_get_or_make_hands_out_one_value():
    cache = SessionCache()
    app = _app("app-1")
    got: list[object] = []
    lock = threading.Lock()

    def worker():
        for i in range(200):
            v = cache.get_or_make(app, i % 7, object)
            with lock:
                got.append((i % 7, v))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(got) == 16 * 200
    for key in range(7):
        assert len({id(v) for k, v in got if k == key}) == 1
