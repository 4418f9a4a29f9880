"""SessionCache: entries live as long as one Spark application, and
concurrent callers of one key share one maker run and its value."""

from __future__ import annotations

import sys
import threading
import time
import types

import pytest

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


def test_get_or_make_runs_each_maker_once():
    cache = SessionCache()
    app = _app("app-1")
    calls: dict[int, int] = {}
    lock = threading.Lock()
    start = threading.Barrier(16)

    def make(key):
        def run():
            with lock:
                calls[key] = calls.get(key, 0) + 1
            # hold the flight open so every other thread arrives mid-make
            time.sleep(0.05)
            return object()
        return run

    def worker():
        start.wait(timeout=30)
        for key in range(4):
            cache.get_or_make(app, key, make(key))

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
    assert calls == {0: 1, 1: 1, 2: 1, 3: 1}


def test_get_or_make_retries_after_a_raising_maker():
    cache = SessionCache()
    app = _app("app-1")

    def boom():
        raise RuntimeError("make failed")

    with pytest.raises(RuntimeError, match="make failed"):
        cache.get_or_make(app, "k", boom)
    assert cache.get(app, "k") is None
    assert cache.get_or_make(app, "k", lambda: 42) == 42
    assert cache.get_or_make(app, "k", boom) == 42


def test_get_or_make_reentry_on_the_same_key_does_not_deadlock():
    cache = SessionCache()
    app = _app("app-1")

    def outer():
        inner = cache.get_or_make(app, "k", lambda: "inner")
        return f"outer({inner})"

    assert cache.get_or_make(app, "k", outer) == "inner"
