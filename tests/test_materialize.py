"""The session-materialization layer (plans/materialize.py): app-id
eviction, in-flight invalidation by clear(), job-free hits, per-key
single flight, failed builds, and the cross-query reuse its hit/miss
counters record."""

from __future__ import annotations

import sys
import threading
import time
from collections import Counter
from types import SimpleNamespace

import pytest

from polybot_data_etl_spark.plans import materialize


@pytest.fixture(autouse=True)
def _cleared():
    materialize.clear()
    yield
    materialize.clear()


def _session(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def _job_count(spark, action) -> int:
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    action()
    after = set(tracker.getJobIdsForGroup(None) or [])
    return len(after - before)


def test_miss_evicts_other_sessions():
    """A miss drops every entry of another application id: a restarted
    session never sees (or pins) a dead JVM's values."""
    calls = []

    def build():
        calls.append(1)
        return len(calls)

    dead, live = _session("dead-app"), _session("live-app")
    assert materialize.shared(dead, ("k",), build) == 1
    assert materialize.shared(dead, ("k",), build) == 1  # same app: hit
    materialize.shared(live, ("k2",), build)  # miss under another app
    assert materialize.shared(dead, ("k",), build) == 3  # evicted: rebuilt
    assert materialize.stats()["k"] == {"hits": 1, "misses": 2}


def test_clear_invalidates_inflight_builds(spark, sf_dir, monkeypatch):
    """A build that started before clear() must not insert its stale
    value after it.  The clear fires mid-build, from the data-dir probe
    catalog.table's build runs before the parquet read."""
    import os as _os

    from polybot_data_etl_spark import catalog

    real_isdir = _os.path.isdir
    fired = []

    def clearing_isdir(p):
        if not fired:  # clear exactly once, mid-build
            fired.append(True)
            materialize.clear()
        return real_isdir(p)

    monkeypatch.setattr("os.path.isdir", clearing_isdir)
    df = catalog.table(spark, sf_dir, "region")
    monkeypatch.undo()
    assert df.count() > 0  # the caller still gets a usable frame
    # ...but the stale frame was not memoized: the next call builds anew
    fresh = catalog.table(spark, sf_dir, "region")
    assert fresh is not df
    assert materialize.stats()["table"] == {"hits": 0, "misses": 1}
    # a build after the clear is memoized normally again
    assert catalog.table(spark, sf_dir, "region") is fresh
    assert materialize.stats()["table"] == {"hits": 1, "misses": 1}


def test_hit_launches_no_spark_job(spark):
    key = ("job_probe",)
    cold = _job_count(
        spark, lambda: materialize.shared(spark, key, lambda: spark.range(7).count())
    )
    assert cold >= 1
    warm = _job_count(
        spark, lambda: materialize.shared(spark, key, lambda: spark.range(7).count())
    )
    assert warm == 0
    assert materialize.shared(spark, key, lambda: -1) == 7


def test_one_cold_key_builds_once_across_threads():
    """Two callers of one cold key run ``build`` once and get the same
    value; a caller of another key is not blocked by that build."""
    s = _session("app")
    started, release = threading.Event(), threading.Event()
    calls = []

    def slow_build():
        calls.append(1)
        started.set()
        assert release.wait(10)
        return object()

    got = []
    threads = [
        threading.Thread(
            target=lambda: got.append(materialize.shared(s, ("cold",), slow_build))
        )
        for _ in range(2)
    ]
    threads[0].start()
    assert started.wait(10)
    threads[1].start()
    # the cold build is in flight: another key still builds and returns
    assert materialize.shared(s, ("other",), lambda: "free") == "free"
    time.sleep(0.2)  # let the second caller reach the wait
    release.set()
    for t in threads:
        t.join(10)
        assert not t.is_alive()
    assert len(calls) == 1
    assert len(got) == 2 and got[0] is got[1]
    assert materialize.stats()["cold"] == {"hits": 1, "misses": 1}


def test_raising_build_leaves_key_buildable():
    """A build that raises leaves no entry: the caller sees the error,
    a waiter retries the build itself, and later callers build again."""
    s = _session("app")
    started, release = threading.Event(), threading.Event()

    def failing_build():
        started.set()
        assert release.wait(10)
        raise RuntimeError("build failed")

    errors, waited = [], []

    def first():
        try:
            materialize.shared(s, ("flaky",), failing_build)
        except RuntimeError as exc:
            errors.append(exc)

    t1 = threading.Thread(target=first)
    t1.start()
    assert started.wait(10)
    t2 = threading.Thread(
        target=lambda: waited.append(
            materialize.shared(s, ("flaky",), lambda: "second")
        )
    )
    t2.start()
    time.sleep(0.2)  # let the waiter block on the failing flight
    release.set()
    for t in (t1, t2):
        t.join(10)
        assert not t.is_alive()
    assert len(errors) == 1 and waited == ["second"]
    assert materialize.shared(s, ("flaky",), lambda: "third") == "second"

    with pytest.raises(ZeroDivisionError):
        materialize.shared(s, ("boom",), lambda: 1 / 0)
    assert materialize.shared(s, ("boom",), lambda: "ok") == "ok"


def test_single_flight_under_contention():
    """16 threads (more than cores) hammering 10 keys with a shortened
    switch interval: every key is built exactly once and every caller
    gets its key's value; the counters account for every call."""
    s = _session("app")
    builds, lock = Counter(), threading.Lock()
    wrong = []

    def build(k):
        with lock:
            builds[k] += 1
        time.sleep(0.001)
        return k

    def worker(i):
        for j in range(200):
            k = (i + j) % 10
            if materialize.shared(s, ("stress", k), lambda: build(k)) != k:
                wrong.append((i, j))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(old)
    assert wrong == []
    assert builds == Counter(range(10))
    assert materialize.stats()["stress"] == {"hits": 16 * 200 - 10, "misses": 10}


@pytest.mark.parametrize(
    "first,second,memo",
    [
        ("q_dedup_ngram", "q_dedup_containment", "sized_pairs"),
        ("q_dedup_minhash", "q_dedup_lsh_stats", "minhash_sig"),
    ],
)
def test_query_pairs_reuse_one_shared_frame(spark, sf_dir, first, second, memo):
    """The memo-sharing pairs the dedup benchmark measures: the first
    query's build is the one miss on the shared key, the second's is a
    hit, and the documents scan frame is built once for both."""
    from polybot_data_etl_spark.registry import queries

    q = queries()
    q[first](spark, sf_dir)
    assert materialize.stats()[memo] == {"hits": 0, "misses": 1}
    q[second](spark, sf_dir)
    st = materialize.stats()
    assert st[memo]["misses"] == 1 and st[memo]["hits"] >= 1, st
    assert st["table"]["misses"] == 1, st  # documents only
