"""Pipeline pin lifetimes (``pipeline/util.pin``): a thread's pins
belong to its own operator calls.  The next outermost call on the same
thread releases them, a nested call never releases its caller's, and
other threads never touch them."""

import sys
import threading

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture
def pins(spark, monkeypatch):
    """Every frame persisted during the test, as (thread name, frame)."""
    made = []
    cls = type(spark.range(1))
    persist = cls.persist

    def recording(self, *args, **kwargs):
        out = persist(self, *args, **kwargs)
        made.append((threading.current_thread().name, out))
        return out

    monkeypatch.setattr(cls, "persist", recording)
    return made


def _cached(df) -> bool:
    lvl = df.storageLevel
    return lvl.useMemory or lvl.useDisk


def _docs(spark, n_docs: int, n_dups: int):
    """``n_docs`` documents plus copies of the first ``n_dups`` under
    ids + 1000, so every call has pairs to find."""
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
        F.col("doc_id") < n_docs
    )
    return d.union(
        d.filter(F.col("doc_id") < n_dups).withColumn(
            "doc_id", F.col("doc_id") + 1000
        )
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_two_threads_keep_their_own_pins(spark, pins):
    from timbala_spark.pipeline import (
        embedding_near_dup_pairs,
        ngram_jaccard_pairs,
    )
    from timbala_spark.pipeline.util import release_pins

    docs = _docs(spark, 8, 2)
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").filter(
        F.col("vec_id") < 8
    )
    vecs = e.union(
        e.filter(F.col("vec_id") < 2).withColumn(
            "vec_id", F.col("vec_id") + 1000
        )
    )
    serial_a = _rows(ngram_jaccard_pairs(docs, threshold=0.5))
    serial_b = _rows(embedding_near_dup_pairs(vecs, mode="lsh"))
    assert {(0, 1000), (1, 1001)} <= {r[:2] for r in serial_a}
    assert {(0, 1000), (1, 1001)} <= {r[:2] for r in serial_b}
    release_pins()

    a_pinned, b_done = threading.Event(), threading.Event()
    out, errors = {}, []

    def run_a():
        try:
            res = ngram_jaccard_pairs(docs, threshold=0.5)
            a_pinned.set()
            assert b_done.wait(300)
            out["a"] = _rows(res)
        except BaseException as e:  # surfaced by the main thread
            errors.append(e)
            a_pinned.set()

    def run_b():
        try:
            assert a_pinned.wait(300)
            out["b"] = _rows(embedding_near_dup_pairs(vecs, mode="lsh"))
            out["a_pins_cached"] = [
                _cached(f) for t, f in list(pins) if t == "pins-a"
            ]
        except BaseException as e:
            errors.append(e)
        finally:
            b_done.set()

    threads = [
        threading.Thread(target=run_a, name="pins-a"),
        threading.Thread(target=run_b, name="pins-b"),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(600)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert any(t == "pins-b" for t, _ in pins)
    # B pinned and collected while A's result was still unread: A's
    # pins are untouched
    assert out["a_pins_cached"] and all(out["a_pins_cached"])
    assert out["a"] == serial_a
    assert out["b"] == serial_b


def test_next_call_releases_the_previous_calls_pins(spark, pins):
    from timbala_spark.pipeline import simhash_pairs

    calls = []
    for n in (6, 7, 8):
        before = len(pins)
        simhash_pairs(_docs(spark, n, 2), max_hamming=0)
        calls.append([f for _, f in pins[before:]])
    assert all(calls)
    assert not any(_cached(f) for f in calls[0] + calls[1])
    assert all(_cached(f) for f in calls[2])


def test_nested_call_keeps_its_callers_pins(spark, pins):
    """``near_dup_pipeline`` pins its digest map and representatives,
    then runs ``ngram_jaccard_pairs(eager=True)`` inside: the nested
    call releases only its own pins (PERF §20c take 7)."""
    from timbala_spark.pipeline import near_dup_pipeline

    out = near_dup_pipeline(_docs(spark, 8, 2), threshold=0.5)
    frames = [f for _, f in pins]
    ids_reps, inner = frames[:2], frames[2:]
    assert inner
    assert all(_cached(f) for f in ids_reps)
    assert not any(_cached(f) for f in inner)
    got = {r["doc_id"]: r["canonical_id"] for r in out.collect()}
    assert got[1000] == 0 and got[1001] == 1


def test_pins_of_an_exited_thread_are_released(spark, pins):
    from timbala_spark.pipeline import simhash_pairs

    t = threading.Thread(
        target=lambda: simhash_pairs(_docs(spark, 6, 2), max_hamming=0),
        name="pins-exiting",
    )
    t.start()
    t.join(300)
    assert not t.is_alive()
    gone = [f for name, f in pins if name == "pins-exiting"]
    assert gone and all(_cached(f) for f in gone)
    # the next call that pins, on any thread, sweeps them
    simhash_pairs(_docs(spark, 7, 2), max_hamming=0)
    assert not any(_cached(f) for f in gone)


class _Frame:
    """Stands in for a DataFrame: records whether it is pinned."""

    def __init__(self):
        self.cached = False

    def persist(self):
        self.cached = True
        return self

    def unpersist(self, blocking=False):
        self.cached = False


def test_registry_under_thread_churn():
    """Many threads, nested calls and a short switch interval: no call
    ever sees one of its own pins released, each call's first pin
    releases the thread's previous call's, and a sweep takes every
    pin of the exited threads."""
    from timbala_spark.pipeline.util import pin, pinning

    @pinning
    def inner():
        return [pin(_Frame()) for _ in range(2)]

    @pinning
    def outer():
        mine = [pin(_Frame())] + inner() + [pin(_Frame())]
        assert all(f.cached for f in mine)
        return mine

    made, errors = [], []

    def work():
        try:
            prev = []
            for _ in range(200):
                cur = outer()
                assert not any(f.cached for f in prev)
                assert all(f.cached for f in cur)
                made.extend(cur)
                prev = cur
        except BaseException as e:
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(made) == 16 * 200 * 4
    outer()
    assert not any(f.cached for f in made)


class _SharedFrame:
    """Stands in for a DataFrame whose plan is one of a few: frames of
    one plan share one cache entry, as in Spark's CacheManager."""

    cache: dict = {}

    def __init__(self, key):
        self.key = key

    def semanticHash(self):
        return self.key

    @property
    def cached(self):
        return self.cache.get(self.key, False)

    def persist(self):
        self.cache[self.key] = True
        return self

    def unpersist(self, blocking=False):
        self.cache[self.key] = False


def test_shared_plans_under_thread_churn():
    """Many threads pinning the same few plans, with a short switch
    interval: no release ever drops a cache entry that a live pin on
    another thread still holds, and once every pin is released every
    entry is gone."""
    from timbala_spark.pipeline.util import pin, pinning, release_pins

    keys = [("shared-plan", i) for i in range(3)]

    @pinning
    def call():
        mine = [pin(_SharedFrame(k)) for k in keys]
        assert all(f.cached for f in mine)
        return mine

    errors = []

    def work():
        try:
            for _ in range(200):
                cur = call()
                assert all(f.cached for f in cur)
        except BaseException as e:
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    call()  # sweeps the exited threads' pins
    release_pins()
    assert not any(_SharedFrame.cache[k] for k in keys)


def test_identical_plans_on_two_threads_share_one_cache_entry(spark, pins):
    """Two threads pin identical plans, which Spark caches as ONE
    entry: B releasing its pins (its next call) must not unpersist the
    frames A's unread result still reads."""
    from timbala_spark.pipeline import simhash_pairs

    a_pinned, b_done = threading.Event(), threading.Event()
    out, errors = {}, []

    def run_a():
        try:
            res = simhash_pairs(_docs(spark, 6, 2), max_hamming=0)
            a_pinned.set()
            assert b_done.wait(300)
            out["a"] = _rows(res)
        except BaseException as e:  # surfaced by the main thread
            errors.append(e)
            a_pinned.set()

    def run_b():
        try:
            assert a_pinned.wait(300)
            simhash_pairs(_docs(spark, 6, 2), max_hamming=0)
            simhash_pairs(_docs(spark, 7, 2), max_hamming=0)  # releases
            out["a_pins_cached"] = [
                _cached(f) for t, f in list(pins) if t == "share-a"
            ]
        except BaseException as e:
            errors.append(e)
        finally:
            b_done.set()

    threads = [
        threading.Thread(target=run_a, name="share-a"),
        threading.Thread(target=run_b, name="share-b"),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(600)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert out["a_pins_cached"] and all(out["a_pins_cached"])
    assert {(0, 1000), (1, 1001)} <= {r[:2] for r in out["a"]}
