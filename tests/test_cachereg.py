"""Lifecycle of the operator-internal pin registry and the cross-query
memo (operators/cachereg.py).

The registry exists because operator persists used to be unreleasable
(ADVICE r5): callers only see lazy DataFrames, so CacheManager entries
accumulated for the life of the session. These tests pin the contract —
pin() persists and registers, release_pinned() frees everything exactly
once, and a released registry leaves none of ITS OWN RDDs cached.

Cache-state assertions compare RDD-id SETS, not counts: unpersist() is
asynchronous, so entries left by earlier tests can vanish mid-test and an
absolute count is a load-dependent flake (observed once under a busy
machine). What the contract guarantees is that release removes every id
pinned since the baseline — stale ids disappearing on their own is fine.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from thymeflow_back_spark.operators.cachereg import (
    memo_stats,
    pin,
    pinned_count,
    release_pinned,
    set_memo,
)


def _cached_rdd_ids(spark) -> set[int]:
    jsc = spark.sparkContext._jsc.sc()
    it = jsc.getPersistentRDDs().keysIterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next())
    return ids


def test_pin_release_roundtrip(spark):
    release_pinned()  # start clean regardless of fixture ordering
    base = _cached_rdd_ids(spark)
    df = pin(spark.range(100).withColumn("v", F.col("id") * 2))
    assert pinned_count() >= 1
    assert df.count() == 100
    assert len(_cached_rdd_ids(spark) - base) == 1
    freed = release_pinned()
    assert freed >= 1 and pinned_count() == 0
    assert not (_cached_rdd_ids(spark) - base)


def test_operator_pins_are_released_by_harness_hook(spark):
    """mad_outlier_stats pins two intermediates; after materializing the
    result and calling the release hook, none of its pins stay cached."""
    from thymeflow_back_spark.operators.robust import mad_outlier_stats

    release_pinned()
    base = _cached_rdd_ids(spark)
    df = spark.createDataFrame(
        [(g, float(i), f"{g}{i}") for g in ("a", "b") for i in range(7)],
        "g string, v double, id string",
    )
    out = mad_outlier_stats(df, "g", "v", "id").collect()
    assert len(out) == 2
    assert pinned_count() >= 2
    release_pinned()
    assert not (_cached_rdd_ids(spark) - base)


def test_release_tolerates_double_release(spark):
    pin(spark.range(10))
    release_pinned()
    assert release_pinned() == 0


def _docs(spark, word: str):
    return spark.createDataFrame(
        [(i, f"alpha beta gamma {word} {i}") for i in range(6)],
        "doc_id long, text string",
    )


def _shingle_rows(df, id_col: str) -> set:
    return {(r[id_col], tuple(sorted(r.sh))) for r in df.collect()}


def test_memo_keys_on_schema_across_alias_rename(spark):
    """Plan canonicalization erases alias names: two corpora differing only
    by a column rename share semanticHash and are sameSemantics, so a key
    without the schema string would serve the first corpus's frame (with
    the wrong column name) to the second."""
    from thymeflow_back_spark.operators.dedup import doc_shingles

    base = _docs(spark, "delta")
    a_in = base.selectExpr("doc_id as a", "text")
    b_in = base.selectExpr("doc_id as b", "text")
    assert a_in.semanticHash() == b_in.semanticHash() and a_in.sameSemantics(b_in)
    try:
        set_memo(True)
        a = doc_shingles(a_in, "a", "text", 3)
        b = doc_shingles(b_in, "b", "text", 3)
        assert a.columns == ["a", "sh"] and b.columns == ["b", "sh"]
        assert b is not a
        assert _shingle_rows(b.select("b", "sh"), "b") == _shingle_rows(a, "a")
        assert memo_stats()["shingles"] == (0, 2)
    finally:
        set_memo(False)


def test_memo_rebuilds_on_forced_hash_collision(spark, monkeypatch):
    """Two same-schema corpora whose 32-bit plan hashes collide: the
    sameSemantics check rejects the stored entry, so the second corpus
    gets its own shingles (its build runs) and the entry is replaced."""
    from thymeflow_back_spark.operators.dedup import doc_shingles

    one, two = _docs(spark, "delta"), _docs(spark, "omega")
    want_one = _shingle_rows(doc_shingles(one, "doc_id", "text", 3), "doc_id")
    want_two = _shingle_rows(doc_shingles(two, "doc_id", "text", 3), "doc_id")
    assert want_one != want_two
    monkeypatch.setattr(type(one), "semanticHash", lambda self: 7)
    try:
        set_memo(True)
        first = doc_shingles(one, "doc_id", "text", 3)
        second = doc_shingles(two, "doc_id", "text", 3)
        assert memo_stats()["shingles"] == (0, 2)  # second build ran
        assert _shingle_rows(second, "doc_id") == want_two
        assert not first.storageLevel.useMemory  # replaced entry freed
        assert _shingle_rows(first, "doc_id") == want_one
    finally:
        set_memo(False)


def test_memo_outlives_release_pinned_until_disabled(spark):
    """Memoized frames are not per-query pins: release_pinned() leaves them
    cached, set_memo(False) frees them."""
    from thymeflow_back_spark.operators.dedup import doc_shingles

    release_pinned()
    base = _cached_rdd_ids(spark)
    docs = _docs(spark, "delta")
    try:
        set_memo(True)
        sh = doc_shingles(docs, "doc_id", "text", 3)
        assert sh.count() == 6
        assert len(_cached_rdd_ids(spark) - base) == 1
        release_pinned()
        assert sh.storageLevel.useMemory
        assert len(_cached_rdd_ids(spark) - base) == 1
        assert doc_shingles(docs, "doc_id", "text", 3) is sh
    finally:
        set_memo(False)
    assert not sh.storageLevel.useMemory
    assert not (_cached_rdd_ids(spark) - base)


def test_memo_builds_once_under_concurrent_callers(spark):
    """Threads asking for one key while the memo is on share one build."""
    import sys
    import threading
    import time

    from thymeflow_back_spark.operators.cachereg import memo

    df = spark.range(10)
    builds, got = [], []

    def build():
        builds.append(1)
        time.sleep(0.05)  # widen the check-then-store window
        return ("value", len(builds))

    def worker():
        got.append(memo("probe", df, (), build))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        set_memo(True)
        threads = [threading.Thread(target=worker) for _ in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
        assert len(builds) == 1 and got == [("value", 1)] * 12
        assert memo_stats()["probe"] == (11, 1)
    finally:
        sys.setswitchinterval(interval)
        set_memo(False)
