"""Fixpoint loop sessions (operators/closure.py): small CC loops run their
rounds in a cloned session at one shuffle partition, and never write the
caller's session conf."""

from __future__ import annotations

import re
import threading
from concurrent.futures import ThreadPoolExecutor

from pyspark.rdd import RDD
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from thymeflow_back_spark.operators import closure
from thymeflow_back_spark.operators.closure import (
    connected_components,
    connected_components_star,
)

_KEY = "spark.sql.shuffle.partitions"
_EDGES = [(i, i + 1) for i in range(20)] + [(100, 100), (200, 201), (201, 202)]


def _union_find(pairs):
    """(node, smallest node of its component) — the reference labeling."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in pairs:
        lo, hi = sorted((find(a), find(b)))
        parent[hi] = lo
    return {(n, find(n)) for n in parent}


def _labels(df):
    return {(r["node"], r["component"]) for r in df.collect()}


def test_concurrent_query_sees_session_conf(spark):
    """A corpus-sized query on another thread only ever reads the session's
    own shuffle-partition count while both CC loops run."""
    before = spark.conf.get(_KEY)
    active = SparkSession.getActiveSession()
    done = threading.Event()

    def loops():
        try:
            edges = spark.createDataFrame(_EDGES, "src bigint, dst bigint")
            return _labels(connected_components_star(edges)), _labels(connected_components(edges))
        finally:
            done.set()

    def corpus():
        seen = []
        while not done.is_set():
            seen.append(spark.conf.get(_KEY))
            spark.range(200_000).groupBy((F.col("id") % 997).alias("k")).count().collect()
            seen.append(spark.conf.get(_KEY))
        return seen

    with ThreadPoolExecutor(2) as pool:
        cc, corpus_run = pool.submit(loops), pool.submit(corpus)
        (star, prop), seen = cc.result(timeout=600), corpus_run.result(timeout=600)
    assert seen and set(seen) == {before}
    assert spark.conf.get(_KEY) == before
    assert SparkSession.getActiveSession() is active
    assert star == prop == _union_find(_EDGES)


def _round_partitions(spark, monkeypatch, fn):
    """Runs ``fn`` on the test graph; returns its labeling and the partition
    counts of the hash exchanges its rounds executed, read from the SQL
    status store. The rounds' jobs are those launched after the loop
    session is chosen, which a wrapper tags with their own job group."""
    sc = spark.sparkContext
    group = f"fixpoint-rounds-{fn.__name__}-{closure.SMALL_STATE_ROWS}"
    choose = closure._loop_session

    def tagged(s, rows):
        loop = choose(s, rows)
        sc.setJobGroup(group, "fixpoint rounds")
        return loop

    monkeypatch.setattr(closure, "_loop_session", tagged)
    try:
        out = fn(spark.createDataFrame(_EDGES, "src bigint, dst bigint"))
    finally:
        sc._jsc.clearJobGroup()
    assert out.sparkSession is spark
    assert out._jdf.sparkSession().equals(spark._jsparkSession)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    parts = set()
    for k in range(execs.size()):
        ex = execs.apply(k)
        it, ids = ex.jobs().keysIterator(), set()
        while it.hasNext():
            ids.add(it.next())
        if ids & jobs:
            plan = ex.physicalPlanDescription()
            parts.update(re.findall(r"hashpartitioning\(.*?, (\d+)\)", plan))
    return _labels(out), {int(p) for p in parts}


def test_small_loop_rounds_run_at_one_partition(spark, monkeypatch):
    to_df = RDD.toDF
    for fn in (connected_components_star, connected_components):
        labels, parts = _round_partitions(spark, monkeypatch, fn)
        assert parts == {1}, fn.__name__
        assert labels == _union_find(_EDGES)
    # building a loop session leaves the process-wide rdd.toDF binding alone
    assert RDD.toDF is to_df


def test_large_loop_rounds_keep_session_partitions(spark, monkeypatch):
    monkeypatch.setattr(closure, "SMALL_STATE_ROWS", 0)
    for fn in (connected_components_star, connected_components):
        labels, parts = _round_partitions(spark, monkeypatch, fn)
        assert parts == {int(spark.conf.get(_KEY))}, fn.__name__
        assert labels == _union_find(_EDGES)
