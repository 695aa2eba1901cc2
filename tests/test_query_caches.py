"""Declared queries release what they persist.

A query that persists a table, or ``localCheckpoint`` s one, and returns
without releasing it leaves blocks in the session until (for a
checkpoint) the JVM happens to garbage-collect the RDD, or forever (for
a persisted table); live cached relations also change later queries'
plans through the cache manager. The session memos are the deliberate
exception: ``queries/_shared._CLAUSES_CACHE`` and the bounded minhash
signature LRU ``operators/dedup._SIGS_CACHE``."""

from __future__ import annotations

import __spark_entry__ as entry_mod
from test_entry_contract import SF_DIR


def test_every_declared_query_releases_its_caches(spark):
    from fastobo_py_spark.operators import dedup
    from fastobo_py_spark.queries import _shared

    jsc = spark.sparkContext._jsc
    app = spark.sparkContext.applicationId

    def memos() -> int:
        return sum(k[0] == app for k in dedup._SIGS_CACHE) + (app in _shared._CLAUSES_CACHE)

    leaks = []
    for name, fn in sorted(entry_mod.queries().items()):
        rdds, memo = jsc.getPersistentRDDs().size(), memos()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        # at most what the memos gained: the JVM may meanwhile collect
        # unreferenced checkpoints left by earlier tests, never add any
        grown = jsc.getPersistentRDDs().size() - rdds
        if grown > memos() - memo:
            leaks.append(f"{name}: +{grown} persisted RDDs, memos +{memos() - memo}")
    assert not leaks, leaks
