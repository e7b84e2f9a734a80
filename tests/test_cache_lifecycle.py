"""Round-11 verdict item #2: ONE cache-ownership lifecycle.

Every persisted frame that outlives its operator call must be
registered with ``mvrepair.cache`` (own/materialize), and the harness-side
``release_all()`` must actually free it — so no registered query can
leave an unreachable MEMORY_AND_DISK frame behind.  The round-10
verdict traced three coexisting ownership conventions (caller-owns,
plan-lifetime, harness clearCache) and flagged the unreachable
``mi_report`` joint frames as the accumulation mechanism suspect for
the repair_log_compact driver anomaly.

``localCheckpoint`` artifacts are exempt: they are bounded model/loop
frames, the ContextCleaner releases them on GC, and force-unpersisting
a checkpoint would lose the only copy of data its consumers re-read.
"""

import pytest

from mvrepair import cache


def _persistent(spark):
    """[(rdd_id, is_locally_checkpointed)] for every tracked RDD."""
    m = spark.sparkContext._jsc.sc().getPersistentRDDs()
    out = []
    it = m.iterator()
    while it.hasNext():
        t = it.next()
        out.append((t._1(), t._2().isLocallyCheckpointed()))
    return out


def _plain_ids(spark):
    return {i for i, lc in _persistent(spark) if not lc}


def test_own_persists_and_release_all_unpersists(spark):
    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    before = _plain_ids(spark)
    owned = cache.own(df)
    owned.count()
    assert owned.storageLevel.useMemory
    assert cache.owned_count() == 1
    assert len(_plain_ids(spark) - before) == 1
    released = cache.release_all()
    assert released == 1
    assert cache.owned_count() == 0
    assert _plain_ids(spark) == before


def test_materialize_caches_and_registers_frame(spark):
    before = cache.owned_count()
    df = cache.materialize(spark.range(50))
    assert df.is_cached and df.storageLevel.useMemory
    assert cache.owned_count() == before + 1
    cache.release_all()
    assert not df.storageLevel.useMemory
    assert cache.owned_count() == 0


def test_materialize_unpersists_when_the_count_fails(spark):
    from pyspark.sql import functions as F

    before_ids = _plain_ids(spark)
    before = cache.owned_count()
    bad = spark.range(5).select(F.raise_error(F.lit("boom")).alias("x"))
    with pytest.raises(Exception, match="boom"):
        cache.materialize(bad)
    assert not bad.is_cached
    assert cache.owned_count() == before
    assert _plain_ids(spark) == before_ids


def test_release_all_is_idempotent_and_safe_when_empty(spark):
    assert cache.release_all() == 0
    df = cache.own(spark.range(10))
    df.count()
    cache.release_all()
    assert cache.release_all() == 0


def test_no_registered_query_leaves_unreleasable_persist(spark, sf_dir):
    """THE lifecycle gate: run every registered query at sf0.001,
    materialize it, release the ownership registry — no plain
    (non-localCheckpoint) persisted RDD may survive.  A failure names
    the offending queries: the fix is registering the operator's
    persist via mvrepair.cache.own/materialize, never widening an exemption.
    """
    import __spark_entry__ as e

    cache.release_all()
    spark.catalog.clearCache()
    offenders = {}
    for name, fn in e.queries().items():
        before = _plain_ids(spark)
        fn(spark, sf_dir).count()
        cache.release_all()
        leaked = _plain_ids(spark) - before
        if leaked:
            offenders[name] = len(leaked)
            spark.catalog.clearCache()  # keep later queries isolated
    assert not offenders, (
        "queries leaving plain persisted frames after release_all(): "
        f"{offenders} — register those persists with mvrepair.cache"
    )
