"""Persist-pin lifecycle (pysparkdb.pins — VERDICT r15 task #6).

Library operators that pin multi-consumer intermediates register the pin;
release_persisted() must drop every registered cache entry so a
long-lived session holds no net-new storage after the between-pipelines
hygiene call.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pysparkdb import pins  # noqa: E402


def _n_cached_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_release_persisted_drops_library_pins(spark, sf_dir):
    from pysparkdb.pipeline.text import naive_bayes_predict
    from pysparkdb.queries.base import tables

    # start from a clean slate so the assertion is about THIS test's pins
    pins.release_persisted(blocking=True)
    base = _n_cached_rdds(spark)

    docs = tables(spark, sf_dir)["documents"]
    out = naive_bayes_predict(docs.limit(200))
    n = out.count()  # materializes the pinned token frame
    assert n >= 0
    assert _n_cached_rdds(spark) > base, "the token-frame pin was not created"

    released = pins.release_persisted(blocking=True)
    assert released >= 1
    assert _n_cached_rdds(spark) <= base, (
        "release_persisted left library cache entries pinned"
    )


def test_release_is_idempotent_and_safe_before_any_pin(spark):
    pins.release_persisted(blocking=True)
    assert pins.release_persisted() == 0


def test_repeat_invocations_do_not_leak_extra_cache_entries(spark, sf_dir):
    """Re-running the same library call re-uses the CacheManager entry
    (persist of an already-cached plan is a no-op) — the warm-cache
    behavior the bench protocol freezes — so N runs must not hold N
    distinct materialized entries."""
    from pysparkdb.pipeline.dedup import ngram_jaccard_pairs
    from pysparkdb.queries.base import tables

    pins.release_persisted(blocking=True)
    base = _n_cached_rdds(spark)
    docs = tables(spark, sf_dir)["documents"].limit(100)
    first = None
    for _ in range(3):
        ngram_jaccard_pairs(docs, threshold=0.5).count()
        if first is None:
            first = _n_cached_rdds(spark)
    assert _n_cached_rdds(spark) == first, "repeat runs added cache entries"
    pins.release_persisted(blocking=True)
    assert _n_cached_rdds(spark) <= base


def test_release_rejects_a_non_bool_blocking_and_keeps_the_pins(spark):
    """A SparkSession passed where ``blocking`` goes (the old documented
    call shape) must raise, not count pins as released while the JVM call
    fails on each of them."""
    import pytest

    pins.release_persisted(blocking=True)
    pinned = pins.pin(spark.range(10))
    try:
        with pytest.raises(TypeError, match="bool"):
            pins.release_persisted(spark)
        assert pins._PINNED == [pinned]
        assert pinned.storageLevel.useMemory or pinned.storageLevel.useDisk
    finally:
        assert pins.release_persisted(blocking=True) == 1
