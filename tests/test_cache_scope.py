"""Lifecycle of the transient guard/running-sum caches (round-11 item:
auto-scope the cache_scope.persist entries so a long-lived session
issuing many dedup/rank queries does not accumulate CacheManager entries
without knowing to call the release hook)."""

import pyspark.sql.functions as F
import pytest

from summarydb_spark.operators import cache_scope
from summarydb_spark.operators.cache_scope import (
    release_transient_caches,
    transient_cache_scope,
)


def _cache_empty(spark) -> bool:
    return bool(
        spark._jsparkSession.sharedState().cacheManager().isEmpty()
    )


def _registry_size() -> int:
    return len(cache_scope._PERSISTED)


@pytest.fixture()
def docs(spark):
    rows = [
        (i, f"the quick brown fox {i % 7} jumps over the lazy dog {i}")
        for i in range(40)
    ] + [(100 + i, "identical duplicate text body here") for i in range(6)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_loop_leaves_cache_manager_empty(spark, docs):
    """50 dedup calls, each scoped as a library user would scope one
    unit of work: afterwards the CacheManager holds nothing and the
    registry is empty — no explicit release hook ever called."""
    from summarydb_spark.functions.dedup import minhash_lsh_pairs

    # start clean so the assertion is about THIS loop (other tests in
    # the shared session may have left entries behind)
    release_transient_caches()
    spark.catalog.clearCache()
    assert _cache_empty(spark)

    for i in range(50):
        with transient_cache_scope():
            pairs = minhash_lsh_pairs(
                docs, num_hashes=8, bands=4, threshold=0.5, seed=40 + i
            )
            pairs.write.format("noop").mode("overwrite").save()
    assert _registry_size() == 0
    assert _cache_empty(spark)


def test_scope_releases_only_inner_entries(spark, docs):
    """Nesting: an inner scope releases what it added; the outer scope's
    entries stay cached (load-bearing for the outer query) until the
    outer scope exits."""
    from summarydb_spark.functions.dedup import minhash_lsh_pairs

    release_transient_caches()
    spark.catalog.clearCache()

    with transient_cache_scope():
        outer = minhash_lsh_pairs(docs, num_hashes=8, bands=4)
        outer.write.format("noop").mode("overwrite").save()
        n_outer = _registry_size()
        assert n_outer > 0
        with transient_cache_scope():
            inner = minhash_lsh_pairs(
                docs.where(F.col("doc_id") < 20), num_hashes=8, bands=4
            )
            inner.write.format("noop").mode("overwrite").save()
            assert _registry_size() > n_outer
        # inner released, outer intact
        assert _registry_size() == n_outer
    assert _registry_size() == 0
    assert _cache_empty(spark)


def test_scope_releases_on_exception(spark, docs):
    from summarydb_spark.functions.dedup import minhash_lsh_pairs

    release_transient_caches()
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError):
        with transient_cache_scope():
            df = minhash_lsh_pairs(docs, num_hashes=8, bands=4)
            df.write.format("noop").mode("overwrite").save()
            raise RuntimeError("boom")
    assert _registry_size() == 0
    assert _cache_empty(spark)
