"""Declared setup-phase artifacts (round 13).

The round-12 verdict required the per-process artifact builds to be
an explicit, reported setup phase rather than work hidden in the
bench's untimed warm pass — and the shard query's candidate table to
be rebuilt per invocation (no cross-invocation result memo).
"""

from __future__ import annotations

from lakehouse_cdc_spark.plans.artifacts import prepare_artifacts


def test_prepare_artifacts_reports_each_build(spark, sf_dir):
    t = prepare_artifacts(spark, sf_dir)
    assert set(t) == {"lsh_old_band_index", "ivf_auto_fit", "er_blocking_stats"}
    assert all(isinstance(v, float) and v >= 0 for v in t.values())


def test_prepare_artifacts_idempotent_and_cheap_second_call(spark, sf_dir):
    """The first call fills every per-process cache for ``sf_dir`` —
    including one centroid block per declared IVF fit — and the second
    call is all cache hits: every entry stays the identical object."""
    from lakehouse_cdc_spark.llm.similarity import auto_k
    from lakehouse_cdc_spark.plans import er_queries, llm_queries

    caches = [
        llm_queries._EMB_COUNT_CACHE,
        llm_queries._FIT_BLOCK_CACHE,
        llm_queries._OLD_INDEX_CACHE,
        er_queries._ROWCOUNT_CACHE,
    ]
    prepare_artifacts(spark, sf_dir)
    n = llm_queries._EMB_COUNT_CACHE[sf_dir]
    assert sf_dir in llm_queries._OLD_INDEX_CACHE
    assert sf_dir in er_queries._ROWCOUNT_CACHE
    for min_k, _ in llm_queries.IVF_FITS.values():
        assert (sf_dir, auto_k(n, 64, min_k=min_k)) in llm_queries._FIT_BLOCK_CACHE
    before = [dict(c) for c in caches]
    prepare_artifacts(spark, sf_dir)
    for cache, snap in zip(caches, before):
        assert cache.keys() == snap.keys()
        assert all(cache[k] is v for k, v in snap.items())


def test_shard_query_has_no_result_memo(spark, sf_dir):
    """The shard's band-join + groupBy must be rebuilt per invocation:
    two calls return distinct DataFrames (no module-level DataFrame
    reuse), and both compute the same rows from parquet."""
    from lakehouse_cdc_spark.plans.llm_queries import (
        dedup_incremental_new_shard,
    )

    df1 = dedup_incremental_new_shard(spark, sf_dir)
    df2 = dedup_incremental_new_shard(spark, sf_dir)
    assert df1 is not df2
    rows1 = sorted(map(tuple, df1.collect()))
    rows2 = sorted(map(tuple, df2.collect()))
    assert rows1 == rows2
