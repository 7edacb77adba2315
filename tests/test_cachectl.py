"""Managed cache lifecycle: operators that persist intermediates must
not grow the storage pool without bound across repeated calls in a
long-lived session, and a repeated call must not release the cache
entry it shares with an earlier identical call."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from timeperiods_spark.plans import cachectl


def _n_cached(spark) -> int:
    """Number of RDDs currently holding cached blocks (DataFrame
    persist materializes through these)."""
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def _wait_cached_at_most(spark, n: int, timeout: float = 10.0) -> int:
    """unpersist(blocking=False) is async — poll briefly."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        c = _n_cached(spark)
        if c <= n:
            return c
        time.sleep(0.2)
    return _n_cached(spark)


@pytest.fixture()
def clean_caches(spark):
    cachectl.release()
    spark.catalog.clearCache()
    _wait_cached_at_most(spark, 0)
    yield
    cachectl.release()
    spark.catalog.clearCache()


def _intervals(spark, seed: int, n: int = 200):
    return spark.range(n).select(
        (F.col("id") % 7).cast("int").alias("g"),
        ((F.col("id") * 13 + seed) % 500).cast("int").alias("s"),
        ((F.col("id") * 13 + seed) % 500 + 1 + (F.col("id") % 9)).cast("int").alias("e"),
        F.col("id").cast("double").alias("v"),
    )


def _reads_cache(df) -> bool:
    """A fresh frame's plan is served from Spark's cache."""
    return "InMemoryTableScan" in df._jdf.queryExecution() \
        .executedPlan().toString()


def _spark_jobs(spark, fn) -> int:
    """Spark jobs ``fn`` launches: the job ids the status tracker knows
    after the call minus those it knew before (no job groups are set,
    so every job is in the default group)."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(sc.statusTracker().getJobIdsForGroup())
    fn()
    bus.waitUntilEmpty()
    return len(set(sc.statusTracker().getJobIdsForGroup()) - before)


def test_repeated_calls_launch_the_same_jobs(spark, clean_caches):
    """From the third call on, a repeated call on one input must plan
    like the second: its persists share Spark's cache entries with the
    earlier identical calls, so releasing an older call's frame must
    not drop them."""
    from timeperiods_spark.operators.dedup import minhash_dedup
    from timeperiods_spark.operators.overlaps import remove_overlaps

    # large enough that the bin-width estimator's 1% sample is never
    # empty: an empty sample adds a fallback scan, two more jobs
    x = _intervals(spark, 0, n=5000)
    docs = spark.range(60).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", F.lit("doc"), (F.col("id") % 20).cast("string"),
            F.lit("shares words with its twin and some filler text"),
        ).alias("text"),
    )
    calls = {
        "remove_overlaps": lambda: remove_overlaps(
            x, ["s", "e"], group_vars=["g"]
        ).count(),
        "minhash_dedup": lambda: minhash_dedup(
            docs, "doc_id", "text", verify_threshold=0.5
        ).count(),
    }
    jobs = {
        name: [_spark_jobs(spark, fn) for _ in range(4)]
        for name, fn in calls.items()
    }
    assert all(j[2] == j[3] == j[1] for j in jobs.values()), jobs


def test_neardup_bad_arguments_fail_before_spark_work(spark, clean_caches):
    """A near-dup call with invalid arguments raises before it launches
    a Spark job or registers a persist: no eager probe runs for a bad
    ``method``, and a half-given index leaves no cache entry behind."""
    from timeperiods_spark.operators import dedup as D

    docs = spark.range(8).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.lit("doc text"), F.col("id")).alias("text"),
    )
    vecs = spark.range(8).select(
        F.col("id").alias("vec_id"),
        F.array(F.col("id").cast("double"), F.lit(1.0)).alias("embedding"),
    )
    calls = [
        lambda: D.minhash_dedup(docs, "doc_id", "text", method="bogus"),
        lambda: D.minhash_dedup_incremental(
            docs, "doc_id", "text", index_bands=docs
        ),
        lambda: D.simhash_dedup_incremental(
            docs, "doc_id", "text", index_chunks=docs
        ),
        lambda: D.embedding_dedup_incremental(
            vecs, index_buckets=vecs, dim=2, n_planes=2
        ),
    ]
    for call in calls:
        def raises():
            with pytest.raises(ValueError):
                call()
        assert _spark_jobs(spark, raises) == 0
        assert cachectl.held_plans() == {}


def test_repeated_calls_bounded_storage(spark, clean_caches):
    """N repeated remove_overlaps + merge_intervals calls on distinct
    inputs hold at most PLANS_PER_SITE cached intermediates per site,
    not N."""
    from timeperiods_spark.operators.interval_union import merge_intervals
    from timeperiods_spark.operators.overlaps import remove_overlaps

    per_site = cachectl.PLANS_PER_SITE
    high_water = 0
    for i in range(4):
        remove_overlaps(
            _intervals(spark, i), ["s", "e"], group_vars=["g"]
        ).count()
        merge_intervals(
            _intervals(spark, i), ["s", "e"], group_vars=["g"]
        ).count()
        high_water = max(high_water, _n_cached(spark))
    # three sites; async unpersist may briefly hold one stale frame each
    assert high_water <= 3 * (per_site + 1), (
        f"storage pool grew to {high_water} cached RDDs"
    )
    assert cachectl.held_plans() == {
        "merge_intervals.deltas": per_site,
        "remove_overlaps.base": per_site,
        "remove_overlaps.atomic": per_site,
    }
    assert cachectl.release() == 3 * per_site
    assert cachectl.held_plans() == {}
    assert _wait_cached_at_most(spark, 0) == 0


def test_distinct_plans_bounded_per_site(spark, clean_caches):
    frames = [
        cachectl.managed_persist(_intervals(spark, i), "t.bound")
        for i in range(5)
    ]
    for fr in frames:
        fr.count()
    assert cachectl.held_plans() == {"t.bound": cachectl.PLANS_PER_SITE}
    assert _wait_cached_at_most(spark, cachectl.PLANS_PER_SITE) \
        <= cachectl.PLANS_PER_SITE
    # the newest plans are the ones kept
    for i in range(5):
        kept = i >= 5 - cachectl.PLANS_PER_SITE
        assert _reads_cache(_intervals(spark, i)) == kept, i


def test_identical_plans_share_one_entry(spark, clean_caches):
    """A repeat call on an identical plan refreshes its entry: it takes
    no second slot and does not push a distinct plan out."""
    cachectl.managed_persist(_intervals(spark, 1), "t.same").count()
    for _ in range(4):
        cachectl.managed_persist(_intervals(spark, 0), "t.same").count()
    assert cachectl.held_plans() == {"t.same": 2}
    assert _wait_cached_at_most(spark, 2) == 2
    # refreshing made plan 0 the newest: one more distinct plan evicts
    # plan 1, and plan 0 keeps its cache
    cachectl.managed_persist(_intervals(spark, 2), "t.same").count()
    assert cachectl.held_plans() == {"t.same": 2}
    assert _reads_cache(_intervals(spark, 0))
    assert not _reads_cache(_intervals(spark, 1))


def test_release_single_site(spark, clean_caches):
    df = spark.range(10).select(F.col("id").alias("x"))
    cachectl.managed_persist(df, "t.a").count()
    cachectl.managed_persist(df.select((F.col("x") + 1).alias("y")), "t.b").count()
    assert cachectl.release("t.a") == 1
    assert cachectl.held_plans() == {"t.b": 1}
    assert cachectl.release("t.a") == 0
    assert cachectl.release() == 1
    assert _wait_cached_at_most(spark, 0) == 0


def test_trend_two_call_pipeline_keeps_both_caches(spark, clean_caches):
    """A pipeline building holt TWICE before collecting either must not
    silently recompute the first call's Arrow stage: both calls' plans
    stay cached."""
    from timeperiods_spark import holt

    df = _intervals(spark, 0).select("g", F.col("s").alias("t"), "v") \
        .dropDuplicates(["g", "t"])
    h1 = holt(df, "t", "v", ["g"], alpha=0.3, beta=0.2)
    h2 = holt(df, "t", "v", ["g"], alpha=0.6, beta=0.4)
    # pin on the PRE-execution plans (the post-AQE printout repeats
    # the cached subtree's description per occurrence): both reads
    # of each call's Arrow stage come through its own cache
    for h in (h1, h2):
        plan = h._jdf.queryExecution().executedPlan().toString()
        assert plan.count("InMemoryTableScan") >= plan.count(
            "FlatMapGroupsInPandas"
        ), plan[:1500]
    n1, n2 = h1.count(), h2.count()
    assert n1 == n2 > 0
    assert cachectl.held_plans() == {"holt.local": 2}
