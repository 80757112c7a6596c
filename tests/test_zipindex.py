"""plans/zipindex.py — global rank / prefix sums without a
single-partition window: exact equality with the global-window answer,
plan-shape pin, and edge cases."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from waka_spark.plans.zipindex import with_global_order_stats


def test_rank_matches_global_window(spark):
    df = spark.createDataFrame(
        [(i % 7, f"w{i}") for i in range(200)], "freq int, word string")
    got = with_global_order_stats(
        df, [F.col("freq").desc(), F.col("word").asc()],
        rank_col="rank", n_parts=5)
    want = df.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("freq").desc(), F.col("word").asc()))
        .cast("long"))
    assert sorted(map(tuple, got.select("freq", "word", "rank").collect())) \
        == sorted(map(tuple, want.select("freq", "word", "rank").collect()))


def test_prefix_sum_matches_global_window(spark):
    df = spark.createDataFrame(
        [(float(i), i % 3) for i in range(100)], "s double, n int")
    got = with_global_order_stats(
        df, [F.col("s").asc()], rank_col=None,
        prefix_sums={"n": "n_below"}, n_parts=4)
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    want = df.withColumn(
        "n_below", F.coalesce(F.sum("n").over(w), F.lit(0)))
    assert sorted(map(tuple, got.select("s", "n_below").collect())) \
        == sorted(map(tuple, want.select("s", "n_below").collect()))


def test_rank_start_and_fractional_prefix(spark):
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "k int, v double")
    got = with_global_order_stats(
        df, [F.col("k").asc()], rank_col="idx", rank_start=0,
        prefix_sums={"v": "v_before"}, n_parts=3)
    rows = {r["k"]: (r["idx"], r["v_before"]) for r in got.collect()}
    assert rows[0] == (0, 0.0)
    assert rows[9] == (9, pytest.approx(sum(range(9))))


def test_empty_input(spark):
    df = spark.createDataFrame([], "k int, v int")
    got = with_global_order_stats(
        df, [F.col("k")], rank_col="rank", prefix_sums={"v": "pv"})
    assert got.count() == 0


def test_no_single_partition_window(spark):
    df = spark.createDataFrame([(i,) for i in range(50)], "k int")
    plan = with_global_order_stats(df, [F.col("k")], n_parts=4) \
        ._jdf.queryExecution().executedPlan().toString()
    norm = plan.lower().replace(" ", "")
    assert "partitionspec=[]" not in norm


def test_pin_scope_releases_only_scope_pins(spark):
    """A scope frees the pins AND the cuts made inside it; a pin or cut
    made outside it stays readable."""
    from waka_spark.plans.pins import cut, pin, pin_scope, release

    def persistent_ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    outside = pin(spark.range(10))
    outside.count()
    cut_outside = cut(spark.range(30))
    before = persistent_ids()
    with pin_scope():
        inside = pin(spark.range(20))
        inside.count()
        cut_inside = cut(spark.range(40))
        assert cut_inside.count() == 40
        assert inside.storageLevel.useMemory
        made_inside = persistent_ids() - before
    assert made_inside                        # the pin's and the cut's
    assert not inside.storageLevel.useMemory  # released on exit
    assert not (made_inside & persistent_ids())
    assert outside.storageLevel.useMemory     # untouched
    assert cut_outside.count() == 30          # its blocks are still there
    outside.unpersist()
    release(cut_outside)


def test_global_order_stats_releases_in_pin_scope(spark):
    """Round-4 (ADVICE): the load-bearing repartitionByRange persist is
    routed through pins.pin(), so a pin_scope caller (serve endpoint,
    per-request work) releases the cache block AND its CacheManager
    entry on scope exit instead of leaking one per call."""
    from waka_spark.plans.pins import pin_scope

    cm = spark._jsparkSession.sharedState().cacheManager()
    before_empty = cm.isEmpty()
    df = spark.createDataFrame([(i,) for i in range(30)], "k int")
    with pin_scope() as frames:
        got = with_global_order_stats(df, [F.col("k")], rank_col="rank")
        assert got.count() == 30          # consume inside the scope
        assert len(frames) == 1           # exactly the parts pin
        assert frames[0].storageLevel.useMemory
    assert not frames[0].storageLevel.useMemory
    assert cm.isEmpty() == before_empty   # no CacheManager growth


def test_negative_samples_releases_in_pin_scope(spark):
    """Same for plans/incremental.negative_samples' dense-index pin."""
    from waka_spark.plans.incremental import negative_samples
    from waka_spark.plans.pins import pin_scope

    triples = spark.createDataFrame(
        [("c1", "a", "p", "b"), ("c1", "b", "p", "c"), ("c2", "c", "p", "d")],
        "conv_id string, subj_url string, pred_url string, obj_url string",
    )
    cm = spark._jsparkSession.sharedState().cacheManager()
    before_empty = cm.isEmpty()
    with pin_scope() as frames:
        assert negative_samples(triples, k=2).count() > 0
        assert frames and all(f.storageLevel.useMemory for f in frames)
    assert all(not f.storageLevel.useMemory for f in frames)
    assert cm.isEmpty() == before_empty
