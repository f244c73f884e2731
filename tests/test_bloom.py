"""Bloom-filter semi-join pruning (operators/bloom.py): no false
negatives ever (join-exactness), measured false-positive rate within
bound, distributed build == single-partition build, JVM-side hashing
(plan-asserted), and the composed bloom_semi_join exact against the
plain semi join."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from orders_currency_conversion_etl_spark.operators import bloom
from orders_currency_conversion_etl_spark.plans.walk import counts, expression_counts

SF = "/root/testdata/sf0.01"


def test_bloom_params_standard_sizing():
    m, k = bloom.bloom_params(10_000, 0.01)
    # theory: ~9.585 bits/key, k ~ 7 at 1%
    assert 9 * 10_000 <= m <= 10.5 * 10_000
    assert k == 7
    assert m % 8 == 0
    with pytest.raises(ValueError):
        bloom.bloom_params(0)
    with pytest.raises(ValueError):
        bloom.bloom_params(10, 1.5)


def test_bloom_no_false_negatives_and_fp_bound(spark):
    dim = spark.range(0, 2_000).select(
        (F.col("id") * 3).cast("long").alias("key")
    )
    num_bits, k = bloom.bloom_params(2_000, 0.01)
    bitmap = bloom.build_bloom(dim, "key", num_bits, k)
    assert len(bitmap) == num_bits // 8

    fact = spark.range(0, 30_000).select(F.col("id").alias("key"))
    pruned = {r["key"] for r in bloom.prune_with_bloom(
        fact, "key", bitmap, num_bits, k
    ).collect()}
    members = {i * 3 for i in range(2_000) if i * 3 < 30_000}
    # exactness: every true member survives pruning
    assert members <= pruned
    # fp rate on the non-members within a loose 3x of the target 1%
    non_members = 30_000 - len(members)
    fp = (len(pruned) - len(members)) / non_members
    assert fp <= 0.03, fp


def test_bloom_build_is_partition_invariant(spark):
    keys = spark.range(0, 5_000).select(
        F.concat(F.lit("k"), F.col("id")).alias("key")
    )
    num_bits, k = bloom.bloom_params(5_000, 0.02)
    bm_many = bloom.build_bloom(keys.repartition(16), "key", num_bits, k)
    bm_one = bloom.build_bloom(keys.coalesce(1), "key", num_bits, k)
    assert bm_many == bm_one  # OR-merge is order/partitioning-free


def test_bloom_hashing_is_jvm_side(spark):
    """The per-row md5 double-hash runs under codegen; Python only sees
    two long columns per Arrow batch (the sketches.py split)."""
    fact = spark.range(0, 100).select(F.col("id").alias("key"))
    num_bits, k = bloom.bloom_params(100, 0.01)
    bitmap = bloom.build_bloom(fact, "key", num_bits, k)
    pruned = bloom.prune_with_bloom(fact, "key", bitmap, num_bits, k)
    c = counts(pruned)
    assert "ArrowEvalPythonExec" in c  # the vectorized bit test
    assert "Md5" in expression_counts(pruned)  # hashing stayed in the JVM projection
    assert "BatchEvalPythonExec" not in c  # never row-at-a-time Python


def test_bloom_semi_join_exact_vs_plain_semi(spark):
    """The composed pattern returns EXACTLY the plain semi join's rows
    on real tables: prune + exact semi == exact semi."""
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    customer = spark.read.parquet(f"{SF}/customer.parquet").where(
        F.col("c_acctbal") > 7000
    ).select(F.col("c_custkey").alias("o_custkey"))

    got = bloom.bloom_semi_join(orders, customer, "o_custkey", fpp=0.01)
    expected = orders.join(customer.distinct(), "o_custkey", "left_semi")
    assert got.count() == expected.count()
    a = {r["o_orderkey"] for r in got.select("o_orderkey").collect()}
    b = {r["o_orderkey"] for r in expected.select("o_orderkey").collect()}
    assert a == b

    # degenerate dims
    empty = customer.where(F.lit(False))
    assert bloom.bloom_semi_join(orders, empty, "o_custkey").count() == 0


def test_bloom_validation_errors(spark):
    fact = spark.range(3).select(F.col("id").alias("key"))
    with pytest.raises(ValueError, match="byte multiple"):
        bloom.build_bloom(fact, "key", 13, 2)
    with pytest.raises(ValueError, match="bitmap is"):
        bloom.prune_with_bloom(fact, "key", b"\x00" * 4, 64, 2)


def test_bloom_null_keys_defined_behavior(spark):
    """r15 review fix: NULL keys are excluded from the bitmap (md5(NULL)
    is NULL -> NaN -> undefined uint64 positions) and NULL-key fact
    rows are pruned (a NULL never matches an equi/semi join) — both
    sides defined, no numpy cast warnings, bitmap stays portable."""
    dim = spark.createDataFrame(
        [("a",), (None,), ("b",)], "key string"
    )
    num_bits, k = bloom.bloom_params(2, 0.01)
    bm_with_null = bloom.build_bloom(dim, "key", num_bits, k)
    bm_clean = bloom.build_bloom(dim.dropna(), "key", num_bits, k)
    assert bm_with_null == bm_clean  # NULL contributed nothing

    fact = spark.createDataFrame([("a",), (None,), ("zz",)], "key string")
    kept = [r["key"] for r in bloom.prune_with_bloom(
        fact, "key", bm_clean, num_bits, k
    ).collect()]
    assert "a" in kept and None not in kept
    # and the composed join agrees with the plain semi join on NULLs
    got = bloom.bloom_semi_join(fact, dim, "key").count()
    plain = fact.join(dim.distinct(), "key", "left_semi").count()
    assert got == plain


def test_bloom_temp_columns_do_not_clobber_caller_columns(spark):
    """r15 review fix: a fact column literally named __bh1 survives."""
    dim = spark.range(5).select(F.col("id").alias("key"))
    num_bits, k = bloom.bloom_params(5, 0.01)
    bm = bloom.build_bloom(dim, "key", num_bits, k)
    fact = spark.range(10).select(
        F.col("id").alias("key"), F.lit("mine").alias("__bh1")
    )
    out = bloom.prune_with_bloom(fact, "key", bm, num_bits, k)
    assert "__bh1" in out.columns
    assert {r["__bh1"] for r in out.collect()} == {"mine"}


def test_anti_join_bypass_exact_vs_plain_anti(spark):
    """anti_join_with_bloom_bypass == plain left-anti, byte-identical,
    including NULL source keys (always kept) and an fp-HEAVY bitmap
    (tiny m forces many false positives into the maybe branch — the
    exact join must still remove none of the true non-matches)."""
    src = spark.range(0, 5_000).select(
        F.when(F.col("id") % 97 == 0, F.lit(None)).otherwise(F.col("id")).alias("key"),
        (F.col("id") * 2).alias("payload"),
    )
    sink = spark.range(0, 5_000).where(F.col("id") % 5 == 0).select(
        F.col("id").alias("key")
    )
    expected = {
        (r["key"], r["payload"])
        for r in src.join(sink, "key", "left_anti").collect()
    }
    for num_bits in (64, 8192):  # fp-heavy and well-sized
        k = 3
        bitmap = bloom.build_bloom(sink, "key", num_bits, k)
        got = {
            (r["key"], r["payload"])
            for r in bloom.anti_join_with_bloom_bypass(
                src, sink, "key", bitmap, num_bits, k
            ).collect()
        }
        assert got == expected, f"num_bits={num_bits}"


def test_anti_join_bypass_routes_rows_around_the_join(spark):
    """The point of the operator: with a well-sized bitmap, the rows
    entering the exact anti-join are ~ the matching fraction, not the
    whole source — counted by executing the maybe branch alone."""
    src = spark.range(0, 20_000).select(F.col("id").alias("key"))
    sink = src.where(F.col("key") % 10 >= 8)  # 20% processed
    n_keys = sink.count()
    num_bits, k = bloom.bloom_params(n_keys, 0.01)
    bitmap = bloom.build_bloom(sink, "key", num_bits, k)
    pruned = bloom.prune_with_bloom(src, "key", bitmap, num_bits, k)
    into_join = pruned.count()
    # 20% true matches + ~1% fp of the other 80%
    assert into_join <= 20_000 * (0.20 + 0.02), into_join
    # and the composed anti-join is exact
    got = bloom.anti_join_with_bloom_bypass(
        src, sink, "key", bitmap, num_bits, k
    ).count()
    assert got == 20_000 - n_keys


def test_broadcast_bitmap_caller_owned_lifetime(spark):
    """prune_with_bloom accepts a caller-owned broadcast (the r15
    ADVICE lifetime finding): one broadcast reused across two prunes,
    then unpersisted by the caller without error."""
    dim = spark.range(0, 1_000).select(F.col("id").alias("key"))
    num_bits, k = bloom.bloom_params(1_000, 0.01)
    bitmap = bloom.build_bloom(dim, "key", num_bits, k)
    bc = bloom.broadcast_bitmap(spark, bitmap)
    fact = spark.range(0, 3_000).select(F.col("id").alias("key"))
    a = bloom.prune_with_bloom(fact, "key", bc, num_bits, k).count()
    b = bloom.prune_with_bloom(fact, "key", bc, num_bits, k).count()
    assert a == b
    bc.unpersist()
    with pytest.raises(ValueError, match="bits"):
        bloom.prune_with_bloom(fact, "key", b"\x00" * 4, num_bits, k)


def test_unprocessed_at_scale_bloom_modes(spark):
    """The wired consumer (operators/incremental.py): bloom='on'
    equals bloom='off' exactly; 'auto' declines below
    BLOOM_MIN_SINK_KEYS (plan has no Arrow stage) and a bad mode is
    loud. Empty sink under 'on' returns the whole source."""
    from orders_currency_conversion_etl_spark.operators import incremental

    src = spark.range(0, 4_000).select(
        F.col("id").alias("order_id"), (F.col("id") % 7).alias("v")
    )
    sink = src.where(F.col("order_id") % 10 >= 8).select("order_id")
    off = {
        r["order_id"]
        for r in incremental.unprocessed_at_scale(
            src, sink, key="order_id", bloom="off"
        ).collect()
    }
    on = {
        r["order_id"]
        for r in incremental.unprocessed_at_scale(
            src, sink, key="order_id", bloom="on"
        ).collect()
    }
    assert on == off
    auto = incremental.unprocessed_at_scale(src, sink, key="order_id", bloom="auto")
    assert "ArrowEvalPythonExec" not in counts(auto)
    assert {r["order_id"] for r in auto.collect()} == off
    empty = sink.where(F.lit(False))
    assert incremental.unprocessed_at_scale(
        src, empty, key="order_id", bloom="on"
    ).count() == 4_000
    with pytest.raises(ValueError, match="off|auto|on"):
        incremental.unprocessed_at_scale(src, sink, key="order_id", bloom="maybe")


def test_unprocessed_at_scale_auto_accepts_above_threshold(spark):
    """The other half of the auto heuristic: with a caller-supplied
    sink_n_keys above BLOOM_MIN_SINK_KEYS (the catalog-stat path — no
    counting scan), auto routes through the bypass; result unchanged."""
    from orders_currency_conversion_etl_spark.operators import incremental

    src = spark.range(0, 3_000).select(F.col("id").alias("order_id"))
    sink = src.where(F.col("order_id") % 4 == 0)
    forced = incremental.unprocessed_at_scale(
        src, sink, key="order_id", bloom="auto",
        sink_n_keys=incremental.BLOOM_MIN_SINK_KEYS + 1,
    )
    c = counts(forced)
    assert "ArrowEvalPythonExec" in c and "UnionExec" in c
    assert forced.count() == 3_000 - sink.count()
