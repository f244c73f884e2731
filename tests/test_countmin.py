"""Count-min sketch (operators/countmin.py): one-sided guarantee
(estimate >= true, always), epsilon-additive accuracy vs exact counts
on a skewed planted distribution, merge == union build (byte-exact),
partition-invariant distributed build, and the JVM-side hashing split
plan-asserted."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from orders_currency_conversion_etl_spark.operators import countmin as cm
from orders_currency_conversion_etl_spark.plans.walk import counts, expression_counts


def _skewed_keys(spark):
    """Zipf-ish planted stream: key k occurs 1000 // (k + 1) times for
    k in 0..199 — exact counts known in closed form."""
    rows = []
    for k in range(200):
        rows.extend([f"key{k}"] * (1000 // (k + 1)))
    return (
        spark.createDataFrame([(v,) for v in rows], ["key"]),
        {f"key{k}": 1000 // (k + 1) for k in range(200)},
    )


def test_cm_params_standard_sizing():
    w, d = cm.cm_params(0.01, 0.01)
    assert w == 272 and d == 5  # ceil(e/0.01), ceil(ln 100)
    with pytest.raises(ValueError):
        cm.cm_params(0, 0.5)
    with pytest.raises(ValueError):
        cm.cm_params(0.1, 1.5)


def test_cm_one_sided_and_accuracy(spark):
    df, truth = _skewed_keys(spark)
    n_total = sum(truth.values())
    eps, delta = 0.01, 0.01
    w, d = cm.cm_params(eps, delta)
    grid = cm.build_countmin(df, "key", w, d)
    assert grid.sum() == n_total * d  # every occurrence lands d times

    keys = list(truth)
    ests = cm.cm_estimate(grid, keys)
    overs = 0
    for key, est in zip(keys, ests):
        assert est >= truth[key], (key, est, truth[key])  # NEVER undercounts
        if est > truth[key] + eps * n_total:
            overs += 1
    # per-key bound holds with prob 1-delta; allow a loose 5% violation
    assert overs <= max(1, len(keys) // 20), overs
    # an absent key estimates near zero (within the additive bound)
    (absent,) = cm.cm_estimate(grid, ["never-seen"])
    assert absent <= eps * n_total


def test_cm_merge_equals_union_build(spark):
    df, _ = _skewed_keys(spark)
    half_a = df.where(F.length("key") <= 4)  # key0..key9
    half_b = df.where(F.length("key") > 4)
    w, d = cm.cm_params(0.02, 0.05)
    merged = cm.cm_merge(
        cm.build_countmin(half_a, "key", w, d),
        cm.build_countmin(half_b, "key", w, d),
    )
    union = cm.build_countmin(df, "key", w, d)
    assert np.array_equal(merged, union)  # byte-exact mergeable state
    with pytest.raises(ValueError, match="shapes differ"):
        cm.cm_merge(merged, np.zeros((1, 2), dtype=np.int64))


def test_cm_build_is_partition_invariant(spark):
    df, _ = _skewed_keys(spark)
    w, d = cm.cm_params(0.02, 0.05)
    many = cm.build_countmin(df.repartition(16), "key", w, d)
    one = cm.build_countmin(df.coalesce(1), "key", w, d)
    assert np.array_equal(many, one)


def test_cm_hashing_is_jvm_side(spark):
    """The per-key md5 runs in the JVM projection feeding the fold
    stage; Python sees only two long columns (the bloom/sketches
    split)."""
    df = spark.range(100).select(F.col("id").alias("key"))
    hashed = df.select(
        *__import__(
            "orders_currency_conversion_etl_spark.operators.bloom",
            fromlist=["_h1h2"],
        )._h1h2(F.col("key"))
    )
    assert "Md5" in expression_counts(hashed)
    assert not [n for n in counts(hashed) if "Python" in n or "Pandas" in n]  # pure JVM projection

    # and grids built over int keys agree with the Python replay
    grid = cm.build_countmin(df, "key", 64, 3)
    assert all(e >= 1 for e in cm.cm_estimate(grid, [5, 50, 99]))


def test_cm_validation(spark):
    df = spark.range(3).select(F.col("id").alias("key"))
    with pytest.raises(ValueError, match="positive"):
        cm.build_countmin(df, "key", 0, 3)
    with pytest.raises(ValueError, match="design range"):
        cm.build_countmin(df, "key", 8, 17)
    empty = df.where(F.lit(False))
    grid = cm.build_countmin(empty, "key", 8, 2)
    assert grid.shape == (2, 8) and grid.sum() == 0


def test_cm_null_keys_are_not_occurrences(spark):
    """r15 review fix: NULL keys contribute nothing to the grid (the
    bloom policy) instead of NaN-cast garbage positions."""
    df = spark.createDataFrame([("a",), (None,), ("a",)], "key string")
    grid = cm.build_countmin(df, "key", 32, 3)
    clean = cm.build_countmin(df.dropna(), "key", 32, 3)
    assert np.array_equal(grid, clean)
    assert cm.cm_estimate(grid, ["a"]) == [2]


def _zipf_df(spark, n_rows=40_000, n_hot=3, hot_share=0.10):
    """Planted skew: n_hot keys each carrying hot_share of the rows,
    the rest spread uniformly over 5k cold keys — deterministic."""
    hot_rows = int(n_rows * hot_share)
    hot = (
        spark.range(0, hot_rows * n_hot)
        .select((F.col("id") % n_hot).alias("key"))
    )
    cold = (
        spark.range(0, n_rows - hot_rows * n_hot)
        .select((F.lit(1000) + F.col("id") % 5000).alias("key"))
    )
    return hot.unionByName(cold)


def test_detect_hot_keys_sketched_no_false_negatives(spark):
    """The salting guarantee: every key the EXACT detector flags is
    flagged by the sketch too, under more than one partitioning (the
    Misra-Gries survivor set may vary; the guaranteed-hot keys must
    not). Extras, if any, are the documented one-sided tolerance."""
    from orders_currency_conversion_etl_spark.operators.skew import detect_hot_keys

    df = _zipf_df(spark)
    exact = set(detect_hot_keys(df, "key", frac_threshold=0.05))
    assert exact == {0, 1, 2}  # the planted hot keys, sanity
    for parts in (1, 7, 32):
        sketched = set(
            cm.detect_hot_keys_sketched(
                df.repartition(parts), "key", frac_threshold=0.05
            )
        )
        assert exact <= sketched, (parts, exact - sketched)
        # promotion noise is bounded: nothing with a true share under
        # half the threshold can clear the bar at eps = t/4
        assert all(k in exact or k >= 1000 for k in sketched)
        cold_extras = sketched - exact
        assert len(cold_extras) <= 2, cold_extras


def test_detect_hot_keys_sketched_cap_raises_past_max_keys(spark):
    """ADVICE r16: when frac_threshold < 1/max_keys, more than max_keys
    keys can legitimately clear the bar — the truncation cap must rise
    to ceil(1/t) so no truly-hot key is displaced by an
    overcount-promoted cold one. 40 planted keys at share 0.025 > t =
    0.02 with max_keys = 32: all 40 must come back."""
    df = spark.range(0, 10_000).select((F.col("id") % 40).alias("key"))
    hot = set(
        cm.detect_hot_keys_sketched(
            df, "key", frac_threshold=0.02, max_keys=32
        )
    )
    assert hot == set(range(40))
    # ADVICE r17 opt-in: strict_max_keys restores the exact detector's
    # hard output bound (and its silent hot-key drop in this regime) —
    # exactly max_keys entries, every one a truly-hot key
    strict = cm.detect_hot_keys_sketched(
        df, "key", frac_threshold=0.02, max_keys=32, strict_max_keys=True
    )
    assert len(strict) == 32
    assert set(strict) <= set(range(40))


def test_detect_hot_keys_sketched_uniform_is_empty(spark):
    """On uniform keys (the fixture tables) the sketch returns no hot
    keys — the wired join_skewed_fact_salted degenerates to the plain
    join exactly as the exact detector did."""
    df = spark.range(0, 30_000).select((F.col("id") % 4000).alias("key"))
    assert cm.detect_hot_keys_sketched(df, "key", frac_threshold=0.05) == []


def test_detect_hot_keys_sketched_string_keys_and_nulls(spark):
    """Any key type via the captured JVM (h1, h2) — no Python hash
    replay — and NULLs are dropped (a NULL never equi-joins)."""
    df = spark.range(0, 10_000).select(
        F.when(F.col("id") % 100 == 0, F.lit(None))
        .when(F.col("id") % 3 == 0, F.lit("HOT"))
        .otherwise(F.concat(F.lit("cold_"), (F.col("id") % 997).cast("string")))
        .alias("key")
    )
    hot = cm.detect_hot_keys_sketched(df, "key", frac_threshold=0.2)
    assert hot == ["HOT"]
    with pytest.raises(ValueError, match="frac_threshold"):
        cm.detect_hot_keys_sketched(df, "key", frac_threshold=1.5)


def test_sketched_salted_join_result_matches_exact_detection(spark):
    """End-to-end through salted_fact_join under planted skew: the
    join result is identical whichever detector chose the hot set —
    the semantics-preservation that lets the sketch ride inside the
    registered query with an unchanged oracle."""
    from orders_currency_conversion_etl_spark.operators.skew import (
        detect_hot_keys,
        salted_fact_join,
    )

    left = _zipf_df(spark).withColumn("v", F.col("key") * 2)
    right = (
        spark.range(0, 6_000)
        .select(F.col("id").alias("key"), (F.col("id") % 5).alias("grp"))
    )
    for detector in (
        lambda: detect_hot_keys(left, "key", frac_threshold=0.05),
        lambda: cm.detect_hot_keys_sketched(left, "key", frac_threshold=0.05),
    ):
        out = salted_fact_join(
            left, right, key="key", hot_keys=detector(), salt_source="v"
        )
        agg = {
            (r["grp"], r["n"])
            for r in out.groupBy("grp").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        plain = {
            (r["grp"], r["n"])
            for r in left.join(right, on="key")
            .groupBy("grp")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert agg == plain
