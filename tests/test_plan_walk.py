"""The plan walker (plans/walk.py) on real sf0.001 plans, and the guard
that keeps every plan check on it."""

from __future__ import annotations

import glob
import os
import re

from pyspark.sql import functions as F

from orders_currency_conversion_etl_spark.plans.walk import counts, nodes
from tests.conftest import SF_SMOKE as SF

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")


def _orders(spark):
    return spark.read.parquet(f"{SF}/orders.parquet")


def _self_join(df):
    return df.alias("a").join(df.alias("b"), F.col("a.o_custkey") == F.col("b.o_custkey"))


def test_walk_unwraps_adaptive_plan_before_and_after_execution(spark):
    df = _orders(spark).groupBy("o_orderstatus").count()
    before = counts(df)
    df.collect()
    assert df._jdf.queryExecution().executedPlan().isFinalPlan()
    after = counts(df)
    for c in (before, after):
        assert (c["ShuffleExchangeExec"], c["HashAggregateExec"], c["FileSourceScanExec"]) == (1, 2, 1)
        assert not [n for n in c if re.search(r"AdaptiveSparkPlanExec|QueryStageExec$", n)], c
    # only the final plan is codegen-collapsed
    assert "WholeStageCodegenExec" not in before and "WholeStageCodegenExec" in after


def test_walk_counts_a_cached_plan_once(spark):
    agg = _orders(spark).groupBy("o_custkey").agg(F.count("*").alias("n")).cache()
    try:
        j = _self_join(agg)
        for _ in range(2):  # unmaterialized cache, then materialized
            c = counts(j)
            assert c["InMemoryTableScanExec"] == 2
            assert (c["ShuffleExchangeExec"], c["HashAggregateExec"], c["FileSourceScanExec"]) == (1, 2, 1)
            above = counts(j, cached=False)
            assert above["InMemoryTableScanExec"] == 2 and "FileSourceScanExec" not in above
            assert "HashAggregateExec" not in above and "ShuffleExchangeExec" not in above
            j.collect()
    finally:
        agg.unpersist()


def test_walk_stops_at_reused_exchange(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = _self_join(_orders(spark).groupBy("o_custkey").agg(F.sum("o_totalprice").alias("s")))
        j.collect()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    c = counts(j)
    assert (c["ReusedExchangeExec"], c["ShuffleExchangeExec"]) == (1, 1)
    # the reused side's partial aggregate and scan are not walked again
    assert (c["HashAggregateExec"], c["FileSourceScanExec"]) == (3, 1)
    assert nodes(j, "ReusedExchangeExec")[0].children().isEmpty()


def test_walk_visits_scalar_subquery(spark):
    orders = _orders(spark)
    c = counts(orders.where(F.col("o_totalprice") > orders.select(F.avg("o_totalprice")).scalar()))
    # the aggregate and a second orders scan are reachable only through
    # the subquery
    assert c["SubqueryExec"] >= 1 and c["HashAggregateExec"] >= 2 and c["FileSourceScanExec"] >= 2


#: a plan turned into text for a check: an executed, optimized or
#: analyzed plan followed by toString (also split across lines), or a
#: streaming query's explain string
_PRINTED_PLAN = re.compile(r"(executedPlan|optimizedPlan|analyzed)\(\)\s*\.toString\(\)|explain[I]nternal")


def test_no_plan_check_reads_printed_plan_text():
    """Plan checks walk plans/walk.py. The one printer left is the
    human-readable explainString dump of scripts/dump_plans.py --out."""
    offenders = []
    for top in ("tests", "scripts", "orders_currency_conversion_etl_spark"):
        for path in glob.glob(os.path.join(ROOT, top, "**", "*.py"), recursive=True):
            with open(path) as fh:
                text = fh.read()
            for m in _PRINTED_PLAN.finditer(text):
                offenders.append(f"{os.path.relpath(path, ROOT)}:{text.count(chr(10), 0, m.start()) + 1}")
    assert not offenders, f"plan printed for a check: {offenders}"
