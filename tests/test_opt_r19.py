"""r19 optimization pins.

Three invariants this round's restructurings rely on:

- pagerank's degree table is now derived from the dst-partitioned edge
  cache via groupBy(dst) — legal ONLY because the edge set is symmetric
  ((s,d) ∈ E ⇔ (d,s) ∈ E), so outdeg(x) == indeg(x) exactly. Pinned
  both ways: value-equality against the old groupBy(src) derivation,
  and the executed plan showing NO shuffle Exchange above the edge
  cache (the old shape reshuffled all |edges| rows on src).
- curation's final anti-join broadcasts the counted dup list under the
  DUPS_BROADCAST_MAX_ROWS gate (and only under it); survivors are
  row-identical to the ungated SMJ form.
- tfidf's df-from-tf rewrite (r18) equates count(*)-per-term over tf
  with COUNT(DISTINCT source) — exact only while documents.source is
  never NULL, which the fixtures guarantee; pin it so a fixture
  generation that starts emitting NULL sources fails loudly here
  instead of silently hash-mismatching the oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from orders_currency_conversion_etl_spark.plans.walk import cls, counts, nodes
from orders_currency_conversion_etl_spark.sources import catalog

SF = "/root/testdata/sf0.001"
SF2 = "/root/testdata/sf0.01"


def _join_hints(df) -> list[str]:
    """Strategy hints on the joins of the optimized logical plan."""
    joins = nodes(df._jdf.queryExecution().optimizedPlan(), "Join")
    hints = [h.get() for j in joins for h in (j.hint().leftHint(), j.hint().rightHint()) if h.isDefined()]
    return [cls(h.strategy().get()) for h in hints if h.strategy().isDefined()]


def test_pagerank_deg_symmetry_and_no_exchange(spark):
    from orders_currency_conversion_etl_spark.plans import graph

    edges, deg, contrib_src, _ranks, _n = graph._pagerank_state_build(spark, SF2)
    try:
        deg.write.mode("overwrite").format("noop").save()  # materializes edges too

        # 1. value pin: indeg-derived degrees == the r18 groupBy(src) form
        deg_old = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
        assert deg.exceptAll(deg_old).count() == 0
        assert deg_old.exceptAll(deg).count() == 0

        # 2. plan pin: the deg aggregation consumes the cached
        # hashpartitioning(dst) — no shuffle Exchange outside the cache
        deg_plan = (
            edges.groupBy("dst")
            .agg(F.count(F.lit(1)).alias("outdeg"))
            .select(F.col("dst").alias("src"), "outdeg")
        )
        deg_plan.write.mode("overwrite").format("noop").save()
        c = counts(deg_plan, cached=False)
        assert "InMemoryTableScanExec" in c
        assert "ShuffleExchangeExec" not in c, f"deg derivation reshuffles the edge cache: {c}"
    finally:
        for df in (contrib_src, deg, edges):
            try:
                df.unpersist()
            except Exception:
                pass


def test_curation_anti_join_gated_broadcast(spark):
    from orders_currency_conversion_etl_spark.operators import curation

    docs = catalog.load_table(spark, SF, "documents")
    clean = docs.select("doc_id", "text")
    dups = docs.select("doc_id").filter(F.col("doc_id") % 7 == 0)

    survivors = curation._anti_join_survivors(clean, dups)
    survivors.write.mode("overwrite").format("noop").save()
    joins = [cls(j.joinType()) for j in nodes(survivors, "BroadcastHashJoinExec")]
    assert "LeftAnti$" in joins, joins

    # value pin vs the plain (ungated) anti-join
    plain = clean.join(dups, "doc_id", "left_anti")
    assert survivors.exceptAll(plain).count() == 0
    assert plain.exceptAll(survivors).count() == 0

    # above the gate the broadcast must no longer be FORCED: the hint
    # disappears from the optimized logical plan and the strategy
    # choice returns to the planner (which may still auto-broadcast a
    # provably tiny side from its own size estimate — that estimate
    # scales with the data, the hard hint would not).
    saved = curation.DUPS_BROADCAST_MAX_ROWS
    try:
        curation.DUPS_BROADCAST_MAX_ROWS = 0
        over = curation._anti_join_survivors(clean, dups)
        assert "BROADCAST$" not in _join_hints(over)
        assert "BROADCAST$" in _join_hints(survivors)
    finally:
        curation.DUPS_BROADCAST_MAX_ROWS = saved


def test_conv_hash_matches_portable_expansion(spark):
    """The Spark-side conv() base hash must equal the portable
    digit-expansion form the oracles inline — over the real corpus
    shingles AND the hex extremes."""
    from orders_currency_conversion_etl_spark.functions.text_fn import (
        hex_to_long_spark_sql,
        hex_to_long_sql,
    )
    from orders_currency_conversion_etl_spark.operators.dedup import _docs_shingled

    sh = _docs_shingled(spark, SF).select("doc_id", "shingles")
    both = sh.select(
        F.expr(
            "transform(shingles, s -> " + hex_to_long_sql("substr(md5(s), 1, 8)") + ")"
        ).alias("h_old"),
        F.expr(
            "transform(shingles, s -> "
            + hex_to_long_spark_sql("substr(md5(s), 1, 8)")
            + ")"
        ).alias("h_new"),
    )
    assert both.filter(F.col("h_old") != F.col("h_new")).count() == 0

    extremes = spark.createDataFrame(
        [("00000000",), ("ffffffff",), ("0123abcd",), ("deadbeef",)], ["s"]
    ).selectExpr(
        hex_to_long_sql("s") + " AS old",
        hex_to_long_spark_sql("s") + " AS new",
    )
    rows = extremes.collect()
    assert all(r["old"] == r["new"] for r in rows), rows


def test_documents_source_never_null(spark):
    """tfidf's df == COUNT(DISTINCT source) equivalence (and its
    n_sources count) assume non-NULL sources; pin the fixture contract
    at both local SFs."""
    for sf in (SF, SF2):
        docs = catalog.load_table(spark, sf, "documents")
        assert docs.filter(F.col("source").isNull()).count() == 0
