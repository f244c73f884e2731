"""Regenerate PLANS.md: the physical plan of every headline query at
sf0.001, walked with plans/walk.py and annotated with the evidence
that the scale properties hold (filtered scans, join strategies,
exchange counts).

With ``--out DIR TAG``, instead write the full ``.explain("formatted")``
of each named query (default: the headline set) to
``DIR/<query>_<TAG>.txt`` at $SPARK_GRAFT_SF_DIR (default: the sf0.1
fixture beside ``SF_DIR``) — the before/after plan evidence of an
optimization change (plans/r18, plans/r19).

Run from the repo root:
    python scripts/dump_plans.py
    python scripts/dump_plans.py --out plans/r19 before [query ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__  # noqa: F401  (registers every query)

from orders_currency_conversion_etl_spark.plans import registry
from orders_currency_conversion_etl_spark.plans.walk import counts, exchanges, hash_shuffles, walk
from orders_currency_conversion_etl_spark.session import get_spark

import bench

SF_DIR = "/root/testdata/sf0.001"

_INTERESTING = re.compile(r"Join|Aggregate|Exchange|TakeOrderedAndProject|WholeStageCodegen")


def _summarize(df, cached: bool = True) -> str:
    """One line per structurally interesting node (joins, aggregates,
    exchanges, codegen spans, and file scans that received a filter),
    indented by depth; full plans are pages of attribute lists that
    drown the signal."""
    keep = []
    for name, depth, node in walk(df, cached):
        if _INTERESTING.search(name) or (
            name == "FileSourceScanExec" and not node.dataFilters().isEmpty()
        ):
            keep.append(("   " * depth + "+- " + node.simpleString(25))[:160])
    return "\n".join(keep) if keep else "(scan/project only — no joins, aggs, or exchanges)"


def main() -> None:
    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    out = [
        "# PLANS — physical plans of the headline queries",
        "",
        "Generated by `scripts/dump_plans.py` (sf0.001, pre-execution AQE",
        "plans). One line per plan node, in the order and depth of",
        "`plans/walk.py` (a cached plan is shown once), filtered to join",
        "strategies, aggregates, exchanges, codegen spans, and file scans",
        "that received a filter — the properties SCALE.md argues from and",
        "tests/test_plan_quality.py asserts.",
        "",
    ]
    #: non-headline queries whose plan shape carries a 100 TB claim
    #: worth committed evidence (r5: the SemDeDup pairing must key on
    #: cluster_id with the assignment built once; the leakage-safe
    #: split must be one anti-join-free equi-join + a pure predicate).
    #: (+ r5 layout op: the z-key must be a pure projection with the
    #: bounds broadcast and exactly one hash exchange, the bucket agg)
    extras = (
        "dedup_semantic_clustered",
        "split_leakage_safe",
        "layout_zorder_stats",
        "layout_hilbert_stats",
        # r6: the MG candidate set must BROADCAST into the exact
        # recount (one hash exchange: the recount agg); the
        # materialized PageRank read path must show NO fact-table scan;
        # the materialized IVF scan must carry a dynamic partition-
        # pruning filter on cid.
        "heavy_hitters_mg",
        "pagerank_parts_materialized",
        "knn_ivf_materialized",
    )
    for name in bench.HEADLINE + extras:
        df = registry.QUERIES[name](spark, SF_DIR)
        out += [
            f"## {name}",
            "",
            f"hash exchanges: {hash_shuffles(df)}"
            f" · broadcast joins: {counts(df)['BroadcastHashJoinExec']}",
            "",
            "```",
            _summarize(df),
            "```",
            "",
        ]
        if name == "pagerank_parts":
            # The registered query's plan only shows the post-checkpoint
            # scan (lineage truncated per iteration by design); dump ONE
            # un-truncated loop-body iteration so the per-iteration
            # exchange claim is inspectable (VERDICT r2 nit #5).
            from orders_currency_conversion_etl_spark.plans.graph import (
                pagerank_loop_body,
            )

            body = pagerank_loop_body(spark, SF_DIR)
            # The loop reads PERSISTED state (edges⋈deg, materialized by
            # the deg.count() in _pagerank_state); the cached relation's
            # plan is the one-time state-build lineage, not per-iteration
            # work — leave it out so the exchange count reflects what
            # each iteration actually runs.
            out += [
                "### pagerank_parts — one un-truncated loop-body iteration",
                "",
                "(cached plans left out: the build of the persisted",
                "edge⋈degree state runs once, not per iteration)",
                "",
                f"hash exchanges: {hash_shuffles(body, cached=False)}"
                f" · broadcast joins: {counts(body, cached=False)['BroadcastHashJoinExec']}",
                "",
                "```",
                _summarize(body, cached=False),
                "```",
                "",
            ]
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path} ({len(bench.HEADLINE)} queries)")
    spark.stop()


def dump_formatted(out_dir: str, tag: str, names: "list[str]") -> None:
    sf_dir = os.environ.get(
        "SPARK_GRAFT_SF_DIR", os.path.join(os.path.dirname(SF_DIR), "sf0.1")
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names or bench.HEADLINE:
        df = registry.QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({exchanges(df)} exchange nodes)")
    spark.stop()


if __name__ == "__main__":
    if sys.argv[1:2] == ["--out"]:
        dump_formatted(sys.argv[2], sys.argv[3], sys.argv[4:])
    else:
        main()
