"""Audit every registered query's physical plan for fact-table
broadcasts — the footgun r5 measured on agg_revenue_by_nation: after
column pruning, Spark's file-size-scaled estimate can drop a
million-row fact table under the 10 MB autoBroadcast threshold, and a
fact-side BroadcastExchange that is merely survivable once degrades
the shared JVM when built repeatedly (2.2 s -> 20 s measured) and is
categorically wrong at 100 TB.

For each query, EXPLAIN (no execution) at $SPARK_GRAFT_AUDIT_DIR
(default the local sf1 fixtures — the scale where estimates actually
cross the threshold) and flag any BroadcastExchange whose subtree
scans a FACT table (lineitem/orders/events/documents/embeddings)
without an intervening aggregate/limit that would shrink it to
O(dims)/O(groups). Flags are REVIEW items, not failures: a broadcast
below a highly selective filter can be legitimate — the point is that
every one must be a stated decision, not an estimate artifact.

    python scripts/audit_broadcasts.py [out.json]
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry_mod  # noqa: E402

from orders_currency_conversion_etl_spark.plans.walk import cls, counts, nodes, scan_paths  # noqa: E402
from orders_currency_conversion_etl_spark.session import get_spark  # noqa: E402

FACT_TABLES = ("lineitem", "orders", "events", "documents", "embeddings")

#: operators under a BroadcastExchange that bound its size regardless
#: of the scanned table's size
SHRINKERS = {
    "HashAggregateExec", "SortAggregateExec", "ObjectHashAggregateExec", "CollectLimitExec",
    "GlobalLimitExec", "LocalLimitExec", "TakeOrderedAndProjectExec", "StreamingDeduplicateExec",
}


def audit_plan(plan) -> list[dict]:
    """Flag BroadcastExchange subtrees of ``plan`` (a DataFrame or a
    physical plan node) that scan a fact table without a shrinking
    operator in between."""
    flags = []
    for exchange in nodes(plan, "BroadcastExchangeExec"):
        if SHRINKERS & set(counts(exchange)):
            continue
        paths = [p for scan in nodes(exchange, "FileSourceScanExec") for p in scan_paths(scan)]
        facts = sorted({t for t in FACT_TABLES for p in paths if f"/{t}.parquet" in p})
        if facts:
            flags.append({"tables": facts, "mode": cls(exchange.mode()).rstrip("$")})
    return flags


#: Committed per-query adjudications (VERDICT r8 ask #3): every flag
#: the audit emits must carry a reviewed rationale, applied here so the
#: artifact stays self-contained across regenerations. A NEW flag (any
#: query not in this map) is emitted with reviewed=false and FAILS
#: tests/test_plan_lint.py::test_broadcast_audit_fully_adjudicated —
#: adjudicate it by adding an entry, or fix the plan.
ADJUDICATIONS: dict[str, str] = {
    "curation_pipeline": (
        "broadcast side is a documents-DERIVED shrunk table (near-dedup "
        "survivors keyed by doc_id); fixture-small here, and at real scale "
        "the size estimate crosses the threshold and flips to shuffle"
    ),
    "curation_pipeline_lsh": (
        "same class as curation_pipeline: LSH-dedup survivor keyset, a "
        "shrunk documents derivation; estimate-driven flip to shuffle at "
        "real scale"
    ),
    "dedup_cross_source_matrix": (
        "broadcast side is the 2-column (doc_id, source) projection "
        "decorating the LSH pair stream; estimate-driven since r9 (the "
        "explicit F.broadcast was dropped) so it flips to shuffle when the "
        "projection outgrows the threshold — the pair side is "
        "collision-bounded and far smaller than the corpus at scale"
    ),
    "dedup_embedding_cosine": (
        "size-guarded O(n^2) baseline (operators/guards.py refuses big "
        "inputs by design); the IdentityBroadcastMode nested-loop side "
        "exists only under the guard — LSH/SemDeDup are the scale path"
    ),
    "dedup_longest_substring": (
        "broadcast side is the df-filtered span-hash keyset `keep` (a "
        "HashAggregate + HAVING 2..SPAN_MAX_DF sits upstream, above an "
        "exchange-reuse boundary — which is why no shrinker appears in "
        "THIS subtree); bounded by the duplicated-span population and "
        "estimate-flipped to shuffle as that grows"
    ),
    "fuzzy_match_adjacent_docs": (
        "estimate-driven auto-broadcast of one side of the 3-column "
        "(doc_id, prefix64, source) self-join projection; the join is "
        "equi-keyed on doc_id+1, so when the estimate crosses the "
        "threshold Catalyst flips it to sort-merge — scale-correct either "
        "way"
    ),
    "incremental_unprocessed": (
        "steady-state small-sink broadcast: legitimate while the processed "
        "keyset is backlog-sized (documented in operators/incremental.py); "
        "the fact-sized-sink form is the separately registered "
        "incremental_unprocessed_at_scale, plan-asserted to never broadcast"
    ),
    "kmeans_embeddings": (
        "broadcast side is the K centroids (K=8 rows x D floats) re-joined "
        "to assign points — the canonical tiny-side broadcast at any scale"
    ),
    "knn_brute_force": (
        "size-guarded O(n^2) baseline: the query-vector side (3 rows) "
        "broadcasts into the nested-loop scorer; guard refuses big inputs, "
        "knn_lsh_*/knn_ivf_* are the scale path"
    ),
    "knn_ivf_pq": (
        "two bounded broadcasts: the 64-row PQ codebook distance table and "
        "the 3-id query set x probed cells — both O(params), not O(corpus)"
    ),
    "knn_lsh_bucketed": (
        "broadcast side is the 3-row query set hashed to its buckets; the "
        "corpus side stays partitioned — this is the design (bucket-pruned "
        "probe), not an estimate artifact"
    ),
    "knn_lsh_multiprobe": (
        "the 3-id query set exploded over Hamming<=1 probe buckets "
        "((B+1) rows per query) — same bounded class as knn_lsh_bucketed"
    ),
    "knn_pq_adc": (
        "broadcast side is the query-subvector x codeword ADC table "
        "(Q x M x K rows, Q=3, M=8, K=16) — O(params) by construction"
    ),
    "knn_recall_at_k": (
        "broadcasts of the 3-row query set into both the brute and LSH "
        "arms being compared; bounded derivation of the scan"
    ),
}


def main() -> int:
    sf_dir = os.environ.get(
        "SPARK_GRAFT_AUDIT_DIR", os.path.join(REPO, ".localdata", "sf1")
    )
    out_path = sys.argv[1] if len(sys.argv) > 1 else None
    spark = get_spark("broadcast-audit")
    spark.sparkContext.setLogLevel("ERROR")

    results: dict[str, list] = {}
    errors: dict[str, str] = {}
    for name, fn in sorted(entry_mod.queries().items()):
        try:
            flags = audit_plan(fn(spark, sf_dir))
            if flags:
                just = ADJUDICATIONS.get(name)
                for f in flags:
                    f["reviewed"] = just is not None
                    f["justification"] = just
                results[name] = flags
        except Exception as exc:  # guarded baselines refuse sf1 inputs
            errors[name] = str(exc).split("\n")[0][:160]
    summary = {
        "sf_dir": sf_dir,
        "n_queries": len(entry_mod.queries()),
        "n_flagged": len(results),
        "n_unreviewed": sum(
            1 for fl in results.values() for f in fl if not f["reviewed"]
        ),
        "flagged": results,
        "skipped": errors,
    }
    text = json.dumps(summary, indent=1)
    if out_path:
        with open(out_path, "w") as fh:
            fh.write(text + "\n")
    print(text)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
