"""Full-registry oracle sweep at an arbitrary scale factor.

The driver's correctness gate runs at sf0.01 and the test suite's
local mirror at sf0.001 (tests/conftest.py) — nothing proved value
correctness at bench scale until this script. It runs every
registered query against its DuckDB oracle at $SPARK_GRAFT_SWEEP_DIR
(default /root/testdata/sf0.1) with the same stricter-than-driver
compare (tests/oracle_harness.compare_query: full sorted stringified
rows, not a hash) and writes one summary JSON whose committed copy is
the recorded evidence (VERDICT r3 ask #3).

Next to each query's ``status`` the summary records ``rows`` and
``digest``: the row count of the Spark output and the md5 of its
canonical row multiset (column-name-sorted cells, rows sorted — the
compare's own canonical form), so the digest does not depend on row
order or partitioning. Two sweeps of the same scale factor taken
before and after a refactor prove it changed no query's output
(``python scripts/oracle_sweep.py --compare A.json B.json``).

Usage:
    python scripts/oracle_sweep.py [out.json]
    python scripts/oracle_sweep.py --compare before.json after.json
    SPARK_GRAFT_SWEEP_DIR=/root/repo/.localdata/sf1 \
        SPARK_GRAFT_SWEEP_ONLY=q1,q2 python scripts/oracle_sweep.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: The documented sf1+ exclusion set (r10, VERDICT r9 ask #7 made it
#: canonical instead of an ad-hoc env var per run): the O(n^2)
#: exactness baselines REFUSE sf1-sized inputs by design
#: (operators/guards.py names the LSH path in the error), and
#: dedup_simhash's ~91.5M-pair sf1 result is uncollectable — its sf1
#: evidence is the separate digest sweep
#: (scripts/sweep_sf1_simhash_digest.py). tests/test_artifact_sync.py
#: asserts the committed ORACLE_SWEEP_sf1 covers exactly
#: registry-minus-this-set, so a stale artifact can't claim coverage.
SF1_SKIP = frozenset(
    {
        "dedup_embedding_cosine",
        "knn_brute_force",
        "dedup_simhash",
    }
)


def _digest(canonical_rows: list[str]) -> str:
    return hashlib.md5("\n".join(canonical_rows).encode()).hexdigest()


def compare(before_path: str, after_path: str) -> int:
    """Print every query whose (rows, digest) differs between two sweeps
    or that only one sweep has; exit 1 if any differ."""
    with open(before_path) as f:
        before = json.load(f)["results"]
    with open(after_path) as f:
        after = json.load(f)["results"]

    def key(sweep: dict, name: str):
        r = sweep.get(name, {})
        return r.get("rows"), r.get("digest")

    differ = []
    for name in sorted(set(before) | set(after)):
        a, b = key(before, name), key(after, name)
        if a != b or a[1] is None:
            differ.append(name)
            print(f"DIFF {name}: before={a} after={b}")
    n_same = len(set(before) | set(after)) - len(differ)
    print(json.dumps({"identical": n_same, "different": differ}))
    return 1 if differ else 0


def main() -> int:
    if sys.argv[1:2] == ["--compare"]:
        return compare(sys.argv[2], sys.argv[3])

    import __spark_entry__ as entry_mod

    from orders_currency_conversion_etl_spark.session import get_spark
    from tests.oracle_harness import compare_query, rows_to_multiset

    sf_dir = os.environ.get("SPARK_GRAFT_SWEEP_DIR", "/root/testdata/sf0.1")
    only = os.environ.get("SPARK_GRAFT_SWEEP_ONLY")
    skip = os.environ.get("SPARK_GRAFT_SWEEP_SKIP")
    out_path = sys.argv[1] if len(sys.argv) > 1 else None

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = sorted(queries)
    if only:
        names = [n for n in names if n in set(only.split(","))]
    if skip == "SF1":
        # the canonical exclusion set — use this (not a hand-typed
        # list) for sf1+ sweeps so the committed artifact matches what
        # tests/test_artifact_sync.py asserts
        names = [n for n in names if n not in SF1_SKIP]
    elif skip:
        names = [n for n in names if n not in set(skip.split(","))]

    spark = get_spark("oracle-sweep")
    spark.sparkContext.setLogLevel("ERROR")

    results: dict[str, dict] = {}
    n_pass = n_fail = 0
    t_start = time.perf_counter()
    for name in names:
        t0 = time.perf_counter()
        try:
            if name in oracles:
                rows = compare_query(spark, sf_dir, queries[name], oracles[name])
                status = "pass"
            else:
                # mirrors the driver's weaker rows-only check for
                # non-SQL-expressible ops
                sdf = queries[name](spark, sf_dir)
                rows = rows_to_multiset([tuple(r) for r in sdf.collect()], sdf.columns)
                status = "pass_rows_only"
            n_pass += 1
        except Exception as ex:  # record and continue: one sweep, full picture
            status = "fail"
            n_fail += 1
            results[name] = {
                "status": status,
                "sec": round(time.perf_counter() - t0, 2),
                "err": f"{type(ex).__name__}: {str(ex)[:400]}",
            }
            print(f"FAIL {name}: {traceback.format_exc()[-600:]}", file=sys.stderr)
            continue
        results[name] = {
            "status": status,
            "rows": len(rows),
            "digest": _digest(rows),
            "sec": round(time.perf_counter() - t0, 2),
        }
        print(f"{status:14s} {results[name]['sec']:7.2f}s  {name}", flush=True)

    summary = {
        "sf_dir": sf_dir,
        "n_queries": len(names),
        "n_pass": n_pass,
        "n_fail": n_fail,
        "total_sec": round(time.perf_counter() - t_start, 1),
        "results": results,
    }
    if out_path:
        with open(out_path, "w") as f:
            json.dump(summary, f, indent=1)
    print(json.dumps({k: v for k, v in summary.items() if k != "results"}))
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
