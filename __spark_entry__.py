"""The engine's query contract: ``entry``, ``queries``, ``oracle_sql``.

``entry(spark)`` returns a smoke-check DataFrame; ``queries()[name]``
is a function ``(spark, sf_dir) -> DataFrame`` checked at sf=0.01
against ``oracle_sql()[name]`` run by DuckDB (row count + schema +
order-insensitive value hash).

All real logic lives in ``orders_currency_conversion_etl_spark``; each
query is a ``@query`` registration in its home module — ``plans/``
for the relational, analytic, report, behaviour and graph families,
``operators/`` for archive, layout, multimodal, dedup, similarity,
sketch, text and curation operators, ``streaming/`` for the queue
and stream queries. This module imports those modules for their
registration side effects and adapts the registry to the contract.

Ordering rule for ``queries()``: the ``ANCHORS`` first (one canonical
query per operator family), then every other query in registration
order (module import order below, then definition order within each
module).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# Make the repo importable for THIS process and for Spark's Python
# workers (the pyspark daemon inherits PYTHONPATH at first-UDF time;
# driver-side sys.path alone is invisible to workers when the driver
# runs from another cwd).
_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)
if _REPO_ROOT not in os.environ.get("PYTHONPATH", ""):
    os.environ["PYTHONPATH"] = _REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")

from pyspark.sql import DataFrame, SparkSession

from orders_currency_conversion_etl_spark.plans import registry

# Importing submodules for their @query registration side effects.
from orders_currency_conversion_etl_spark.plans import relational  # noqa: F401
from orders_currency_conversion_etl_spark.plans import relational_ext  # noqa: F401
from orders_currency_conversion_etl_spark.plans import analytics  # noqa: F401
from orders_currency_conversion_etl_spark.plans import reports  # noqa: F401
from orders_currency_conversion_etl_spark.plans import behavior  # noqa: F401
from orders_currency_conversion_etl_spark.plans import graph  # noqa: F401
from orders_currency_conversion_etl_spark.operators import (  # noqa: F401
    archive as _archive,
    curation as _curation,
    dedup as _dedup,
    layout as _layout,
    merge as _merge,
    mixing as _mixing,
    similarity as _similarity,
    sketches as _sketches,
    skew as _skew,
    text as _text,
    multimodal as _multimodal,
)
from orders_currency_conversion_etl_spark.functions import pandas_fn as _pandas_fn  # noqa: F401
from orders_currency_conversion_etl_spark.streaming import attribution as _attribution  # noqa: F401
from orders_currency_conversion_etl_spark.streaming import dedup_stream as _dedup_stream  # noqa: F401
from orders_currency_conversion_etl_spark.streaming import events_stream as _events_stream  # noqa: F401
from orders_currency_conversion_etl_spark.streaming import file_queue as _file_queue  # noqa: F401

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from orders_currency_conversion_etl_spark.session import tune_existing

    tune_existing(spark)
    return registry.QUERIES["flagship_conversion"](spark, SMOKE_SF_DIR)


#: One canonical query per operator family (SURVEY.md §2); they lead
#: ``queries()`` so a check that samples its head sees every family.
ANCHORS = [
    # flagship ETL + incremental (S6/P*/J1-J3/F1-F4)
    "flagship_conversion",
    "incremental_unprocessed",
    # window family (W1-W2)
    "window_running_total",
    # as-of join (J4)
    "join_asof_rates",
    # streaming batch twin (T1)
    "events_hourly_stats",
    # TPC-H representative (the r2/r3 q6 drift watch)
    "tpch_q6_forecast_revenue",
    # graph
    "pagerank_parts",
    # L1 dedup
    "dedup_minhash_lsh",
    # L2 similarity
    "knn_lsh_bucketed",
    # L4 multimodal
    "multimodal_features",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query, ordered by the rule in the module docstring."""
    ordered = {name: registry.QUERIES[name] for name in ANCHORS}
    for name, fn in registry.QUERIES.items():
        ordered.setdefault(name, fn)
    return ordered


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted => rows-only).

    Oracles are finalized with the cross-engine boundary convention:
    compared DECIMAL columns cast to DOUBLE, HUGEINT sums to BIGINT —
    mirroring the boundary_cast applied to every Spark-side query."""
    return registry.finalized_oracles()
