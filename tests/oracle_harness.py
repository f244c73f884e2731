"""Local replica of the driver's Spark-vs-DuckDB correctness check.

Stricter than the driver: we compare full sorted stringified rows, not
just a hash — if this passes, the driver's row-count + schema +
order-insensitive value-hash passes too.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math

import duckdb

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def canon(v):
    """Canonicalize a cell so Spark and DuckDB values stringify alike."""
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # shortest repr — identical bits => identical string
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def rows_to_multiset(rows, columns):
    """Column-name-sorted, row-sorted canonical row strings (mirrors the
    driver's order-insensitive compare)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted("|".join(canon(row[i]) for i in order) for row in rows)


def compare_query(spark, sf_dir: str, spark_fn, oracle_sql: str) -> list[str]:
    """Assert the Spark query equals its DuckDB oracle; return the Spark
    side's canonical row multiset (see :func:`rows_to_multiset`)."""
    sdf = spark_fn(spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    con = duck_connection(sf_dir)
    try:
        res = con.execute(oracle_sql)
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
    finally:
        con.close()

    assert sorted(scols) == sorted(dcols), f"columns differ: spark={scols} duck={dcols}"
    assert len(srows) == len(drows), f"row count differs: spark={len(srows)} duck={len(drows)}"

    sset = rows_to_multiset(srows, scols)
    dset = rows_to_multiset(drows, dcols)
    if sset != dset:
        diffs = [(a, b) for a, b in zip(sset, dset) if a != b][:5]
        raise AssertionError(
            f"value mismatch ({sum(a != b for a, b in zip(sset, dset))} rows); first diffs:\n"
            + "\n".join(f"  spark={a}\n  duck ={b}" for a, b in diffs)
        )
    return sset
