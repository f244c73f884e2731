"""Seeded input generators for the benchmark.

Two generators, both pure functions of their seed:

- :func:`write_analytic_tables` writes the ten TPC-H-ish tables the
  registered queries read (region, nation, customer, supplier, part,
  orders, lineitem, events, documents, embeddings), with the column
  names, types and value domains of the engine's test fixtures, at a
  chosen scale;
- :class:`OrderStream` yields batches of source orders in the shape the
  conversion dataflow consumes (``schemas.ORDERS_SRC``).

The package's own ``operators.generate.generate_orders`` is not used:
its ``order_id`` is ``md5(id)`` whatever the seed, so batches generated
with different seeds share their keys and the incremental anti-join
drops all but the first (see NOTES.md).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from orders_currency_conversion_etl_spark.sources.rates import (
    DEFAULT_EUR_RATES,
    UNLISTED_CURRENCIES,
)

#: Currency draw weights: a fifth EUR (passthrough), a tenth codes
#: absent from the rates table (rate 1.0 fallback), the rest codes with a
#: rate, so the stream covers every conversion path the engine has.
CURRENCIES = ("EUR", *(c for c in DEFAULT_EUR_RATES if c != "EUR"), *UNLISTED_CURRENCIES)
_N_LISTED = len(DEFAULT_EUR_RATES) - 1
_CURRENCY_P = np.array(
    [0.2] + [0.7 / _N_LISTED] * _N_LISTED + [0.1 / len(UNLISTED_CURRENCIES)] * len(UNLISTED_CURRENCIES)
)

#: Share of landed orders that arrive already stamped ``processed_at``;
#: the conversion filter must skip them.
PREPROCESSED_FRAC = 0.05

#: Fixed clock for generated timestamps: inputs never depend on
#: wall-clock time.
EPOCH = dt.datetime(2026, 1, 1)

ORDERS_SRC_SCHEMA = pa.schema(
    [
        pa.field("order_id", pa.string(), nullable=False),
        pa.field("customer_email", pa.string()),
        pa.field("order_date", pa.timestamp("us", tz="UTC")),
        pa.field("amount", pa.decimal128(12, 2)),
        pa.field("currency", pa.string()),
        pa.field("created_at", pa.timestamp("us", tz="UTC")),
        pa.field("processed_at", pa.timestamp("us", tz="UTC")),
    ]
)


class OrderStream:
    """Batches of source orders with ``order_id``s unique across the
    whole stream: each id is a UUID-formatted string whose last 48 bits
    are the row's sequence number in the stream, so uniqueness holds by
    construction, not by chance."""

    def __init__(self, seed: int):
        self._rng = np.random.default_rng([seed, 0xC0DE])
        self._next = 0

    def batch(self, n: int) -> pa.Table:
        rng = self._rng
        seq = np.arange(self._next, self._next + n, dtype=np.int64)
        self._next += n
        hi = rng.integers(0, 2**63, size=n, dtype=np.int64)
        ids = [
            f"{h >> 31 & 0xFFFFFFFF:08x}-{h >> 15 & 0xFFFF:04x}-4{h & 0xFFF:03x}-"
            f"{0x8000 | s >> 48 & 0x3FFF:04x}-{s & 0xFFFFFFFFFFFF:012x}"
            for h, s in zip(hi.tolist(), seq.tolist())
        ]
        emails = [f"x{k}@example.com" for k in rng.integers(1000, 10000, size=n).tolist()]
        week_us = 7 * 86_400 * 1_000_000
        base_us = int(EPOCH.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
        order_us = base_us - rng.integers(0, week_us, size=n)
        created_us = order_us + rng.integers(0, 3_600_000_000, size=n)
        cents = rng.integers(1_000, 100_001, size=n)  # 10.00 .. 1000.00
        currency = rng.choice(len(CURRENCIES), size=n, p=_CURRENCY_P)
        done = rng.random(n) < PREPROCESSED_FRAC
        processed = pa.array(
            np.where(done, created_us + 60_000_000, 0), type=pa.int64(), mask=~done
        ).cast(pa.timestamp("us", tz="UTC"))
        return pa.Table.from_arrays(
            [
                pa.array(ids, pa.string()),
                pa.array(emails, pa.string()),
                pa.array(order_us, pa.int64()).cast(pa.timestamp("us", tz="UTC")),
                _cents_to_decimal(cents),
                pa.array([CURRENCIES[i] for i in currency.tolist()], pa.string()),
                pa.array(created_us, pa.int64()).cast(pa.timestamp("us", tz="UTC")),
                processed,
            ],
            schema=ORDERS_SRC_SCHEMA,
        )


def _cents_to_decimal(cents: np.ndarray) -> pa.Array:
    import decimal

    return pa.array(
        [decimal.Decimal(int(c)).scaleb(-2) for c in cents.tolist()], pa.decimal128(12, 2)
    )


def write_table(table: pa.Table, path: str) -> None:
    """Write ``table`` to ``path`` so it appears whole or not at all."""
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


# --------------------------------------------------------------------------
# Analytic tables
# --------------------------------------------------------------------------

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_COLORS = ("red", "blue", "green", "small", "large", "steel", "brass", "black")
_NOUNS = ("ring", "widget", "bolt", "gear", "pipe", "valve", "panel", "spring")
_PART_TYPES = ("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_LANGS = ("en", "es", "zh", "de", "fr")
_LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
_WORDS = (
    "a the data query small row slow fast filter value sort hash stream batch "
    "big group order column part table join window agg line customer spark "
    "merge key scan vector"
).split()
_EMBED_DIM = 64
_N_LABELS = 10


def _ts(days_or_us: np.ndarray, unit: str) -> pa.Array:
    return pa.array(days_or_us.astype(np.int64), pa.int64()).cast(pa.timestamp(unit))


def _unique_cents(rng: np.random.Generator, n: int, lo: int, hi: int) -> np.ndarray:
    """``n`` distinct cent amounts in [lo, hi): ties in money columns
    would make top-k outputs depend on tie-breaking."""
    out = np.unique(rng.integers(lo, hi, size=n + n // 10 + 16))
    while out.size < n:
        out = np.unique(np.concatenate([out, rng.integers(lo, hi, size=n)]))
    return rng.permutation(rng.choice(out, size=n, replace=False))


def analytic_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The ten tables at ``scale`` (1.0 = 150k customers, 1.5M orders)."""
    rng = np.random.default_rng([seed, 0x7AB1E])
    n_cust = max(int(150_000 * scale), 50)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 100)
    n_orders = max(int(1_500_000 * scale), 500)
    n_events = max(int(1_000_000 * scale), 500)
    n_users = max(n_cust // 10, 10)
    n_docs = max(int(50_000 * scale), 100)
    n_vecs = max(int(50_000 * scale), 100)
    t = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(_REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _unique_cents(rng, n_cust, -99_999, 1_000_000) / 100.0,
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust).tolist()],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _unique_cents(rng, n_supp, -99_999, 1_000_000) / 100.0,
        }
    )
    pk = np.arange(n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": [
                f"{_COLORS[a]} {_NOUNS[b]}"
                for a, b in zip(rng.integers(0, 8, n_part).tolist(), rng.integers(0, 8, n_part).tolist())
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part).tolist()],
            "p_type": [_PART_TYPES[i] for i in rng.integers(0, 6, n_part).tolist()],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    day0 = (dt.date(1995, 1, 1) - dt.date(1970, 1, 1)).days
    span = (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days
    odate = day0 + rng.integers(0, span + 1, n_orders)
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders).tolist()],
            "o_totalprice": _unique_cents(rng, n_orders, 100_000, 50_000_000) / 100.0,
            "o_orderdate": _ts(odate * 86_400_000_000, "us"),
            "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_orders).tolist()],
        }
    )
    # Poisson(4) lines per order, as in the fixtures: about 2% of
    # orders have none, and a few have over ten.
    lines = rng.poisson(4.0, n_orders)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_orders), lines)
    lnum = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(lnum, pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _unique_cents(rng, n_li, 90_000, 10_500_000) / 100.0,
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li).tolist()],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li).tolist()],
            "l_shipdate": _ts((day0 + 1 + rng.integers(0, span + 95, n_li)) * 86_400_000_000, "us"),
        }
    )
    ev_base = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    ev_ts = ev_base + np.sort(rng.choice(30 * 86_400 * 1_000_000, size=n_events, replace=False))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": _ts(ev_ts, "us"),
            "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
            "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_events).tolist()],
            "value": np.round(rng.exponential(60.0, n_events) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events).tolist()],
        }
    )
    texts = []
    for n_words in rng.integers(8, 90, n_docs).tolist():
        texts.append(" ".join(_WORDS[i] for i in rng.integers(0, len(_WORDS), n_words).tolist()))
    # Plant near-duplicates: a tenth of the documents copy an earlier one
    # with one word changed, so the dedup queries have pairs to find.
    for i in np.flatnonzero(rng.random(n_docs) < 0.1).tolist():
        if i == 0:
            continue
        words = texts[int(rng.integers(0, i))].split()
        words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        texts[i] = " ".join(words)
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": [_LANGS[i] for i in rng.choice(5, size=n_docs, p=_LANG_P).tolist()],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    centroids = rng.normal(0.0, 0.1, (_N_LABELS, _EMBED_DIM))
    labels = rng.integers(0, _N_LABELS, n_vecs)
    vecs = (centroids[labels] + rng.normal(0.0, 0.05, (n_vecs, _EMBED_DIM))).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), _EMBED_DIM).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_analytic_tables(seed: int, scale: float, out_dir: str) -> int:
    """Write the ten tables as ``<out_dir>/<name>.parquet``; returns the
    total row count."""
    os.makedirs(out_dir, exist_ok=True)
    rows = 0
    for name, table in analytic_tables(seed, scale).items():
        write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows += table.num_rows
    return rows
