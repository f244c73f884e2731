"""Hypothesis property tests for the conversion core (SURVEY §5.3):
randomized orders/rates must satisfy the dataflow invariants for EVERY
input, not just the golden fixture.

One Spark job per example is slow, so each example IS a whole batch
(lists of rows), keeping example count low while covering many rows.
"""

from __future__ import annotations

import datetime as dt
import decimal

from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F
from pyspark.sql import types as T

from orders_currency_conversion_etl_spark.operators.convert import convert_orders
from orders_currency_conversion_etl_spark.operators.generate import generate_orders
from orders_currency_conversion_etl_spark.operators.incremental import unprocessed
from orders_currency_conversion_etl_spark.sources.rates import normalize_usd_rates_to_eur, rates_df

CURRENCIES = ["EUR", "USD", "JPY", "GBP", "XXX"]  # XXX never in rates => 1.0 passthrough

_order = st.tuples(
    st.integers(min_value=0, max_value=10_000),  # id
    st.decimals(min_value="0.01", max_value="99999.99", places=2),  # amount
    st.sampled_from(CURRENCIES),
    st.booleans(),  # processed?
)

_orders_batch = st.lists(_order, min_size=1, max_size=40, unique_by=lambda t: t[0])

_rates = st.fixed_dictionaries(
    {
        "USD": st.floats(min_value=0.5, max_value=2.0),
        "JPY": st.floats(min_value=100.0, max_value=200.0),
        "GBP": st.floats(min_value=0.5, max_value=1.5),
    }
)

SRC_SCHEMA = T.StructType(
    [
        T.StructField("order_id", T.StringType()),
        T.StructField("customer_email", T.StringType()),
        T.StructField("order_date", T.TimestampType()),
        T.StructField("amount", T.DecimalType(12, 2)),
        T.StructField("currency", T.StringType()),
        T.StructField("created_at", T.TimestampType()),
        T.StructField("processed_at", T.TimestampType()),
    ]
)

TS = dt.datetime(2026, 1, 1)


def _src_df(spark, batch):
    rows = [
        (
            str(oid),
            f"u{oid}@example.com",
            TS,
            amount,
            cur,
            TS,
            TS if processed else None,
        )
        for oid, amount, cur, processed in batch
    ]
    return spark.createDataFrame(rows, SRC_SCHEMA)


def _rates_df(spark, rates: dict[str, float]):
    return spark.createDataFrame(
        [(c, float(r)) for c, r in rates.items()], "currency string, rate double"
    )


@settings(max_examples=12, deadline=None)
@given(batch=_orders_batch, usd_rates=_rates)
def test_conversion_invariants(spark, batch, usd_rates):
    eur_rates = normalize_usd_rates_to_eur({**usd_rates, "EUR": 1.3})
    out = convert_orders(_src_df(spark, batch), _rates_df(spark, eur_rates), TS).collect()

    unprocessed_rows = {str(oid): (amount, cur) for oid, amount, cur, p in batch if not p}
    # conservation: exactly the unprocessed rows appear, once each
    assert sorted(r.order_id for r in out) == sorted(unprocessed_rows)

    for r in out:
        amount, cur = unprocessed_rows[r.order_id]
        # original columns pass through untouched
        assert r.original_amount == amount and r.original_currency == cur
        if cur == "EUR":
            # EUR identity: unconverted, rate exactly 1
            assert r.amount_eur == amount
            assert r.exchange_rate == decimal.Decimal("1.000000")
        elif cur == "XXX":
            # missing rate => 1.0 passthrough (left join + coalesce)
            assert r.exchange_rate == decimal.Decimal("1.000000")
            assert r.amount_eur == amount
        else:
            # inverse within rounding: amount_eur * rate ≈ amount.
            # two quantizations: amount_eur to 2 dp (±0.005 * rate) and
            # exchange_rate to 6 dp (±5e-7 * amount / rate)
            rate = float(r.exchange_rate)
            back = float(r.amount_eur) * rate
            tol = 0.006 * rate + 6e-7 * float(amount) / rate + 1e-9
            assert abs(back - float(amount)) <= tol


@settings(max_examples=8, deadline=None)
@given(batch=_orders_batch)
def test_incremental_idempotency(spark, batch):
    """unprocessed(src, sink) after appending the result once must be
    empty — re-running the pipeline adds nothing (SURVEY §7.4)."""
    src = _src_df(spark, batch).filter(F.col("processed_at").isNull())
    empty_sink = spark.createDataFrame([], "order_id string")
    first = unprocessed(src, empty_sink, key="order_id")
    assert first.count() == src.count()  # empty sink: everything is new
    sink = first.select("order_id")
    second = unprocessed(src, sink, key="order_id")
    assert second.count() == 0


@settings(max_examples=6, deadline=None)
@given(
    seeds=st.lists(st.integers(min_value=0, max_value=10**6), min_size=2, max_size=2, unique=True),
    n_a=st.integers(min_value=1, max_value=30),
    n_b=st.integers(min_value=1, max_value=30),
)
def test_seeded_batches_drain_exactly_once(spark, seeds, n_a, n_b):
    """Two generator batches from distinct seeds: once batch A is
    converted into the sink, unprocessed(A ∪ B, sink) yields exactly
    B's ids; once those are converted too, it yields nothing."""
    a = generate_orders(spark, n=n_a, seed=seeds[0], base_time=TS)
    b = generate_orders(spark, n=n_b, seed=seeds[1], base_time=TS)
    both = a.unionByName(b)
    rates = rates_df(spark)
    sink = convert_orders(a, rates, TS).select("order_id")
    delta = unprocessed(both, sink)
    assert {r.order_id for r in delta.collect()} == {r.order_id for r in b.collect()}
    sink = sink.unionByName(convert_orders(delta, rates, TS).select("order_id"))
    assert unprocessed(both, sink).count() == 0


# --------------------------------------------------------------------------
# r11 codec properties (driver-side, no Spark): header parsers agree
# with the encoders for arbitrary dims; audio tiers hold their exact /
# bounded-error contracts over the whole input domain.
# --------------------------------------------------------------------------


@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=30),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_dims_parsers_agree_with_encoders(w, h, seed):
    import numpy as np

    from orders_currency_conversion_etl_spark.operators import multimodal as mm

    rgb = bytes(np.random.default_rng(seed).integers(0, 256, w * h * 3, dtype=np.uint8))
    assert mm.ppm_dims(mm.encode_ppm(w, h, rgb)) == (w, h, "RGB")
    assert mm.png_dims(mm.encode_png(w, h, rgb)) == (w, h, "RGB")
    assert mm.jpeg_dims(mm.encode_jpeg(w, h, rgb)) == (w, h, "RGB")
    # and the full decoders report the same dims
    assert mm.decode_png(mm.encode_png(w, h, rgb))[:2] == (w, h)
    assert mm.decode_jpeg(mm.encode_jpeg(w, h, rgb))[:2] == (w, h)


@given(st.lists(st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=64))
@settings(max_examples=60, deadline=None)
def test_wav_float32_roundtrip_exact_for_all_int16(samples):
    import numpy as np

    from orders_currency_conversion_etl_spark.operators import multimodal as mm

    pcm = np.array(samples, dtype="<i2").tobytes()
    assert mm.decode_wav_ex(mm.encode_wav(8000, pcm, fmt="float32"))[4] == pcm


@given(st.integers(min_value=-32768, max_value=32767))
@settings(max_examples=200, deadline=None)
def test_mulaw_quantization_error_bounded(s):
    """G.711 compress/expand: sign preserved, error bounded by one
    mantissa step of the active segment (< 8<<e <= 1024), clip region
    maps to the table extreme."""
    from orders_currency_conversion_etl_spark.operators.multimodal import (
        mulaw_decode_sample,
        mulaw_encode_sample,
    )

    dec = mulaw_decode_sample(mulaw_encode_sample(s))
    clipped = max(-32635, min(32635, s))
    assert abs(dec - clipped) < 1024
    if clipped > 0:
        assert dec >= 0
    elif clipped < 0:
        assert dec <= 0
    # idempotent fixpoint: a decoded value re-encodes to the same code
    assert mulaw_decode_sample(mulaw_encode_sample(dec)) == dec
