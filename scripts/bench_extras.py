"""Bench-scale timings for tracked queries outside the headline bench.

bench.py keeps a stable headline query set so totals stay comparable
across rounds; this script records the cost of the other tracked
operators (decode tiers, queue drains, archive and container walks)
at bench scale. Protocol: each query is warmed once, then timed as the
best of two noop-sink writes, at sf0.1 ($SPARK_GRAFT_SF_DIR) and,
when generated, .localdata/sf1. The run also times the queue drain in its fixed
4-partition x 8-segment topology and the dims-only vs full-decode
pairs over the same payloads. Writes BENCH_EXTRAS_r<ROUND>.json in
the ``{"timings": {"name@sf": sec}}`` format that
tests/test_perf_gate.py gates against the best committed round.

Run from the repo root on a quiet rig:
    python scripts/bench_extras.py ROUND
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__  # noqa: F401,E402  (registers every query)

from orders_currency_conversion_etl_spark.operators import multimodal as mm  # noqa: E402
from orders_currency_conversion_etl_spark.plans import registry  # noqa: E402
from orders_currency_conversion_etl_spark.session import get_spark  # noqa: E402
from orders_currency_conversion_etl_spark.sources import catalog  # noqa: E402

#: The tracked series, in the order their first points were recorded.
QUERIES = [
    "multimodal_png_decode",
    "multimodal_jpeg_decode",
    "multimodal_audio_decode",
    "incremental_unprocessed_at_scale",
    "queue_backfill_slice",
    "queue_roundtrip_convert",
    "multimodal_mp4_dims",
    "archive_zip_members",
    "queue_compacted_drain",
    "queue_lag_report",
    "archive_gzip_members",
    "archive_warc_gz_index",
    "lake_rowgroup_stats",
    "queue_source_roundtrip",
    "multimodal_gif_decode",
    "multimodal_png_palette_decode",
    "multimodal_video_dims",
    "archive_warc_gz_fetch",
    "multimodal_audio_info",
    "multimodal_image_dims",
]

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

SFS = [
    ("sf0.1", SF_DIR),
    ("sf1", os.path.join(REPO, ".localdata", "sf1")),
]


def _dims_only(spark, sf_dir: str, payload_builder):
    docs = catalog.load_table(spark, sf_dir, "documents")
    return mm.decode_images(payload_builder(docs))


def _full_decode(spark, sf_dir: str, payload_builder):
    """decode_image_pixels over the same payloads, dims projected out —
    identical output shape to the dims path, full entropy cost."""
    import pandas as pd

    docs = catalog.load_table(spark, sf_dir, "documents")

    def _batches(batches):
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, mode, _pixels = mm.decode_image_pixels(bytes(payload))
                rows.append((doc_id, w, h, mode))
            yield pd.DataFrame(rows, columns=["doc_id", "width", "height", "mode"])

    return payload_builder(docs).mapInPandas(_batches, schema=mm.IMAGE_SCHEMA)


EXTRA_PATHS = {
    "decode_images_dims_png": lambda s, d: _dims_only(s, d, mm.with_png_payload),
    "decode_images_full_png": lambda s, d: _full_decode(s, d, mm.with_png_payload),
    "decode_images_dims_jpeg": lambda s, d: _dims_only(s, d, mm.with_jpeg_payload),
    "decode_images_full_jpeg": lambda s, d: _full_decode(s, d, mm.with_jpeg_payload),
}


def _time(fn, spark, sf_dir: str) -> float:
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
    best = float("inf")
    for _ in range(2):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def _drain(spark, sf_dir: str, n_parts: int, segs_per_part: int, mft: int) -> float:
    """Stage sf orders into (n_parts x segs_per_part) queue segments and
    time an availableNow drain through the flagship conversion join;
    the drained total must equal the batch twin over the same
    segments."""
    import tempfile

    from pyspark.sql import functions as F

    from orders_currency_conversion_etl_spark.operators.convert import (
        convert_orders,
        orders_src_from_tpch,
    )
    from orders_currency_conversion_etl_spark.plans.registry import CONVERSION_TIME
    from orders_currency_conversion_etl_spark.sources.rates import rates_df
    from orders_currency_conversion_etl_spark.streaming.file_queue import queue_append
    from orders_currency_conversion_etl_spark.streaming.orders_stream import convert_stream

    with tempfile.TemporaryDirectory() as work:
        q_dir = os.path.join(work, "queue")
        orders = catalog.load_table(spark, sf_dir, "orders")
        chunk = ((F.col("o_orderkey") - F.col("o_orderkey") % n_parts) / n_parts % segs_per_part).cast("int")
        for part in range(n_parts):
            sub = orders.filter(F.col("o_orderkey") % n_parts == part)
            for seq in range(segs_per_part):
                queue_append(sub.filter(chunk == seq), q_dir, part)
        schema = spark.read.parquet(os.path.join(q_dir, "partition=0")).schema
        counts = []
        t0 = time.perf_counter()
        q = (
            convert_stream(
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", mft)
                .parquet(os.path.join(q_dir, "partition=*")),
                spark,
                CONVERSION_TIME,
            )
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, bid: counts.append(df.count()))
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        sec = time.perf_counter() - t0
        staged = spark.read.schema(schema).parquet(os.path.join(q_dir, "partition=*"))
        batch_n = convert_orders(
            orders_src_from_tpch(staged), rates_df(spark), CONVERSION_TIME
        ).count()
        assert sum(counts) == batch_n, (sum(counts), batch_n)
        return round(sec, 3)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("round", type=int, help="round number for the output file name")
    args = ap.parse_args()

    spark = get_spark("bench-extras")
    spark.sparkContext.setLogLevel("ERROR")
    timings: dict[str, float] = {}
    timings["queue_convert_drain@sf0.1"] = _drain(spark, SF_DIR, 4, 8, 4)
    for sf_label, sf_dir in SFS:
        if not os.path.isdir(sf_dir):
            print(f"skip {sf_label}: {sf_dir} missing", file=sys.stderr)
            continue
        for name in QUERIES:
            timings[f"{name}@{sf_label}"] = _time(registry.QUERIES[name], spark, sf_dir)
        for name, fn in EXTRA_PATHS.items():
            timings[f"{name}@{sf_label}"] = _time(fn, spark, sf_dir)

    scaling = {}
    for key in sorted({k.rsplit("@", 1)[0] for k in timings}):
        a, b = timings.get(f"{key}@sf0.1"), timings.get(f"{key}@sf1")
        if a and b:
            scaling[key] = round(b / a, 2)
    out = {
        "round": args.round,
        "load_avg_1m": round(os.getloadavg()[0], 1),
        "timings": timings,
        "sf1_scaling": scaling,
    }
    with open(os.path.join(REPO, f"BENCH_EXTRAS_r{args.round}.json"), "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
