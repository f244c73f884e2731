"""Format round-trips: a table written to CSV / JSON Lines / ORC must
read back value-identical under the declared schema — no inference,
no timezone drift, no silent NULLs."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import types as T

from orders_currency_conversion_etl_spark import schemas
from orders_currency_conversion_etl_spark.plans.walk import expressions, nodes
from orders_currency_conversion_etl_spark.sources import catalog, formats

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("table", ["orders", "documents"])
def test_csv_round_trip(spark, table):
    src = catalog.load_table(spark, SF, table)
    # CSV has no NULL-vs-empty-string distinction and chokes on
    # embedded newlines unless multiLine; documents.text exercises the
    # quoting path with commas/quotes in real text.
    with tempfile.TemporaryDirectory() as d:
        formats.write_csv(src, d + "/t")
        back = formats.read_csv(spark, d + "/t", schemas.TABLES[table])
        assert _rows(back) == _rows(src)


@pytest.mark.parametrize("table", ["orders", "events"])
def test_jsonl_round_trip(spark, table):
    src = catalog.load_table(spark, SF, table)
    with tempfile.TemporaryDirectory() as d:
        formats.write_jsonl(src, d + "/t")
        back = formats.read_jsonl(spark, d + "/t", schemas.TABLES[table])
        assert _rows(back) == _rows(src)


def test_orc_round_trip_preserves_schema(spark):
    src = catalog.load_table(spark, SF, "lineitem")
    with tempfile.TemporaryDirectory() as d:
        formats.write_orc(src, d + "/t")
        back = formats.read_orc(spark, d + "/t")
        assert back.schema == src.schema
        assert _rows(back) == _rows(src)


def test_ingest_one_hop_partitions_for_pruning(spark):
    src = catalog.load_table(spark, SF, "orders")
    with tempfile.TemporaryDirectory() as d:
        formats.write_csv(src, d + "/landing")
        landed = formats.read_csv(spark, d + "/landing", schemas.TABLES["orders"])
        formats.to_parquet(landed, d + "/lake", partition_by=["o_orderstatus"])
        back = spark.read.parquet(d + "/lake")
        assert back.count() == src.count()
        (scan,) = nodes(back.filter(back.o_orderstatus == "F"), "FileSourceScanExec")
        pf = expressions(scan.partitionFilters())
        assert "o_orderstatus" in {e.name() for c, e in pf if c == "AttributeReference"}


def test_failfast_surfaces_malformed_rows(spark):
    with tempfile.TemporaryDirectory() as d:
        with open(d + "/bad.csv", "w") as f:
            f.write("o_orderkey,o_custkey\n1,2\nnot_a_number,3\n")
        schema = T.StructType(
            [
                T.StructField("o_orderkey", T.LongType()),
                T.StructField("o_custkey", T.LongType()),
            ]
        )
        with pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
            formats.read_csv(spark, d + "/bad.csv", schema).collect()


def test_sorted_layout_files_have_disjoint_key_ranges(spark, tmp_path):
    """write_sorted_layout must yield files whose key ranges don't
    overlap — the precondition for parquet min/max skipping."""
    from pyspark.sql import functions as F

    from orders_currency_conversion_etl_spark.sources.catalog import load_table
    from orders_currency_conversion_etl_spark.sources.sinks import write_sorted_layout

    out = str(tmp_path / "orders_sorted")
    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    write_sorted_layout(orders, out, "o_orderkey", n_files=4)

    ranges = (
        spark.read.parquet(out)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    assert len(ranges) >= 2
    for prev, nxt in zip(ranges, ranges[1:]):
        assert prev["hi"] < nxt["lo"], "file key ranges overlap — no skipping possible"

    # and a selective range read must touch a strict subset of files
    lo = ranges[0]["lo"]
    hit = spark.read.parquet(out).filter(F.col("o_orderkey") <= lo)
    assert hit.count() >= 1


def test_compaction_reduces_file_count(spark, tmp_path):
    from orders_currency_conversion_etl_spark.sources.catalog import load_table
    from orders_currency_conversion_etl_spark.sources.sinks import compact_small_files

    frag = str(tmp_path / "fragmented")
    out = str(tmp_path / "compacted")
    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    orders.repartition(64).write.parquet(frag)  # simulate small-file explosion
    import glob

    assert len(glob.glob(frag + "/*.parquet")) == 64
    n = compact_small_files(spark, frag, out, target_file_bytes=1 * 1024 * 1024)
    files = glob.glob(out + "/*.parquet")
    assert len(files) == n and n < 64
    assert spark.read.parquet(out).count() == orders.count()
