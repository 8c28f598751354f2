"""Parquet bloom filters for point lookups on a NON-sort column.

The state-history layout sorts by (address, block), so address point
lookups prune via row-group min/max stats (tests/test_plan_quality.py).
This covers the complementary physical gap — a point lookup on a column
the file is NOT sorted by, where min/max is vacuous (every group spans
the whole value domain). Bloom filters written per row group let the
reader skip groups at the FOOTER level, the same class of effect the
reference gets from its page-index seek (reference README.md:37-41).

The assertions read the footers through parquet-mr (the classes Spark's
scan itself uses for row-group filtering), so "skipped" here is the
library's own maybe-contains verdict, not an inference from timings.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from erigon_extract_spark.sources.tables import (
    bloom_row_group_stats,
    write_sorted_parquet,
)


def _addr(i: int) -> str:
    return hashlib.md5(f"addr-{i}".encode()).hexdigest()


@pytest.fixture(scope="module")
def bloom_table(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("bloomtbl")
    # sorted by block; address is hash-random, so every file's address
    # min/max spans ~the whole hex domain and stats CANNOT prune it
    df = spark.range(60_000).select(
        F.col("id").alias("block"),
        F.md5(F.concat(F.lit("addr-"), (F.col("id") % 20_000).cast("string")))
        .alias("address"),
        (F.col("id") * 31 % 997).alias("nonce"),
    )
    df = df.repartitionByRange(6, "block")
    with_bloom = str(d / "with_bloom")
    without = str(d / "without")
    write_sorted_parquet(
        df, with_bloom, ["block"], bloom_cols=["address"], bloom_ndv=20_000,
    )
    write_sorted_parquet(df, without, ["block"])
    return with_bloom, without


def test_every_row_group_carries_a_bloom_filter(spark, bloom_table):
    with_bloom, without = bloom_table
    present = bloom_row_group_stats(spark, with_bloom, "address", _addr(1))
    assert present["row_groups"] >= 6
    assert present["with_bloom"] == present["row_groups"]
    plain = bloom_row_group_stats(spark, without, "address", _addr(1))
    assert plain["with_bloom"] == 0
    # without filters nothing is skippable — maybe_contains is everything
    assert plain["maybe_contains"] == plain["row_groups"]


def test_absent_key_skips_row_groups_at_footer_level(spark, bloom_table):
    with_bloom, _ = bloom_table
    absent = bloom_row_group_stats(
        spark, with_bloom, "address", hashlib.md5(b"never-written").hexdigest()
    )
    skipped = absent["row_groups"] - absent["maybe_contains"]
    # ndv-sized filters put the false-positive rate ~1%; allow one fp
    # group but demand the lookup skips essentially the whole table
    assert skipped >= absent["row_groups"] - 1, absent


def test_present_key_is_never_false_negative(spark, bloom_table):
    with_bloom, _ = bloom_table
    # block-sorted + id%20000 repeats the address across the range, so
    # several groups genuinely contain it; the bloom must flag each
    # containing group (no false negatives) — cross-check against truth
    truth = (
        spark.read.parquet(with_bloom)
        .where(F.col("address") == _addr(7))
        .count()
    )
    assert truth == 3  # 60k rows / 20k distinct addresses
    present = bloom_row_group_stats(spark, with_bloom, "address", _addr(7))
    assert present["maybe_contains"] >= 1


def test_point_lookup_values_unchanged_by_bloom_layout(spark, bloom_table):
    with_bloom, without = bloom_table
    probe = _addr(4242)
    a = sorted(
        (r.block, r.nonce)
        for r in spark.read.parquet(with_bloom)
        .where(F.col("address") == probe)
        .collect()
    )
    b = sorted(
        (r.block, r.nonce)
        for r in spark.read.parquet(without)
        .where(F.col("address") == probe)
        .collect()
    )
    assert a == b and len(a) == 3
