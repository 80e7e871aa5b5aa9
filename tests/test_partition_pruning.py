"""Partition-layout pruning levers, asserted against physical plans:

- hive-style partitioned writes (``overwrite_parquet(partition_by=...)``),
  one file per partition value;
- static partition pruning (PartitionFilters from a literal filter);
- dynamic partition pruning (dim-filter join prunes the fact scan at
  runtime via a dynamicpruningexpression subquery).

These set the scan cost of a partitioned 100 TB fact table; SCALE.md
argues them, this file proves they fire on this engine's layouts.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ursa_major_choir_etl_spark.sources.io import overwrite_parquet

SF_DIR = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def part_orders(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").withColumn(
        "o_year", F.year("o_orderdate")
    )
    overwrite_parquet(orders, wh, "orders_by_year", partition_by=["o_year"])
    return os.path.join(wh, "orders_by_year")


@pytest.fixture(scope="module")
def data_years(spark):
    rows = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .select(F.year("o_orderdate").alias("y"))
        .distinct()
        .collect()
    )
    return sorted(r.y for r in rows)


@pytest.fixture(scope="module")
def year_dim(spark, tmp_path_factory, data_years):
    # Parquet-backed (NOT createDataFrame) so the join value is unknown
    # at plan time — a literal dim constant-folds and DPP never fires.
    path = str(tmp_path_factory.mktemp("warehouse") / "dim_year")
    cutoff = data_years[-2]
    spark.createDataFrame(
        [(y, "current" if y >= cutoff else "old") for y in data_years],
        "yr int, era string",
    ).write.mode("overwrite").parquet(path)
    return path, cutoff


class TestHiveLayout:
    def test_dirs_and_file_count(self, spark, part_orders, data_years):
        dirs = sorted(
            d for d in os.listdir(part_orders) if d.startswith("o_year=")
        )
        assert len(dirs) == len(data_years)
        for d in dirs:
            files = [
                f
                for f in os.listdir(os.path.join(part_orders, d))
                if f.endswith(".parquet")
            ]
            assert len(files) == 1  # one file per value, no small-file bomb

    def test_roundtrip_rowcount(self, spark, part_orders):
        n = spark.read.parquet(part_orders).count()
        assert n == spark.read.parquet(f"{SF_DIR}/orders.parquet").count()

class TestStaticPruning:
    def test_literal_filter_reaches_partition_filters(
        self, spark, part_orders, data_years
    ):
        y = data_years[0]
        df = spark.read.parquet(part_orders).filter(f"o_year = {y}")
        plan = plan_of(df)
        assert "PartitionFilters: [isnotnull(o_year" in plan
        assert f"= {y})" in plan
        # and the filter is NOT re-checked as a data filter
        assert "PushedFilters: []" in plan


class TestDynamicPartitionPruning:
    def test_dpp_subquery_in_fact_scan(self, spark, part_orders, year_dim):
        fact = spark.read.parquet(part_orders)
        dim = spark.read.parquet(year_dim[0]).filter("era = 'current'")
        j = fact.join(dim, fact.o_year == dim.yr).groupBy("o_year").agg(
            F.count(F.lit(1)).alias("n")
        )
        assert "dynamicpruningexpression" in plan_of(j)

    def test_dpp_result_matches_unpartitioned(self, spark, part_orders, year_dim):
        fact = spark.read.parquet(part_orders)
        dim = spark.read.parquet(year_dim[0]).filter("era = 'current'")
        got = {
            (r.o_year, r.n)
            for r in fact.join(dim, fact.o_year == dim.yr)
            .groupBy("o_year")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        flat = spark.read.parquet(f"{SF_DIR}/orders.parquet").withColumn(
            "o_year", F.year("o_orderdate")
        )
        want = {
            (r.o_year, r.n)
            for r in flat.filter(f"o_year >= {year_dim[1]}")
            .groupBy("o_year")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert got == want and got

