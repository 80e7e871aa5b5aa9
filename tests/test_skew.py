"""Salting utilities preserve exact semantics on a deliberately skewed
dataset (90% of rows on one key)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ursa_major_choir_etl_spark.operators.skew import salted_aggregate


@pytest.fixture(scope="module")
def skewed(spark):
    # key 0 holds ~90% of 20k rows
    df = spark.range(20000).select(
        F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id") % 100).alias("k"),
        (F.col("id") * 1.5).alias("v"),
        F.col("id").alias("uid"),
    )
    return df.cache()


class TestSaltedAggregate:
    def test_matches_plain_aggregate(self, skewed):
        plain = {
            (r["k"]): (r["s"], r["c"], r["mx"])
            for r in skewed.groupBy("k")
            .agg(
                F.sum("v").alias("s"),
                F.count("v").alias("c"),
                F.max("v").alias("mx"),
            )
            .collect()
        }
        salted = {
            (r["k"]): (r["s"], r["c"], r["mx"])
            for r in salted_aggregate(
                skewed,
                ["k"],
                {"s": ("sum", "v"), "c": ("count", "v"), "mx": ("max", "v")},
                buckets=16,
                spread_col="uid",
            ).collect()
        }
        assert set(plain) == set(salted)
        for k in plain:
            assert abs(plain[k][0] - salted[k][0]) < 1e-6
            assert plain[k][1:] == salted[k][1:]

    def test_partial_phase_spreads_hot_key(self, skewed):
        partial_groups = (
            skewed.withColumn(
                "_salt", F.pmod(F.xxhash64(F.col("uid")), F.lit(16))
            )
            .filter(F.col("k") == 0)
            .select("_salt")
            .distinct()
            .count()
        )
        assert partial_groups == 16  # hot key really fans out
