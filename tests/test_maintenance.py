"""Table-maintenance utilities: sorted writes, merge upserts and schema
evolution."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from ursa_major_choir_etl_spark.sources.io import overwrite_parquet, read_parquet_table


class TestSortedWrites:
    def test_sort_by_improves_rowgroup_stats(self, spark, tmp_path):
        wh = str(tmp_path)
        # Needs enough data that AQE doesn't coalesce the range
        # repartition into one full-range partition.
        df = spark.range(2_000_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ).repartition(4)
        overwrite_parquet(df, wh, "sorted", sort_by=["k"])
        # each file's k-range should be narrow (sorted within files);
        # verify via parquet footer min/max
        import pyarrow.parquet as pq

        spans = []
        for f in glob.glob(os.path.join(wh, "sorted", "*.parquet")):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(0).statistics
                spans.append(st.max - st.min)
        # range-repartition + local sort: every row group must cover a
        # NARROW slice (<< the full 0..99999 range), not just be
        # locally ordered.
        assert max(spans) < 2_000_000 / 2
        assert read_parquet_table(spark, wh, "sorted").count() == 2_000_000


class TestMergeUpsert:
    def test_partitioned_merge_touches_only_delta_partitions(self, spark, tmp_path):
        from ursa_major_choir_etl_spark.sources.io import merge_upsert

        wh = str(tmp_path)
        base = spark.range(100).select(
            (F.col("id") % 4).cast("string").alias("p"),
            F.col("id").alias("k"),
            F.lit("old").alias("v"),
        )
        base.write.mode("overwrite").partitionBy("p").parquet(
            os.path.join(wh, "t")
        )
        untouched = sorted(
            glob.glob(os.path.join(wh, "t", "p=3", "*.parquet"))
        )
        untouched_mtimes = [os.path.getmtime(f) for f in untouched]

        # delta: update k=0,4 (p=0) and insert k=1000 (p=1)
        updates = spark.createDataFrame(
            [("0", 0, "new"), ("0", 4, "new"), ("1", 1000, "new")],
            "p string, k long, v string",
        )
        n_replaced, n_inserted = merge_upsert(
            spark, wh, "t", updates, key_cols=["k"], partition_col="p"
        )
        assert (n_replaced, n_inserted) == (2, 1)

        after = spark.read.parquet(os.path.join(wh, "t"))
        assert after.count() == 101
        assert after.filter("v = 'new'").count() == 3
        assert after.filter("k = 0").select("v").first()[0] == "new"
        assert after.filter("k = 8").select("v").first()[0] == "old"

        # untouched partition files were not rewritten
        now = sorted(glob.glob(os.path.join(wh, "t", "p=3", "*.parquet")))
        assert now == untouched
        assert [os.path.getmtime(f) for f in now] == untouched_mtimes

    def test_unpartitioned_merge_full_rewrite(self, spark, tmp_path):
        from ursa_major_choir_etl_spark.sources.io import merge_upsert

        wh = str(tmp_path)
        spark.range(10).select(
            F.col("id").alias("k"), F.lit(1).alias("v")
        ).write.mode("overwrite").parquet(os.path.join(wh, "u"))
        updates = spark.createDataFrame([(5, 99), (50, 99)], "k long, v int")
        n_replaced, n_inserted = merge_upsert(
            spark, wh, "u", updates, key_cols=["k"]
        )
        assert (n_replaced, n_inserted) == (1, 1)
        after = spark.read.parquet(os.path.join(wh, "u"))
        assert after.count() == 11
        assert after.filter("k = 5").first()["v"] == 99

    def test_merge_is_idempotent(self, spark, tmp_path):
        from ursa_major_choir_etl_spark.sources.io import merge_upsert

        wh = str(tmp_path)
        spark.range(20).select(
            (F.col("id") % 2).cast("string").alias("p"),
            F.col("id").alias("k"),
            F.lit("old").alias("v"),
        ).write.mode("overwrite").partitionBy("p").parquet(os.path.join(wh, "t"))
        updates = spark.createDataFrame(
            [("0", 2, "new")], "p string, k long, v string"
        )
        for _ in range(2):
            merge_upsert(spark, wh, "t", updates, ["k"], partition_col="p")
        after = spark.read.parquet(os.path.join(wh, "t"))
        assert after.count() == 20
        assert after.filter("v = 'new'").count() == 1


class TestSchemaEvolution:
    def test_merge_schema_reads_added_column(self, spark, tmp_path_factory):
        from ursa_major_choir_etl_spark.sources import io as sio

        wh = str(tmp_path_factory.mktemp("evo"))
        old = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
        old.write.mode("append").parquet(wh + "/t")
        new = spark.createDataFrame(
            [(3, "c", 1.5)], "k long, v string, score double"
        )
        new.write.mode("append").parquet(wh + "/t")

        merged = sio.read_parquet_table(spark, wh, "t", merge_schema=True)
        assert set(merged.columns) == {"k", "v", "score"}
        rows = {r["k"]: r["score"] for r in merged.collect()}
        assert rows[3] == 1.5 and rows[1] is None and rows[2] is None
        assert merged.count() == 3
