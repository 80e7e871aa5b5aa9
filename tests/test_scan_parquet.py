"""``sources.io.scan_parquet`` and the job-free plan construction it
enables: the footer schema equals Spark's inferred schema on every
case, the fallbacks keep Spark's own inference, ``text.split_count``
probes a bare scan without a job, and building the interactive query
mix over existing artifacts runs no job outside k-means. Plus
``sources.io.local_frame``: driver rows come back as given, in the
given schema, from a LocalRelation that runs no job."""

from __future__ import annotations

import datetime
import decimal
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ursa_major_choir_etl_spark.operators.text import split_count, widen_if_narrow
from ursa_major_choir_etl_spark.sources.io import (
    local_frame,
    read_parquet_table,
    read_tables,
    scan_parquet,
)

from test_round12_ops import SF  # the shared fixture tables


def with_jobs(spark, fn, *args, **kwargs):
    """(fn's result, number of Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"test-scan-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn(*args, **kwargs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def assert_parity(spark, path, footer: bool, merge_schema: bool = False):
    """scan_parquet's schema is Spark's inferred one. With ``footer`` the
    schema comes from the footer and the scan plans without a job; the
    fallbacks keep Spark's inference job."""
    got, jobs = with_jobs(spark, lambda: scan_parquet(spark, path, merge_schema).schema)
    reader = spark.read.option("mergeSchema", "true") if merge_schema else spark.read
    assert got == reader.parquet(path).schema
    assert (jobs == 0) == footer
    return got


class TestSchemaParity:
    @pytest.mark.parametrize("table", sorted(os.listdir(SF)))
    def test_every_fixture_table(self, spark, table):
        assert_parity(spark, os.path.join(SF, table), footer=True)

    def test_spark_written_types_and_metadata(self, spark, tmp_path):
        df = spark.sql(
            """SELECT CAST(1 AS TINYINT) b, CAST(2 AS SMALLINT) s, 3 i, 4L l,
                      CAST(1.5 AS FLOAT) f, 2.5D d, CAST('1.25' AS DECIMAL(10, 2)) dec,
                      TIMESTAMP'2024-01-01 10:00:00' ts, TIMESTAMP_NTZ'2024-01-01 10:00:00' ntz,
                      DATE'2024-01-01' dt, array(1, 2) a, map('k', 1.5D) m,
                      named_struct('x', 1, 'y', array('z')) st, CAST('ab' AS BINARY) bin,
                      true bo, 'text' str"""
        ).withColumn("l", F.col("l").alias("l", metadata={"geometry": "8x64"}))
        path = str(tmp_path / "typed")
        df.write.parquet(path)
        schema = assert_parity(spark, path, footer=True)
        assert schema["l"].metadata == {"geometry": "8x64"}
        assert scan_parquet(spark, path).collect() == spark.read.parquet(path).collect()

    def test_arrow_written_types(self, spark, tmp_path):
        path = str(tmp_path / "arrow.parquet")
        pq.write_table(
            pa.table(
                {
                    "i8": pa.array([1], pa.int8()),
                    "i16": pa.array([2], pa.int16()),
                    "dec": pa.array([decimal.Decimal("1.5")], pa.decimal128(5, 1)),
                    "naive": pa.array([datetime.datetime(2024, 1, 1)], pa.timestamp("us")),
                    "utc": pa.array([datetime.datetime(2024, 1, 1)], pa.timestamp("ms", tz="UTC")),
                    "day": pa.array([datetime.date(2024, 1, 1)], pa.date32()),
                    "big": pa.array(["x"], pa.large_string()),
                    "raw": pa.array([b"\x00"], pa.binary()),
                    "vec": pa.array([[1.0]], pa.list_(pa.float32())),
                    "kv": pa.array([[("k", 1)]], pa.map_(pa.string(), pa.int64())),
                    "rec": pa.array([{"x": 1, "y": [True]}],
                                    pa.struct([("x", pa.int32()), ("y", pa.list_(pa.bool_()))])),
                }
            ),
            path,
        )
        assert_parity(spark, path, footer=True)
        key = "spark.sql.parquet.inferTimestampNTZ.enabled"
        spark.conf.set(key, "true")
        try:
            schema = assert_parity(spark, path, footer=True)
        finally:
            spark.conf.set(key, "false")
        assert schema["naive"].dataType.typeName() == "timestamp_ntz"
        assert schema["utc"].dataType.typeName() == "timestamp"

    def test_nanos_timestamp_falls_back_to_bigint(self, spark, tmp_path):
        path = str(tmp_path / "nanos.parquet")
        pq.write_table(pa.table({"ts": pa.array([1_000], pa.timestamp("ns"))}), path)
        schema = assert_parity(spark, path, footer=False)
        assert schema["ts"].dataType.typeName() == "long"

    def test_unsigned_int_falls_back(self, spark, tmp_path):
        path = str(tmp_path / "unsigned.parquet")
        pq.write_table(pa.table({"u": pa.array([1], pa.uint8())}), path)
        assert_parity(spark, path, footer=False)

    def test_hive_partitioned_mart_falls_back(self, spark, tmp_path):
        path = str(tmp_path / "mart")
        spark.range(6).select(
            F.col("id").alias("v"), F.date_add(F.lit("2024-01-01"), (F.col("id") % 2).cast("int")).alias("rehearsal_date")
        ).write.partitionBy("rehearsal_date").parquet(path)
        schema = assert_parity(spark, path, footer=False)
        assert schema.fieldNames() == ["v", "rehearsal_date"]

    def test_merge_schema_unions_appended_columns(self, spark, tmp_path):
        wh = str(tmp_path)
        spark.range(2).select(F.col("id").alias("a")).write.parquet(os.path.join(wh, "t"))
        spark.range(2).select(F.col("id").alias("a"), F.lit("x").alias("b")).write.mode(
            "append"
        ).parquet(os.path.join(wh, "t"))
        schema = assert_parity(spark, os.path.join(wh, "t"), footer=False, merge_schema=True)
        assert schema.fieldNames() == ["a", "b"]
        assert read_parquet_table(spark, wh, "t", merge_schema=True).schema == schema

    def test_missing_path_raises_and_read_tables_names_every_missing_table(self, spark, tmp_path):
        with pytest.raises(AnalysisException):
            scan_parquet(spark, str(tmp_path / "absent"))
        spark.range(1).write.parquet(str(tmp_path / "present"))
        with pytest.raises(RuntimeError, match="Missing required tables.*: a_gone, z_gone$"):
            read_tables(spark, str(tmp_path), ["z_gone", "present", "a_gone"])


class TestSplitCount:
    """``split_count`` replaces the ``df.rdd.getNumPartitions()`` probe
    for plans without an exchange: same count, same repartition
    decision, no job."""

    def decide(self, spark, path, target):
        """(new, old) decision to widen ``path``'s scan to ``target`` splits."""
        probed, jobs = with_jobs(spark, split_count, scan_parquet(spark, path))
        assert jobs == 0
        old = scan_parquet(spark, path).rdd.getNumPartitions()
        assert probed == old
        return probed < target, old < target

    def test_one_split_file_is_widened(self, spark):
        path = os.path.join(SF, "documents.parquet")
        assert self.decide(spark, path, 4) == (True, True)
        assert widen_if_narrow(scan_parquet(spark, path), 4).rdd.getNumPartitions() == 4

    def test_wide_table_is_left_alone(self, spark, tmp_path):
        path = str(tmp_path / "wide")
        spark.range(800).repartition(8).write.parquet(path)
        splits = scan_parquet(spark, path).rdd.getNumPartitions()
        assert splits > 1
        assert self.decide(spark, path, splits) == (False, False)
        assert self.decide(spark, path, splits + 1) == (True, True)

    def test_adaptive_plan_keeps_the_rdd_probe(self, spark):
        df = spark.range(100).repartition(3)
        assert split_count(df) == df.rdd.getNumPartitions() == 3


#: perfbench's ``query_mix`` pass, in its order, plus q90 (k-means stats).
MIX = ("q94", "q13", "q165", "q18", "q22", "q100", "q03", "q120", "q266", "q231", "q102", "q90")
#: Plan-time jobs of the k-means queries: the seed collect, then four
#: adaptive-execution jobs per collected centroid update (q102 runs 2
#: rounds, q90 3); the last round and q90's final centroids stay lazy.
KMEANS_PLAN_JOBS = {"q102": 5, "q90": 9}


def test_query_mix_plans_run_no_job_outside_kmeans(spark):
    """Once the artifact exists, building each mix plan reads schemas from
    footers only; the k-means driver loops are the one eager part."""
    from ursa_major_choir_etl_spark.caching import release_staged
    from ursa_major_choir_etl_spark.plans.queries import QUERIES, tokens_table

    tokens_table(spark, SF)
    by_short = {name.split("_", 1)[0]: name for name in QUERIES}
    jobs = {}
    for q in MIX:
        _, jobs[q] = with_jobs(spark, QUERIES[by_short[q]], spark, SF)
        release_staged()
    assert jobs == {q: KMEANS_PLAN_JOBS.get(q, 0) for q in MIX}


class TestLocalFrame:
    DDL = "name string, n int, big long, dates array<string>"
    ROWS = [
        ('Мария "Маша" Дидуренко', 1, 2**40, ["2024-06-16"]),
        ("Полина 'Калач'", None, -(2**62), []),
        (None, -7, None, None),
        ("", 0, 0, ["", None]),
    ]

    def test_rows_come_back_as_given_in_the_schema(self, spark):
        df = local_frame(spark, self.ROWS, self.DDL)
        assert df.schema == StructType.fromDDL(self.DDL)
        assert [tuple(r) for r in df.collect()] == self.ROWS

    @pytest.mark.parametrize("as_struct", [False, True])
    def test_empty_rows_keep_the_schema(self, spark, as_struct):
        schema = StructType.fromDDL(self.DDL) if as_struct else self.DDL
        df = local_frame(spark, [], schema)
        assert df.schema == StructType.fromDDL(self.DDL)
        assert df.collect() == []

    def test_plans_a_local_relation_and_runs_no_job(self, spark):
        def build_and_collect():
            df = local_frame(spark, self.ROWS, self.DDL)
            plan = df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()
            return plan, df.collect()

        (plan, rows), jobs = with_jobs(spark, build_and_collect)
        assert plan == "LocalRelation"
        assert len(rows) == len(self.ROWS)
        assert jobs == 0
