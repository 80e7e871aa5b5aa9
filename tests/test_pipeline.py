"""EP1 ``run_pipeline`` and EP2 ``build_marts`` end to end on the
raw_wide fixture: audit counts, refresh idempotence, the missing-table
and degraded-sheet paths, a Spark job budget per run, run-to-run
determinism of the concurrent writes, no Python-list DataFrame (so no
Python worker) on either path, equal marts from typed and string-shaped
inputs, and the E4 audit row when a builder fails mid-wave; plus the
overwrite sink's row count and one-file-per-partition layout."""

from __future__ import annotations

import csv
import os
import shutil
import threading
import time
import uuid
import warnings

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DateType

from ursa_major_choir_etl_spark.operators.marts import (
    build_mart_attendance,
    build_mart_chorister_song,
    build_mart_song_rehearsal,
)
from ursa_major_choir_etl_spark.plans import pipeline
from ursa_major_choir_etl_spark.plans.pipeline import (
    MART_INPUT_TABLES,
    build_marts,
    run_pipeline,
)
from ursa_major_choir_etl_spark.sources.io import (
    overwrite_parquet,
    read_parquet_table,
    read_tables,
)

FIXTURE = "tests/fixtures/raw_wide.csv"
AUDITED = {
    "dim_chorister": 8,
    "dim_chorister_assignment": 11,
    "dim_song": 4,
    "fact_attendance": 56,
    "fact_song_time": 12,
}
MARTS = {"mart_attendance": 56, "mart_song_rehearsal": 12, "mart_chorister_song": 49}
TABLES = [*AUDITED, *MARTS, "bad_cells", "etl_log"]
RUN_TS_COLUMNS = {"created_at", "updated_at", "load_ts", "run_ts"}

#: Spark jobs one run may launch on the fixture. The write path costs
#: one job per table (two with a shuffle), the audit counts come from
#: the writes, and unpartitioned tables are read with their footer
#: schema (no inference job); a probe or re-read count() per table
#: breaks the caps. EP1 runs 44 jobs (up to 47 as a session's first
#: EP1) and a refresh 18; the caps keep the headroom they had over the
#: earlier 50 and 18 (19 and 3). The floors catch jobs that escape the
#: run's job group, such as a worker thread that did not inherit it.
EP1_JOB_BUDGET = 69
EP1_JOB_FLOOR = 30
REFRESH_JOB_BUDGET = 21
REFRESH_JOB_FLOOR = 10


def run_in_group(spark, fn, *args, **kwargs):
    """(fn's result, number of Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"test-pipeline-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn(*args, **kwargs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def snapshot(spark, wh, name, skip=frozenset()) -> list[tuple]:
    df = read_parquet_table(spark, wh, name)
    cols = sorted(c for c in df.columns if c not in skip)
    return sorted((tuple(r) for r in df.select(cols).collect()), key=repr)


@pytest.fixture(scope="module")
def ep1(spark, tmp_path_factory):
    """(warehouse, audit row, jobs launched, warnings raised) of one EP1."""
    wh = str(tmp_path_factory.mktemp("ep1") / "warehouse")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        audit, jobs = run_in_group(spark, run_pipeline, spark, FIXTURE, wh)
    return wh, audit, jobs, caught


def raising(message, delay=0.0):
    """A builder stand-in that raises ``message`` after ``delay`` s."""

    def build(*args, **kwargs):
        time.sleep(delay)
        raise RuntimeError(message)

    return build


def forbid_list_frames(monkeypatch):
    """Make ``createDataFrame`` over a Python list or tuple raise. Such a
    frame is a Python-RDD scan: the job that reads it starts the pyspark
    daemon and Python workers."""
    create = SparkSession.createDataFrame

    def guarded(self, data, *args, **kwargs):
        if isinstance(data, (list, tuple)):
            raise AssertionError("createDataFrame over a Python list")
        return create(self, data, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "createDataFrame", guarded)


def latest_date(spark, wh) -> str:
    return read_parquet_table(spark, wh, "fact_attendance").select(
        F.max("rehearsal_date").cast("string")
    ).first()[0]


class TestOverwriteParquet:
    def test_partitioned_write_returns_rows_and_one_file_per_value(self, spark, tmp_path):
        df = spark.range(120).repartition(8).select(
            (F.col("id") % 3).alias("p"), F.col("id").alias("v")
        )
        assert overwrite_parquet(df, str(tmp_path), "t", partition_by=["p"]) == 120
        parts = [d for d in os.listdir(tmp_path / "t") if d.startswith("p=")]
        assert len(parts) == 3
        for part in parts:
            files = [f for f in os.listdir(tmp_path / "t" / part) if f.endswith(".parquet")]
            assert len(files) == 1, (part, files)


class TestRunPipeline:
    def test_audit_counts_match_the_tables(self, spark, ep1):
        wh, audit, *_ = ep1
        assert audit["status"] == "success", audit["error_message"]
        for table, n in AUDITED.items():
            assert audit[f"rows_{table}"] == n
            assert read_parquet_table(spark, wh, table).count() == n
        for table, n in MARTS.items():
            assert read_parquet_table(spark, wh, table).count() == n

    def test_job_budget(self, ep1):
        _, _, jobs, caught = ep1
        assert EP1_JOB_FLOOR <= jobs <= EP1_JOB_BUDGET
        thread_wrapper = os.path.join("pyspark", "util.py")
        assert not [
            str(w.message)
            for w in caught
            if issubclass(w.category, UserWarning) and w.filename.endswith(thread_wrapper)
        ]

    def test_two_runs_write_identical_tables(self, spark, ep1, tmp_path):
        wh, *_ = ep1
        other = str(tmp_path / "warehouse")
        assert run_pipeline(spark, FIXTURE, other)["status"] == "success"
        for table in TABLES:
            assert snapshot(spark, other, table, RUN_TS_COLUMNS) == snapshot(
                spark, wh, table, RUN_TS_COLUMNS
            ), table

    def test_every_plan_compiles(self, spark, tmp_path):
        """With the interpreted fallback off, a plan that Janino cannot
        compile fails the run instead of logging a compile error and
        running without whole-stage codegen."""
        key = "spark.sql.codegen.fallback"
        old = spark.conf.get(key)
        spark.conf.set(key, "false")
        try:
            audit = run_pipeline(spark, FIXTURE, str(tmp_path / "warehouse"))
        finally:
            spark.conf.set(key, old)
        assert audit["status"] == "success", audit["error_message"]

    def test_ep1_and_refresh_start_no_python_worker(self, spark, tmp_path, monkeypatch):
        forbid_list_frames(monkeypatch)
        wh = str(tmp_path / "warehouse")
        audit = run_pipeline(spark, FIXTURE, wh, alerts_enabled=True)
        assert audit["status"] == "success", audit["error_message"]
        rows = build_marts(spark, wh, dates=[latest_date(spark, wh)])
        assert set(rows) == set(MARTS) and all(rows.values())

    def test_sheet_without_who_degrades_to_empty_tables(self, spark, tmp_path, monkeypatch):
        forbid_list_frames(monkeypatch)
        with open(FIXTURE, newline="", encoding="utf-8") as f:
            rows = list(csv.reader(f))
        who = rows[0].index("Who")
        raw = tmp_path / "no_who.csv"
        with open(raw, "w", newline="", encoding="utf-8") as f:
            csv.writer(f).writerows([r[:who] + r[who + 1 :] for r in rows])
        wh = str(tmp_path / "warehouse")

        audit = run_pipeline(spark, str(raw), wh)

        assert audit["status"] == "success", audit["error_message"]
        assert all(audit[f"rows_{t}"] == 0 for t in AUDITED)
        for table in TABLES:
            df = read_parquet_table(spark, wh, table)
            assert df.columns, table
            assert df.count() == (1 if table == "etl_log" else 0), table
        assert "rehearsal_date" in read_parquet_table(spark, wh, "mart_attendance").columns


class TestBuildMarts:
    def test_latest_date_refresh_is_identical(self, spark, ep1):
        wh, *_ = ep1
        before = {t: snapshot(spark, wh, t) for t in MARTS}
        _, jobs = run_in_group(spark, build_marts, spark, wh, dates=[latest_date(spark, wh)])
        assert {t: snapshot(spark, wh, t) for t in MARTS} == before
        assert REFRESH_JOB_FLOOR <= jobs <= REFRESH_JOB_BUDGET

    def test_absent_date_refresh_is_a_no_op(self, spark, ep1):
        wh, *_ = ep1
        before = {t: snapshot(spark, wh, t) for t in MARTS}
        build_marts(spark, wh, dates=["2099-01-01"])
        after = {t: snapshot(spark, wh, t) for t in MARTS}
        assert {t: len(rows) for t, rows in after.items()} == MARTS
        assert after == before

    def test_unparseable_padded_date_refresh_rewrites_its_partition(self, spark, tmp_path):
        # The song mart writes the unparseable header "TBD " as the
        # trimmed partition TBD, so a refresh of TBD must find its facts.
        raw = tmp_path / "padded.csv"
        with open(raw, "w", newline="", encoding="utf-8") as f:
            csv.writer(f).writerows(
                [
                    ["Tag", "Joined", "tgid", "Who", "16.06.24", "TBD "],
                    ["Alto", "16.06.24", "", "Полина Калач", "2", "2"],
                    ["Song", "", "", "Калинка", "30", "45"],
                    ["Song", "", "", "Катюша", "", "20"],
                ]
            )
        wh = str(tmp_path / "warehouse")
        assert run_pipeline(spark, str(raw), wh)["status"] == "success"
        before = snapshot(spark, wh, "mart_song_rehearsal")
        mart = read_parquet_table(spark, wh, "mart_song_rehearsal")
        assert mart.filter(F.col("rehearsal_date") == "TBD").count() == 2

        rows = build_marts(spark, wh, dates=["TBD"])

        assert rows["mart_song_rehearsal"] == 2
        assert snapshot(spark, wh, "mart_song_rehearsal") == before

    def test_typed_and_string_inputs_build_equal_marts(self, spark, ep1):
        """The marts render a DATE rehearsal_date as its ISO string and
        parse a string-typed one (C1); both give the same rows, numbers
        included."""
        wh, *_ = ep1
        typed = dict(zip(MART_INPUT_TABLES, read_tables(spark, wh, MART_INPUT_TABLES)))
        fact = typed["fact_attendance"].schema
        assert isinstance(fact["rehearsal_date"].dataType, DateType)
        strings = {
            t: df.select([F.col(c).cast("string") for c in df.columns])
            for t, df in typed.items()
        }
        inputs = {
            build_mart_attendance: [
                "dim_chorister", "dim_chorister_assignment", "fact_attendance"
            ],
            build_mart_song_rehearsal: ["dim_song", "fact_song_time"],
            build_mart_chorister_song: MART_INPUT_TABLES,
        }
        for build, names in inputs.items():
            from_typed = build(*(typed[n] for n in names))
            from_strings = build(*(strings[n] for n in names))
            assert from_typed.dtypes == from_strings.dtypes, build.__name__
            assert sorted(map(tuple, from_typed.collect()), key=repr) == sorted(
                map(tuple, from_strings.collect()), key=repr
            ), build.__name__

    def test_missing_input_table_is_named(self, spark, ep1, tmp_path):
        wh, *_ = ep1
        copy = str(tmp_path / "warehouse")
        shutil.copytree(wh, copy)
        shutil.rmtree(os.path.join(copy, "fact_song_time"))
        with pytest.raises(RuntimeError, match="Missing required tables") as err:
            build_marts(spark, copy)
        assert "fact_song_time" in str(err.value)
        assert "dim_song" not in str(err.value)


class TestFailedRun:
    """E4 with concurrent waves: a failing builder's siblings finish and
    are counted, no later wave runs, and etl_log gets one failed row."""

    def run_failing(self, spark, tmp_path, monkeypatch, builders):
        for name, build in builders.items():
            monkeypatch.setattr(pipeline, name, build)
        threads = threading.active_count()
        wh = str(tmp_path / "warehouse")
        audit = run_pipeline(spark, FIXTURE, wh)
        assert threading.active_count() == threads
        log = read_parquet_table(spark, wh, "etl_log").collect()
        assert [r.status for r in log] == ["failed"]
        assert log[0].error_message == audit["error_message"]
        assert audit["status"] == "failed"
        return wh, audit

    @pytest.mark.parametrize(
        "builder, counted, siblings, not_started",
        [
            ("build_dim_song", ["dim_chorister"], {}, "fact_attendance"),
            (
                "build_fact_song_time",
                ["dim_chorister", "dim_chorister_assignment", "dim_song", "fact_attendance"],
                {},
                "mart_attendance",
            ),
            (
                "build_mart_song_rehearsal",
                list(AUDITED),
                {"mart_attendance": 56, "mart_chorister_song": 49},
                None,
            ),
        ],
    )
    def test_one_failing_builder_per_wave(
        self, spark, tmp_path, monkeypatch, builder, counted, siblings, not_started
    ):
        wh, audit = self.run_failing(
            spark, tmp_path, monkeypatch, {builder: raising(f"injected {builder} fault")}
        )
        assert f"injected {builder} fault" in audit["error_message"]
        assert {t: audit[f"rows_{t}"] for t in AUDITED} == {
            t: AUDITED[t] if t in counted else 0 for t in AUDITED
        }
        for table, n in siblings.items():
            assert read_parquet_table(spark, wh, table).count() == n, table
        if not_started:
            assert not os.path.exists(os.path.join(wh, not_started))

    def test_two_failures_report_the_first_in_table_order(self, spark, tmp_path, monkeypatch):
        # fact_song_time fails first in time; dim_chorister_assignment
        # comes first in the reference's table order.
        _, audit = self.run_failing(
            spark,
            tmp_path,
            monkeypatch,
            {
                "build_dim_chorister_assignment": raising("assignment fault", delay=1.0),
                "build_fact_song_time": raising("song time fault"),
            },
        )
        assert "assignment fault" in audit["error_message"]
        assert "song time fault" not in audit["error_message"]
        assert audit["rows_fact_attendance"] == AUDITED["fact_attendance"]
