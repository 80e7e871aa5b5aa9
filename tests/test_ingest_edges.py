"""Ingest edge cases the reference tolerates (SURVEY §1.2):
missing optional/required columns, header-only input."""

from __future__ import annotations

import pytest

from ursa_major_choir_etl_spark.operators.dims import (
    build_dim_chorister,
    build_dim_chorister_assignment,
    build_dim_song,
    chorister_id_by_key,
)
from ursa_major_choir_etl_spark.operators.facts import (
    build_fact_attendance,
    build_fact_song_time,
)
from ursa_major_choir_etl_spark.sources.io import read_wide_sheet_csv


@pytest.fixture()
def csv_dir(tmp_path):
    return tmp_path


def _write(tmp_path, name, content):
    p = tmp_path / name
    p.write_text(content)
    return str(p)


def _read_values(spark, tmp_path, values):
    """Save ``values`` as a Sheets ``values.get`` payload and ingest it
    through the JSON connector."""
    import json

    from ursa_major_choir_etl_spark.sources.io import read_wide_sheet_json

    return read_wide_sheet_json(
        spark, _write(tmp_path, "payload.json", json.dumps({"values": values}))
    )


class TestValuesIngest:
    def test_values_shape_matches_csv_path(self, spark, tmp_path):
        """A saved values payload (Sheets get_values shape) produces
        the dims the CSV path produces for equivalent data."""

        values = [
            ["Tag", "Joined", "tgid", "Who", "16.06.24", "23.06.24"],
            ["Bass", "16.06.24", "tg1", "Иван", "2", None],
            ["Soprano", "23.06.24", None, "Анна", None, "2,5"],
            ["Bass", "16.06.24", "", "Иван", "1", "1"],  # dup name
            ["Song", "", "", "Калинка", "30", ""],
            ["Bass", 45460, None, "Серийный", 2, 2.5],  # non-string cells
        ]
        raw = _read_values(spark, tmp_path, values)
        dc = build_dim_chorister(raw, "TS")
        ids = [r["chorister_id"] for r in dc.orderBy("input_row_id").collect()]
        assert ids == ["Иван", "Анна", "Иван | 16.06.24", "Серийный"]
        fa = build_fact_attendance(raw, chorister_id_by_key(dc), "TS")
        assert fa.count() == 8  # 4 choristers x 2 dates
        anna = fa.filter(
            (fa["chorister_id"] == "Анна") & (fa["rehearsal_date"] == "2024-06-23")
        ).collect()[0]
        assert anna["hours_attended"] == 2.5

    def test_cross_path_equality_on_fixture(self, spark, tmp_path):
        """Feed the SAME fixture through the JSON and CSV ingest paths;
        every builder output must be row-identical (no literals — the
        CSV path itself is the expectation)."""
        import csv

        values = [
            [c if c != "" else None for c in row]
            for row in csv.reader(open("tests/fixtures/raw_wide.csv"))
        ]
        raw_v = _read_values(spark, tmp_path, values)
        raw_c = read_wide_sheet_csv(spark, "tests/fixtures/raw_wide.csv")

        def outputs(raw):
            dc = build_dim_chorister(raw, "TS")
            ds = build_dim_song(raw, "TS")
            return [
                dc.drop("input_row_id"),
                ds.drop("input_row_id", "song_ordinal"),
                build_fact_attendance(raw, chorister_id_by_key(dc), "TS"),
                build_fact_song_time(raw, ds, "TS"),
            ]

        for a, b in zip(outputs(raw_v), outputs(raw_c)):
            assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    def test_hostile_headers(self, spark, tmp_path):
        """None/duplicate/backtick/reserved headers must not crash and
        must not leak phantom date columns (reference skips unusable
        headers; dict index is last-wins for duplicates)."""
        from ursa_major_choir_etl_spark.operators.facts import raw_date_headers

        values = [
            ["Tag", "x`y", "tgid", "Who", "16.06.24", None, "input_row_id", "Tag"],
            ["Bass", "16.06.24", "", "Иван", "2", "99", "7", "LAST-TAG"],
            ["Song", "", "", "Калинка", "30", "55", "1", "Song?"],
        ]
        raw = _read_values(spark, tmp_path, values)
        # duplicate "Tag": last occurrence keeps the name (dict last-wins)
        assert raw.columns.index("Tag") == 7
        # None header and reserved name become placeholders, not dates.
        # The duplicate-Tag column at index 7 IS a positional date
        # column (the reference's index>=4 rule doesn't care about the
        # header text; unparseable headers only drop out of the
        # NORMALIZED date list).
        assert raw_date_headers(raw) == ["16.06.24", "Tag"]
        dc = build_dim_chorister(raw, "TS")
        assert dc.count() == 0  # last-wins Tag values are not chorister tags
        ds = build_dim_song(raw, "TS")
        assert ds.count() == 0
        fst = build_fact_song_time(raw, ds, "TS")
        assert fst.count() == 0

    def test_empty_values(self, spark, tmp_path):
        raw = _read_values(spark, tmp_path, [])
        assert raw.count() == 0


class TestMissingColumns:
    def test_missing_tgid_is_optional(self, spark, csv_dir):
        # reference: tgid_idx None -> "" (etl/dim_chorister.py:96)
        path = _write(
            csv_dir,
            "no_tgid.csv",
            "Tag,Joined,Who,01.06.24\nBass,01.06.24,Иван,2\n",
        )
        raw = read_wide_sheet_csv(spark, path)
        # date columns start at index 4 by contract; with tgid missing
        # the date lands at index 3 and is NOT a date column - that
        # matches the reference's positional rule.
        dc = build_dim_chorister(raw, "TS")
        rows = dc.collect()
        assert len(rows) == 1
        assert rows[0]["tgid"] == ""
        assert rows[0]["chorister_id"] == "Иван"

    def test_missing_required_column_degrades_to_empty(self, spark, csv_dir):
        # reference: Tag/Joined/Who absent -> header-only output
        path = _write(csv_dir, "no_who.csv", "Tag,Joined,tgid,X\nBass,01.06.24,,2\n")
        raw = read_wide_sheet_csv(spark, path)
        assert build_dim_chorister(raw, "TS").count() == 0
        assert build_dim_song(raw, "TS").count() == 0
        assert build_dim_chorister_assignment(raw, build_dim_chorister(raw, "TS")).count() == 0
        keys = chorister_id_by_key(build_dim_chorister(raw, "TS"))
        assert build_fact_attendance(raw, keys, "TS").count() == 0

    def test_header_only_input(self, spark, csv_dir):
        path = _write(
            csv_dir, "header_only.csv", "Tag,Joined,tgid,Who,01.06.24\n"
        )
        raw = read_wide_sheet_csv(spark, path)
        dc = build_dim_chorister(raw, "TS")
        ds = build_dim_song(raw, "TS")
        assert dc.count() == 0
        assert ds.count() == 0
        fa = build_fact_attendance(raw, chorister_id_by_key(dc), "TS")
        assert fa.count() == 0
        fst = build_fact_song_time(raw, ds, "TS")
        assert fst.count() == 0

    def test_no_date_columns(self, spark, csv_dir):
        path = _write(
            csv_dir, "no_dates.csv", "Tag,Joined,tgid,Who\nBass,01.06.24,,Иван\n"
        )
        raw = read_wide_sheet_csv(spark, path)
        dc = build_dim_chorister(raw, "TS")
        assert dc.count() == 1  # dims still build
        fa = build_fact_attendance(raw, chorister_id_by_key(dc), "TS")
        assert fa.count() == 0  # no dates -> empty dense fact


class TestFileOrderIds:
    """Scale-safe input_row_id (SURVEY §7.4 hard-part #1): no global
    single-partition sort, and the same ids at any split count."""

    def test_no_single_partition_exchange(self, spark):
        from ursa_major_choir_etl_spark.sources.io import read_wide_sheet_csv

        df = read_wide_sheet_csv(spark, "tests/fixtures/raw_wide.csv")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange SinglePartition" not in plan
        assert "Window" not in plan

    def test_ids_stable_across_split_counts(self, spark, tmp_path):
        from ursa_major_choir_etl_spark.sources.io import with_file_order_ids

        # A CSV big enough to split: 5000 rows, forced tiny splits.
        p = tmp_path / "big.csv"
        with open(p, "w") as f:
            f.write("k,v\n")
            for i in range(5000):
                f.write(f"key{i:05d},{'x' * 40}\n")

        def ids(max_bytes):
            reader = spark.read.option("header", True)
            old = spark.conf.get("spark.sql.files.maxPartitionBytes")
            spark.conf.set("spark.sql.files.maxPartitionBytes", str(max_bytes))
            try:
                df = reader.csv(str(p))
                out = with_file_order_ids(df)
                n_parts = out.rdd.getNumPartitions()
                rows = {r["k"]: r["input_row_id"] for r in out.collect()}
            finally:
                spark.conf.set("spark.sql.files.maxPartitionBytes", old)
            return n_parts, rows

        parts_one, ids_one = ids(1 << 30)
        parts_many, ids_many = ids(16 * 1024)
        assert parts_one == 1 and parts_many >= 8
        assert ids_many == ids_one
        assert sorted(ids_one.values()) == list(range(5000))

    def test_dims_identical_from_multisplit_read(self, spark, tmp_path, raw):
        """K1/K2/U4 determinism: the dim builders produce identical
        output whether the sheet arrives as 1 split or many."""
        import shutil

        from ursa_major_choir_etl_spark.operators.dims import (
            build_dim_chorister,
            build_dim_song,
        )
        from ursa_major_choir_etl_spark.sources.io import read_wide_sheet_csv

        p = tmp_path / "raw.csv"
        shutil.copyfile("tests/fixtures/raw_wide.csv", p)
        old = spark.conf.get("spark.sql.files.maxPartitionBytes")
        spark.conf.set("spark.sql.files.maxPartitionBytes", "256")
        try:
            raw_many = read_wide_sheet_csv(spark, str(p))
            assert raw_many.rdd.getNumPartitions() > 1
            for build in (build_dim_chorister, build_dim_song):
                a = sorted(map(tuple, build(raw, run_ts="t").collect()))
                b = sorted(map(tuple, build(raw_many, run_ts="t").collect()))
                assert a == b
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", old)


class TestSheetValuesDataSource:
    """The custom Python DataSource (sources/sheets_source.py) behind
    the JSON ingest path."""

    VALUES = [
        ["Tag", "Joined", "tgid", "Who", "1.10.24", None, "8.10.24", "Tag"],
        ["S1", "01.09.24", "123", "Анна С", "1", "x", None],
        ["A2", None, "", "Борис", None, "y", "0,5", "extra", "beyond"],
        [],
        ["T3"],
    ]

    def _dump(self, tmp_path):
        import json, os

        p = os.path.join(str(tmp_path), "payload.json")
        with open(p, "w") as f:
            json.dump({"values": self.VALUES}, f)
        return p

    def test_header_hygiene_and_padding(self, spark, tmp_path):
        """Placeholders for the earlier duplicate and the None header,
        short rows padded with nulls, cells past the header dropped."""
        from ursa_major_choir_etl_spark.sources.io import (
            PLACEHOLDER_PREFIX,
            read_wide_sheet_json,
        )

        df = read_wide_sheet_json(spark, self._dump(tmp_path))
        p = PLACEHOLDER_PREFIX
        assert df.columns == [
            f"{p}0", "Joined", "tgid", "Who", "1.10.24", f"{p}5", "8.10.24", "Tag",
            "input_row_id",
        ]
        got = sorted(map(tuple, df.collect()), key=lambda t: t[-1])
        assert got == [
            ("S1", "01.09.24", "123", "Анна С", "1", "x", None, None, 0),
            ("A2", None, "", "Борис", None, "y", "0,5", "extra", 1),
            (None,) * 8 + (2,),
            ("T3",) + (None,) * 7 + (3,),
        ]

    @pytest.mark.parametrize(
        "n_rows, num_partitions", [(0, 4), (1, 4), (5, 4), (9, 2)],
        ids=["empty", "one-row", "fewer-rows-than-splits", "more-rows-than-splits"],
    )
    def test_splits_cover_each_row_once(self, tmp_path, n_rows, num_partitions):
        """The reader's contiguous ranges emit every payload row exactly
        once, in order, in at most ``numPartitions`` splits (one empty
        split for an empty payload)."""
        import json

        from ursa_major_choir_etl_spark.sources.sheets_source import SheetValuesReader

        values = [[f"r{i}", str(i)] for i in range(n_rows)]
        path = _write(tmp_path, "payload.json", json.dumps({"values": values}))
        reader = SheetValuesReader({"path": path, "numPartitions": str(num_partitions)})
        splits = reader.partitions()
        assert 1 <= len(splits) <= max(min(num_partitions, n_rows), 1)
        assert splits[0].start == 0 and splits[-1].end == n_rows
        assert all(a.end == b.start for a, b in zip(splits, splits[1:]))
        rows = [r for s in splits for r in reader.read(s)]
        assert rows == [(i, v) for i, v in enumerate(values)]

    def test_partitioned_read_same_ids(self, spark, tmp_path):
        from ursa_major_choir_etl_spark.sources.io import read_wide_sheet_json

        p = self._dump(tmp_path)
        one = sorted(map(tuple, read_wide_sheet_json(spark, p, num_partitions=1).collect()), key=lambda t: t[-1])
        many = sorted(map(tuple, read_wide_sheet_json(spark, p, num_partitions=3).collect()), key=lambda t: t[-1])
        assert one == many
        ids = [r[-1] for r in many]
        assert sorted(ids) == list(range(len(self.VALUES) - 1))

    def test_raw_source_schema_and_parallelism(self, spark, tmp_path):
        from ursa_major_choir_etl_spark.sources.sheets_source import register

        register(spark)
        raw = (
            spark.read.format("sheet_values")
            .option("path", self._dump(tmp_path))
            .option("numPartitions", "3")
            .load()
        )
        assert raw.rdd.getNumPartitions() == 3
        assert [f.name for f in raw.schema.fields] == ["input_row_id", "cells"]
        row1 = {r["input_row_id"]: r["cells"] for r in raw.collect()}
        assert row1[2][5] == "y"          # strings preserved
        assert row1[1][6] is None         # None preserved, not padded here
        assert row1[3] == []              # empty row intact
