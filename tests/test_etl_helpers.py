"""Unit checks of the choir ETL's building blocks: the scalar column
functions (reference C5/C8/K3/C9), header hygiene, the chorister
dimension's row filters and id rules (F1-F3, K1, K5), the as-of
assignment join (J2) and the alert engine's input normalisation (F4,
W1). The end-to-end tests in test_pipeline.py see these only through
the fixture sheet; here each rule gets its edge cases."""

from __future__ import annotations

import math
from datetime import date

from ursa_major_choir_etl_spark.functions.columns import (
    date_iso,
    normalize_name,
    safe_str,
    voice_part_and_active,
)
from ursa_major_choir_etl_spark.operators.analytics import (
    normalize_available_rows,
    window_start,
)
from ursa_major_choir_etl_spark.operators.dims import (
    chorister_rows,
    normalized_to_chorister_id,
    song_rows,
    with_chorister_id,
)
from ursa_major_choir_etl_spark.operators.marts import asof_assignment
from ursa_major_choir_etl_spark.sources.io import (
    INPUT_ROW_ID,
    PLACEHOLDER_PREFIX,
    append_parquet,
    clean_header,
    has_required_columns,
)


def _one_col(spark, values, ddl="v string"):
    return spark.createDataFrame([(v,) for v in values], ddl)


def _apply(spark, fn, values, ddl="v string"):
    """fn(col) over each value, in input order."""
    rows = _one_col(spark, values, ddl).select(fn("v").alias("out")).collect()
    return [r["out"] for r in rows]


class TestScalarColumns:
    def test_safe_str_trims_and_blanks_null(self, spark):
        assert _apply(spark, safe_str, ["  x ", None, "", "a b"]) == [
            "x",
            "",
            "",
            "a b",
        ]
        assert _apply(spark, safe_str, [5, None], "v int") == ["5", ""]

    def test_date_iso_keeps_first_ten_chars(self, spark):
        got = _apply(
            spark, date_iso, ["2024-03-05T10:00:00", "  2024-03-05 ", "", None, "  "]
        )
        assert got == ["2024-03-05", "2024-03-05", "", "", ""]

    def test_normalize_name_is_unicode_aware(self, spark):
        got = _apply(
            spark,
            normalize_name,
            ["  Иван   Петров ", "O'Brien, Anne", "Anna-Maria\tSmith", "Zoë_2"],
        )
        assert got == ["иван_петров", "obrien_anne", "annamaria_smith", "zoë_2"]

    def test_voice_part_and_active_from_tag(self, spark):
        rows = (
            _one_col(spark, ["Soprano", "ex-Alto", "EX_Tenor", "ex bass", "  Bass  ", "ex"])
            .select(voice_part_and_active("v").alias("s"))
            .select("s.voice_part", "s.is_active")
            .collect()
        )
        assert [tuple(r) for r in rows] == [
            ("soprano", True),
            ("alto", False),
            ("tenor", False),
            ("bass", False),
            ("bass", True),
            ("", False),
        ]


class TestHeaderHygiene:
    def test_clean_header_placeholders_and_last_wins(self):
        raw = ["Tag", "", None, "Who", "Tag", INPUT_ROW_ID, "  ", "Joined"]
        p = PLACEHOLDER_PREFIX
        assert clean_header(raw) == [
            f"{p}0",  # duplicate: the later "Tag" wins
            f"{p}1",
            f"{p}2",
            "Who",
            "Tag",
            f"{p}5",  # reserved for the row id
            f"{p}6",
            "Joined",
        ]

    def test_has_required_columns(self, spark):
        df = spark.createDataFrame([("s", "Ann")], "Tag string, Who string")
        assert has_required_columns(df, ["Tag"])
        assert has_required_columns(df, ["Who", "Tag"])
        assert has_required_columns(df, [])
        assert not has_required_columns(df, ["Tag", "Joined"])


class TestChoristerDimension:
    RAW_DDL = f"{INPUT_ROW_ID} long, Tag string, Joined string, Who string"
    RAW = [
        (0, " Song ", None, "Ave Maria"),
        (1, "Soprano", " 2020-01-01 ", "  Ann  "),
        (2, "", "2021", "Nobody"),
        (3, "Alto", "2021", ""),
        (4, None, None, "Ghost"),
        (5, "ex-Bass", None, "Bob"),
        (6, "Song", None, None),
    ]

    def test_chorister_rows_filter_and_fields(self, spark):
        raw = spark.createDataFrame(self.RAW, self.RAW_DDL)
        got = sorted(
            (r[INPUT_ROW_ID], r["full_name"], r["joined_date"], r["tgid"])
            for r in chorister_rows(raw).collect()
        )
        # no tgid column in this sheet -> "" for everyone
        assert got == [(1, "Ann", "2020-01-01", ""), (5, "Bob", "", "")]

    def test_song_rows_are_exact_song_tags(self, spark):
        raw = spark.createDataFrame(self.RAW, self.RAW_DDL)
        got = sorted(r[INPUT_ROW_ID] for r in song_rows(raw).collect())
        assert got == [0, 6]

    def test_with_chorister_id_suffixes_later_duplicates(self, spark):
        rows = spark.createDataFrame(
            # deliberately not in row-id order: ids follow input_row_id
            [(2, "Ann", "2022-05-05"), (0, "Ann", "2020-01-01"), (1, "Bob", "2021")],
            f"{INPUT_ROW_ID} long, full_name string, joined_date string",
        )
        got = {
            r[INPUT_ROW_ID]: r["chorister_id"]
            for r in with_chorister_id(rows).collect()
        }
        assert got == {0: "Ann", 1: "Bob", 2: "Ann | 2022-05-05"}

    def test_normalized_lookup_binds_first_occurrence(self, spark):
        dim = spark.createDataFrame(
            [
                (1, "ann  lee", "ann  lee"),
                (0, "Ann Lee", "Ann Lee"),
                (2, "Bob", "Bob"),
            ],
            f"{INPUT_ROW_ID} long, full_name string, chorister_id string",
        )
        got = {
            r["normalized_name"]: r["norm_chorister_id"]
            for r in normalized_to_chorister_id(dim).collect()
        }
        assert got == {"ann_lee": "Ann Lee", "bob": "Bob"}


class TestAsofAssignment:
    def test_interval_cover_ties_and_misses(self, spark):
        """The kept attributes come back as ``_asg_<name>`` columns,
        which the mart builders rename."""
        asg = spark.createDataFrame(
            [
                ("A", "2024-01-01", "2024-01-31", "alto", True),
                ("A", "2024-01-15", "", "soprano", True),  # open interval
                ("A", "garbage", "", "tenor", False),  # unparseable: skipped
                ("B", "01.02.24", "15.02.2024", "bass", False),
            ],
            "chorister_id string, valid_from string, valid_to string,"
            " voice_part string, is_active boolean",
        )
        facts = spark.createDataFrame(
            [
                (1, "A", "2024-01-10"),
                (2, "A", "2024-01-20"),  # both A rows cover: latest start wins
                (3, "A", "2024-01-20"),  # same key again: rows never collapse
                (4, "A", "2023-12-01"),  # before every interval
                (5, "A", ""),  # no date
                (6, "B", "2024-02-15"),  # closed end is inclusive
                (7, "B", "2024-02-16"),
                (8, "C", "2024-01-10"),  # no assignment at all
            ],
            "fact_id int, chorister_id string, rehearsal_date_iso string",
        )
        got = {
            r["fact_id"]: (r["_asg_voice_part"], r["_asg_is_active"])
            for r in asof_assignment(facts, asg).collect()
        }
        assert got == {
            1: ("alto", True),
            2: ("soprano", True),
            3: ("soprano", True),
            4: (None, None),
            5: (None, None),
            6: ("bass", False),
            7: (None, None),
            8: (None, None),
        }


class TestAlertInputs:
    def test_normalize_available_rows_coerces_flags(self, spark):
        mart = spark.createDataFrame(
            [
                ("2024-01-01T00:00", "A", "Ann", "alto", None, "1", "0", "yes", "TRUE"),
                ("2024-01-08", None, "Bob", "bass", "7", "0", "1", "0", "1"),
                ("", "C", "Cid", "alto", "", "1", "0", "1", "1"),
                ("2024-01-08", "D", "Dee", "alto", "", "0", "1", "2", "1"),
            ],
            "rehearsal_date string, chorister_id string, full_name string,"
            " voice_part string, tgid string, missed_flag string,"
            " attended_flag string, available_flag string, is_active string",
        )
        got = [tuple(r) for r in normalize_available_rows(mart).collect()]
        # row 2 is unavailable, row 3 has no date, and the string "2"
        # is not a truthy flag (only 1/TRUE/YES are)
        assert got == [("2024-01-01", "A", "Ann", "alto", "", 1, 0, 1, True)]

    def test_window_start_is_lookback_before_latest_date(self, spark):
        rows = spark.createDataFrame(
            [("2024-03-01",), ("2024-03-15",), ("2024-02-01",)],
            "rehearsal_date string",
        )
        assert window_start(rows, 2) == date(2024, 3, 1)
        assert window_start(rows, 0) == date(2024, 3, 15)
        empty = spark.createDataFrame([], "rehearsal_date string")
        assert window_start(empty, 2) is None


class TestAppendSink:
    def test_append_parquet_accumulates(self, spark, tmp_path):
        df = spark.createDataFrame([(1, 0.5), (2, math.pi)], "k int, v double")
        append_parquet(df, str(tmp_path), "etl_log")
        append_parquet(df, str(tmp_path), "etl_log")
        got = sorted(
            tuple(r) for r in spark.read.parquet(str(tmp_path / "etl_log")).collect()
        )
        assert got == [(1, 0.5), (1, 0.5), (2, math.pi), (2, math.pi)]
