"""The reference's 10 alert tests, ported 1:1 to the DataFrame engine
(reference: tests/test_alerts.py — same scenarios, same expectations)."""

from __future__ import annotations

from datetime import datetime, timedelta

from ursa_major_choir_etl_spark.alerts import format_alert_message
from ursa_major_choir_etl_spark.operators.analytics import (
    compute_attendance_rate,
    compute_missed_streaks,
)

MART_SCHEMA = (
    "rehearsal_date string, chorister_id string, full_name string,"
    " voice_part string, tgid string, missed_flag int, attended_flag int,"
    " available_flag int, is_active int"
)


def _row(
    rehearsal_date,
    chorister_id,
    full_name,
    voice_part,
    missed_flag,
    attended_flag,
    available_flag=1,
    is_active=1,
    tgid="",
):
    return (
        rehearsal_date,
        chorister_id,
        full_name,
        voice_part,
        tgid,
        missed_flag,
        attended_flag,
        available_flag,
        is_active,
    )


def _mart(spark, rows):
    return spark.createDataFrame(rows, MART_SCHEMA)


def _weekly(base: str, i: int) -> str:
    return (datetime.strptime(base, "%Y-%m-%d") + timedelta(weeks=i)).strftime(
        "%Y-%m-%d"
    )


def _base(weeks_ago: int) -> str:
    return (datetime.now() - timedelta(days=7 * weeks_ago)).strftime("%Y-%m-%d")


class TestComputeCurrentMissedStreak:
    def test_empty_mart_returns_empty(self, spark):
        out = compute_missed_streaks(_mart(spark, []), 12, 3)
        assert out.count() == 0

    def test_three_or_more_misses_at_end_active_included(self, spark):
        base = _base(4)
        rows = [_row(_weekly(base, i), "c1", "Иван", "Bass", 1, 0) for i in range(5)]
        out = compute_missed_streaks(_mart(spark, rows), 12, 3).collect()
        assert len(out) == 1
        assert out[0]["full_name"] == "Иван"
        assert out[0]["streak_len"] == 5
        assert len(out[0]["missed_dates"]) == 5

    def test_attended_last_rehearsal_not_included(self, spark):
        base = _base(4)
        rows = [
            _row(_weekly(base, i), "c1", "Иван", "Bass", 1 if i < 4 else 0, 0 if i < 4 else 1)
            for i in range(5)
        ]
        assert compute_missed_streaks(_mart(spark, rows), 12, 3).count() == 0

    def test_inactive_chorister_not_included(self, spark):
        base = _base(2)
        rows = [
            _row(_weekly(base, i), "c1", "Иван", "Bass", 1, 0, 1, 0) for i in range(4)
        ]
        assert compute_missed_streaks(_mart(spark, rows), 12, 3).count() == 0

    def test_available_flag_zero_ignored(self, spark):
        base = _base(2)
        rows = [
            _row(_weekly(base, i), "c1", "Иван", "Bass", 1, 0, 0 if i < 2 else 1)
            for i in range(6)
        ]
        out = compute_missed_streaks(_mart(spark, rows), 12, 3).collect()
        assert len(out) == 1
        assert out[0]["streak_len"] == 4

    def test_missed_dates_capped_at_10(self, spark):
        base = _base(12)
        rows = [_row(_weekly(base, i), "c1", "Иван", "Bass", 1, 0) for i in range(12)]
        out = compute_missed_streaks(_mart(spark, rows), 12, 3).collect()
        assert len(out) == 1
        assert out[0]["streak_len"] == 12
        assert len(out[0]["missed_dates"]) == 10


class TestComputeAttendanceRate:
    def test_empty_returns_none(self, spark):
        assert compute_attendance_rate(_mart(spark, []), 5) is None

    def test_rate_in_window(self, spark):
        base = _base(3)
        rows = []
        for i in range(4):
            d = _weekly(base, i)
            for cid, attended in [("c1", 1), ("c2", 1), ("c3", 0)]:
                rows.append(_row(d, cid, "n", "p", 1 - attended, attended))
        rate = compute_attendance_rate(_mart(spark, rows), 5)
        assert rate is not None
        assert abs(rate - 8 / 12) < 1e-9


class TestFormatAlertMessage:
    def test_no_violators_success_message(self):
        msg = format_alert_message([], lookback_weeks=12, streak_threshold=3)
        assert "Нет хористов" in msg
        assert "3+ подряд" in msg
        assert "12 недел" in msg

    def test_with_violators_numbered_list(self):
        violators = [
            {
                "full_name": "Иван",
                "voice_part": "Bass",
                "streak_len": 4,
                "missed_dates": [],
                "last_attended_date": "2025-02-01",
                "tgid": "ivan_choir",
            }
        ]
        msg = format_alert_message(violators, lookback_weeks=12, streak_threshold=3)
        assert "3+ пропусками" in msg
        assert "1. Иван (Bass)" in msg
        assert "пропусков: 4" in msg
        assert "последняя явка: 2025-02-01" in msg
        assert "@ivan_choir" in msg

    def test_attendance_rate_in_message(self):
        msg = format_alert_message([], 5, 3, attendance_rate=0.85)
        assert "Доходимость до репетиций" in msg
        assert "85%" in msg
        assert "\U0001f7e2" in msg
        msg2 = format_alert_message(
            [{"full_name": "X", "voice_part": "Y", "streak_len": 3}],
            5,
            3,
            attendance_rate=0.0,
        )
        assert "Доходимость до репетиций" in msg2
        assert "0%" in msg2
        assert "\U0001f534" in msg2

    def test_rate_icon_band_edges(self):
        """Rate icon bands (C12, reference etl/alerts.py:186-192): below
        50% red, 50-65% yellow, above 65% green."""
        red, yellow, green = "\U0001f534", "\U0001f7e1", "\U0001f7e2"
        for rate, icon in [(0.49, red), (0.50, yellow), (0.65, yellow), (0.66, green)]:
            first = format_alert_message([], 5, 3, attendance_rate=rate).splitlines()[0]
            assert first.startswith(icon), (rate, first)


class TestFlagTypeDispatch:
    """C6 parity with reference _flag (etl/alerts.py:15-28): numeric
    TYPES are truthy when nonzero, but numeric-looking STRINGS are
    truthy only for the exact set {"1","TRUE","YES"}."""

    def test_string_inputs_exact_set(self, spark):
        from ursa_major_choir_etl_spark.functions.columns import flag

        df = spark.createDataFrame(
            [("1",), ("TRUE",), (" yes ",), ("2",), ("2.5",), ("1.0",),
             ("0",), ("no",), ("",), (None,)],
            "v string",
        )
        got = [r["f"] for r in df.select(flag("v").alias("f")).collect()]
        assert got == [1, 1, 1, 0, 0, 0, 0, 0, 0, 0]

    def test_numeric_and_bool_inputs_nonzero(self, spark):
        from ursa_major_choir_etl_spark.functions.columns import flag

        ints = spark.createDataFrame([(2,), (0,), (-1,), (None,)], "v int")
        assert [r["f"] for r in ints.select(flag("v").alias("f")).collect()] == [
            1, 0, 1, 0,
        ]
        floats = spark.createDataFrame([(2.5,), (0.0,), (None,)], "v double")
        assert [r["f"] for r in floats.select(flag("v").alias("f")).collect()] == [
            1, 0, 0,
        ]
        bools = spark.createDataFrame([(True,), (False,), (None,)], "v boolean")
        assert [r["f"] for r in bools.select(flag("v").alias("f")).collect()] == [
            1, 0, 0,
        ]
