"""Alert analytics (SURVEY §2.8 W1-W4, §2.7 A1-A5).

The reference's per-chorister Python loops (etl/alerts.py:77-174) become
one windowed DataFrame job: the trailing-miss streak is the classic
gaps-and-islands pattern — rank rows newest-first per chorister, find
the first "break" row (attended or not-missed), count rows before it.

Scale: partitions by chorister_id (the natural key, person-cardinality),
so the window never sees more than one chorister's history per task.
The lookback anchor max(date) is a scalar aggregate collected once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ursa_major_choir_etl_spark.functions.columns import date_iso, flag, safe_str
from ursa_major_choir_etl_spark.sources.io import local_frame


def normalize_available_rows(mart_attendance: DataFrame) -> DataFrame:
    """F4: keep available rows with a parseable date; coerce flags
    (reference: etl/alerts.py:40-59)."""
    df = mart_attendance.select(
        date_iso("rehearsal_date").alias("rehearsal_date"),
        safe_str("chorister_id").alias("chorister_id"),
        safe_str("full_name").alias("full_name"),
        safe_str("voice_part").alias("voice_part"),
        safe_str("tgid").alias("tgid"),
        flag("missed_flag").alias("missed_flag"),
        flag("attended_flag").alias("attended_flag"),
        flag("available_flag").alias("available_flag"),
        (flag("is_active") == 1).alias("is_active"),
    )
    return df.filter((F.col("available_flag") == 1) & (F.col("rehearsal_date") != ""))


def window_start(rows: DataFrame, lookback_weeks: int):
    """W1/A2: scalar start date of the lookback window, or None if no
    rows. Window = dates >= max(date) - 7*lookback_weeks days."""
    anchor = rows.agg(F.max(F.to_date("rehearsal_date")).alias("d")).collect()[0]["d"]
    if anchor is None:
        return None
    return anchor - __import__("datetime").timedelta(weeks=lookback_weeks)


def compute_missed_streaks(
    mart_attendance: DataFrame,
    lookback_weeks: int,
    streak_threshold: int,
) -> DataFrame:
    """W2 trailing-miss streak per active chorister, W3 latest-row
    attributes, A5 last-attended date, W4 missed_dates cap at 10.

    Returns columns: chorister_id, full_name, voice_part, tgid,
    last_attended_date (nullable), streak_len, missed_dates
    (array<string>, newest first, max 10).
    """
    rows = normalize_available_rows(mart_attendance)
    start = window_start(rows, lookback_weeks)
    spark = mart_attendance.sparkSession
    empty = local_frame(
        spark,
        [],
        "chorister_id string, full_name string, voice_part string, tgid string,"
        " last_attended_date string, streak_len long, missed_dates array<string>",
    )
    if start is None:
        return empty

    # A5: last attended date per chorister over ALL available rows.
    last_attended = rows.groupBy("chorister_id").agg(
        F.max(F.when(F.col("attended_flag") == 1, F.col("rehearsal_date"))).alias(
            "last_attended_date"
        )
    )

    in_window = rows.filter(F.to_date("rehearsal_date") >= F.lit(start))

    w_desc = Window.partitionBy("chorister_id").orderBy(F.col("rehearsal_date").desc())
    w_all = (
        Window.partitionBy("chorister_id")
        .orderBy(F.col("rehearsal_date").desc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    ranked = in_window.withColumn("rn", F.row_number().over(w_desc))
    is_break = (F.col("attended_flag") == 1) | (F.col("missed_flag") == 0)
    ranked = ranked.withColumn(
        "first_break_rn", F.min(F.when(is_break, F.col("rn"))).over(w_all)
    )
    streak_rows = ranked.filter(
        F.col("first_break_rn").isNull() | (F.col("rn") < F.col("first_break_rn"))
    )

    per_chorister = ranked.filter(F.col("rn") == 1).select(
        "chorister_id", "full_name", "voice_part", "tgid", "is_active"
    )

    streaks = streak_rows.groupBy("chorister_id").agg(
        F.count("*").alias("streak_len"),
        F.slice(F.sort_array(F.collect_list("rehearsal_date"), asc=False), 1, 10).alias(
            "missed_dates"
        ),
    )

    out = (
        per_chorister.filter(F.col("is_active"))
        .join(streaks, on="chorister_id", how="inner")
        .filter(F.col("streak_len") >= streak_threshold)
        .join(F.broadcast(last_attended), on="chorister_id", how="left")
        .select(
            "chorister_id",
            F.when(F.col("full_name") != "", F.col("full_name"))
            .otherwise(F.lit("—"))
            .alias("full_name"),
            F.when(F.col("voice_part") != "", F.col("voice_part"))
            .otherwise(F.lit("—"))
            .alias("voice_part"),
            "tgid",
            "last_attended_date",
            "streak_len",
            "missed_dates",
        )
    )
    return out


def compute_attendance_rate(
    mart_attendance: DataFrame, lookback_weeks: int
) -> float | None:
    """A4: sum(attended)/count(*) over available rows in the lookback
    window; None when no rows (reference: etl/alerts.py:154-174)."""
    rows = normalize_available_rows(mart_attendance)
    start = window_start(rows, lookback_weeks)
    if start is None:
        return None
    agg = (
        rows.filter(F.to_date("rehearsal_date") >= F.lit(start))
        .agg(
            F.sum("attended_flag").alias("attended"),
            F.count("*").alias("total"),
        )
        .collect()[0]
    )
    if not agg["total"]:
        return None
    return agg["attended"] / agg["total"]
