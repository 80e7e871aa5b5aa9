"""Mart builders (SURVEY §2.6 joins J1-J4, §2.5 C10-C11, §2.10 E3).

The reference's per-row nested-loop as-of join (O(facts × assignments),
etl/marts.py:56-80) becomes an equi-join on chorister_id with a range
predicate plus a window rank — Catalyst plans a hash/sort-merge join on
the equi key and the rank picks max(valid_from) per (chorister, date).
Dimensions are broadcast (they are person/song-scale, facts are the big
side), so mart builds are one fact-scan each with no fact-side shuffle
except the as-of rank.

Reference parity (cites into /root/reference):
- mart_attendance       <- etl/marts.py:105-184 (J1, J2, C11, E3)
- mart_song_rehearsal   <- etl/marts.py:187-223 (J3, C10)
- mart_chorister_song   <- etl/marts.py:226-299 (A6, A7, J4, W5)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DateType

from ursa_major_choir_etl_spark.functions.columns import (
    normalize_date_to_iso,
    safe_str,
)


def _norm_or_raw(c) -> F.Column:
    """normalize to ISO; if unparseable keep the raw trimmed string
    (reference: etl/marts.py:150-152)."""
    iso = normalize_date_to_iso(c)
    return F.when(iso != "", iso).otherwise(safe_str(c))


def _date_or_raw(df: DataFrame, c: str) -> F.Column:
    """``df[c]`` as the mart's date string. A DATE column (the
    warehouse's fact_attendance) renders as its ISO string, which is
    what :func:`_norm_or_raw` makes of it; a string-typed date (the raw
    header dates of fact_song_time, a degraded fact_attendance) is
    parsed."""
    if isinstance(df.schema[c].dataType, DateType):
        return F.coalesce(F.col(c).cast("string"), F.lit(""))
    return _norm_or_raw(c)


def _number(c: str, default: float = 0.0) -> F.Column:
    """``c`` as a double, null -> ``default``. The warehouse keeps hours,
    flags and minutes numeric (DEVIATIONS item 1), so a cast suffices."""
    return F.coalesce(F.col(c).cast("double"), F.lit(default))


def asof_assignment(
    facts: DataFrame,
    assignments: DataFrame,
    date_col: str = "rehearsal_date_iso",
    keep: list[str] | None = None,
) -> DataFrame:
    """J2/W5 as-of join: attach the assignment row whose validity
    interval covers ``date_col``; ties -> max(valid_from); no match ->
    null attributes (left join, rows never drop).

    Semantics per reference etl/marts.py:56-80: assignment rows with an
    unparseable valid_from are skipped; valid_to empty/unparseable means
    an open interval. Comparison is on ISO strings (lexical == temporal
    for ISO).
    """
    keep = keep or ["voice_part", "is_active"]
    asg = (
        assignments.withColumn("_vf", normalize_date_to_iso("valid_from"))
        .withColumn("_vt", normalize_date_to_iso("valid_to"))
        .filter(F.col("_vf") != "")
        .select(
            F.col("chorister_id").alias("_asg_cid"),
            "_vf",
            "_vt",
            *[F.col(k).alias(f"_asg_{k}") for k in keep],
        )
    )
    d = F.col(date_col)
    # One output row per INPUT row (whatever its grain), so the rank
    # that resolves interval ties partitions on a per-row uid, not on
    # (chorister, date) — mart_chorister_song has several songs per
    # chorister-date and each must survive.
    facts = facts.withColumn("_row_uid", F.monotonically_increasing_id())
    cond = (
        (F.col("_asg_cid") == facts["chorister_id"])
        & (d != "")
        & (d >= F.col("_vf"))
        & ((F.col("_vt") == "") | (d <= F.col("_vt")))
    )
    joined = facts.join(F.broadcast(asg), on=cond, how="left")
    w = Window.partitionBy("_row_uid").orderBy(F.col("_vf").desc_nulls_last())
    return (
        joined.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk", "_row_uid", "_asg_cid", "_vf", "_vt")
    )


def build_mart_attendance(
    dim_chorister: DataFrame,
    dim_chorister_assignment: DataFrame,
    fact_attendance: DataFrame,
) -> DataFrame:
    """J1 broadcast lookup to dim_chorister + J2 as-of voice part +
    derived flags (C11). Grain = fact_attendance grain.

    E3: a chorister whose joined_date is present but unparseable aborts
    the run with context (reference: etl/marts.py:122-133).
    """
    dim = dim_chorister.select(
        safe_str("chorister_id").alias("chorister_id"),
        safe_str("full_name").alias("_full_name"),
        safe_str("tgid").alias("_tgid"),
        safe_str("joined_date").alias("_joined_raw"),
        normalize_date_to_iso("joined_date").alias("_joined_iso"),
    ).filter(F.col("chorister_id") != "")

    bad = dim.filter((F.col("_joined_raw") != "") & (F.col("_joined_iso") == ""))
    offender = bad.limit(1).collect()
    if offender:
        o = offender[0]
        raise RuntimeError(
            f"Invalid joined_date for chorister_id={o['chorister_id']!r}: "
            f"{o['_joined_raw']!r} (cannot normalize to YYYY-MM-DD)."
        )

    fact = fact_attendance.select(
        _date_or_raw(fact_attendance, "rehearsal_date").alias("rehearsal_date_iso"),
        safe_str("chorister_id").alias("chorister_id"),
        _number("hours_attended").alias("hours_attended"),
        F.when(_number("missed_flag") != 0.0, 1).otherwise(0).alias(
            "missed_flag"
        ),
    )

    joined = fact.join(F.broadcast(dim), on="chorister_id", how="left")
    joined = asof_assignment(joined, dim_chorister_assignment)

    is_active = F.upper(F.trim(F.col("_asg_is_active").cast("string"))).isin(
        "TRUE", "1", "YES"
    )
    return joined.select(
        F.col("rehearsal_date_iso").alias("rehearsal_date"),
        "chorister_id",
        F.coalesce("_full_name", F.lit("")).alias("full_name"),
        F.coalesce(
            F.when(F.col("_joined_iso") != "", F.col("_joined_iso")).otherwise(
                F.col("_joined_raw")
            ),
            F.lit(""),
        ).alias("joined_date"),
        F.coalesce(F.trim(F.col("_asg_voice_part")), F.lit("")).alias("voice_part"),
        F.coalesce("_tgid", F.lit("")).alias("tgid"),
        F.coalesce(is_active, F.lit(False)).alias("is_active"),
        "hours_attended",
        F.when(F.col("hours_attended") > 0, 1).otherwise(0).alias("attended_flag"),
        "missed_flag",
        F.when(
            (F.coalesce(F.col("_joined_iso"), F.lit("")) != "")
            & (F.col("rehearsal_date_iso") >= F.col("_joined_iso")),
            1,
        )
        .otherwise(0)
        .alias("available_flag"),
    )


def build_mart_song_rehearsal(
    dim_song: DataFrame, fact_song_time: DataFrame
) -> DataFrame:
    """J3 broadcast lookup + derived hours (C10). Dates of
    fact_song_time are normalized HERE (the U2 asymmetry)."""
    dim = dim_song.select(
        safe_str("song_id").alias("song_id"),
        safe_str("song_name").alias("_song_name"),
    ).filter(F.col("song_id") != "")
    fact = fact_song_time.select(
        _date_or_raw(fact_song_time, "rehearsal_date").alias("rehearsal_date"),
        safe_str("song_id").alias("song_id"),
        _number("minutes_spent").alias("minutes_spent"),
    )
    return fact.join(F.broadcast(dim), on="song_id", how="left").select(
        "rehearsal_date",
        "song_id",
        F.coalesce("_song_name", F.lit("")).alias("song_name"),
        "minutes_spent",
        (F.col("minutes_spent") / 60.0).alias("hours_spent"),
    )


def build_mart_chorister_song(
    dim_chorister: DataFrame,
    dim_chorister_assignment: DataFrame,
    dim_song: DataFrame,
    fact_attendance: DataFrame,
    fact_song_time: DataFrame,
) -> DataFrame:
    """A6 attending-set × A7 songs-per-date via the J4 equi-join on
    rehearsal_date (the many-to-many join IS the per-date cross
    product), + J1/J3 lookups + W5 as-of voice part.

    joined_date here is the RAW dim string, not normalized
    (reference: etl/marts.py:282).
    """
    attending = (
        fact_attendance.select(
            _date_or_raw(fact_attendance, "rehearsal_date").alias("rehearsal_date_iso"),
            safe_str("chorister_id").alias("chorister_id"),
            _number("hours_attended").alias("_hours"),
        )
        .filter((F.col("rehearsal_date_iso") != "") & (F.col("_hours") > 0))
        .select("rehearsal_date_iso", "chorister_id")
        .distinct()
    )

    songs = fact_song_time.select(
        _date_or_raw(fact_song_time, "rehearsal_date").alias("rehearsal_date_iso"),
        safe_str("song_id").alias("song_id"),
        _number("minutes_spent").alias("minutes_spent"),
    ).filter(F.col("rehearsal_date_iso") != "")

    # Resolve the as-of voice part BEFORE the attendee x song fan-out:
    # it depends only on (chorister, date), and the fan-out multiplies
    # rows by songs-per-date (measured 77s -> ~8s at 1M facts / 81M
    # pair rows when resolved pre-fanout).
    attending = asof_assignment(
        attending, dim_chorister_assignment, keep=["voice_part"]
    )

    pairs = attending.join(songs, on="rehearsal_date_iso", how="inner")

    dim_c = dim_chorister.select(
        safe_str("chorister_id").alias("chorister_id"),
        safe_str("full_name").alias("_full_name"),
        safe_str("joined_date").alias("_joined_raw"),
    ).filter(F.col("chorister_id") != "")
    dim_s = dim_song.select(
        safe_str("song_id").alias("song_id"),
        safe_str("song_name").alias("_song_name"),
    ).filter(F.col("song_id") != "")

    out = pairs.join(F.broadcast(dim_c), on="chorister_id", how="left")
    out = out.join(F.broadcast(dim_s), on="song_id", how="left")

    return out.select(
        F.col("rehearsal_date_iso").alias("rehearsal_date"),
        "chorister_id",
        F.coalesce("_full_name", F.lit("")).alias("full_name"),
        F.coalesce("_joined_raw", F.lit("")).alias("joined_date"),
        F.coalesce(F.trim(F.col("_asg_voice_part")), F.lit("")).alias("voice_part"),
        "song_id",
        F.coalesce("_song_name", F.lit("")).alias("song_name"),
        "minutes_spent",
        (F.col("minutes_spent") / 60.0).alias("hours_spent"),
    )


def scd2_from_changelog(
    changes: DataFrame,
    key_col: str = "user_id",
    attr_col: str = "event_type",
    ts_col: str = "ts",
    order_tiebreak_col: str = "event_id",
) -> DataFrame:
    """Type-2 slowly-changing-dimension build from a raw change log:
    per key, keep only rows where the tracked attribute actually
    CHANGED (change detection via lag), then stitch validity
    intervals with lead — the standard warehouse versioning table
    (valid_from inclusive, valid_to exclusive, NULL = current) that
    the as-of joins in this repo consume on the other end.

    Scale shape: two windows, both partitioned by the key (state
    never leaves the key partition; same layout as sessionize):
    lag over the full log for change detection, lead over the
    (smaller) change rows for interval ends. Ordering ties break on
    the unique change id, so both engines version identically.

    Output per version: (key, version, attr, valid_from, valid_to,
    is_current) — timestamps cast to string for engine-portable
    rendering.
    """
    from ursa_major_choir_etl_spark.functions.columns import (
        cast_ntz_to_timestamp,
    )

    changes = cast_ntz_to_timestamp(changes, [ts_col])
    w = Window.partitionBy(key_col).orderBy("_ts", "_tb")
    flagged = changes.select(
        F.col(key_col),
        F.col(attr_col).alias("attr"),
        F.col(ts_col).alias("_ts"),
        F.col(order_tiebreak_col).alias("_tb"),
    ).withColumn("_prev", F.lag("attr").over(w))
    changed = flagged.filter(
        F.col("_prev").isNull() | (F.col("attr") != F.col("_prev"))
    )
    w2 = Window.partitionBy(key_col).orderBy("_ts", "_tb")
    return changed.select(
        F.col(key_col),
        F.row_number().over(w2).alias("version"),
        "attr",
        F.col("_ts").cast("string").alias("valid_from"),
        F.lead("_ts").over(w2).cast("string").alias("valid_to"),
        F.lead("_ts").over(w2).isNull().cast("bigint").alias("is_current"),
    )
