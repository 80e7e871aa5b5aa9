"""Fact builders — the unpivot core (SURVEY §2.3 U1-U4, §2.10 E1-E2).

U1 dense melt: chorister rows × every date column -> one fact row per
pair; an empty cell is an absence (hours=0, missed=1). U2 sparse melt:
song rows × date columns -> a row only where the cell parses as a
number. Both use the built-in ``DataFrame.unpivot`` (Tungsten expand,
no Python), so the fan-out (rows × date-columns) happens distributed.

Scale note: the melt multiplies rows by the number of date columns, so
the output is partitioned by rehearsal_date downstream; the unpivot
itself is narrow (no shuffle).

Reference parity (cites into /root/reference):
- U1 + E1 strict hours parse  <- etl/fact_attendance.py:59-161
- U3 duplicate-date check     <- etl/fact_attendance.py:117-133
- U2 lenient minutes parse    <- etl/fact_song_time.py:28-40,83-86
- U4 positional song zip      <- etl/fact_song_time.py:71-81
- date-normalization asymmetry: fact_attendance normalizes to ISO at
  build time, fact_song_time keeps the RAW dd.mm.yy header string
  (normalized only in the marts) — SURVEY §7.4 hard-part #5.
"""

from __future__ import annotations

from itertools import chain

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ursa_major_choir_etl_spark.functions.columns import parse_decimal_comma
from ursa_major_choir_etl_spark.operators.dims import chorister_rows, song_rows
from ursa_major_choir_etl_spark.sources.io import (
    DATE_COLUMNS_START_INDEX,
    INPUT_ROW_ID,
    PLACEHOLDER_PREFIX,
    has_required_columns,
    local_frame,
)


def _py_normalize_date(s: str) -> str:
    """Driver-side mirror of functions.normalize_date_to_iso for header
    strings (U3 runs on the column list, which lives on the driver)."""
    import re
    from datetime import datetime, timedelta

    if s is None:
        return ""
    s = str(s).strip()
    if not s:
        return ""
    try:
        serial = float(s)
    except ValueError:
        serial = None
    if serial is not None:
        try:
            d = int(serial)  # truncate toward zero, like the cast
        except (ValueError, OverflowError):
            return ""
        if d < -693593 or d > 2958465:  # same bounds as the Column impl
            return ""
        # isoformat, not strftime: %Y drops leading zeros on glibc for
        # years < 1000, Spark's date->string never does
        return (datetime(1899, 12, 30) + timedelta(days=d)).date().isoformat()
    if re.match(r"^\d{4}-\d{2}-\d{2}", s):
        return s[:10]
    m = re.match(r"^(\d{1,2})\.(\d{1,2})\.(\d{2,4})$", s)
    if m:
        day, month, year = int(m.group(1)), int(m.group(2)), int(m.group(3))
        if year < 100:
            year += 2000 if year < 50 else 1900
        try:
            d = datetime(year, month, day)
        except ValueError:
            return ""
        # f-format, not strftime("%Y"): strftime leaves years < 1000
        # unpadded, which would break the ISO lexical-compare invariant
        # (the one deliberate deviation from the reference's C1).
        return f"{d.year:04d}-{d.month:02d}-{d.day:02d}"
    return ""


def date_columns_iso(raw: DataFrame) -> list[tuple[str, str]]:
    """U3: (raw_header, iso_date) for positional date columns, failing on
    duplicates after normalization (E2)."""
    out: list[tuple[str, str]] = []
    seen: dict[str, str] = {}
    for name in raw.columns[DATE_COLUMNS_START_INDEX:]:
        if (
            name == INPUT_ROW_ID
            or not str(name).strip()
            or name.startswith(PLACEHOLDER_PREFIX)
        ):
            continue
        iso = _py_normalize_date(name)
        if not iso:
            continue
        if iso in seen:
            raise RuntimeError(
                f"Duplicate rehearsal_date after normalization: {iso!r} "
                f"(raw headers {seen[iso]!r} and {name!r})"
            )
        seen[iso] = name
        out.append((name, iso))
    return out


def raw_date_headers(raw: DataFrame) -> list[str]:
    """U2's looser view: any non-empty positional header, NOT normalized."""
    return [
        c
        for c in raw.columns[DATE_COLUMNS_START_INDEX:]
        if c != INPUT_ROW_ID
        and str(c).strip()
        and not c.startswith(PLACEHOLDER_PREFIX)
    ]


def build_fact_attendance(
    raw: DataFrame, chorister_keys: DataFrame, run_ts: str
) -> DataFrame:
    """U1 dense melt -> fact_attendance, with strict numeric validation.

    ``chorister_keys`` is the K6 lookup ((full_name, joined_date) ->
    chorister_id); unmatched raw rows are dropped (inner-join miss
    policy, etl/fact_attendance.py:148-150).

    Strict parse (E1): a non-empty cell that does not parse as a
    non-negative number aborts the run with (chorister_id, date, raw
    value) context. The validation is a distributed filter; only the
    first offender is collected to the driver (SURVEY §7.4 hard-part #2).
    """
    spark = raw.sparkSession
    if not has_required_columns(raw, ["Tag", "Joined", "Who"]):
        return local_frame(
            spark,
            [],
            "rehearsal_date string, chorister_id string, hours_attended double,"
            " missed_flag int, load_ts string",
        )

    dates = date_columns_iso(raw)
    rows = chorister_rows(raw).join(
        F.broadcast(chorister_keys), on=["full_name", "joined_date"], how="inner"
    )

    if not dates:
        return rows.select(
            F.lit(None).cast("string").alias("rehearsal_date"),
            "chorister_id",
            F.lit(0.0).alias("hours_attended"),
            F.lit(1).alias("missed_flag"),
            F.lit(run_ts).alias("load_ts"),
        ).limit(0)

    melted = rows.unpivot(
        ids=["chorister_id"],
        values=[f"`{h}`" for h, _ in dates],
        variableColumnName="raw_header",
        valueColumnName="raw_value",
    )
    # Map raw header -> ISO date via a literal map (folded by Catalyst).
    iso_map = F.create_map(
        *list(chain.from_iterable((F.lit(h), F.lit(iso)) for h, iso in dates))
    )
    melted = melted.withColumn("rehearsal_date", iso_map[F.col("raw_header")])

    # Parse and test emptiness once, in their own projection: inlined
    # into the select below, each repeats, and the subexpression
    # elimination over the unpivot's Expand generates code that Janino
    # rejects (the stage then runs without whole-stage codegen).
    melted = melted.withColumns(
        {
            "_parsed": parse_decimal_comma("raw_value"),
            "_empty": F.col("raw_value").isNull() | (F.trim(F.col("raw_value")) == ""),
        }
    )
    is_empty, parsed = F.col("_empty"), F.col("_parsed")
    fact = melted.select(
        "rehearsal_date",
        "chorister_id",
        F.when(is_empty, F.lit(0.0)).otherwise(parsed).alias("hours_attended"),
        F.when(is_empty, F.lit(1)).otherwise(F.lit(0)).alias("missed_flag"),
        F.lit(run_ts).alias("load_ts"),
        F.when(~is_empty & (parsed.isNull() | (parsed < 0)), F.col("raw_value")).alias(
            "_bad_raw"
        ),
    )

    bad = fact.filter(F.col("_bad_raw").isNotNull()).select(
        "chorister_id", "rehearsal_date", "_bad_raw"
    )
    offender = bad.limit(1).collect()
    if offender:
        o = offender[0]
        raise RuntimeError(
            "Cannot parse hours_attended for "
            f"chorister_id={o['chorister_id']!r}, "
            f"rehearsal_date={o['rehearsal_date']!r}, "
            f"raw_value={o['_bad_raw']!r}: must be a non-negative number."
        )
    return fact.drop("_bad_raw")


def build_fact_song_time(raw: DataFrame, dim_song: DataFrame, run_ts: str) -> DataFrame:
    """U2 sparse melt -> fact_song_time via the U4 positional zip.

    The i-th Song row of RAW (in input order, regardless of Who) pairs
    with the i-th dim_song row; overflow rows drop (inner join). Dates
    stay as RAW header strings (the U1/U2 asymmetry).
    """
    spark = raw.sparkSession
    if not has_required_columns(raw, ["Tag", "Who"]):
        return local_frame(
            spark,
            [],
            "rehearsal_date string, song_id string, minutes_spent double, load_ts string",
        )

    headers = raw_date_headers(raw)
    songs = song_rows(raw).withColumn(
        "song_ordinal", F.row_number().over(Window.orderBy(INPUT_ROW_ID)) - F.lit(1)
    )
    songs = songs.join(
        F.broadcast(dim_song.select("song_ordinal", "song_id")),
        on="song_ordinal",
        how="inner",
    )
    if not headers:
        return songs.select(
            F.lit(None).cast("string").alias("rehearsal_date"),
            "song_id",
            F.lit(0.0).alias("minutes_spent"),
            F.lit(run_ts).alias("load_ts"),
        ).limit(0)

    melted = songs.unpivot(
        ids=["song_id"],
        values=[f"`{h}`" for h in headers],
        variableColumnName="rehearsal_date",
        valueColumnName="raw_value",
    )
    minutes = parse_decimal_comma("raw_value")
    return (
        melted.withColumn("minutes_spent", minutes)
        .filter(F.col("minutes_spent").isNotNull())
        .select(
            "rehearsal_date",
            "song_id",
            "minutes_spent",
            F.lit(run_ts).alias("load_ts"),
        )
    )
