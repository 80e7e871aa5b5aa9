"""Native-expression scalar functions (SURVEY §2.5, C1-C12).

Each mirrors a scalar of the reference but as a Spark ``Column``
expression, so Catalyst folds them into whole-stage codegen — the hot
path never leaves the JVM.

Reference parity notes (file:line cites are into /root/reference):
- C1  normalize_date_to_iso   <- etl/fact_attendance.py:20-45 (dup etl/marts.py:9-36)
- C2/C3 decimal-comma parse   <- etl/fact_attendance.py:59-92,
  etl/fact_song_time.py:28-40 (C4, etl/marts.py:39-47, is a plain
  cast in the marts: the warehouse keeps numbers numeric)
- C5  safe_str                <- etl/marts.py:50-53
- C6  flag                    <- etl/alerts.py:15-28
- C8  date_iso                <- etl/alerts.py:31-37
- K3  normalize_name          <- etl/dim_chorister.py:30-36
- C9  voice_part_and_active   <- etl/dim_chorister.py:157-177
- C12 rate icon               <- etl/alerts.py:186-192, inlined in
  alerts.format_alert_message (a Python scalar, not a column)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


_UTC_NAMES = {"UTC", "Etc/UTC", "GMT", "Etc/GMT", "+00:00", "Z"}


def cast_ntz_to_timestamp(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Cast TIMESTAMP_NTZ columns to TIMESTAMP without EVER
    reinterpreting the data.

    The NTZ->LTZ cast maps wall-clock to instant through
    ``spark.sql.session.timeZone`` — micros-preserving iff that tz is
    UTC. The engine pins UTC (session.py) and this helper re-asserts
    it; if a locked-down caller session holds a different tz, it RAISES
    instead of silently shifting every timestamp (which would move
    session boundaries, window assignments, and as-of matches).
    No-op for frames with no NTZ columns.
    """
    ntz = [
        c
        for c, t in df.dtypes
        if t == "timestamp_ntz" and (cols is None or c in cols)
    ]
    if not ntz:
        return df
    spark = df.sparkSession
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass  # conf may be locked down; verified below either way
    try:
        tz = spark.conf.get("spark.sql.session.timeZone")
    except Exception:
        tz = None
    if tz not in _UTC_NAMES:
        raise ValueError(
            f"refusing TIMESTAMP_NTZ -> TIMESTAMP cast of {ntz} under "
            f"session timezone {tz!r}: the cast would reinterpret "
            "wall-clock values and silently shift every instant. Set "
            "spark.sql.session.timeZone=UTC."
        )
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def normalize_date_to_iso(c: Column | str) -> Column:
    """Normalize a messy date value to an ISO ``yyyy-MM-dd`` string.

    Accepts, in priority order (same as the reference's C1):
    1. Google-Sheets serial day number (epoch 1899-12-30) — any value
       that casts to a number;
    2. ISO prefix ``YYYY-MM-DD...`` — first 10 chars taken verbatim;
    3. ``d.m.yy`` / ``dd.mm.yyyy`` with a century window: 2-digit years
       <50 -> 20xx, >=50 -> 19xx.
    Unparseable -> empty string (the reference returns "" rather than
    null; callers that want null use nullif).
    """
    s = F.trim(_col(c).cast("string"))
    serial = s.try_cast("double")
    # Truncate-toward-zero like Python int(); null on NaN/int overflow
    # (ANSI cast would THROW on e.g. "3000000000"). Bound to the range
    # both engines can render as a 4-digit-year date (0001-01-01 ..
    # 9999-12-31 relative to the 1899-12-30 sheet epoch) — the Python
    # header mirror has the identical bounds.
    serial_days = serial.try_cast("int")
    serial_ok = (
        serial_days.isNotNull()
        & (serial_days >= -693593)
        & (serial_days <= 2958465)
    )
    iso_like = s.rlike(r"^\d{4}-\d{2}-\d{2}")
    dmy = F.regexp_extract(s, r"^(\d{1,2})\.(\d{1,2})\.(\d{2,4})$", 0)
    day = F.regexp_extract(s, r"^(\d{1,2})\.", 1).try_cast("int")
    month = F.regexp_extract(s, r"^\d{1,2}\.(\d{1,2})\.", 1).try_cast("int")
    year_raw = F.regexp_extract(s, r"\.(\d{2,4})$", 1).try_cast("int")
    year = (
        F.when(year_raw < 50, year_raw + 2000)
        .when(year_raw < 100, year_raw + 1900)
        .otherwise(year_raw)
    )
    dmy_date = F.try_to_date(
        F.format_string("%04d-%02d-%02d", year, month, day), "yyyy-MM-dd"
    )
    out = (
        F.when(s.isNull() | (s == ""), F.lit(""))
        .when(
            serial.isNotNull(),
            F.when(
                serial_ok,
                F.date_add(F.to_date(F.lit("1899-12-30")), serial_days).cast(
                    "string"
                ),
            ).otherwise(F.lit("")),
        )
        .when(iso_like, F.substring(s, 1, 10))
        .when(
            (dmy != "") & dmy_date.isNotNull(),
            dmy_date.cast("string"),
        )
        .otherwise(F.lit(""))
    )
    return F.coalesce(out, F.lit(""))


def parse_decimal_comma(c: Column | str) -> Column:
    """Lenient numeric parse accepting comma decimals: ``"2,5"`` -> 2.5.

    Unparseable -> null. Strictness (the reference raises on bad
    chorister cells) is layered on top by quality.validate_or_raise.
    """
    s = F.trim(_col(c).cast("string"))
    return F.regexp_replace(s, ",", ".").try_cast("double")


def safe_str(c: Column | str) -> Column:
    """None -> "", else trimmed string (reference C5)."""
    return F.coalesce(F.trim(_col(c).cast("string")), F.lit(""))


def flag(c: Column | str) -> Column:
    """Coerce bool/int/float/string truthiness to int 0/1 (reference C6,
    etl/alerts.py:15-28 _flag — Python type dispatch).

    The reference dispatches on the VALUE's type: bool/int/float ->
    nonzero is truthy; str -> truthy ONLY for {"1","TRUE","YES"}
    (case/space-insensitive) — so the string "2" is 0 even though the
    number 2 is 1. Mirrored here with typeof() on the column's type:
    a numeric-string mart column must not silently widen truthiness.
    """
    col = _col(c)
    s = F.upper(F.trim(col.cast("string")))
    num = s.try_cast("double")
    return (
        F.when(col.isNull(), F.lit(0))
        .when(
            F.typeof(col) == "string",
            F.when(s.isin("1", "TRUE", "YES"), 1).otherwise(0),
        )
        # bool casts to "true"/"false"; numerics via the cast roundtrip
        .when(s == "TRUE", F.lit(1))
        .when(num.isNotNull(), F.when(num != 0.0, 1).otherwise(0))
        .otherwise(F.lit(0))
    )


def date_iso(c: Column | str) -> Column:
    """First 10 chars of a trimmed string date; null/"" -> "" (reference C8)."""
    s = F.trim(_col(c).cast("string"))
    return F.when(s.isNull() | (s == ""), F.lit("")).otherwise(F.substring(s, 1, 10))


def normalize_name(c: Column | str) -> Column:
    """Lower, trim, whitespace->_, strip non-word chars; Unicode-aware (K3).

    Java regex character classes are ASCII-only unless the (?U) flag is
    set — without it Cyrillic names would be stripped to nothing.
    """
    out = F.lower(F.trim(_col(c)))
    out = F.regexp_replace(out, r"(?U)\s+", "_")
    return F.regexp_replace(out, r"(?U)[^\w_]+", "")


def voice_part_and_active(tag: Column | str) -> Column:
    """Derive struct(voice_part string, is_active boolean) from Tag (C9).

    Tags starting with ``ex`` (case-insensitive) mean the member left:
    is_active=false and the part is what follows after stripping
    ``-``/space/``_`` separators. Otherwise active, part = lower(tag).
    """
    raw = F.trim(_col(tag))
    is_ex = F.lower(raw).startswith("ex")
    after_ex = F.regexp_replace(F.substring(raw, 3, 1 << 20), r"^[-_ ]+", "")
    part = F.when(is_ex, F.lower(F.trim(after_ex))).otherwise(F.lower(raw))
    return F.struct(
        part.alias("voice_part"), (~is_ex).alias("is_active")
    )
