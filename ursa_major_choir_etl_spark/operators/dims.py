"""Dimension builders (SURVEY §2.2 filters, §2.4 key generation, J6).

All functions take the RAW wide-sheet DataFrame (with the ingest-minted
``input_row_id``) and return DataFrames. Order-dependent semantics —
duplicate-name disambiguation (K1/K2), first-wins normalized-name index
(K5), last-wins key lookup (K6) — are expressed as window functions over
``input_row_id``, which distributes (shuffle on the grouping key) instead
of relying on driver-side iteration order.

Reference parity (cites into /root/reference):
- chorister/song row filters F1-F3    <- etl/dim_chorister.py:87-93, etl/dim_song.py:51-57
- chorister_id disambiguation K1      <- etl/dim_chorister.py:39-49
- song (n)-suffix dedup K2            <- etl/dim_song.py:59-63
- assignment derivation C9 + J6       <- etl/dim_chorister.py:157-263
- key lookups K5/K6                   <- etl/dim_chorister.py:83,103-107
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ursa_major_choir_etl_spark.functions.columns import (
    normalize_name,
    safe_str,
    voice_part_and_active,
)
from ursa_major_choir_etl_spark.sources.io import (
    INPUT_ROW_ID,
    has_required_columns,
    local_frame,
)

DIM_CHORISTER_COLUMNS = [
    "chorister_id",
    "tgid",
    "full_name",
    "joined_date",
    "created_at",
    "updated_at",
]

DIM_CHORISTER_ASSIGNMENT_COLUMNS = [
    "assignment_id",
    "chorister_id",
    "voice_part",
    "is_active",
    "valid_from",
    "valid_to",
]

DIM_SONG_COLUMNS = ["song_id", "song_name", "created_at", "updated_at"]

#: Hard-coded voice-part history overrides, keyed by normalized full_name
#: (reference: etl/dim_chorister.py:136-154). Kept as plain data; joined
#: in as a broadcast DataFrame.
CHORISTER_ASSIGNMENT_OVERRIDES: list[tuple[str, str, str, str]] = [
    # (normalized_name, voice_part, valid_from, valid_to)
    ("мария_дидуренко", "soprano", "16.06.24", "01.10.24"),
    ("мария_дидуренко", "alto", "02.10.24", ""),
    ("полина_калач", "alto", "16.06.24", "01.10.24"),
    ("полина_калач", "soprano", "02.10.24", ""),
    ("митя_чернаков", "bass", "16.06.24", "31.12.25"),
    ("митя_чернаков", "tenor", "01.01.26", ""),
]


def _empty(df: DataFrame, columns: list[str], extra: str = "") -> DataFrame:
    """Missing-column degradation F8: header-only output.

    ``extra`` appends the non-contract columns (input_row_id,
    song_ordinal) the real builders carry, so downstream lookups
    resolve against the degraded frame too.
    """
    schema = ", ".join(f"`{c}` string" for c in columns)
    if extra:
        schema += ", " + extra
    return local_frame(df.sparkSession, [], schema)


def chorister_rows(raw: DataFrame) -> DataFrame:
    """F1+F3: rows whose Tag is non-empty and not 'Song', with a name."""
    tag = F.trim(F.coalesce(F.col("Tag").cast("string"), F.lit("")))
    who = F.trim(F.coalesce(F.col("Who").cast("string"), F.lit("")))
    return (
        raw.withColumn("_tag", tag)
        .withColumn("full_name", who)
        .filter((F.col("_tag") != "") & (F.col("_tag") != "Song") & (F.col("full_name") != ""))
        .withColumn("joined_date", safe_str("Joined"))
        .withColumn(
            "tgid",
            safe_str("tgid") if "tgid" in raw.columns else F.lit(""),
        )
    )


def song_rows(raw: DataFrame) -> DataFrame:
    """F2: rows whose Tag is exactly 'Song' (trimmed)."""
    tag = F.trim(F.coalesce(F.col("Tag").cast("string"), F.lit("")))
    return raw.filter(tag == "Song")


def with_chorister_id(rows: DataFrame) -> DataFrame:
    """K1: first occurrence of a full_name keeps the bare name as id;
    later duplicates get ``"{name} | {joined_date}"``."""
    w = Window.partitionBy("full_name").orderBy(INPUT_ROW_ID)
    occ = F.row_number().over(w)
    return rows.withColumn(
        "chorister_id",
        F.when(occ == 1, F.col("full_name")).otherwise(
            F.concat_ws(" | ", F.col("full_name"), F.col("joined_date"))
        ),
    )


def build_dim_chorister(raw: DataFrame, run_ts: str) -> DataFrame:
    """dim_chorister: 1 row per person, in RAW row order (K1 ids)."""
    if not has_required_columns(raw, ["Tag", "Joined", "Who"]):
        return _empty(raw, DIM_CHORISTER_COLUMNS, extra=f"{INPUT_ROW_ID} long")
    rows = with_chorister_id(chorister_rows(raw))
    return rows.select(
        "chorister_id",
        "tgid",
        "full_name",
        "joined_date",
        F.lit(run_ts).alias("created_at"),
        F.lit(run_ts).alias("updated_at"),
        INPUT_ROW_ID,
    )


def chorister_id_by_key(dim_chorister: DataFrame) -> DataFrame:
    """K6 lookup table: (full_name, joined_date) -> chorister_id.

    The reference builds this as a dict, so a duplicate key keeps the id
    of the LAST raw occurrence (etl/dim_chorister.py:103-104) — hence
    max_by over input_row_id.
    """
    return dim_chorister.groupBy("full_name", "joined_date").agg(
        F.max_by("chorister_id", F.col(INPUT_ROW_ID)).alias("chorister_id")
    )


def normalized_to_chorister_id(dim_chorister: DataFrame) -> DataFrame:
    """K5 lookup table: normalized full_name -> id of FIRST occurrence."""
    return (
        dim_chorister.withColumn("normalized_name", normalize_name("full_name"))
        .groupBy("normalized_name")
        .agg(F.min_by("chorister_id", F.col(INPUT_ROW_ID)).alias("norm_chorister_id"))
    )


def build_dim_chorister_assignment(raw: DataFrame, dim_chorister: DataFrame) -> DataFrame:
    """dim_chorister_assignment: SCD-2-style voice-part validity periods.

    Per chorister raw row: either the rows from the override table
    (voice-part history, always is_active=TRUE, id bound to the
    first-seen chorister of that normalized name), or one open-ended
    assignment derived from Tag (C9). A raw row whose normalized name
    has K overrides fans out to K rows — per-raw-row like the reference
    loop (etl/dim_chorister.py:219-242). The K5/K6 id lookups come
    from ``dim_chorister`` (built or read back), not a rebuild from raw.
    """
    if not has_required_columns(raw, ["Tag", "Joined", "Who"]):
        return _empty(raw, DIM_CHORISTER_ASSIGNMENT_COLUMNS)

    spark = raw.sparkSession
    rows = chorister_rows(raw).withColumn("normalized_name", normalize_name("full_name"))

    # K6 with miss-policy "fall back to full_name" (etl/dim_chorister.py:213-216).
    keys = chorister_id_by_key(dim_chorister)
    rows = rows.join(
        F.broadcast(keys), on=["full_name", "joined_date"], how="left"
    ).withColumn("chorister_id", F.coalesce("chorister_id", "full_name"))

    norm_ids = normalized_to_chorister_id(dim_chorister)
    rows = rows.join(F.broadcast(norm_ids), on="normalized_name", how="left")

    overrides = local_frame(
        spark,
        CHORISTER_ASSIGNMENT_OVERRIDES,
        "normalized_name string, ov_voice_part string, ov_valid_from string, ov_valid_to string",
    )

    overridden = (
        rows.join(F.broadcast(overrides), on="normalized_name", how="inner")
        .withColumn("chorister_id", F.coalesce("norm_chorister_id", "chorister_id"))
        .select(
            F.col("chorister_id"),
            F.lower(F.trim("ov_voice_part")).alias("voice_part"),
            F.lit("TRUE").alias("is_active"),
            F.col("ov_valid_from").alias("valid_from"),
            F.col("ov_valid_to").alias("valid_to"),
            INPUT_ROW_ID,
        )
    )

    vp = voice_part_and_active(F.col("_tag"))
    derived = (
        rows.join(F.broadcast(overrides.select("normalized_name")),
                  on="normalized_name", how="left_anti")
        .withColumn("_vp", vp)
        .select(
            "chorister_id",
            F.col("_vp.voice_part").alias("voice_part"),
            F.when(F.col("_vp.is_active"), "TRUE").otherwise("FALSE").alias("is_active"),
            F.col("joined_date").alias("valid_from"),
            F.lit("").alias("valid_to"),
            INPUT_ROW_ID,
        )
    )

    out = overridden.unionByName(derived)
    return out.select(
        F.concat_ws(" | ", "chorister_id", "voice_part", "valid_from").alias(
            "assignment_id"
        ),
        *DIM_CHORISTER_ASSIGNMENT_COLUMNS[1:],
        INPUT_ROW_ID,
    )


def build_dim_song(raw: DataFrame, run_ts: str) -> DataFrame:
    """dim_song with K2 '(n)'-suffix dedup of duplicate titles, plus the
    per-song ordinal ``song_ordinal`` that fact_song_time zips against
    (U4; reference: etl/dim_song.py:59-63 feeding etl/fact_song_time.py:71-81).
    """
    if not has_required_columns(raw, ["Tag", "Who"]):
        return _empty(raw, DIM_SONG_COLUMNS, extra=f"song_ordinal int, {INPUT_ROW_ID} long")
    who = F.trim(F.coalesce(F.col("Who").cast("string"), F.lit("")))
    rows = song_rows(raw).withColumn("song_name", who).filter(F.col("song_name") != "")
    occ = F.row_number().over(Window.partitionBy("song_name").orderBy(INPUT_ROW_ID))
    ordinal = F.row_number().over(Window.orderBy(INPUT_ROW_ID)) - F.lit(1)
    return (
        rows.withColumn(
            "song_id",
            F.when(occ == 1, F.col("song_name")).otherwise(
                F.format_string("%s (%d)", F.col("song_name"), occ)
            ),
        )
        .withColumn("song_ordinal", ordinal)
        .select(
            "song_id",
            "song_name",
            F.lit(run_ts).alias("created_at"),
            F.lit(run_ts).alias("updated_at"),
            "song_ordinal",
            INPUT_ROW_ID,
        )
    )
