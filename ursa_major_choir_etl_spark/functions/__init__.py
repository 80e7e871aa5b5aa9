"""Reusable Column functions (SURVEY §2.5 scalar inventory).

Every scalar function of the reference is expressed as a native Spark
Column expression — no Python UDFs — so the whole pipeline stays inside
whole-stage codegen.
"""

from ursa_major_choir_etl_spark.functions.columns import (
    date_iso,
    flag,
    normalize_date_to_iso,
    normalize_name,
    parse_decimal_comma,
    safe_str,
    voice_part_and_active,
)

__all__ = [
    "normalize_date_to_iso",
    "parse_decimal_comma",
    "safe_str",
    "flag",
    "date_iso",
    "normalize_name",
    "voice_part_and_active",
]
