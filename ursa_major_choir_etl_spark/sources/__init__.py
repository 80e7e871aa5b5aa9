"""Sources & sinks (SURVEY §2.1): parquet/CSV IO, wide-sheet ingest, catalog."""

from ursa_major_choir_etl_spark.sources.io import (
    append_parquet,
    overwrite_parquet,
    read_parquet_table,
    read_tables,
    read_wide_sheet_csv,
)

__all__ = [
    "read_wide_sheet_csv",
    "read_parquet_table",
    "overwrite_parquet",
    "append_parquet",
    "read_tables",
]
