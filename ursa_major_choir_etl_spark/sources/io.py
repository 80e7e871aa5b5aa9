"""Sources and sinks (SURVEY §2.1, S1-S12).

The reference's storage is a Google Sheet reached over HTTPS
(reference: etl/gsheets.py); ours is Parquet on a distributed
filesystem. The mapping:

- S2/S3 range/table scan            -> spark.read.csv / scan_parquet
- S4 catalog listing                -> filesystem / catalog listing
- S5 create-if-not-exists           -> implicit on first Parquet write
- S6/S7 idempotent overwrite sink   -> write.mode("overwrite")
- S8 append sink                    -> write.mode("append")
- S9 header-on-first-write          -> intrinsic to Parquet schema
- S11/S12 existence validation      -> read_tables (one footer read per table)

Stable row ids: duplicate-name disambiguation (K1/K2) and the song
positional zip (U4) depend on source row order — Spark DataFrames are
unordered, so the ingest layer mints ``input_row_id`` (SURVEY §7.4
hard-part #1). Ids are assigned WITHOUT a global sort (no Exchange
SinglePartition): a tiny per-split statistics job computes each
split's row count and starting ``monotonically_increasing_id``, the
driver turns those into cumulative offsets (one row per split — KBs
even at 100k splits), and a broadcast join adds
``offset + (mid - split_min_mid)`` per row. Row order inside a text
split is file order and split index follows byte offset for a single
file, so ids reproduce file order exactly at any parallelism.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

INPUT_ROW_ID = "input_row_id"

#: Date columns of the RAW wide sheet follow its four fixed leading
#: columns (Tag, Joined, tgid, Who) by position
#: (reference: etl/fact_attendance.py:16-17 DATE_COLUMNS_START_INDEX=4).
DATE_COLUMNS_START_INDEX = 4


def local_frame(spark: SparkSession, rows: list[tuple], schema) -> DataFrame:
    """A driver-side table: ``rows`` in ``schema`` (a StructType or DDL string).

    ``createDataFrame`` over a Python list plans a Python-RDD scan, so
    the first job that reads it starts the pyspark daemon and Python
    workers, even for one row. An Arrow table is handed to the JVM
    instead and planned as a ``LocalRelation``: building, broadcasting
    and collecting it run no Spark job and no Python worker.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(columns, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def read_wide_sheet_csv(spark: SparkSession, path: str) -> DataFrame:
    """Ingest the RAW wide sheet (S2/S3) with a stable ``input_row_id``.

    All columns arrive as strings (the Sheets API shape); short rows pad
    with nulls (reference pads with ""/None, etl/gsheets.py:134).
    """
    df = spark.read.option("header", True).option("inferSchema", False).csv(path)
    return with_file_order_ids(df)


def with_file_order_ids(df: DataFrame, id_col: str = INPUT_ROW_ID) -> DataFrame:
    """Assign ``id_col`` = 0..n-1 in source order without a global sort.

    Scale-safe replacement for ``row_number() OVER (ORDER BY
    monotonically_increasing_id())`` (which funnels the whole scan
    through one task). Two jobs, both fully parallel:

    1. per-split aggregate of ``(count, min(mid))`` — output is one row
       per split, collected to the driver (KBs even at 100k splits);
    2. the main scan joined (broadcast) with the per-split cumulative
       offset: ``id = split_offset + (mid - split_min_mid)``.

    ``monotonically_increasing_id`` is consecutive within a partition
    (record counter in the low 33 bits), and for a single file the
    split index follows byte offset, so ids reproduce file order at any
    split count. The source must be deterministic across the two scans
    (a static file is). For multi-file inputs, order is per Spark's
    file packing; the wide-sheet contract is a single sheet/file.
    """
    pid_col, mid_col, off_col, min_col = "_fo_pid", "_fo_mid", "_fo_off", "_fo_min"
    tagged = df.withColumn(pid_col, F.spark_partition_id()).withColumn(
        mid_col, F.monotonically_increasing_id()
    )
    stats = (
        tagged.groupBy(pid_col)
        .agg(F.count(F.lit(1)).alias("cnt"), F.min(mid_col).alias("mn"))
        .collect()
    )
    offsets, acc = [], 0
    for r in sorted(stats, key=lambda r: r[pid_col]):
        offsets.append((r[pid_col], acc, r["mn"]))
        acc += r["cnt"]
    if not offsets:
        return df.withColumn(id_col, F.lit(None).cast("long"))
    off_df = local_frame(
        df.sparkSession, offsets, f"{pid_col} int, {off_col} long, {min_col} long"
    )
    return (
        tagged.join(F.broadcast(off_df), pid_col)
        .withColumn(
            id_col, F.col(off_col) + (F.col(mid_col) - F.col(min_col))
        )
        .drop(pid_col, mid_col, off_col, min_col)
    )


#: Column-name prefix for unusable headers (None/empty/duplicate).
#: Positional semantics require the columns to EXIST (date columns are
#: index-based), but no name-based logic may match them; the date-column
#: helpers skip this prefix.
PLACEHOLDER_PREFIX = "__placeholder_"


def clean_header(raw: list) -> list[str]:
    """Header hygiene of the JSON ingest path (mirrors the reference's
    dict-index semantics, etl/dim_chorister.py:18-20): empty/None and
    reserved names become positional placeholders; duplicate names keep
    only the LAST occurrence (dict last-wins)."""
    raw_header = ["" if h is None else str(h) for h in raw]
    last_index: dict[str, int] = {h: i for i, h in enumerate(raw_header)}
    header = []
    for i, h in enumerate(raw_header):
        if not h.strip() or h == INPUT_ROW_ID or last_index[h] != i:
            header.append(f"{PLACEHOLDER_PREFIX}{i}")
        else:
            header.append(h)
    return header


def read_wide_sheet_json(
    spark: SparkSession, path: str, num_partitions: int = 4
) -> DataFrame:
    """Ingest a saved Sheets ``values.get`` JSON payload through the
    custom ``sheet_values`` DataSource (sources/sheets_source.py) —
    the connector-native S2/S3 path: range-partitioned parallel reads
    with source-assigned stable ordinals, then header hygiene
    (``clean_header``) and null padding of short rows. Output is
    row-for-row identical to the CSV path for the same sheet (tested)."""
    from ursa_major_choir_etl_spark.sources.sheets_source import register

    register(spark)
    raw = (
        spark.read.format("sheet_values")
        .option("path", path)
        .option("numPartitions", str(num_partitions))
        .load()
    )
    header_rows = raw.filter(F.col(INPUT_ROW_ID) == 0).collect()
    if not header_rows:
        return local_frame(spark, [], f"{INPUT_ROW_ID} long")
    header = clean_header(header_rows[0]["cells"])
    # F.get is 0-based and returns null out-of-bounds even under ANSI
    # (element_at would raise) — short rows pad with nulls for free.
    return raw.filter(F.col(INPUT_ROW_ID) > 0).select(
        *[F.get("cells", i).alias(h) for i, h in enumerate(header)],
        (F.col(INPUT_ROW_ID) - 1).alias(INPUT_ROW_ID),
    )


def has_required_columns(df: DataFrame, required: list[str]) -> bool:
    """Missing-column degradation check F8 (reference returns an empty
    table when Tag/Joined/Who are absent, e.g. etl/dim_chorister.py:77-78)."""
    return set(required) <= set(df.columns)


#: Footer key under which Spark stores the exact schema of the rows it wrote.
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def scan_parquet(spark: SparkSession, path: str, merge_schema: bool = False) -> DataFrame:
    """Scan a Parquet file or table directory; planning runs no Spark job.

    A bare ``spark.read.parquet`` infers the schema with a footer-reading
    job. Here the driver reads one footer (:func:`_footer_schema`) and
    passes the schema explicitly. Hive-partitioned directories,
    ``merge_schema=True``, missing paths and any footer whose types may
    infer differently keep Spark's own inference (and its job); a
    missing path still raises ``AnalysisException``.
    """
    reader = spark.read
    if merge_schema:
        return reader.option("mergeSchema", "true").parquet(path)
    schema = _footer_schema(spark, path)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def _footer_schema(spark: SparkSession, path: str):
    """The schema Spark would infer for ``path``, from one footer, or None.

    Spark-written files carry their schema as JSON in the footer, and
    Spark's inference returns exactly that. For other writers the Arrow
    schema is mapped type by type, and None is returned for any type
    (nanosecond timestamps, unsigned ints, dictionaries, field ids, ...)
    whose mapping is not certain to equal Spark's. Only local paths are
    read; None also covers partitioned or missing paths, summary files
    and session confs that change inference.
    """
    first = _first_data_file(path)
    if first is None or spark.conf.get("spark.sql.parquet.mergeSchema") == "true":
        return None
    import json

    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    try:
        meta = pq.read_metadata(first)
    except (OSError, ValueError):  # not a parquet footer: Spark reports it
        return None
    spark_json = (meta.metadata or {}).get(_SPARK_ROW_METADATA)
    if spark_json is not None:
        try:
            return StructType.fromJson(json.loads(spark_json))
        except (ValueError, KeyError, TypeError):
            return None
    if spark.conf.get("spark.sql.parquet.binaryAsString") == "true":
        return None
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "true"
    return _arrow_struct(meta.schema.to_arrow_schema(), ntz)


def _first_data_file(path: str) -> str | None:
    """The file Spark's non-merging inference reads: ``path`` itself, or
    the first data file of a flat directory (hidden names skipped as
    Spark's file index does). None for subdirectories, summary files
    and paths that are not local."""
    if os.path.isfile(path):
        return path
    if not os.path.isdir(path):
        return None
    files = []
    for entry in sorted(os.listdir(path)):
        if entry in ("_metadata", "_common_metadata"):
            return None
        if entry.startswith(".") or (entry.startswith("_") and "=" not in entry):
            continue
        full = os.path.join(path, entry)
        if not os.path.isfile(full):
            return None
        files.append(full)
    return files[0] if files else None


def _arrow_struct(schema, ntz: bool):
    """Map Arrow fields to a Spark StructType, or None (see _footer_schema)."""
    from pyspark.sql.types import StructField, StructType

    fields = []
    for f in schema:
        t = _arrow_type(f.type, ntz)
        if t is None or b"PARQUET:field_id" in (f.metadata or {}):
            return None
        fields.append(StructField(f.name, t, True))
    return StructType(fields)


def _arrow_type(t, ntz: bool):
    import pyarrow as pa
    import pyarrow.types as pat
    from pyspark.sql import types as st

    primitive = {
        pa.bool_(): st.BooleanType(), pa.int8(): st.ByteType(),
        pa.int16(): st.ShortType(), pa.int32(): st.IntegerType(),
        pa.int64(): st.LongType(), pa.float32(): st.FloatType(),
        pa.float64(): st.DoubleType(), pa.string(): st.StringType(),
        pa.large_string(): st.StringType(), pa.binary(): st.BinaryType(),
        pa.date32(): st.DateType(),
    }
    if t in primitive:
        return primitive[t]
    if pat.is_timestamp(t):
        # NANOS reads as bigint under nanosAsLong (or fails without it)
        if t.unit == "ns":
            return None
        return st.TimestampNTZType() if ntz and t.tz is None else st.TimestampType()
    if pat.is_decimal128(t):
        return st.DecimalType(t.precision, t.scale)
    if pat.is_list(t) or pat.is_large_list(t):
        elem = _arrow_type(t.value_type, ntz)
        return None if elem is None else st.ArrayType(elem, True)
    if pat.is_map(t):
        key, item = _arrow_type(t.key_type, ntz), _arrow_type(t.item_type, ntz)
        return None if key is None or item is None else st.MapType(key, item, True)
    if pat.is_struct(t):
        return _arrow_struct(t, ntz)
    return None


def read_parquet_table(
    spark: SparkSession, warehouse: str, name: str, merge_schema: bool = False
) -> DataFrame:
    """Read a warehouse table through :func:`scan_parquet`.
    ``merge_schema=True`` unions the schemas of all files (schema
    evolution: an appended batch that ADDED a column still reads as
    one table, old files null-filled). Off by default: merging footers
    costs a file-listing pass per read, and a table of homogeneous
    files shouldn't pay it."""
    return scan_parquet(spark, os.path.join(warehouse, name), merge_schema)


def overwrite_parquet(
    df: DataFrame,
    warehouse: str,
    name: str,
    partition_by: list[str] | None = None,
    dynamic: bool = False,
    sort_by: list[str] | None = None,
) -> int:
    """Idempotent overwrite sink (S6/S7); returns the rows written.

    The count is an ``Observation`` collected by the write itself: no
    probe job before the write, no re-read ``count()`` after it.
    ``partition_by`` hash-repartitions on the partition columns first,
    so each partition value lands in one file. ``sort_by``
    range-repartitions on the keys and sorts within each file, so
    parquet min/max statistics on the keys skip whole files (a local
    sort alone cannot: round-robin partitions span the full key range).

    ``dynamic=False`` (default) is the reference's clear-then-write:
    the whole table is replaced. ``dynamic=True`` rewrites only the
    partitions present in ``df`` (partitionOverwriteMode=dynamic) —
    the incremental path; the table must already be partitioned.

    Empty frames are handled after the write, from the observed count.
    A static partitioned write of 0 rows lands no file, so the table is
    rewritten as one schema-only unpartitioned file (the F8 degraded
    tables need a readable schema). A dynamic write of 0 rows touches
    no partition: it is a no-op.
    """
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    if partition_by:
        df = df.repartition(*partition_by)
    elif sort_by:
        df = df.repartitionByRange(*sort_by)
    if sort_by:
        df = df.sortWithinPartitions(*sort_by)
    path = os.path.join(warehouse, name)
    writer = df.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic" if dynamic else "static"
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    try:
        rows = obs.get["rows"]
    except Py4JJavaError as e:
        # The optimizer pruned the plan to an empty relation, so no
        # metrics row was collected and toPyRow asserts on the empty one.
        if "java.lang.AssertionError" not in e.java_exception.toString():
            raise
        rows = 0
    if rows == 0 and partition_by and not dynamic:
        local_frame(df.sparkSession, [], df.schema).write.mode("overwrite").parquet(path)
    return rows


def merge_upsert(
    spark: SparkSession,
    warehouse: str,
    name: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_col: str | None = None,
    extra_touched: list | None = None,
) -> tuple[int, int]:
    """CDC-style MERGE (upsert): rows in ``updates`` replace target
    rows with the same key; unmatched rows are inserted.

    Parquet has no row-level ACID, so merge = rewrite-touched-
    partitions: (1) collect the distinct ``partition_col`` values in
    the delta (small — one value per touched partition, never data-
    sized); (2) read ONLY those partitions of the target (partition-
    pruned scan); (3) left_anti old rows against delta keys; (4) union
    the delta; (5) atomically swap just those partition directories.
    Untouched partitions are neither read nor written — at 100 TB the
    cost scales with the delta, not the table. A table with no
    ``partition_col`` degrades to a full rewrite (documented cost).

    The reference has no incremental path at all (full recompute per
    run, `etl/main.py:190-285`); this is the scale-path extension the
    overwrite sink (S6/S7) needs for frequent small deltas.

    Touched partitions are derived from the DELTA's partition values,
    which is only complete when a key's partition value never changes
    between updates (partition_col derived from the key, the standard
    Hive-layout contract). A caller whose updates CAN move a key
    across partitions must pass the standing rows' partition values
    via ``extra_touched`` — those partitions then join the rewrite,
    so the key's old row is retired (and a partition left empty is
    removed) in the same atomic swap. ``streaming_upsert_sink``'s
    seq mode does exactly this.

    Returns (n_replaced, n_inserted).
    """
    import shutil

    path = os.path.join(warehouse, name)
    target = spark.read.parquet(path)

    if partition_col is not None:
        touched = sorted(
            {
                r[0]
                for r in updates.select(partition_col).distinct().collect()
            }
            | set(extra_touched or [])
        )
        pruned = target.filter(F.col(partition_col).isin(touched))
    else:
        touched = None
        pruned = target

    keys = updates.select(*key_cols).distinct()
    n_replaced = pruned.join(keys, key_cols, "left_semi").count()
    n_inserted = updates.count() - n_replaced

    merged = pruned.join(keys, key_cols, "left_anti").unionByName(
        updates.select(*target.columns)
    )

    tmp = path + "__merging"
    writer = merged.write.mode("overwrite")
    if partition_col is not None:
        writer = writer.partitionBy(partition_col)
    writer.parquet(tmp)

    if touched is None:
        shutil.rmtree(path)
        os.rename(tmp, path)
    else:
        for v in touched:
            sub = f"{partition_col}={v}"
            dst = os.path.join(path, sub)
            src = os.path.join(tmp, sub)
            if os.path.exists(dst):
                shutil.rmtree(dst)
            if os.path.exists(src):  # delta may be all-inserts elsewhere
                os.rename(src, dst)
        shutil.rmtree(tmp)
    return n_replaced, n_inserted


def append_parquet(df: DataFrame, warehouse: str, name: str) -> None:
    """Append sink (S8) — used by the etl_log audit table."""
    df.write.mode("append").parquet(os.path.join(warehouse, name))


def read_tables(
    spark: SparkSession, warehouse: str, names: list[str]
) -> list[DataFrame]:
    """Read each named table once, in order; S12: fail fast naming
    every missing one (reference: etl/main.py:79-85)."""
    tables, missing = [], []
    for n in names:
        try:
            tables.append(read_parquet_table(spark, warehouse, n))
        except AnalysisException:
            missing.append(n)
    if missing:
        raise RuntimeError(
            f"Missing required tables in {warehouse!r}: {', '.join(sorted(missing))}"
        )
    return tables
