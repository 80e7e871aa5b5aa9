"""Custom PySpark DataSource for the Sheets ``values.get`` payload.

The reference's Google Sheets connector (``etl/gsheets.py:97-164``)
pulls ``spreadsheets.values.get`` and hands the ``values`` List[List]
to the pipeline. The sandbox has no Sheets API, so this repo's engine
boundary is the SAVED API response — a JSON file shaped
``{"values": [[...], ...]}`` — served through Spark's Python
DataSource API (Spark 4) as a first-class ``spark.read.format(...)``
connector instead of a driver-side list:

- **range-partitioned parallel reads**: rows are split into
  ``numPartitions`` contiguous ranges; each task opens the payload and
  emits only its slice, so a wide sheet scans in parallel;
- **stable row ordinals at the source**: ``input_row_id`` is the
  payload row index, assigned per-partition from the range bounds —
  the connector-native version of ``with_file_order_ids`` (no
  monotonically_increasing_id reconciliation pass at all);
- **API-shape fidelity**: cells arrive as ``array<string>`` with
  Nones preserved; ragged rows are NOT padded here (the wide-sheet
  projection pads, mirroring ``etl/gsheets.py:134``).

Swapping in the real Sheets API means replacing ``_load_values`` with
the HTTP call — partitioning, ordinals, and schema stay identical.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
)

SCHEMA = "input_row_id bigint, cells array<string>"


def _load_values(path: str) -> list[list]:
    with open(path) as f:
        payload = json.load(f)
    return payload["values"] if isinstance(payload, dict) else payload


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start, self.end = start, end


class SheetValuesDataSource(DataSource):
    """``spark.read.format("sheet_values").option("path", p).load()``"""

    @classmethod
    def name(cls) -> str:
        return "sheet_values"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> "SheetValuesReader":
        return SheetValuesReader(self.options)


class SheetValuesReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("sheet_values: option 'path' is required")
        self.n_partitions = int(options.get("numPartitions", "4"))

    def partitions(self) -> list[InputPartition]:
        # The row count comes from a driver-side metadata read; the
        # payload is bounded by the Sheets API itself (a sheet, not a
        # table), so this mirrors how file sources list splits.
        n = len(_load_values(self.path))
        k = max(min(self.n_partitions, n), 1)
        step = max((n + k - 1) // k, 1)  # an empty payload has no rows to split
        return [
            _RangePartition(lo, min(lo + step, n)) for lo in range(0, n, step)
        ] or [_RangePartition(0, 0)]

    def read(self, partition: _RangePartition) -> Iterator[tuple]:
        values = _load_values(self.path)
        for i in range(partition.start, partition.end):
            row = values[i]
            yield (i, [None if c is None else str(c) for c in row])


def register(spark) -> None:
    """Idempotent format registration (last registration wins)."""
    spark.dataSource.register(SheetValuesDataSource)
