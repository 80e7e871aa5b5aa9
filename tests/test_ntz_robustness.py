"""Timestamp-encoding robustness (round-4 postmortem).

The driver regenerated events.parquet with tz-naive ``timestamp[us]``
between rounds 3 and 4; Spark 4 read it as TIMESTAMP_NTZ and
``unix_micros`` / ``withWatermark`` / ``session_window`` started
rejecting the column — one silent upstream re-encode took out q13, the
whole bench run, and the streaming suite.

These tests pin the engine's immunity to that exact drift class: the
events-family queries must produce IDENTICAL results whether the
source parquet carries

- tz-aware micros (``timestamp[us, tz=UTC]`` — rounds 1–3 encoding),
- tz-naive micros (``timestamp[us]`` — the round-4 drift), or
- tz-naive nanos (``timestamp[ns]`` — pandas' default), which Spark
  surfaces as bigint under the engine's nanosAsLong conf.

Two layers are under test: the session conf
(``inferTimestampNTZ.enabled=false`` in session.py) that normalizes
reads engine-wide, and the defensive casts in ``plans.queries.T`` /
``operators.events`` that keep a caller-built session safe even when
the conf cannot be applied.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from ursa_major_choir_etl_spark.operators import events as ev

ENCODINGS = ["us_utc", "us_naive", "ns_naive"]


def _write_events(tmp_path, encoding: str) -> str:
    base = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
    rows = []
    # two users, gaps straddling the 30-min session boundary
    for uid, offsets_min in [
        (1, [0, 5, 10, 50, 55, 200]),
        (2, [0, 40, 41, 42, 300, 301]),
    ]:
        for i, off in enumerate(offsets_min):
            rows.append(
                {
                    "event_id": uid * 1000 + i,
                    "ts": base + dt.timedelta(minutes=off),
                    "user_id": uid,
                    "event_type": "click" if i % 2 else "error",
                    "value": float(i),
                }
            )
    ts = [r["ts"] for r in rows]
    if encoding == "us_utc":
        ts_arr = pa.array(ts, type=pa.timestamp("us", tz="UTC"))
    elif encoding == "us_naive":
        ts_arr = pa.array(
            [t.replace(tzinfo=None) for t in ts], type=pa.timestamp("us")
        )
    else:  # ns_naive
        ts_arr = pa.array(
            [t.replace(tzinfo=None) for t in ts], type=pa.timestamp("ns")
        )
    table = pa.table(
        {
            "event_id": pa.array([r["event_id"] for r in rows], pa.int64()),
            "ts": ts_arr,
            "user_id": pa.array([r["user_id"] for r in rows], pa.int64()),
            "event_type": pa.array([r["event_type"] for r in rows]),
            "value": pa.array([r["value"] for r in rows], pa.float64()),
        }
    )
    out = str(tmp_path / f"events_{encoding}.parquet")
    pq.write_table(table, out)
    return out


def _load(spark, path):
    df = spark.read.parquet(path)
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


@pytest.fixture(scope="module")
def encoded_events(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("ntz")
    return {enc: _write_events(tmp, enc) for enc in ENCODINGS}


class TestEncodingInvariance:
    def test_session_conf_reads_ltz(self, spark, encoded_events):
        # under session.py's conf, tz-naive micros parquet must NOT
        # surface as TIMESTAMP_NTZ
        df = spark.read.parquet(encoded_events["us_naive"])
        assert dict(df.dtypes)["ts"] == "timestamp"

    @pytest.mark.parametrize("op_name", ["sessionize", "tumbling", "sliding"])
    def test_batch_ops_invariant_across_encodings(
        self, spark, encoded_events, op_name
    ):
        results = {}
        for enc in ENCODINGS:
            df = _load(spark, encoded_events[enc])
            if op_name == "sessionize":
                out = ev.sessionize(df)
            elif op_name == "tumbling":
                out = ev.tumbling_window_agg(df)
            else:
                out = ev.sliding_window_agg(df)
            results[enc] = sorted(map(tuple, out.collect()))
        assert results["us_naive"] == results["us_utc"]
        assert results["ns_naive"] == results["us_utc"]

    def test_sessionize_accepts_ntz_column_directly(self, spark, encoded_events):
        """Even when a caller hands sessionize a genuine NTZ column
        (locked-down session where the conf cannot apply), the
        defensive cast keeps it working with identical micros."""
        df = _load(spark, encoded_events["us_utc"])
        ntz = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        got = sorted(map(tuple, ev.sessionize(ntz).collect()))
        want = sorted(map(tuple, ev.sessionize(df).collect()))
        assert got == want


class TestNtzTzGuard:
    """cast_ntz_to_timestamp must never REINTERPRET data: the NTZ->LTZ
    cast is micros-preserving only under a UTC session tz, so under a
    locked-down non-UTC session it raises instead of silently shifting
    every timestamp (and with it session boundaries and window
    assignments)."""

    def test_refuses_locked_non_utc_session(self, spark, monkeypatch):
        from pyspark.sql import functions as F

        from ursa_major_choir_etl_spark.functions.columns import (
            cast_ntz_to_timestamp,
        )

        df = spark.range(1).select(
            F.current_timestamp().cast("timestamp_ntz").alias("ts")
        )
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        try:
            with monkeypatch.context() as m:
                # simulate a locked-down caller session: conf writes fail
                def _locked(self, k, v):
                    raise RuntimeError("conf is locked")

                m.setattr(type(spark.conf), "set", _locked)
                with pytest.raises(ValueError, match="refusing TIMESTAMP_NTZ"):
                    cast_ntz_to_timestamp(df)
        finally:
            spark.conf.set("spark.sql.session.timeZone", "UTC")

    def test_repins_utc_and_casts(self, spark):
        from pyspark.sql import functions as F

        from ursa_major_choir_etl_spark.functions.columns import (
            cast_ntz_to_timestamp,
        )

        df = spark.range(1).select(
            F.timestamp_micros(F.lit(1_700_000_000_000_000))
            .cast("timestamp_ntz")
            .alias("ts")
        )
        # a writable session gets re-pinned to UTC, then cast exactly
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        try:
            out = cast_ntz_to_timestamp(df)
            assert dict(out.dtypes)["ts"] == "timestamp"
            assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
            assert (
                out.select(F.unix_micros("ts")).first()[0]
                == 1_700_000_000_000_000
            )
        finally:
            spark.conf.set("spark.sql.session.timeZone", "UTC")
