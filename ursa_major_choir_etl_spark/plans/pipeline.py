"""End-to-end pipeline (reference EP1: etl/main.py:146-347).

RAW wide sheet -> dims -> facts -> marts -> alerts -> etl_log, in
waves of independent writes; each wave's writes run as concurrent Spark
jobs, one driver thread each (``_concurrently``): (1) dim_chorister,
dim_song, the bad_cells append; (2) read back dim_chorister and
dim_song, cutting their lineage; (3) dim_chorister_assignment,
fact_attendance, fact_song_time; (4) the three marts (``build_marts``,
also EP2); (5) EP3's violators and attendance rate; (6) the etl_log
audit row, whose counts each write observes as it writes.

E4 run-status capture: any exception marks the run failed, truncates
the message to 500 chars, and still appends the audit row
(etl/main.py:295-347). A failing write's wave siblings still finish and
are counted, no later wave starts, and the message is the wave's first
failure in the reference's table order.
"""

from __future__ import annotations

import argparse
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timezone
from functools import partial

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ursa_major_choir_etl_spark.alerts import format_alert_message, send_telegram_message
from ursa_major_choir_etl_spark.operators.analytics import (
    compute_attendance_rate,
    compute_missed_streaks,
)
from ursa_major_choir_etl_spark.operators.dims import (
    build_dim_chorister,
    build_dim_chorister_assignment,
    build_dim_song,
    chorister_id_by_key,
)
from ursa_major_choir_etl_spark.operators.facts import (
    build_fact_attendance,
    build_fact_song_time,
)
from ursa_major_choir_etl_spark.operators.marts import (
    _norm_or_raw,
    build_mart_attendance,
    build_mart_chorister_song,
    build_mart_song_rehearsal,
)
from ursa_major_choir_etl_spark.operators.quality import build_bad_cells
from ursa_major_choir_etl_spark.session import get_spark
from ursa_major_choir_etl_spark.sources.io import (
    append_parquet,
    local_frame,
    overwrite_parquet,
    read_parquet_table,
    read_tables,
    read_wide_sheet_csv,
    read_wide_sheet_json,
)

#: Also the tables whose row counts the audit row carries, in its order.
MART_INPUT_TABLES = [
    "dim_chorister", "dim_chorister_assignment", "dim_song", "fact_attendance", "fact_song_time"
]


def run_pipeline(
    spark: SparkSession,
    raw_path: str,
    warehouse: str,
    alerts_enabled: bool = False,
    alerts_dry_run: bool = True,
    lookback_weeks: int = 12,
    streak_threshold: int = 3,
    telegram_token: str = "",
    telegram_chat_id: str = "",
) -> dict:
    """Full EP1 run. Returns the audit row as a dict."""
    status = "success"
    error_message = ""
    counts: dict[str, int] = {}
    try:
        # .json payloads go through the custom sheet_values DataSource
        # (the saved values.get response — the Sheets-connector path);
        # anything else is the CSV export of the same sheet.
        if raw_path.endswith(".json"):
            raw = read_wide_sheet_json(spark, raw_path)
        else:
            raw = read_wide_sheet_csv(spark, raw_path)
        raw.cache()  # one scan feeds all five builders (etl/main.py:190-194)

        run_ts = datetime.now(timezone.utc).isoformat(timespec="seconds")

        write = partial(_write, counts, warehouse)
        _concurrently(
            spark,
            write("dim_chorister", lambda: build_dim_chorister(raw, run_ts)),
            write("dim_song", lambda: build_dim_song(raw, run_ts)),
            lambda: append_parquet(build_bad_cells(raw, run_ts), warehouse, "bad_cells"),
        )
        dim_chorister = read_parquet_table(spark, warehouse, "dim_chorister")
        dim_song = read_parquet_table(spark, warehouse, "dim_song")
        _concurrently(
            spark,
            write(
                "dim_chorister_assignment",
                lambda: build_dim_chorister_assignment(raw, dim_chorister),
            ),
            write(
                "fact_attendance",
                lambda: build_fact_attendance(raw, chorister_id_by_key(dim_chorister), run_ts),
                partition_by=["rehearsal_date"],
            ),
            write("fact_song_time", lambda: build_fact_song_time(raw, dim_song, run_ts)),
        )

        build_marts(spark, warehouse)

        if alerts_enabled:
            _run_alerts(
                spark,
                warehouse,
                dry_run=alerts_dry_run,
                lookback_weeks=lookback_weeks,
                streak_threshold=streak_threshold,
                telegram_token=telegram_token,
                telegram_chat_id=telegram_chat_id,
            )
    except Exception as exc:  # noqa: BLE001 — E4: log, don't crash the audit
        status = "failed"
        error_message = str(exc)[:500]

    audit = {
        "run_ts": datetime.now(timezone.utc).isoformat(timespec="seconds"),
        "status": status,
        **{f"rows_{t}": counts.get(t, 0) for t in MART_INPUT_TABLES},
        "error_message": error_message,
    }
    audit_df = local_frame(
        spark,
        [tuple(audit.values())],
        ", ".join(f"{k} {'long' if k.startswith('rows_') else 'string'}" for k in audit),
    )
    append_parquet(audit_df, warehouse, "etl_log")
    return audit


def build_marts(
    spark: SparkSession, warehouse: str, dates: list[str] | None = None
) -> dict[str, int]:
    """EP2: mart-only refresh from materialized dims/facts
    (reference: etl/main.py:73-108); returns the rows written per mart.

    With ``dates`` (ISO strings), only those rehearsal dates rebuild:
    the fact scan prunes to the named partitions and dynamic partition
    overwrite rewrites only the matching mart partitions — the
    incremental path the reference's full-recompute lacks (SURVEY
    §4.2), which is what makes a daily refresh feasible at 100 TB.
    """
    dim_chorister, assignment, dim_song, fact_attendance, fact_song_time = read_tables(
        spark, warehouse, MART_INPUT_TABLES
    )

    if dates is not None:
        # Partition-pruned scan: fact_attendance is partitioned by its
        # parsed DATE, compared as a string so that a date no header
        # parses to (one the song mart keeps raw) matches no partition
        # instead of failing the ANSI cast. fact_song_time carries raw
        # date strings, so it filters on the date the song mart writes.
        fact_attendance = fact_attendance.filter(
            F.col("rehearsal_date").cast("string").isin(dates)
        )
        fact_song_time = fact_song_time.filter(
            _norm_or_raw("rehearsal_date").isin(dates)
        )

    rows: dict[str, int] = {}
    incremental = dates is not None
    write = partial(_write, rows, warehouse, partition_by=["rehearsal_date"], dynamic=incremental)
    _concurrently(
        spark,
        write(
            "mart_attendance",
            lambda: build_mart_attendance(dim_chorister, assignment, fact_attendance),
        ),
        write("mart_song_rehearsal", lambda: build_mart_song_rehearsal(dim_song, fact_song_time)),
        write(
            "mart_chorister_song",
            lambda: build_mart_chorister_song(
                dim_chorister, assignment, dim_song, fact_attendance, fact_song_time
            ),
        ),
    )
    return rows


def _run_alerts(
    spark: SparkSession,
    warehouse: str,
    dry_run: bool,
    lookback_weeks: int,
    streak_threshold: int,
    telegram_token: str,
    telegram_chat_id: str,
) -> str:
    """EP3: streak + rate over mart_attendance, format, send or print.

    Violators are numbered in the reference's order — first appearance
    in the mart, which is the chorister's sheet-row order
    (etl/alerts.py:111-120 dict insertion over fact-ordered rows).
    dim_chorister's input_row_id IS that order, so the collect is
    deterministic run-to-run regardless of partitioning.
    """
    mart = read_parquet_table(spark, warehouse, "mart_attendance")
    dim_order = read_parquet_table(spark, warehouse, "dim_chorister").select(
        "chorister_id", "input_row_id"
    )

    def collect_violators() -> list[dict]:
        violators = compute_missed_streaks(mart, lookback_weeks, streak_threshold).join(
            F.broadcast(dim_order), on="chorister_id", how="left"
        )
        ordered = violators.orderBy(F.asc_nulls_last("input_row_id"), "chorister_id")
        return [r.asDict() for r in ordered.drop("input_row_id").collect()]

    violators, rate = _concurrently(
        spark, collect_violators, lambda: compute_attendance_rate(mart, lookback_weeks)
    )
    msg = format_alert_message(violators, lookback_weeks, streak_threshold, rate)
    print("--- Alert message ---")
    print(msg)
    print("---")
    if dry_run:
        print("Alerts dry run: message not sent to Telegram.")
    else:
        send_telegram_message(telegram_token, telegram_chat_id, msg)
    return msg


def _write(counts: dict[str, int], warehouse: str, table: str, build, **kwargs):
    """A thunk: overwrite ``table`` with ``build()``, record its rows in ``counts``."""

    def write() -> None:
        counts[table] = overwrite_parquet(build(), warehouse, table, **kwargs)

    return write


def _concurrently(spark: SparkSession, *thunks):
    """Run each thunk on its own driver thread, which inherits the
    caller's job group and description; once all have finished, return
    their results in order or re-raise the first failure in that order."""
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(t)) for t in thunks]
    return [f.result() for f in futures]


def main() -> None:
    """CLI entrypoint with reference-parity env bootstrap.

    Flags win over environment; with no flags the run is driven by env
    alone, exactly like the reference (etl/main.py:144-168): .env files
    loaded (root overrides, cwd fills), RAW_SPREADSHEET_ID /
    TARGET_SPREADSHEET_ID required (KeyError names the missing one;
    they map to the RAW csv path / warehouse dir in this engine), and
    alerts gated by ALERTS_ENABLED=1 + ALERTS_DRY_RUN /
    ALERTS_LOOKBACK_WEEKS / ALERTS_STREAK_THRESHOLD /
    TELEGRAM_BOT_TOKEN / TELEGRAM_CHAT_ID.
    """
    from ursa_major_choir_etl_spark.config import (
        alerts_config_from_env,
        bootstrap_env,
        required_id,
    )

    bootstrap_env()
    parser = argparse.ArgumentParser(description="Choir ETL on Spark")
    parser.add_argument("--raw", help="RAW wide-sheet CSV (default: $RAW_SPREADSHEET_ID)")
    parser.add_argument("--out", help="warehouse dir (default: $TARGET_SPREADSHEET_ID)")
    parser.add_argument("--alerts", action="store_true",
                        help="force alerts on (otherwise ALERTS_ENABLED=1 gates them)")
    parser.add_argument("--no-dry-run", action="store_true")
    parser.add_argument("--lookback-weeks", type=int, default=None)
    parser.add_argument("--streak-threshold", type=int, default=None)
    args = parser.parse_args()

    raw_path = args.raw if args.raw is not None else required_id("RAW_SPREADSHEET_ID")
    warehouse = args.out if args.out is not None else required_id("TARGET_SPREADSHEET_ID")

    env_cfg = alerts_config_from_env()
    if args.alerts:
        # CLI mode: flag forces alerts; CLI numbers win, env fills gaps.
        enabled, skip_reason = True, None
        dry_run = not args.no_dry_run
    else:
        enabled, skip_reason = env_cfg.enabled, env_cfg.skip_reason
        dry_run = env_cfg.dry_run
    lookback = (
        args.lookback_weeks
        if args.lookback_weeks is not None
        else (env_cfg.lookback_weeks if not args.alerts else 12)
    )
    streak = (
        args.streak_threshold
        if args.streak_threshold is not None
        else (env_cfg.streak_threshold if not args.alerts else 3)
    )

    spark = get_spark()
    audit = run_pipeline(
        spark,
        raw_path=raw_path,
        warehouse=warehouse,
        alerts_enabled=enabled,
        alerts_dry_run=dry_run,
        lookback_weeks=lookback,
        streak_threshold=streak,
        telegram_token=env_cfg.telegram_token,
        telegram_chat_id=env_cfg.telegram_chat_id,
    )
    if skip_reason:
        print(skip_reason)
    print(audit)


if __name__ == "__main__":
    main()
