"""End-to-end pipeline (reference EP1: etl/main.py:146-347).

RAW wide sheet -> dims -> facts -> (materialize) -> marts -> alerts ->
etl_log. Each table is one write whose observed row count feeds the
audit row; only the dims later builders consume (dim_chorister,
dim_song) are read back from storage, which cuts their lineage and
gives each layer independent restartability at scale.

E4 run-status capture: any exception marks the run failed, truncates
the message to 500 chars, and still appends the audit row
(etl/main.py:295-347).
"""

from __future__ import annotations

import argparse
from datetime import datetime, timezone

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
    build_mart_attendance,
    build_mart_chorister_song,
    build_mart_song_rehearsal,
)
from ursa_major_choir_etl_spark.operators.quality import build_bad_cells
from ursa_major_choir_etl_spark.session import get_spark
from ursa_major_choir_etl_spark.sources.io import (
    append_parquet,
    overwrite_parquet,
    read_parquet_table,
    read_tables,
    read_wide_sheet_csv,
    read_wide_sheet_json,
)

MART_INPUT_TABLES = [
    "dim_chorister",
    "dim_chorister_assignment",
    "dim_song",
    "fact_attendance",
    "fact_song_time",
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

        counts["rows_dim_chorister"] = overwrite_parquet(
            build_dim_chorister(raw, run_ts), warehouse, "dim_chorister"
        )
        dim_chorister = read_parquet_table(spark, warehouse, "dim_chorister")
        counts["rows_dim_chorister_assignment"] = overwrite_parquet(
            build_dim_chorister_assignment(raw, dim_chorister),
            warehouse,
            "dim_chorister_assignment",
        )
        counts["rows_dim_song"] = overwrite_parquet(
            build_dim_song(raw, run_ts), warehouse, "dim_song"
        )
        dim_song = read_parquet_table(spark, warehouse, "dim_song")

        append_parquet(build_bad_cells(raw, run_ts), warehouse, "bad_cells")

        # Facts are date-partitioned: with partitionOverwriteMode=dynamic
        # a re-run only rewrites the rehearsal dates it produced — the
        # 100 TB-friendly form of the reference's full clear+write.
        counts["rows_fact_attendance"] = overwrite_parquet(
            build_fact_attendance(raw, chorister_id_by_key(dim_chorister), run_ts),
            warehouse,
            "fact_attendance",
            partition_by=["rehearsal_date"],
        )
        counts["rows_fact_song_time"] = overwrite_parquet(
            build_fact_song_time(raw, dim_song, run_ts), warehouse, "fact_song_time"
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
        "rows_dim_chorister": counts.get("rows_dim_chorister", 0),
        "rows_dim_chorister_assignment": counts.get(
            "rows_dim_chorister_assignment", 0
        ),
        "rows_dim_song": counts.get("rows_dim_song", 0),
        "rows_fact_attendance": counts.get("rows_fact_attendance", 0),
        "rows_fact_song_time": counts.get("rows_fact_song_time", 0),
        "error_message": error_message,
    }
    audit_df = spark.createDataFrame(
        [tuple(audit.values())],
        "run_ts string, status string, rows_dim_chorister long,"
        " rows_dim_chorister_assignment long, rows_dim_song long,"
        " rows_fact_attendance long, rows_fact_song_time long, error_message string",
    )
    append_parquet(audit_df, warehouse, "etl_log")
    return audit


def build_marts(
    spark: SparkSession, warehouse: str, dates: list[str] | None = None
) -> None:
    """EP2: mart-only refresh from materialized dims/facts
    (reference: etl/main.py:73-108).

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
        # partition-pruned scan (fact_attendance is partitioned by
        # rehearsal_date); fact_song_time carries raw date strings, so
        # it filters on the normalized form.
        from ursa_major_choir_etl_spark.functions.columns import (
            normalize_date_to_iso,
        )

        fact_attendance = fact_attendance.filter(
            F.col("rehearsal_date").isin(dates)
        )
        iso = normalize_date_to_iso("rehearsal_date")
        fact_song_time = fact_song_time.filter(
            F.when(iso != "", iso).otherwise(F.col("rehearsal_date")).isin(dates)
        )

    incremental = dates is not None
    overwrite_parquet(
        build_mart_attendance(dim_chorister, assignment, fact_attendance),
        warehouse,
        "mart_attendance",
        partition_by=["rehearsal_date"],
        dynamic=incremental,
    )
    overwrite_parquet(
        build_mart_song_rehearsal(dim_song, fact_song_time),
        warehouse,
        "mart_song_rehearsal",
        partition_by=["rehearsal_date"],
        dynamic=incremental,
    )
    overwrite_parquet(
        build_mart_chorister_song(
            dim_chorister, assignment, dim_song, fact_attendance, fact_song_time
        ),
        warehouse,
        "mart_chorister_song",
        partition_by=["rehearsal_date"],
        dynamic=incremental,
    )


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
    violators_df = compute_missed_streaks(mart, lookback_weeks, streak_threshold)
    dim_order = read_parquet_table(spark, warehouse, "dim_chorister").select(
        "chorister_id", "input_row_id"
    )
    violators = [
        r.asDict()
        for r in violators_df.join(
            F.broadcast(dim_order), on="chorister_id", how="left"
        )
        .orderBy(F.asc_nulls_last("input_row_id"), "chorister_id")
        .drop("input_row_id")
        .collect()
    ]
    rate = compute_attendance_rate(mart, lookback_weeks)
    msg = format_alert_message(violators, lookback_weeks, streak_threshold, rate)
    print("--- Alert message ---")
    print(msg)
    print("---")
    if dry_run:
        print("Alerts dry run: message not sent to Telegram.")
    else:
        send_telegram_message(telegram_token, telegram_chat_id, msg)
    return msg


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
