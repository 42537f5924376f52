"""The composed daily-update pipeline — the engine's cron entry point.

Parity target: reference ``.github/scripts/run_daily_update.py:33-93``
(lookback window calc → batch probe → UPSERT → summary) plus the two
steps its workflow runs right after: the validation trio
(``scripts/operations/validate.py:56-183``, warnings-only) and the
rankings incremental append
(``.github/scripts/generate_volume_rankings.py:259-293``).

Semantics carried over exactly:
- ADR-0011 rolling lookback: end = today − 1 (S3 Vision T+1), start =
  end − (lookback_days − 1); re-probing the same dates is idempotent
  because the UPSERT dedups on (date, symbol) with the latest
  ``probe_timestamp`` winning.
- Warnings never fail the run (reference validate.py:29-35 "trust human
  judgment"): the report is returned/logged, exit stays 0.

Scale shape: probing is driver-threaded for one day (the reference's
150-worker optimum) or executor-distributed for backfills
(``probe_matrix_distributed``); the upsert rewrites only the touched
date partitions (work ∝ lookback_days, not table size); the rankings
append computes rows only past the archive watermark.
"""

from __future__ import annotations

import datetime as dt
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import open_table
from .ingest.probe import BatchProber, results_to_df
from .operators import rankings as rankings_ops
from .schema import (
    DAILY_AVAILABILITY_KEY,
    DAILY_AVAILABILITY_VERSION,
)
from .sources import writer
from .validation import completeness, continuity, cross_check


def lookback_window(
    today: dt.date, lookback_days: int = 1
) -> tuple[dt.date, dt.date]:
    """ADR-0011 window: probe [today−lookback_days, today−1] — yesterday
    anchored (S3 Vision publishes T+1), re-covering the previous
    ``lookback_days − 1`` days every run (run_daily_update.py:44-48)."""
    if lookback_days < 1:
        raise ValueError(f"lookback_days must be >= 1, got {lookback_days}")
    end = today - dt.timedelta(days=1)
    start = end - dt.timedelta(days=lookback_days - 1)
    return start, end


def validate_report(
    da: DataFrame,
    end_date: dt.date | str | None = None,
    min_symbols: int = 5,
    api_symbols: DataFrame | None = None,
) -> dict:
    """The three-layer validation trio as ONE warnings-only report
    (reference scripts/operations/validate.py:56-183).

    1. Continuity — missing dates between the table's first date and
       ``end_date`` (default: max(date) − 3 days, the reference's S3
       publishing-delay allowance, validate.py:68-70).
    2. Completeness — dates whose symbol count falls below
       ``min_symbols`` (HAVING filter, A7).
    3. Cross-check — set compare vs the exchange's live symbol list,
       SKIPPED when ``api_symbols`` is None (the reference skips on
       geo-blocking; here: offline runs).

    Never raises on findings; the caller logs and exits 0
    (validate.py:183's always-0 policy).
    """
    bounds = da.agg(
        F.min("date").alias("lo"), F.max("date").alias("hi")
    ).collect()[0]
    if bounds["lo"] is None:
        return {
            "empty": True,
            "missing_dates": [],
            "incomplete_dates": [],
            "cross_check": None,
            "has_warnings": True,
        }
    if end_date is None:
        end = bounds["hi"] - dt.timedelta(days=3)
    else:
        end = (
            dt.date.fromisoformat(end_date)
            if isinstance(end_date, str)
            else end_date
        )
    report: dict = {"empty": False}
    if end >= bounds["lo"]:
        report["missing_dates"] = [
            r["expected_date"]
            for r in continuity.find_gaps(da, bounds["lo"], end)
            .orderBy("expected_date")
            .collect()
        ]
    else:
        report["missing_dates"] = []
    report["incomplete_dates"] = [
        (r["date"], r["symbol_count"])
        for r in completeness.incomplete_dates(
            da, min_symbols, bounds["lo"], bounds["hi"]
        )
        .orderBy("date")
        .collect()
    ]
    if api_symbols is not None:
        db_symbols = da.filter("available").select("symbol").distinct()
        report["cross_check"] = cross_check.compare_symbol_sets(
            db_symbols, api_symbols
        )
    else:
        report["cross_check"] = None  # offline: reference's 451-skip path
    report["has_warnings"] = bool(
        report["missing_dates"]
        or report["incomplete_dates"]
        or (
            report["cross_check"] is not None
            and (
                report["cross_check"].get("only_in_db")
                or report["cross_check"].get("only_in_api")
            )
        )
    )
    return report


def run_daily_update(
    spark: SparkSession,
    fact_path: str,
    symbols: list[str],
    lookback_days: int = 1,
    today: dt.date | None = None,
    head: Callable | None = None,
    rankings_path: str | None = None,
    generated_at: dt.datetime | str | None = None,
    max_workers: int = 150,
    validate: bool = True,
    release_path: str | None = None,
) -> dict:
    """One cron tick, end to end (run_daily_update.py:33-93):

    1. window calc (ADR-0011 lookback),
    2. probe every symbol × day in the window (``head`` injectable for
       tests, exactly like the reference's mocked prober),
    3. UPSERT into the partitioned fact table — touched partitions only;
       a re-run of the same window is a no-op on the table's content,
    4. warnings-only validation report,
    5. optional rankings append for dates past the archive watermark
       (duplicate-date guard raises — the reference's concat rejection),
    6. optional release artifact refresh (``release_path``): the updated
       table exported → gzip + sha256, the workflow's publish step
       (update-database.yml:403-410); the shipped stats block rides the
       summary so the caller can log/compare it.

    Returns a summary dict mirroring the reference's closing log line
    (records / available / unavailable / window) plus the report.
    """
    today = today or dt.date.today()
    start, end = lookback_window(today, lookback_days)
    prober = BatchProber(max_workers=max_workers, head=head)
    records = prober.probe_date_range(start, end, symbols)
    incoming = results_to_df(spark, records)

    if writer.table_exists(spark, fact_path):
        writer.upsert_partitioned(
            fact_path,
            incoming,
            DAILY_AVAILABILITY_KEY,
            DAILY_AVAILABILITY_VERSION,
        )
    else:
        writer.write_partitioned(incoming, fact_path)
    da = open_table(spark, fact_path)

    summary: dict = {
        "window": (start.isoformat(), end.isoformat()),
        "records": len(records),
        "available": sum(1 for r in records if r["available"]),
        "unavailable": sum(1 for r in records if not r["available"]),
    }
    if validate:
        summary["validation"] = validate_report(da, end_date=end)

    if rankings_path is not None:
        if writer.table_exists(spark, rankings_path):
            archive = spark.read.parquet(rankings_path)
            watermark = archive.agg(F.max("date").alias("hi")).collect()[0][
                "hi"
            ]
            new_rows = rankings_ops.volume_rankings(
                da,
                start_date=watermark,
                generated_at=generated_at,
                sort=False,
            )
            if new_rows.take(1):
                # duplicate-date guard (generate_volume_rankings.py:259-293)
                # — raises before any write; then append ONLY the new rows'
                # files (work ∝ new dates, the archive is never rewritten)
                rankings_ops.incremental_append(archive, new_rows)
                new_rows.write.mode("append").parquet(rankings_path)
                summary["rankings_appended"] = True
            else:
                summary["rankings_appended"] = False
        else:
            rankings_ops.volume_rankings(
                da, generated_at=generated_at, sort=False
            ).write.mode("overwrite").parquet(rankings_path)
            summary["rankings_appended"] = True

    if release_path is not None:
        from .sources import release as release_mod

        summary["release_stats"] = release_mod.release_database(
            da, release_path
        )
    return summary
