"""Single-pass warehouse ingest: ``write_month_partition`` counts the
rows it writes (an observation riding the write), every ingest path logs
that count as ``rows_processed`` without a second job, an empty drop logs
0 instead of blocking, and the fleet backfill scans its archives in one
stage followed by a one-task log append."""

from __future__ import annotations

import json
import threading
import zipfile
from pathlib import Path

from pyspark.sql import functions as F

from open_data_pipelines_spark.pipelines import MonthlyIngestConfig, run_monthly_ingest
from open_data_pipelines_spark.sinks.writers import write_month_partition
from open_data_pipelines_spark.sources.catalog import run_source, run_source_backfill
from tests.test_catalog import SM_SCHEMA


def _within(seconds: float, fn):
    """Run ``fn`` on a daemon thread; fail (instead of hanging the
    suite) if it has not returned after ``seconds``."""
    out: dict = {}

    def target():
        try:
            out["value"] = fn()
        except BaseException as ex:  # noqa: BLE001 - re-raised below
            out["error"] = ex

    t = threading.Thread(target=target, daemon=True)
    t.start()
    t.join(seconds)
    assert not t.is_alive(), f"call still blocked after {seconds} s"
    if "error" in out:
        raise out["error"]
    return out.get("value")


def _logged(spark, logs: str) -> list[int | None]:
    rows = spark.read.parquet(logs).orderBy("start_time").collect()
    assert all(r["status"] == "SUCCESS" for r in rows)
    return [r["rows_processed"] for r in rows]


def _month_counts(spark, path: str) -> dict[tuple[int, int], int]:
    return {
        (r["year"], r["month"]): r["n"]
        for r in spark.read.parquet(path)
        .groupBy("year", "month")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def _event(ref: int, month: int, day: int = 1) -> str:
    return json.dumps(
        {
            "event_reference": ref,
            "event_type": "PERMIT_GRANTED",
            "event_time": f"2024-{month:02d}-{day:02d}T09:00:00",
            "object_data": {
                "permit_reference_number": f"PRN-{ref}",
                "work_category": "Minor",
                "usrn": "1",
            },
        }
    )


def _zip(path: Path, members: dict[str, str]) -> Path:
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in members.items():
            zf.writestr(name, body)
    return path


def _drop(path: Path, month: int, n: int) -> str:
    body = "\n".join(_event(month * 1000 + i, month, i % 28 + 1) for i in range(n))
    return f"file://{_zip(path, {'permits.json': body})}"


# --- write_month_partition --------------------------------------------------


def test_write_month_partition_returns_rows_written(spark, tmp_path):
    path = str(tmp_path / "facts")
    cols = "id int, year int, month int"
    first = spark.createDataFrame([(i, 2024, 1 + i % 3) for i in range(9)], cols)
    assert write_month_partition(first, path) == 9
    # months 2 and 3 already hold rows: the reload of month 1 reports
    # only its own rows, which is also month 1's row count afterwards
    reload = spark.createDataFrame([(100, 2024, 1), (101, 2024, 1)], cols)
    assert write_month_partition(reload, path) == 2
    assert _month_counts(spark, path) == {(2024, 1): 2, (2024, 2): 3, (2024, 3): 3}


def test_write_month_partition_empty_frame_counts_zero(spark, tmp_path):
    path = str(tmp_path / "facts")
    df = spark.createDataFrame([(1, 2024, 1)], "id int, year int, month int")
    write_month_partition(df, path)
    assert _within(120, lambda: write_month_partition(df.filter("id > 1"), path)) == 0
    assert _within(120, lambda: write_month_partition(df.limit(0), path)) == 0
    assert _month_counts(spark, path) == {(2024, 1): 1}


# --- rows_processed on every ingest path ------------------------------------


def test_run_source_zip_json_logs_rows_written(spark, tmp_path):
    wh, logs = str(tmp_path / "wh"), str(tmp_path / "logs")

    def load(month, n, tag):
        run_source(
            spark, "street_manager", landing_dir=str(tmp_path / f"landing_{tag}"),
            warehouse_path=wh, log_path=logs, year=2024, month=month,
            url=_drop(tmp_path / f"{tag}.zip", month, n), json_schema=SM_SCHEMA,
        )

    load(2, 7, "a")
    load(3, 5, "b")  # month 2 already in the warehouse
    load(3, 4, "c")  # reload of month 3
    assert _logged(spark, logs) == [7, 5, 4]
    assert _month_counts(spark, wh) == {(2024, 2): 7, (2024, 3): 4}


def test_run_source_backfill_logs_rows_written(spark, tmp_path):
    wh, logs = str(tmp_path / "wh"), str(tmp_path / "logs")
    for month, n in ((1, 6), (2, 9)):
        _drop(tmp_path / "old" / f"{month}.zip", month, n)
    for month, n in ((2, 4), (3, 5)):
        _drop(tmp_path / "new" / f"{month}.zip", month, n)
    for fleet in ("old", "new"):
        run_source_backfill(
            spark, "street_manager", zip_glob=f"file://{tmp_path / fleet}/*.zip",
            warehouse_path=wh, log_path=logs, json_schema=SM_SCHEMA,
        )
    # the second backfill replaced month 2 and added month 3; month 1 stays
    assert _logged(spark, logs) == [15, 9]
    assert _month_counts(spark, wh) == {(2024, 1): 6, (2024, 2): 4, (2024, 3): 5}


def test_run_source_epilogue_logs_rows_written(spark, tmp_path):
    """gtfs goes through the shared epilogue and writes one table per
    GTFS file: rows_processed is their sum."""
    bundle = _zip(
        tmp_path / "gtfs.zip",
        {
            "agency.txt": "agency_id,agency_name,agency_url,agency_timezone,"
            "agency_lang,agency_phone,agency_noc\n"
            "1,Bus Co,http://x,Europe/London,en,0,BC\n",
            "routes.txt": "route_id,agency_id,route_short_name,route_long_name,route_type\n"
            "r1,1,1A,One A,3\nr2,1,2B,Two B,3\nr3,1,3C,Three C,3\n",
        },
    )
    wh, logs = str(tmp_path / "wh"), str(tmp_path / "logs")
    for month in (7, 8):
        run_source(
            spark, "bods_timetables", url=f"file://{bundle}",
            landing_dir=str(tmp_path / f"landing_{month}"), warehouse_path=wh,
            log_path=logs, year=2025, month=month,
        )
    assert _logged(spark, logs) == [4, 4]
    assert _month_counts(spark, f"{wh}/routes") == {(2025, 7): 3, (2025, 8): 3}


def test_ingest_csv_files_logs_rows_written(spark, tmp_path):
    wh, logs = str(tmp_path / "wh"), str(tmp_path / "logs")
    for month, rows in ((7, 3), (8, 2)):
        body = "pcd,lat,long\n" + "".join(f"AB{i} 0AA,57.{i},-2.{i}\n" for i in range(rows))
        bundle = _zip(tmp_path / f"nspl_{month}.zip", {"NSPL.csv": body})
        run_source(
            spark, "national_statistic_postcode_lookup", url=f"file://{bundle}",
            landing_dir=str(tmp_path / f"landing_{month}"), warehouse_path=wh,
            log_path=logs, year=2025, month=month,
        )
    assert _logged(spark, logs) == [3, 2]
    assert _month_counts(spark, wh) == {(2025, 7): 3, (2025, 8): 2}


def test_run_monthly_ingest_logs_rows_written(spark, tmp_path):
    wh, logs = str(tmp_path / "wh"), str(tmp_path / "logs")
    for month, rows in ((1, 4), (2, 1)):
        body = "Permit Ref,Easting\n" + "".join(f"P{i},{i}\n" for i in range(rows))
        bundle = _zip(tmp_path / f"drop_{month}.zip", {f"Data/p_{month}.csv": body})
        cfg = MonthlyIngestConfig(
            data_source="permits", url=f"file://{bundle}", year=2024, month=month,
            expected_columns=["Permit Ref", "Easting"],
        )
        run_monthly_ingest(spark, cfg, str(tmp_path / f"landing_{month}"), wh, logs)
    assert _logged(spark, logs) == [4, 1]
    assert _month_counts(spark, wh) == {(2024, 1): 4, (2024, 2): 1}


# --- empty drops ------------------------------------------------------------


def test_empty_zip_json_drop_logs_zero(spark, tmp_path):
    wh, logs = str(tmp_path / "wh"), str(tmp_path / "logs")
    url = f"file://{_zip(tmp_path / 'empty.zip', {'permits.json': ''})}"
    _within(
        300,
        lambda: run_source(
            spark, "street_manager", landing_dir=str(tmp_path / "landing"),
            warehouse_path=wh, log_path=logs, year=2024, month=3, url=url,
            json_schema=SM_SCHEMA,
        ),
    )
    assert _logged(spark, logs) == [0]


def test_empty_backfill_fleet_logs_zero(spark, tmp_path):
    """No member matches ``*.json``: zero lines reach the write."""
    wh, logs = str(tmp_path / "wh"), str(tmp_path / "logs")
    for i in range(2):
        _zip(tmp_path / "fleet" / f"{i}.zip", {"readme.txt": "not an event\n"})
    _within(
        300,
        lambda: run_source_backfill(
            spark, "street_manager", zip_glob=f"file://{tmp_path / 'fleet'}/*.zip",
            warehouse_path=wh, log_path=logs, json_schema=SM_SCHEMA,
        ),
    )
    assert _logged(spark, logs) == [0]


# --- one pass over the fleet ------------------------------------------------


def test_backfill_scans_fleet_in_one_stage(spark, tmp_path):
    """Regression guard: rows_processed once came from a second job that
    re-decoded every archive. Now the backfill is one single-stage write
    job over the fleet (at most one task per core) plus the one-task
    log append."""
    sc = spark.sparkContext
    n_zips = sc.defaultParallelism + 2
    for i in range(n_zips):
        _drop(tmp_path / "fleet" / f"{i:02d}.zip", 1 + i % 12, 3)
    group = f"backfill-{tmp_path.name}"
    sc.setJobGroup(group, "single-pass backfill guard")
    try:
        run_source_backfill(
            spark, "street_manager", zip_glob=f"file://{tmp_path / 'fleet'}/*.zip",
            warehouse_path=str(tmp_path / "wh"), log_path=str(tmp_path / "logs"),
            json_schema=SM_SCHEMA,
        )
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    tracker = sc.statusTracker()
    jobs = [tracker.getJobInfo(j) for j in sorted(tracker.getJobIdsForGroup(group))]
    stages = [[tracker.getStageInfo(s) for s in job.stageIds] for job in jobs]
    assert [len(s) for s in stages] == [1, 1], stages
    write, log_append = stages[0][0], stages[1][0]
    assert 1 <= write.numTasks <= sc.defaultParallelism
    assert log_append.numTasks == 1
    assert _logged(spark, str(tmp_path / "logs")) == [3 * n_zips]
