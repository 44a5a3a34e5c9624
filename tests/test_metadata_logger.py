"""processing_logs round trip (K7/I3): the JVM-side one-row append keeps
all 15 LOG_SCHEMA columns with their types and values, and each run adds
exactly one part file through a one-task job."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from open_data_pipelines_spark.sinks.metadata import ERROR_TRUNCATE, LOG_SCHEMA, MetadataLogger


def _parts(path: str) -> int:
    p = Path(path)
    return len(list(p.glob("part-*.parquet"))) if p.exists() else 0


def test_metadata_logger_round_trip(spark, tmp_path):
    path = str(tmp_path / "processing_logs")
    sc = spark.sparkContext
    group = f"log-append-{tmp_path.name}"
    sc.setJobGroup(group, "processing_logs append")
    try:
        with MetadataLogger(
            spark, path, data_source="street_manager", schema_name="street_manager",
            table_name="03_2024", processor_type="catalog_ingest",
            url="file:///drops/03.zip", batch="2024-03", attempt=2,
        ) as ok:
            ok.rows_processed = 42
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    assert _parts(path) == 1
    tracker = sc.statusTracker()
    jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
    assert len(jobs) == 1 and len(jobs[0].stageIds) == 1
    assert tracker.getStageInfo(jobs[0].stageIds[0]).numTasks == 1

    with pytest.raises(ValueError):
        with MetadataLogger(spark, path, data_source="street_manager") as bad:
            bad.file_size_bytes = 2**40  # beyond int32
            raise ValueError("x" * 5000)
    assert _parts(path) == 2

    logs = spark.read.parquet(path)
    assert [(f.name, f.dataType) for f in logs.schema] == [
        (f.name, f.dataType) for f in LOG_SCHEMA
    ]
    rows = {r["status"]: r.asDict() for r in logs.collect()}
    assert set(rows) == {"SUCCESS", "FAILED"}

    s = rows["SUCCESS"]
    assert s["log_id"] == ok.log_id
    assert (s["data_source"], s["schema_name"], s["table_name"]) == (
        "street_manager", "street_manager", "03_2024",
    )
    assert (s["processor_type"], s["url"]) == ("catalog_ingest", "file:///drops/03.zip")
    assert s["start_time"] == ok._start.replace(tzinfo=None)
    assert s["created_at"] == s["end_time"] >= s["start_time"]
    assert s["duration_seconds"] == (s["end_time"] - s["start_time"]).total_seconds()
    assert s["rows_processed"] == 42 and s["file_size_bytes"] is None
    assert s["error_message"] is None
    assert json.loads(s["additional_info"]) == {"attempt": 2, "batch": "2024-03"}
    assert s["additional_info"] == '{"attempt": 2, "batch": "2024-03"}'

    f = rows["FAILED"]
    assert f["log_id"] == bad.log_id
    assert (f["schema_name"], f["table_name"], f["processor_type"], f["url"]) == ("",) * 4
    assert f["rows_processed"] is None and f["file_size_bytes"] == 2**40
    assert f["additional_info"] is None
    assert len(f["error_message"]) == ERROR_TRUNCATE
    assert f["error_message"] == ("ValueError: " + "x" * 5000)[:ERROR_TRUNCATE]
    assert f["duration_seconds"] >= 0
