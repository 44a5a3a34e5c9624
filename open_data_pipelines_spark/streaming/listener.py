"""Streaming run-metadata (I3 analog).

The reference logs one metadata row per batch run
(``processing_logs``, ``metadata_logger.py:35-137``); for Structured
Streaming the analog is a ``StreamingQueryListener`` that records one
row per micro-batch progress event (query id, batch id, rows, duration,
event-time watermark) plus start/termination markers — same
append-to-parquet sink as the batch logger (SURVEY.md §2.10 I3), and
the same JVM-side one-row append (``sinks.metadata.append_row``).
"""

from __future__ import annotations

import json
from datetime import datetime, timezone

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQueryListener

from ..sinks.metadata import append_row

STREAM_LOG_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.StringType()),
        T.StructField("run_id", T.StringType()),
        T.StructField("event", T.StringType()),  # STARTED | PROGRESS | TERMINATED
        T.StructField("batch_id", T.LongType()),
        T.StructField("num_input_rows", T.LongType()),
        T.StructField("batch_duration_ms", T.LongType()),
        T.StructField("watermark", T.StringType()),
        T.StructField("error_message", T.StringType()),
        T.StructField("created_at", T.TimestampType()),
        T.StructField("raw_progress", T.StringType()),
    ]
)


class MetadataStreamListener(StreamingQueryListener):
    """Appends one log row per streaming lifecycle event."""

    def __init__(self, spark: SparkSession, log_path: str) -> None:
        self.spark = spark
        self.log_path = log_path

    def _write(self, row: dict) -> None:
        row = {**row, "created_at": datetime.now(timezone.utc).replace(tzinfo=None)}
        append_row(self.spark, self.log_path, STREAM_LOG_SCHEMA, row)

    def onQueryStarted(self, event) -> None:
        self._write({"query_id": str(event.id), "run_id": str(event.runId), "event": "STARTED"})

    def onQueryProgress(self, event) -> None:
        p = event.progress
        duration = (p.durationMs or {}).get("triggerExecution")
        self._write(
            {
                "query_id": str(p.id),
                "run_id": str(p.runId),
                "event": "PROGRESS",
                "batch_id": p.batchId,
                "num_input_rows": p.numInputRows,
                "batch_duration_ms": duration,
                "watermark": (p.eventTime or {}).get("watermark"),
                "raw_progress": json.dumps(
                    {"batchId": p.batchId, "numInputRows": p.numInputRows}
                ),
            }
        )

    def onQueryTerminated(self, event) -> None:
        self._write(
            {
                "query_id": str(event.id),
                "run_id": str(event.runId),
                "event": "TERMINATED",
                "error_message": event.exception,
            }
        )

    def onQueryIdle(self, event) -> None:  # pragma: no cover - not fired by availableNow
        pass
