"""Run-metadata logging sink (K7/I3).

Reproduces the reference's ``ProcessingMetadataLogger`` context manager
(``src/data_processors/utils/metadata_logger.py:35-137``): assemble one
log row per pipeline run — uuid log_id, start/end/created timestamps,
duration, rows processed, file size, STARTED/SUCCESS/FAILED status,
error message truncated to 1,000 chars, JSON extras — and append it to
a ``processing_logs`` table (schema: FIXTURES.md F12,
``street_manager.py:253-270``).

The row is built JVM-side (:func:`append_row`: literals over a
one-partition ``range``), so each append is one task writing one file
and never starts a Python worker (``createDataFrame([row])`` would run
a multi-task Python RDD job per log row).
"""

from __future__ import annotations

import json
import traceback
import uuid
from datetime import datetime, timezone

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

ERROR_TRUNCATE = 1000  # metadata_logger.py:104

LOG_SCHEMA = T.StructType(
    [
        T.StructField("log_id", T.StringType(), False),
        T.StructField("data_source", T.StringType()),
        T.StructField("schema_name", T.StringType()),
        T.StructField("table_name", T.StringType()),
        T.StructField("processor_type", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("start_time", T.TimestampType()),
        T.StructField("end_time", T.TimestampType()),
        T.StructField("created_at", T.TimestampType()),
        T.StructField("duration_seconds", T.DoubleType()),
        T.StructField("rows_processed", T.LongType()),
        T.StructField("file_size_bytes", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("error_message", T.StringType()),
        T.StructField("additional_info", T.StringType()),
    ]
)


def append_row(spark: SparkSession, path: str, schema: T.StructType, row: dict) -> None:
    """Append one row (missing fields NULL) to the parquet dataset at
    ``path``: one task, one part file, no Python worker."""
    cols = [F.lit(row.get(f.name)).cast(f.dataType).alias(f.name) for f in schema.fields]
    spark.range(1, numPartitions=1).select(*cols).write.mode("append").parquet(path)


class MetadataLogger:
    """Context manager: times the run, captures outcome, appends one row.

    >>> with MetadataLogger(spark, "/logs", data_source="street_manager") as m:
    ...     ...
    ...     m.rows_processed = 12345
    """

    def __init__(
        self,
        spark: SparkSession,
        log_path: str,
        data_source: str = "",
        schema_name: str = "",
        table_name: str = "",
        processor_type: str = "",
        url: str = "",
        **extras,
    ) -> None:
        self.spark = spark
        self.log_path = log_path
        self.fields = dict(
            data_source=data_source,
            schema_name=schema_name,
            table_name=table_name,
            processor_type=processor_type,
            url=url,
        )
        self.extras = extras
        self.rows_processed: int | None = None
        self.file_size_bytes: int | None = None
        self.log_id = str(uuid.uuid4())
        self._start: datetime | None = None

    def __enter__(self) -> "MetadataLogger":
        self._start = datetime.now(timezone.utc)
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        end = datetime.now(timezone.utc)
        status = "SUCCESS" if exc_type is None else "FAILED"
        error = None
        if exc is not None:
            error = "".join(traceback.format_exception_only(exc_type, exc)).strip()
            error = error[:ERROR_TRUNCATE]
        row = {
            "log_id": self.log_id,
            **self.fields,
            "start_time": self._start.replace(tzinfo=None),
            "end_time": end.replace(tzinfo=None),
            "created_at": end.replace(tzinfo=None),
            "duration_seconds": (end - self._start).total_seconds(),
            "rows_processed": self.rows_processed,
            "file_size_bytes": self.file_size_bytes,
            "status": status,
            "error_message": error,
            "additional_info": json.dumps(self.extras, sort_keys=True) if self.extras else None,
        }
        append_row(self.spark, self.log_path, LOG_SCHEMA, row)
        return False  # never swallow the exception
