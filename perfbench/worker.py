"""One measured process: set up a Spark session, then run passes of a
workload until the measuring window closes.

Started by ``run.py`` as a fresh interpreter (``python worker.py
<config.json>``) with its working directory inside the benchmark's own
run directory, so everything Spark leaves behind lands there. It
writes ``result.json`` (and, traced, ``spans.json``) next to the
config and exits.

A pass is timed from its first call into the program to a verified
result. Work that only resets state for the next pass (wiping the
warehouse, staging the stream drops, clearing caches) runs before the
pass clock starts.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import traceback

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.trace import Tracer  # noqa: E402
from perfbench.verify import compare_warehouse, value_hash  # noqa: E402


def engine_writes(spark, after_stage: int) -> tuple[int, int]:
    """(bytes written by the stages numbered above ``after_stage`` that
    completed, highest stage id seen) from Spark's status store: task
    output plus shuffle writes plus disk spills. Stage ids only grow,
    so the id seen before a pass delimits the pass's stages."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    stages = jsc.statusStore().stageList(
        None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None
    )
    total, top = 0, after_stage
    for i in range(stages.size()):
        st = stages.apply(i)
        sid = st.stageId()
        top = max(top, sid)
        if sid > after_stage and st.status().toString() == "COMPLETE":
            total += st.outputBytes() + st.shuffleWriteBytes() + st.diskBytesSpilled()
    return total, top


def _hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


class PassResult:
    """Checks made in one pass, the ones that failed, and the pass's
    freshness samples."""

    def __init__(self, cold: bool) -> None:
        self.cold = cold
        self.checks = 0
        self.failed = 0
        self.problems: list[str] = []
        self.freshness: list[float] = []

    def check(self, problems: list[str]) -> None:
        self.checks += 1
        self.failed += bool(problems)
        self.problems += problems


# ---------------------------------------------------------------------------
# workloads


class Workload:
    """One workload's passes over the generated inputs in ``cfg``."""

    def __init__(self, spark, cfg, tracer) -> None:
        self.spark, self.cfg, self.tr = spark, cfg, tracer
        self.m = cfg["manifest"]
        self.input_rows = self.m["input_rows"]
        self.input_bytes = self.m["input_bytes"]

    def prepare(self) -> None:
        self.spark.catalog.clearCache()

    def run_pass(self, res: PassResult) -> None:
        raise NotImplementedError


class WarehouseLoad(Workload):
    """Stages (b)-(d): backfill the zipped fleet, load then reload one
    month's drop by URL, stream the monthly JSON drops one at a time (then
    replay the last micro-batch), compact the streamed partitions, and
    build then merge the SCD2 permit dimension."""

    def __init__(self, spark, cfg, tracer) -> None:
        from perfbench.gen import EVENT_SCHEMA_DDL

        super().__init__(spark, cfg, tracer)
        self.schema = EVENT_SCHEMA_DDL
        self.base = os.path.join(cfg["run_dir"], "warehouse")

    def _path(self, name: str) -> str:
        return os.path.join(self.base, name)

    def prepare(self) -> None:
        """Empty warehouse; drops staged under a hidden name in the
        stream source directory, so landing one is an atomic rename."""
        super().prepare()
        shutil.rmtree(self.base, ignore_errors=True)
        os.makedirs(self._path("stream_src"))
        for d in self.m["drops"]:
            shutil.copy(d, os.path.join(self._path("stream_src"), "." + os.path.basename(d)))

    def _stream_once(self, name: str):
        from open_data_pipelines_spark.sources.json_source import flatten_struct_columns
        from open_data_pipelines_spark.streaming.windows import (
            read_event_stream,
            stream_to_month_partitions_exactly_once,
        )

        with self.tr.span("streaming", name):
            events = read_event_stream(self.spark, self._path("stream_src"), self.schema, fmt="json")
            q = stream_to_month_partitions_exactly_once(
                flatten_struct_columns(events, sep="_", strip_prefix="object_data_"),
                self._path("street_manager_stream"),
                self._path("stream_ckpt"),
                ts_col="event_time",
            )
            q.awaitTermination()
        self.tr.record_progress(q)
        if q.exception() is not None:
            raise RuntimeError(f"stream query failed: {q.exception()}")

    def _replay_last_batch(self) -> None:
        """At-least-once redelivery: forget the newest commit so the
        next start re-runs that micro-batch."""
        commits = self._path("stream_ckpt/commits")
        last = max(int(f) for f in os.listdir(commits) if f.isdigit())
        os.remove(os.path.join(commits, str(last)))
        crc = os.path.join(commits, f".{last}.crc")
        if os.path.exists(crc):
            os.remove(crc)
        self._stream_once("replay_last_batch")

    def run_pass(self, res: PassResult) -> None:
        from pyspark.sql import functions as F

        from open_data_pipelines_spark.operators.scd2 import scd2_initial_load, scd2_merge
        from open_data_pipelines_spark.sinks.writers import compact_partitions, write_with_retry
        from open_data_pipelines_spark.sources.catalog import run_source, run_source_backfill

        spark, m, p = self.spark, self.m, self._path
        with self.tr.span("sources", "run_source_backfill"):
            run_source_backfill(
                spark, "street_manager", zip_glob="file://" + m["fleet_glob"],
                warehouse_path=p("street_manager"), log_path=p("processing_logs"),
                json_schema=self.schema,
            )
        r = m["reload"]
        # run_source stamps every row with the drop's month, while the
        # backfill partitions by event time, so the month goes to its
        # own table (see README: a reload into the backfilled table
        # duplicates and loses late events)
        for _ in ("load", "reload"):
            with self.tr.span("sources", "run_source"):
                run_source(
                    spark, "street_manager", year=r["year"], month=r["month"],
                    url="file://" + r["zip"], landing_dir=p("landing"),
                    warehouse_path=p("street_manager_month"), log_path=p("processing_logs"),
                    json_schema=self.schema,
                )
        for d in m["drops"]:
            name = os.path.basename(d)
            staged = os.path.join(p("stream_src"), "." + name)
            landed = time.perf_counter()
            os.rename(staged, os.path.join(p("stream_src"), name))
            self._stream_once("stream_to_month_partitions_exactly_once")
            res.freshness.append(time.perf_counter() - landed)
        self._replay_last_batch()
        with self.tr.span("sinks", "compact_partitions"):
            compact_partitions(spark, p("street_manager_stream"), p("street_manager_stream_compacted"))

        def staging(path):
            return spark.read.parquet(path).withColumn("event_ts", F.to_timestamp("event_time"))

        key, attrs = "permit_reference_number", ["work_status_ref", "work_category"]
        with self.tr.span("operators", "scd2_initial_load"):
            dim = scd2_initial_load(
                staging(p("street_manager")), key, "event_ts", attrs, attrs, ["event_reference"]
            )
        with self.tr.span("sinks", "write_with_retry"):
            write_with_retry(lambda: dim.write.mode("overwrite").parquet(p("dim_permit_v0")))
        with self.tr.span("operators", "scd2_merge"):
            merged = scd2_merge(
                spark.read.parquet(p("dim_permit_v0")),
                staging(p("street_manager_stream_compacted")),
                key, "event_ts", attrs, attrs, ["event_reference"],
            )
        with self.tr.span("sinks", "write_with_retry"):
            write_with_retry(lambda: merged.write.mode("overwrite").parquet(p("dim_permit_v1")))
        with self.tr.span("bench", "verify"):
            res.check(compare_warehouse(self._observe(), m))

    def _observe(self) -> dict:
        """Summarise the loaded warehouse in one query: per-month counts
        and, on the grand-total row, distinct event references (a
        re-sent event may sit in another month's partition than its
        first delivery); dimension and run-log totals."""
        spark, p = self.spark, self._path
        for view, path in (
            ("pb_wh", "street_manager"),
            ("pb_mo", "street_manager_month"),
            ("pb_st", "street_manager_stream_compacted"),
            ("pb_dim", "dim_permit_v1"),
            ("pb_logs", "processing_logs"),
        ):
            spark.read.parquet(p(path)).createOrReplaceTempView(view)
        months = (
            "SELECT '{t}' AS t, year, month, count(*) AS a, "
            "count(DISTINCT event_reference) AS b, 0L AS c "
            "FROM {v} GROUP BY GROUPING SETS ((year, month), ())"
        )
        rows = spark.sql(
            " UNION ALL ".join(
                [
                    months.format(t="warehouse", v="pb_wh"),
                    months.format(t="month", v="pb_mo"),
                    months.format(t="stream", v="pb_st"),
                    "SELECT 'dimension', NULL, NULL, count(*), sum(CAST(is_current AS INT)), "
                    "count(DISTINCT CASE WHEN is_current THEN permit_reference_number END) "
                    "FROM pb_dim",
                    "SELECT 'logs', NULL, NULL, count(*), "
                    "sum(CAST(status <> 'SUCCESS' AS INT)), 0L FROM pb_logs",
                ]
            )
        ).collect()
        out: dict = {t: {"counts": {}} for t in ("warehouse", "month", "stream")}
        for r in rows:
            if r["t"] == "dimension":
                out["dimension"] = {
                    "rows": r["a"], "current": r["b"], "keys_with_many_current": r["b"] - r["c"],
                }
            elif r["t"] == "logs":
                out["logs"] = {"rows": r["a"], "not_success": r["b"]}
            elif r["year"] is None:
                out[r["t"]]["surplus"] = r["a"] - r["b"]
            else:
                out[r["t"]]["counts"]["%04d-%02d" % (r["year"], r["month"])] = r["a"]
        for t in ("warehouse", "month", "stream"):
            out[t]["counts"] = dict(sorted(out[t]["counts"].items()))
        return out


class CorpusFunnel(Workload):
    """The registry's ``corpus_funnel`` row over the generated
    documents, collected and hash-checked against its DuckDB oracle.
    The corpus is one drop that lands when the pass starts."""

    def run_pass(self, res: PassResult) -> None:
        from open_data_pipelines_spark import caching
        from open_data_pipelines_spark.queries import registry

        landed = time.perf_counter()
        with self.tr.span("queries", "corpus_funnel"):
            df = registry()["corpus_funnel"][0](self.spark, self.m["tables_dir"])
            out = df.toPandas()
        with self.tr.span("caching", "drain_prefetch"):
            caching.drain_prefetch()
        with self.tr.span("bench", "verify"):
            got = value_hash(out)
        want = self.cfg["oracle"]["corpus_funnel"]
        res.check([] if got == want else [f"corpus_funnel: hash {got[:12]} != oracle {want[:12]}"])
        if not res.cold:  # the cold pass's one drop is cold_s itself
            res.freshness.append(time.perf_counter() - landed)


WORKLOADS = {
    "warehouse_load": WarehouseLoad,
    "corpus_funnel": CorpusFunnel,
}


# ---------------------------------------------------------------------------


def main(cfg_path: str) -> int:
    with open(cfg_path) as f:
        cfg = json.load(f)
    out_dir = os.path.dirname(os.path.abspath(cfg_path))
    tracer = Tracer(bool(cfg["trace"]))
    result: dict = {"passes": [], "error": None}

    from open_data_pipelines_spark.session import get_spark, load_tables

    with tracer.span("session", "get_spark"):
        spark = get_spark("perfbench", extra_conf=cfg["spark_conf"])
    tracer.bind(spark)
    with tracer.span("session", "load_tables"):
        load_tables(spark, cfg["manifest"]["tables_dir"])
    result["setup_done"] = time.time()
    try:
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        wl = WORKLOADS[cfg["workload"]](spark, cfg, tracer)
        window = time.perf_counter()
        i = 0
        while True:
            wl.prepare()
            tracer.pass_index = i
            res = PassResult(cold=i == 0)
            _, last_stage = engine_writes(spark, -1)
            t0 = time.perf_counter()
            wl.run_pass(res)
            wall = time.perf_counter() - t0
            written, _ = engine_writes(spark, last_stage)
            result["passes"].append(
                {
                    "wall_s": wall,
                    "checks": res.checks,
                    "failed": res.failed,
                    "problems": res.problems,
                    "freshness_s": res.freshness,
                    "write_bytes": written,
                }
            )
            i += 1
            if i == 1 + cfg["min_warm"]:
                # memory over a fixed amount of work (set-up, the cold
                # pass, min_warm warm passes), however many more warm
                # passes a fast host fits into the window
                result["peak_rss_mb"] = _hwm_mb("self") + _hwm_mb(jvm_pid)
            if i > cfg["min_warm"] and time.perf_counter() - window >= cfg["seconds"]:
                break
        result["input_rows"] = wl.input_rows
        result["input_bytes"] = wl.input_bytes
    except Exception:  # noqa: BLE001 - reported to the parent as a failed run
        result["error"] = traceback.format_exc()
    finally:
        spark.stop()
        if tracer.enabled:
            tracer.dump(os.path.join(out_dir, "spans.json"))
        with open(os.path.join(out_dir, "result.json"), "w") as f:
            json.dump(result, f)
    return 0


if __name__ == "__main__":
    code = main(sys.argv[1])
    sys.stdout.flush()
    # skip the interpreter's teardown of the Spark gateway: the parent
    # kills what is left of the process group
    os._exit(code)
