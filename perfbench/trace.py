"""Spans recorded by the benchmark, and their per-layer breakdown.

A span wraps one call from the benchmark into the program and is named
after the program module that owns the call (its *layer*). Spans are
kept in memory and written out when the worker ends. In a traced run
each span also tags the Spark jobs it submits with ``setJobGroup``, and
Spark's event log supplies the engine-side counters.

Attribution rules (all wall-clock, epoch seconds):

- a job belongs to the span named by its job group; a job with no
  group (one submitted from a program-owned thread, which does not
  inherit the group) belongs to the innermost span open when it was
  submitted;
- a stage belongs to the first job that lists it; its tasks follow it;
- ``self_s`` is a span's duration minus the union of its children's
  intervals, ``driver_s`` its duration minus the union of the
  intervals in which any Spark job was running.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

# no listed workload calls into ``plans``, so it has no layer here
LAYERS = ("session", "sources", "streaming", "sinks", "operators", "queries", "caching")
COUNTERS = (
    "wall_s",
    "self_s",
    "driver_s",
    "jobs",
    "tasks",
    "task_s",
    "cpu_s",
    "gc_s",
    "wait_s",
    "shuffle_bytes",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
    "files_written",
    "failed_tasks",
    "stage_reuse_ratio",
)
STREAMING_PROGRESS = {
    "trigger_s": "triggerExecution",
    "add_batch_s": "addBatch",
    "wal_commit_s": "walCommit",
}
# set-up reads no data and writes nothing: these session counters are
# always zero, so the reported set leaves them out
_SESSION_ZERO = ("shuffle_bytes", "spill_bytes", "output_bytes", "files_written", "failed_tasks")
REPORTED = tuple(
    f"{layer}.{c}"
    for layer in LAYERS
    for c in COUNTERS
    if not (layer == "session" and c in _SESSION_ZERO)
) + tuple(f"streaming.{name}" for name in STREAMING_PROGRESS)
_GROUP_PREFIX = "span-"
# task counters summed per stage, then per span
_STAGE_SUMS = (
    "tasks", "task_s", "cpu_s", "gc_s", "wait_s", "shuffle_bytes",
    "spill_bytes", "input_bytes", "output_bytes", "failed_tasks",
)


class Tracer:
    """Records nested spans. ``enabled=False`` makes ``span`` a no-op,
    which is how the untraced runs measure."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.progress: list[dict] = []  # streaming query durationMs
        self.sc = None
        self.pass_index = -1  # -1 set-up, 0 cold pass, 1.. warm passes
        self._stack: list[int] = []

    def bind(self, spark) -> None:
        self.sc = spark.sparkContext if self.enabled else None

    def _group(self, sid: int | None) -> None:
        if self.sc is not None:
            if sid is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(f"{_GROUP_PREFIX}{sid}", f"span {sid}")

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "layer": layer,
            "name": name,
            "pass": self.pass_index,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._group(sid)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._group(self._stack[-1] if self._stack else None)

    def record_progress(self, query) -> None:
        """Keep a finished streaming query's per-trigger durations."""
        if self.enabled:
            for p in query.recentProgress:
                self.progress.append({"pass": self.pass_index, **p["durationMs"]})

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "progress": self.progress}, f)


# ---------------------------------------------------------------------------
# interval arithmetic


def _union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans) -> dict[int, float]:
    """span id -> duration minus the union of its children's intervals."""
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - _union_length(children.get(s["id"], ()), s["start"], s["end"])
        for s in spans
    }


def innermost(spans, t: float):
    """The deepest span open at time ``t`` (latest start wins), or None."""
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best


# ---------------------------------------------------------------------------
# Spark event log


def parse_event_log(lines) -> dict:
    """Jobs, stages and tasks from a Spark JSON event log.

    Returns ``{"jobs": {id: job}, "stages": {id: stage}}`` where a job
    carries its group, submit/end times (epoch s), stage ids, skipped
    stage count and result; a stage its first job, submit time and the
    summed task counters; and ``files_by_job`` the number of written
    files the driver reported for each job's SQL execution."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    exec_jobs: dict[int, list[int]] = {}
    written_file_accums: set[int] = set()
    exec_files: dict[int, int] = {}

    def plan_metrics(node):
        for m in node.get("metrics", ()):
            if m.get("name") == "number of written files":
                written_file_accums.add(m["accumulatorId"])
        for c in node.get("children", ()):
            plan_metrics(c)

    tasks = []
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "submit": ev["Submission Time"] / 1000.0,
                "end": None,
                "stages": list(ev.get("Stage IDs", ())),
                "failed": False,
            }
            ex = props.get("spark.sql.execution.id")
            if ex is not None:
                exec_jobs.setdefault(int(ex), []).append(jid)
            for sid in ev.get("Stage IDs", ()):
                stages.setdefault(sid, {"job": jid, "submit": None})
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job["end"] = ev["Completion Time"] / 1000.0
                job["failed"] = ev.get("Job Result", {}).get("Result") != "JobSucceeded"
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            st = stages.setdefault(info["Stage ID"], {"job": None, "submit": None})
            if st["submit"] is None:  # a retried attempt keeps the first submit
                st["submit"] = (info.get("Submission Time") or 0) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            plan_metrics(ev.get("sparkPlanInfo") or {})
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            ex = int(ev["executionId"])
            for acc_id, value in ev.get("accumUpdates", ()):
                if acc_id in written_file_accums:
                    exec_files[ex] = exec_files.get(ex, 0) + int(value)

    for job in jobs.values():
        # a listed stage is skipped when its output already existed:
        # it never ran, or it first ran before this job was submitted
        job["skipped"] = sum(
            1
            for sid in job["stages"]
            if stages[sid]["submit"] is None or stages[sid]["submit"] < job["submit"]
        )

    for ev in tasks:
        st = stages.setdefault(ev["Stage ID"], {"job": None, "submit": None})
        for k in _STAGE_SUMS:
            st.setdefault(k, 0)
        info = ev.get("Task Info") or {}
        m = ev.get("Task Metrics") or {}
        st["tasks"] += 1
        if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") != "Success":
            st["failed_tasks"] += 1
        st["task_s"] += m.get("Executor Run Time", 0) / 1000.0
        st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        if st["submit"] is not None and info.get("Launch Time"):
            st["wait_s"] += max(0.0, info["Launch Time"] / 1000.0 - st["submit"])
        st["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        st["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        st["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)

    files_by_job: dict[int, int] = {}
    for ex, n in exec_files.items():
        if exec_jobs.get(ex):
            jid = min(exec_jobs[ex])
            files_by_job[jid] = files_by_job.get(jid, 0) + n
    return {"jobs": jobs, "stages": stages, "files_by_job": files_by_job}


# ---------------------------------------------------------------------------
# per-layer breakdown


def _zero() -> dict:
    return {c: 0.0 if c.endswith(("_s", "_ratio")) else 0 for c in COUNTERS}


def span_counters(spans, log: dict) -> dict[int, dict]:
    """span id -> counters (see module docstring for attribution)."""
    by_id = {s["id"]: s for s in spans}
    out = {s["id"]: {**_zero(), "stages": 0, "skipped_stages": 0} for s in spans}
    job_span: dict[int, int] = {}
    for jid, job in log["jobs"].items():
        g = job["group"] or ""
        tagged = g.startswith(_GROUP_PREFIX) and int(g[len(_GROUP_PREFIX):]) in by_id
        owner = by_id[int(g[len(_GROUP_PREFIX):])] if tagged else innermost(spans, job["submit"])
        if owner is None:
            continue
        job_span[jid] = owner["id"]
        c = out[owner["id"]]
        c["jobs"] += 1
        c["files_written"] += log["files_by_job"].get(jid, 0)
        c["stages"] += len(job["stages"])
        c["skipped_stages"] += job["skipped"]
    for st in log["stages"].values():
        sid = job_span.get(st["job"])
        if sid is None:
            continue
        for k in _STAGE_SUMS:
            out[sid][k] += st.get(k, 0)
    selfs = self_times(spans)
    busy = [
        (j["submit"], j["end"]) for j in log["jobs"].values() if j["end"] is not None
    ]
    for s in spans:
        c = out[s["id"]]
        c["wall_s"] = s["end"] - s["start"]
        c["self_s"] = selfs[s["id"]]
        c["driver_s"] = c["wall_s"] - _union_length(busy, s["start"], s["end"])
        if c["stages"]:
            c["stage_reuse_ratio"] = c["skipped_stages"] / c["stages"]
    return out


def layer_metrics(spans, progress, log: dict) -> dict[str, float]:
    """``<layer>.<counter>`` for every layer. ``session`` sums the
    set-up spans; every other layer is the mean per warm pass."""
    counters = span_counters(spans, log)
    n_warm = max(1, len({s["pass"] for s in spans if s["pass"] >= 1}))
    out: dict[str, float] = {}
    for layer in LAYERS:
        chosen = [
            s for s in spans
            if s["layer"] == layer and ((s["pass"] == -1) if layer == "session" else s["pass"] >= 1)
        ]
        div = 1 if layer == "session" else n_warm
        total = {**_zero(), "stages": 0, "skipped_stages": 0}
        for s in chosen:
            for k, v in counters[s["id"]].items():
                total[k] += v
        for k in COUNTERS:
            out[f"{layer}.{k}"] = total[k] / div
        out[f"{layer}.stage_reuse_ratio"] = (  # from summed counts, not averaged
            total["skipped_stages"] / total["stages"] if total["stages"] else 0.0
        )
    for name, key in STREAMING_PROGRESS.items():
        vals = [p.get(key, 0) for p in progress if p["pass"] >= 1]
        out[f"streaming.{name}"] = sum(vals) / 1000.0 / n_warm
    return out

