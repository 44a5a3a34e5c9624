"""ELT benchmark for open_data_pipelines_spark.

    python3 perfbench/run.py --workload warehouse_load --seed 1 --seconds 30 --trace 0

Generates the workload's inputs from ``--seed`` and the expected
outputs (generator expectations, DuckDB oracle hashes), both cached
per seed, then starts one fresh worker process that sets up Spark and
runs passes of the workload for ``--seconds`` (``worker.py``). The last
line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` Spark's event log is on and the metrics are the
per-layer breakdown (``trace.py``). Everything the run reads or writes
stays under ``.perfbench/`` in the checkout. The exit code is 0 only
when every operation succeeded and every output verified.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, trace, verify  # noqa: E402
from perfbench.worker import WORKLOADS  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")
MIN_WARM = 1  # warm passes a run makes however short --seconds is
WORKER_TIMEOUT_S = 170


def cached_oracle(workload: str, manifest: dict) -> dict[str, str]:
    """The DuckDB oracle hashes of the seed's inputs, computed once and
    kept beside them."""
    path = os.path.join(manifest["root"], "oracle.json")
    if not os.path.exists(path):
        hashes = verify.oracle_hashes(workload, manifest["tables_dir"])
        with open(path + ".tmp", "w") as f:
            json.dump(hashes, f)
        os.rename(path + ".tmp", path)
    with open(path) as f:
        return json.load(f)


def percentile_tail(values: list[float]) -> float:
    """The highest percentile with at least ten samples beyond it, but
    never below p90 (nearest rank). Under 100 samples no percentile
    above p90 has ten samples beyond it, and the rule alone would name
    one below the median; from 100 samples on it is the rule's."""
    v = sorted(values)
    rank = max(len(v) - 10, math.ceil(0.9 * len(v)))  # 1-based
    return v[rank - 1]


def stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the worker's process group (its JVM and
    Python workers) and wait until every member has exited."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)
    raise RuntimeError(f"worker process group {proc.pid} did not exit")


def end_to_end(result: dict, setup_s: float) -> dict[str, float]:
    passes = result["passes"]
    warm = passes[1:]
    warm_s = statistics.median(p["wall_s"] for p in warm)
    fresh = [f for p in passes for f in p["freshness_s"]]
    written = sum(p["write_bytes"] for p in warm) / len(warm)
    return {
        "setup_s": setup_s,
        "cold_s": passes[0]["wall_s"],
        "warm_s": warm_s,
        "rows_per_s": result["input_rows"] / warm_s,
        "freshness_p50_s": statistics.median(fresh),
        "freshness_tail_s": percentile_tail(fresh),
        "write_amp": written / result["input_bytes"],
        "peak_rss_mb": result["peak_rss_mb"],
    }


UNITS = {
    "setup_s": "s",
    "cold_s": "s",
    "warm_s": "s",
    "rows_per_s": "rows/s",
    "freshness_p50_s": "s",
    "freshness_tail_s": "s",
    "write_amp": "ratio",
    "peak_rss_mb": "MB",
}


def per_layer(run_dir: str, result: dict) -> dict[str, float]:
    with open(os.path.join(run_dir, "spans.json")) as f:
        recorded = json.load(f)
    logs = os.listdir(os.path.join(run_dir, "eventlog"))
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    with open(os.path.join(run_dir, "eventlog", logs[0])) as f:
        log = trace.parse_event_log(f)
    layers = trace.layer_metrics(recorded["spans"], recorded["progress"], log)
    out = {k: layers[k] for k in trace.REPORTED}
    out["bench.warm_s"] = statistics.median(p["wall_s"] for p in result["passes"][1:])
    return out


def layer_unit(name: str) -> str:
    counter = name.split(".", 1)[1]
    if counter.endswith("_s"):
        return "s"
    if counter.endswith("_bytes"):
        return "bytes"
    if counter.endswith("_ratio"):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", default="all", help="local[N] parallelism; 'all' = usable cores")
    ap.add_argument("--driver-mem", default="1g", help="Spark driver heap (below physical RAM)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "open_data_pipelines_spark")):
        print(f"open_data_pipelines_spark not found under {ROOT}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0)) if args.cpus == "all" else int(args.cpus)

    manifest = gen.inputs(WORK, args.workload, args.seed)
    oracle = cached_oracle(args.workload, manifest)

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(run_dir, d))
    spark_conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData",
        "spark.sql.warehouse.dir": f"{run_dir}/spark-warehouse",
    }
    if args.trace:
        spark_conf["spark.eventLog.enabled"] = "true"
        spark_conf["spark.eventLog.dir"] = f"file://{run_dir}/eventlog"
        spark_conf["spark.eventLog.compress"] = "false"
        spark_conf["spark.eventLog.rolling.enabled"] = "false"
    cfg = {
        "workload": args.workload,
        "trace": args.trace,
        "seconds": args.seconds,
        "min_warm": MIN_WARM,
        "manifest": manifest,
        "oracle": oracle,
        "run_dir": run_dir,
        "spark_conf": spark_conf,
    }
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    env = {
        **os.environ,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": args.driver_mem,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYTHONHASHSEED": "0",
    }
    env["PYTHONPATH"] = ROOT + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else "")
    print(
        f"perfbench: workload={args.workload} seed={args.seed} cpus={cpus} "
        f"driver_mem={args.driver_mem} trace={args.trace}",
        file=sys.stderr,
    )

    log_path = os.path.join(run_dir, "worker.log")
    with open(log_path, "w") as log:
        spawned = time.time()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", "worker.py"), cfg_path],
            cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"worker timed out after {WORKER_TIMEOUT_S}s", file=sys.stderr)
            return 1
        finally:
            stop_group(proc)

    res_path = os.path.join(run_dir, "result.json")
    if proc.returncode != 0 or not os.path.exists(res_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        print(f"worker failed (exit {proc.returncode})", file=sys.stderr)
        return 1
    with open(res_path) as f:
        result = json.load(f)
    if result["error"]:
        sys.stderr.write(result["error"])
        return 1

    attempted = sum(p["checks"] for p in result["passes"])
    failed = sum(p["failed"] for p in result["passes"])
    for p in result["passes"]:
        for problem in p["problems"]:
            print(f"verification failed: {problem}", file=sys.stderr)
    setup_s = result["setup_done"] - spawned
    # untraced warm_s per seed, kept beside the inputs so a traced run
    # of the same seed can report the tracing overhead
    untraced = os.path.join(manifest["root"], "untraced_warm_s.json")
    if args.trace:
        values = per_layer(run_dir, result)
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(values.items())}
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)
            print(
                f"perfbench: tracing overhead: traced warm_s {values['bench.warm_s']:.3f} s "
                f"vs untraced {base:.3f} s (x{values['bench.warm_s'] / base:.3f})",
                file=sys.stderr,
            )
    else:
        values = end_to_end(result, setup_s)
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in values.items()}
        with open(untraced, "w") as f:
            json.dump(values["warm_s"], f)
    n_warm = len(result["passes"]) - 1
    print(
        f"perfbench: {n_warm} warm passes, "
        f"{sum(len(p['freshness_s']) for p in result['passes'])} freshness samples, "
        f"failed_ops_ratio={failed / max(1, attempted)}",
        file=sys.stderr,
    )
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
