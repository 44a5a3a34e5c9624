"""Output checks shared by the benchmark's parent and worker processes.

Query results are compared with the registry's DuckDB oracle SQL by the
correctness gate's order-insensitive hash of their values (exact,
bitwise on floats).
Warehouse state is summarised by Spark in the worker and compared with
the generator's expectation here, so the comparison itself needs no
Spark.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from tools import check_oracle

# registry oracle per verified output, per workload
ORACLES = {"corpus_funnel": {"corpus_funnel": "corpus_funnel"}}


def value_hash(df: pd.DataFrame) -> str:
    """The correctness gate's order-insensitive value hash
    (``tools/check_oracle.py``) of the canonical frame, prefixed with
    its column names and row count."""
    df = check_oracle.canon(df)
    prefix = repr((list(df.columns), len(df)))
    return hashlib.sha256((prefix + check_oracle.value_hash(df)).encode()).hexdigest()


def oracle_hashes(workload: str, tables_dir: str) -> dict[str, str]:
    """Hash of each verified output of ``workload`` as the DuckDB
    oracle computes it over the generated tables."""
    import os

    import duckdb

    from open_data_pipelines_spark.queries import registry

    wanted = ORACLES.get(workload, {})
    if not wanted:
        return {}
    reg = registry()
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(tables_dir)):
            path = os.path.join(tables_dir, f).replace("'", "''")
            con.execute(
                f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM read_parquet('{path}')"
            )
        return {
            out: value_hash(con.execute(reg[row][1]).fetchdf())
            for out, row in wanted.items()
        }
    finally:
        con.close()


def compare_warehouse(observed: dict, expected: dict) -> list[str]:
    """Problems found when the loaded warehouse (``observed``, as
    summarised by the worker) differs from the generator's
    ``expected`` state. Empty means correct."""
    problems = []
    for table in ("warehouse", "month", "stream"):
        got, want = observed[table], expected[table]
        if got["counts"] != want["counts"]:
            diff = {
                k: (got["counts"].get(k), want["counts"].get(k))
                for k in sorted(set(got["counts"]) | set(want["counts"]))
                if got["counts"].get(k) != want["counts"].get(k)
            }
            problems.append(f"{table}: per-month counts differ (got, want): {diff}")
        if got["surplus"] != want["surplus"]:
            problems.append(
                f"{table}: {got['surplus']} rows beyond one per event_reference, "
                f"the generator re-sent {want['surplus']}"
            )
    dim, want = observed["dimension"], expected["dimension"]
    if dim["rows"] != want["rows"] or dim["current"] != want["current"]:
        problems.append(f"dimension: got {dim}, want {want}")
    if dim["keys_with_many_current"]:
        problems.append(f"dimension: {dim['keys_with_many_current']} keys with >1 current row")
    logs = observed["logs"]
    if logs["rows"] != expected["log_rows"] or logs["not_success"]:
        problems.append(
            f"processing_logs: {logs['rows']} rows ({logs['not_success']} not SUCCESS), "
            f"want {expected['log_rows']} SUCCESS"
        )
    return problems
