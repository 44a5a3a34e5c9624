"""The verifier accepts the expected output and rejects corrupted ones."""

import copy

import pandas as pd

from perfbench import verify

EXPECTED = {
    "warehouse": {"counts": {"2024-01": 10, "2024-02": 12}, "surplus": 1},
    "month": {"counts": {"2024-02": 11}, "surplus": 0},
    "stream": {"counts": {"2025-01": 5}, "surplus": 0},
    "dimension": {"rows": 9, "current": 7},
    "log_rows": 2,
}
OBSERVED = {
    "warehouse": {"counts": {"2024-01": 10, "2024-02": 12}, "surplus": 1},
    "month": {"counts": {"2024-02": 11}, "surplus": 0},
    "stream": {"counts": {"2025-01": 5}, "surplus": 0},
    "dimension": {"rows": 9, "current": 7, "keys_with_many_current": 0},
    "logs": {"rows": 2, "not_success": 0},
}


def test_correct_warehouse_passes():
    assert verify.compare_warehouse(OBSERVED, EXPECTED) == []


def _corrupt(path, value):
    bad = copy.deepcopy(OBSERVED)
    node = bad
    for k in path[:-1]:
        node = node[k]
    node[path[-1]] = value
    return bad


def test_corrupted_warehouse_is_rejected():
    cases = [
        (("warehouse", "counts", "2024-02"), 11),  # a lost row
        (("stream", "surplus"), 5),  # a replayed batch appended twice
        (("month", "counts", "2024-02"), 22),  # a reload appended, not replaced
        (("month", "surplus"), 11),
        (("dimension", "keys_with_many_current"), 1),
        (("dimension", "rows"), 10),
        (("logs", "not_success"), 1),
    ]
    for path, value in cases:
        assert verify.compare_warehouse(_corrupt(path, value), EXPECTED), path


def test_value_hash_ignores_row_order_and_rejects_a_changed_value():
    df = pd.DataFrame({"b": [1.5, 2.25, 3.0], "a": ["x", "y", "z"]})
    shuffled = df.iloc[[2, 0, 1]][["a", "b"]]
    assert verify.value_hash(df) == verify.value_hash(shuffled)
    corrupted = df.copy()
    corrupted.loc[1, "b"] = 2.2500000000000004  # one ulp away
    assert verify.value_hash(df) != verify.value_hash(corrupted)
    assert verify.value_hash(df) != verify.value_hash(df.iloc[:2])
