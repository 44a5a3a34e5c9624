"""The generator is a pure function of (workload, seed)."""

import hashlib
import os

import pytest

from perfbench import gen


def digest(root: str) -> str:
    """sha256 over the relative path and bytes of every generated input
    file under ``root`` (the manifest, which names ``root``, excluded)."""
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            if d == root and f == "manifest.json":
                continue
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode() + b"\0")
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


@pytest.mark.parametrize("workload", ["warehouse_load", "corpus_funnel"])
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, workload):
    a = gen.inputs(str(tmp_path / "a"), workload, 7)
    b = gen.inputs(str(tmp_path / "b"), workload, 7)
    c = gen.inputs(str(tmp_path / "c"), workload, 8)
    assert digest(a["root"]) == digest(b["root"])
    assert digest(a["root"]) != digest(c["root"])


def test_inputs_are_cached_per_seed(tmp_path):
    first = gen.inputs(str(tmp_path), "corpus_funnel", 3)
    stamp = digest(first["root"])
    again = gen.inputs(str(tmp_path), "corpus_funnel", 3)
    assert again == first and digest(again["root"]) == stamp


def test_warehouse_inputs_plant_late_and_resent_events(tmp_path):
    m = gen.inputs(str(tmp_path), "warehouse_load", 5)
    assert sum(m["stream"]["counts"].values()) > len(m["drops"]) * gen.EVENTS_PER_DROP
    assert m["warehouse"]["surplus"] > 0 and m["stream"]["surplus"] > 0
    # late events reach back before the first monthly drop
    assert min(m["warehouse"]["counts"]) < "%04d-%02d" % gen.FLEET_MONTHS[0]
    # the reloaded drop carries late events and re-sends of its own
    reload_key = "%04d-%02d" % gen.RELOAD_MONTH
    assert m["month"]["counts"][reload_key] > gen.EVENTS_PER_FLEET_MONTH
    assert m["month"]["counts"][reload_key] != m["warehouse"]["counts"][reload_key]
    assert m["dimension"]["current"] <= gen.N_PERMITS < m["dimension"]["rows"]


def test_scd2_expectation_follows_the_merge_rules():
    def ev(ref, permit, t, status):
        return {
            "event_reference": ref,
            "event_time": t,
            "object_data": {
                "permit_reference_number": permit,
                "work_status_ref": status,
                "work_category": "Minor",
            },
        }

    initial = [ev(1, "A", "2024-01-01", "planned"), ev(2, "A", "2024-02-01", "in_progress")]
    staged = [
        ev(3, "A", "2024-03-01", "completed"),  # newer and changed: new version
        ev(4, "B", "2024-01-05", "planned"),  # unseen permit: insert
        ev(5, "A", "2024-01-15", "cancelled"),  # older than current: ignored
    ]
    assert gen.expected_scd2(initial, staged) == {"rows": 3, "current": 2}
    same = [ev(6, "A", "2024-03-01", "in_progress")]  # newer, unchanged
    assert gen.expected_scd2(initial, same) == {"rows": 1, "current": 1}
