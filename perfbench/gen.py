"""Seeded input generator for the benchmark workloads.

Every input is a pure function of ``(workload, seed)``: the same seed
writes byte-identical files, another seed writes different ones. The
program under test only ever sees the files written here.

Inputs are cached per seed under ``<work>/inputs/<workload>/seed-<n>``;
the directory is published by renaming a finished temporary directory,
so a crashed generation can never be mistaken for a cached one.
Generation runs in the parent benchmark process before the measured
worker starts, so it is outside both the timed region and ``setup_s``.
"""

from __future__ import annotations

import json
import os
import shutil
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# documents (corpus_funnel)

# the harness corpus vocabulary: 30 common words plus the rare "dup"
# suffix token; the funnel's planted benchmark-leak span is built from
# these words, so the generated corpus must draw from the same pool
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.40, 0.15, 0.15, 0.15, 0.15)
N_DOCS = 500  # the harness documents table at sf0.01


def documents(seed: int, n_docs: int = N_DOCS) -> pa.Table:
    """Harness-shaped ``documents``: 10-100 vocabulary words per doc,
    5% carry the trailing ``dup`` token, a random claimed language and
    twenty round-robin sources."""
    rng = np.random.default_rng([seed, 1])
    lengths = rng.integers(10, 101, n_docs)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    dup = rng.random(n_docs) < 0.05
    langs = rng.choice(len(LANGS), n_docs, p=LANG_P)
    texts, pos = [], 0
    for i, n in enumerate(lengths):
        t = " ".join(VOCAB[w] for w in words[pos : pos + n])
        pos += n
        texts.append(t + " dup" if dup[i] else t)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i] for i in langs], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


# ---------------------------------------------------------------------------
# Street-Manager-shaped permit events (warehouse_load)

# 24 monthly drops of ~17.6k events in all: the event volume of sf0.01
# (a tenth of the ~176k events that sf0.1 lineitem gives in 24 months)
FLEET_MONTHS = [(2023 + (m - 1) // 12, (m - 1) % 12 + 1) for m in range(1, 19)]
STREAM_MONTHS = [(2024, m) for m in range(7, 13)]
EVENTS_PER_FLEET_MONTH = 800
EVENTS_PER_DROP = 530
# Assumed, not measured from Street Manager: a permit's life is about
# four events (submitted, granted, work start, work stop), 5% of a
# drop's events are late and 2% of the previous drop is delivered again
N_PERMITS = (len(FLEET_MONTHS) * EVENTS_PER_FLEET_MONTH + len(STREAM_MONTHS) * EVENTS_PER_DROP) // 4
LATE_SHARE = 0.05  # events landing in a later drop than their event month
RESENT_SHARE = 0.02  # events of the previous drop delivered again
RELOAD_MONTH = (2024, 4)  # the month run_source loads, then reloads, by URL

_EVENT_TYPES = ("PERMIT_SUBMITTED", "PERMIT_GRANTED", "WORK_START", "WORK_STOP")
_STATUS = ("planned", "in_progress", "completed", "cancelled")
_CATEGORY = ("Minor", "Standard", "Major", "Immediate - urgent", "Immediate - emergency")
_AUTHORITY = tuple(f"AUTHORITY_{i}" for i in range(20))


def _month_offset(ym: tuple[int, int], k: int) -> tuple[int, int]:
    y, m = ym
    i = y * 12 + (m - 1) + k
    return i // 12, i % 12 + 1


def _drop_events(rng, ym, n, next_ref, prev_drop):
    """One monthly drop: ``n`` fresh events (a LATE_SHARE of them
    stamped one or two months before the drop month) plus re-sent
    copies of a RESENT_SHARE of the previous drop's events."""
    late = rng.random(n) < LATE_SHARE
    back = rng.integers(1, 3, n)
    days = rng.integers(0, 28, n)
    secs = rng.integers(0, 86_400, n)
    permits = rng.integers(0, N_PERMITS, n)
    etype = rng.integers(0, len(_EVENT_TYPES), n)
    status = rng.integers(0, len(_STATUS), n)
    cat = rng.integers(0, len(_CATEGORY), n)
    auth = rng.integers(0, len(_AUTHORITY), n)
    usrn = rng.integers(10_000_000, 10_100_000, n)
    events = []
    for i in range(n):
        y, m = _month_offset(ym, -int(back[i])) if late[i] else ym
        s = int(secs[i])
        events.append(
            {
                "event_reference": next_ref + i,
                "event_type": _EVENT_TYPES[etype[i]],
                "event_time": f"{y:04d}-{m:02d}-{days[i] + 1:02d}T"
                f"{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}",
                "object_data": {
                    "permit_reference_number": f"PRN-{permits[i]:06d}",
                    "work_category": _CATEGORY[cat[i]],
                    "work_status_ref": _STATUS[status[i]],
                    "highway_authority": _AUTHORITY[auth[i]],
                    "usrn": str(usrn[i]),
                },
            }
        )
    if prev_drop:
        k = int(round(RESENT_SHARE * len(prev_drop)))
        for j in sorted(rng.choice(len(prev_drop), k, replace=False)):
            events.append(prev_drop[int(j)])
    order = rng.permutation(len(events))  # drops are not time-ordered
    return [events[int(j)] for j in order]


def _lines(events) -> bytes:
    return "".join(json.dumps(e, sort_keys=True) + "\n" for e in events).encode()


def _ym(event) -> tuple[int, int]:
    return int(event["event_time"][:4]), int(event["event_time"][5:7])


def _counts_by_event_month(events) -> dict[str, int]:
    out: dict[str, int] = {}
    for e in events:
        k = "%04d-%02d" % _ym(e)
        out[k] = out.get(k, 0) + 1
    return dict(sorted(out.items()))


def _surplus(events) -> int:
    """Rows beyond one per event_reference (the planted re-sends)."""
    return len(events) - len({e["event_reference"] for e in events})


def _latest(events) -> dict[str, dict]:
    """Latest event per permit by (event_time, event_reference) — the
    SCD2 staging dedup order."""
    out: dict[str, dict] = {}
    for e in events:
        p = e["object_data"]["permit_reference_number"]
        cur = out.get(p)
        if cur is None or (e["event_time"], e["event_reference"]) > (
            cur["event_time"],
            cur["event_reference"],
        ):
            out[p] = e
    return out


def _attrs(e) -> tuple:
    return (e["object_data"]["work_status_ref"], e["object_data"]["work_category"])


def expected_scd2(initial, staged) -> dict[str, int]:
    """Row counts of the permit dimension after ``scd2_initial_load``
    over ``initial`` then ``scd2_merge`` with ``staged``: an existing
    permit gains a version only when its newest staged event is newer
    than the current row AND its tracked attributes changed; an unseen
    permit is a plain insert."""
    dim = _latest(initial)
    versions = len(dim)
    for p, e in _latest(staged).items():
        cur = dim.get(p)
        if cur is None or (e["event_time"] > cur["event_time"] and _attrs(e) != _attrs(cur)):
            versions += 1
            dim[p] = e
    return {"rows": versions, "current": len(dim)}


def street_manager(seed: int, out_dir: str) -> dict:
    """Write the zipped monthly fleet, the plain-JSON stream drops and
    return the expected warehouse state."""
    rng = np.random.default_rng([seed, 3])
    fleet_dir = os.path.join(out_dir, "fleet")
    drops_dir = os.path.join(out_dir, "drops")
    os.makedirs(fleet_dir)
    os.makedirs(drops_dir)
    drops, prev, ref = {}, None, 1
    for ym in FLEET_MONTHS + STREAM_MONTHS:
        n = EVENTS_PER_FLEET_MONTH if ym in FLEET_MONTHS else EVENTS_PER_DROP
        prev = drops[ym] = _drop_events(rng, ym, n, ref, prev)
        ref += n
    for (y, m) in FLEET_MONTHS:
        info = zipfile.ZipInfo(f"permits_{y}_{m:02d}.json", date_time=(y, m, 1, 0, 0, 0))
        info.compress_type = zipfile.ZIP_DEFLATED
        with zipfile.ZipFile(os.path.join(fleet_dir, f"{y}_{m:02d}.zip"), "w") as zf:
            zf.writestr(info, _lines(drops[(y, m)]))
    for (y, m) in STREAM_MONTHS:
        with open(os.path.join(drops_dir, f"drop_{y}_{m:02d}.json"), "wb") as f:
            f.write(_lines(drops[(y, m)]))

    fleet = [e for ym in FLEET_MONTHS for e in drops[ym]]
    streamed = [e for ym in STREAM_MONTHS for e in drops[ym]]
    input_bytes = sum(
        os.path.getsize(os.path.join(d, f))
        for d in (fleet_dir, drops_dir)
        for f in os.listdir(d)
    )
    return {
        "fleet_glob": os.path.join(fleet_dir, "*.zip"),
        "reload": {
            "year": RELOAD_MONTH[0],
            "month": RELOAD_MONTH[1],
            "zip": os.path.join(fleet_dir, "%04d_%02d.zip" % RELOAD_MONTH),
        },
        "drops": [os.path.join(drops_dir, f"drop_{y}_{m:02d}.json") for y, m in STREAM_MONTHS],
        "input_rows": len(fleet) + 2 * len(drops[RELOAD_MONTH]) + len(streamed),
        "input_bytes": input_bytes,
        "warehouse": {
            "counts": _counts_by_event_month(fleet),
            "surplus": _surplus(fleet),
        },
        # run_source's month table holds the drop it ingested, stamped
        # with the drop's month whatever the event times; reloading it
        # must leave each delivered row exactly once
        "month": {
            "counts": {"%04d-%02d" % RELOAD_MONTH: len(drops[RELOAD_MONTH])},
            "surplus": _surplus(drops[RELOAD_MONTH]),
        },
        "stream": {"counts": _counts_by_event_month(streamed), "surplus": _surplus(streamed)},
        "dimension": expected_scd2(fleet, streamed),
        "log_rows": 3,  # one processing_logs row each for backfill, load and reload
    }


EVENT_SCHEMA_DDL = (
    "event_reference BIGINT, event_type STRING, event_time STRING, "
    "object_data STRUCT<permit_reference_number: STRING, work_category: STRING, "
    "work_status_ref: STRING, highway_authority: STRING, usrn: STRING>"
)


# ---------------------------------------------------------------------------
# cache


def _write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {
        "tables_dir": out_dir,
        "input_rows": sum(t.num_rows for t in tables.values()),
        "input_bytes": sum(
            os.path.getsize(os.path.join(out_dir, f"{n}.parquet")) for n in tables
        ),
    }


def _generate(workload: str, seed: int, out_dir: str) -> dict:
    if workload == "warehouse_load":
        manifest = street_manager(seed, out_dir)
        # the set-up's load_tables needs a table directory; the
        # write path reads none of it
        manifest["tables_dir"] = os.path.join(out_dir, "tables")
        os.makedirs(manifest["tables_dir"])
        return manifest
    if workload == "corpus_funnel":
        return _write_tables({"documents": documents(seed)}, os.path.join(out_dir, "tables"))
    raise ValueError(f"unknown workload {workload!r}")


def inputs(work: str, workload: str, seed: int) -> dict:
    """The manifest of the cached inputs for ``(workload, seed)``,
    generating them first when absent."""
    final = os.path.join(work, "inputs", workload, f"seed-{seed}")
    path = os.path.join(final, "manifest.json")
    if not os.path.exists(path):
        tmp = final + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        manifest = _generate(workload, seed, tmp)
        manifest = json.loads(json.dumps(manifest).replace(tmp, final))
        manifest["root"] = final
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.rename(tmp, final)
    with open(path) as f:
        manifest = json.load(f)
    if manifest.get("root") != final:  # the checkout moved: regenerate
        shutil.rmtree(final)
        return inputs(work, workload, seed)
    return manifest
