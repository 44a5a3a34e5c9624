"""Executor-side ZIP decompression (the many-zips backfill scale path):
binaryFile + mapInPandas must produce exactly what the driver-side
landing path produces on the same archives."""

from __future__ import annotations

import json
import zipfile
from collections import Counter
from pathlib import Path

from pyspark.sql import functions as F
from pyspark.sql import types as T

from open_data_pipelines_spark.sources.zip_source import (
    extract_zip,
    read_zip_csv_distributed,
    zip_lines_distributed,
)

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_reference", T.LongType()),
        T.StructField("event_type", T.StringType()),
    ]
)


def _make_fleet(tmp_path, n_zips=3, rows_per=50):
    fleet = tmp_path / "fleet"
    fleet.mkdir()
    for z in range(n_zips):
        with zipfile.ZipFile(fleet / f"drop_{z:02d}.zip", "w") as zf:
            events = "\n".join(
                json.dumps(
                    {"event_reference": z * rows_per + i, "event_type": f"T{i % 3}"}
                )
                for i in range(rows_per)
            )
            zf.writestr(f"permits_{z}.json", "\ufeff" + events)
            csv = "id,name\n" + "\n".join(f"{z * rows_per + i},n{i}" for i in range(rows_per))
            zf.writestr(f"data_{z}.csv", csv)
    return fleet


def test_zip_lines_distributed_matches_landing_path(spark, tmp_path):
    fleet = _make_fleet(tmp_path)
    lines = zip_lines_distributed(spark, f"file://{fleet}/*.zip", "*.json")
    # JVM-side parse: from_json on the line column, schema declared
    parsed = lines.select(
        F.from_json("line", EVENT_SCHEMA).alias("e"), "zip_path", "member"
    ).select("e.event_reference", "e.event_type", "zip_path", "member")
    got = {r["event_reference"]: r["event_type"] for r in parsed.collect()}

    # driver-side landing path on the same archives
    members: list[str] = []
    for z in sorted(fleet.glob("*.zip")):
        members += extract_zip(str(z), str(tmp_path / "landing"), "*.json")
    expect_df = spark.read.schema(EVENT_SCHEMA).json([f"file://{m}" for m in members])
    expect = {r["event_reference"]: r["event_type"] for r in expect_df.collect()}

    assert got == expect and len(got) == 150
    assert parsed.filter(F.col("event_reference").isNull()).count() == 0  # BOM stripped
    # one archive = one provenance value per member
    assert parsed.select("zip_path").distinct().count() == 3


def test_read_zip_csv_distributed_sniffed_and_declared(spark, tmp_path):
    fleet = _make_fleet(tmp_path)
    glob = f"file://{fleet}/*.zip"

    sniffed = read_zip_csv_distributed(spark, glob, "*.csv")
    assert sniffed.columns == ["id", "name"]
    assert [f.dataType.simpleString() for f in sniffed.schema.fields] == ["string", "string"]
    assert sniffed.count() == 150
    assert sniffed.filter(F.col("id") == "120").count() == 1

    declared = read_zip_csv_distributed(spark, glob, "*.csv", columns=["id", "name"])
    assert sorted(r["id"] for r in declared.collect()) == sorted(
        r["id"] for r in sniffed.collect()
    )


def _make_wide_fleet(tmp_path, n_zips):
    """More archives than cores; each holds two JSON and two CSV members
    (one of each with a BOM, one under a subdirectory) plus a member no
    glob below selects."""
    fleet = tmp_path / "wide"
    fleet.mkdir()
    for z in range(n_zips):
        with zipfile.ZipFile(fleet / f"drop_{z:03d}.zip", "w") as zf:
            for m, bom in ((0, "\ufeff"), (1, "")):
                events = "\n".join(
                    json.dumps({"event_reference": z * 100 + m * 10 + i, "event_type": "T"})
                    for i in range(3 + m)
                )
                zf.writestr(f"{'sub/' * m}events_{m}.json", bom + events + "\n")
                csv = "id,name\n" + "".join(f"{z}-{m}-{i},n{i}\n" for i in range(2 + m))
                zf.writestr(f"{'sub/' * m}data_{m}.csv", bom + csv)
            zf.writestr("README.txt", "not data\n")
    return fleet


def test_distributed_fleet_wider_than_cores_matches_landing_path(spark, tmp_path):
    import pandas as pd

    parallelism = spark.sparkContext.defaultParallelism
    fleet = _make_wide_fleet(tmp_path, parallelism + 3)
    glob = f"file://{fleet}/*.zip"

    # driver-side landing path, member names kept (flatten=False)
    lines, rows = [], []
    for i, z in enumerate(sorted(fleet.glob("*.zip"))):
        landing = tmp_path / "landing" / str(i)
        for member in extract_zip(str(z), str(landing), "*.json", flatten=False):
            text = Path(member).read_text(encoding="utf-8-sig")
            name = str(Path(member).relative_to(landing))
            lines += [(str(z), name, ln) for ln in text.splitlines() if ln]
        for member in extract_zip(str(z), str(landing), "*.csv", flatten=False):
            part = pd.read_csv(member, dtype=str, encoding="utf-8-sig")
            rows += list(part.itertuples(index=False, name=None))

    got_lines = zip_lines_distributed(spark, glob, "*.json")
    got = [
        (r["zip_path"].removeprefix("file:"), r["member"], r["line"])
        for r in got_lines.collect()
    ]
    assert Counter(got) == Counter(lines)
    assert got_lines.rdd.getNumPartitions() <= parallelism

    got_csv = read_zip_csv_distributed(spark, glob, "*.csv", columns=["id", "name"])
    assert Counter((r["id"], r["name"]) for r in got_csv.collect()) == Counter(rows)
    assert got_csv.rdd.getNumPartitions() <= parallelism
