"""Named per-source pipeline catalog (SURVEY.md §2.1/§3.1).

The reference ships one thin ``main()`` per source under
``src/pipelines/*.py``, each of which only resolves a
``create_default_latest()`` config and hands it to a shared processor
(e.g. ``src/pipelines/street_manager.py:19-55``,
``src/pipelines/naptan.py:10-33``). This module reifies those entry
points as *declarative* :class:`SourceConfig` rows keyed by the
reference's source codes (``src/data_sources/data_source_config.py:20-98``),
so a user invokes a pipeline by name and everything else — discovery
strategy, ingest shape, schema/table naming, batch sizing — comes from
config lookup alone.

Engine-native differences (same as :mod:`..pipelines`): no DDL, one
partitioned parquet table per source with dynamic month overwrite, and
the ingest fan-out is Spark's, so ``batch_limit`` maps to the target
max rows per written file rather than an insert-loop chunk.

Discovery strategies (all in :mod:`.discovery`, network injectable):

- ``static``            — the config URL IS the download link
- ``latest_month_link`` — dated ``{base}{month_name}_{year}.zip`` links
- ``ckan_latest``       — CKAN package_show resource filter (NHS)
- ``os_product``        — OS downloads API product selection
- ``scrape``            — HTML link scraping (gov.uk / Geoplace)
- ``redirect``          — follow the redirect to a signed URL

Ingest kinds: ``zip_json`` (Street Manager / Section 58 permit
events), ``zip_csv`` (ZIP-of-CSV drops), ``csv`` (direct CSV),
``gtfs`` (multi-table GTFS bundle), ``ods`` (native stdlib parser),
``encrypted_xls`` (native stdlib CFB+RC4+BIFF8 decrypt, msoffcrypto
preferred when installed), ``geopackage`` (native WKB path +
fiona-gated variant).
"""

from __future__ import annotations

import urllib.request
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..pipelines import MonthlyIngestConfig
from . import discovery
from .csv_source import read_csv_bronze, read_csv_header
from .gtfs import load_gtfs_bundle
from .zip_source import download_to_landing, fetch_and_extract


@dataclass(frozen=True)
class SourceConfig:
    """One reference pipeline entry point, declaratively."""

    name: str
    base_url: str
    discovery: str  # static|latest_month_link|ckan_latest|os_product|scrape|redirect
    ingest: str  # zip_json|zip_csv|csv|gtfs|ods|encrypted_xls|geopackage
    schema_name: str
    table_template: str = "{month:02d}_{year}"
    batch_limit: int | None = None
    member_glob: str = "*.csv"
    columns: tuple[str, ...] | None = None  # None -> lenient header check
    numeric_columns: dict[str, str] = field(default_factory=dict)
    discovery_args: dict[str, Any] = field(default_factory=dict)
    ingest_args: dict[str, Any] = field(default_factory=dict)  # loader kwargs (sheet/header)
    ref: str = ""  # reference pipeline module, for parity audit


# Reference parity: one row per src/pipelines/*.py entry point (18),
# plus the sept_2024 BDUK config that only exists as a data source.
CATALOG: dict[str, SourceConfig] = {
    c.name: c
    for c in (
        SourceConfig(
            name="street_manager",
            base_url="https://opendata.manage-roadworks.service.gov.uk/permit/",
            discovery="latest_month_link",
            ingest="zip_json",
            schema_name="street_manager",
            batch_limit=300_000,
            member_glob="*.json",
            columns=(
                "event_reference",
                "event_type",
                "event_time",
                "permit_reference_number",
                "work_category",
                "work_status_ref",
                "is_ttro_required",
                "is_traffic_sensitive",
                "traffic_management_type_ref",
                "highway_authority",
                "highway_authority_swa_code",
                "works_location_coordinates",
                "usrn",
            ),
            ref="src/pipelines/street_manager.py",
        ),
        SourceConfig(
            name="section_58",
            base_url="https://opendata.manage-roadworks.service.gov.uk/section_58/",
            discovery="latest_month_link",
            ingest="zip_json",
            schema_name="section_58",
            batch_limit=150_000,
            member_glob="*.json",
            ref="src/pipelines/section_58.py",
        ),
        SourceConfig(
            name="geoplace_swa",
            base_url=(
                "https://www.geoplace.co.uk/local-authority-resources/"
                "street-works-managers/view-swa-codes"
            ),
            discovery="scrape",
            ingest="encrypted_xls",
            schema_name="geoplace_swa",
            table_template="swa_codes",
            discovery_args={"href_pattern": r"\.xls$"},
            # the SWA sheet has a title row; headers live at row 1
            # (reference: geoplace_swa.py header=1)
            ingest_args={"header_row": 1},
            ref="src/pipelines/geoplace_swa.py",
        ),
        SourceConfig(
            name="os_open_usrn",
            base_url=(
                "https://api.os.uk/downloads/v1/products/OpenUSRN/downloads"
                "?area=GB&format=GeoPackage&redirect"
            ),
            discovery="redirect",
            ingest="geopackage",
            schema_name="os_open_usrn",
            table_template="open_usrns_latest",
            ref="src/pipelines/open_usrn.py",
        ),
        SourceConfig(
            name="os_usrn_uprn",
            base_url="https://api.os.uk/downloads/v1/products/LIDS/downloads",
            discovery="os_product",
            ingest="zip_csv",
            schema_name="os_usrn_uprn",
            table_template="usrn_uprn_latest",
            batch_limit=200_000,
            discovery_args={"product_id": "LIDS", "fmt": "CSV"},
            ref="src/pipelines/os_usrn_uprn.py",
        ),
        SourceConfig(
            name="bduk_premises_sept_2024",
            base_url=(
                "https://www.gov.uk/government/publications/"
                "premises-in-bduk-plans-england-and-wales"
            ),
            discovery="scrape",
            ingest="ods",
            schema_name="bduk",
            table_template="premises_sept_2024",
            discovery_args={"href_pattern": r"\.ods$"},
            ref="src/data_sources/bduk_premises_sept_2024.py",
        ),
        SourceConfig(
            name="bduk_premises_jul_2025",
            base_url=(
                "https://www.gov.uk/government/publications/"
                "january-2025-omr-and-premises-in-bduk-plans-england-and-wales"
            ),
            discovery="scrape",
            ingest="ods",
            schema_name="bduk",
            table_template="premises_jul_2025",
            discovery_args={"href_pattern": r"\.ods$"},
            ref="src/pipelines/bduk_premises_jul_2025.py",
        ),
        SourceConfig(
            name="bduk_premises_sept_2025",
            base_url=(
                "https://www.gov.uk/government/publications/"
                "may-2025-omr-and-premises-in-bduk-plans-england-and-wales"
            ),
            discovery="scrape",
            ingest="ods",
            schema_name="bduk",
            table_template="premises_sept_2025",
            discovery_args={"href_pattern": r"\.ods$"},
            ref="src/pipelines/bduk_premises_sept_2025.py",
        ),
        SourceConfig(
            name="cadent_gas_underground_pipes",
            base_url=(
                "https://cadentgas.opendatasoft.com/api/explore/v2.1/catalog/"
                "datasets/gas-pipe-infrastructure-gpi_open/exports/csv"
                "?lang=en&timezone=Europe%2FLondon&use_labels=true&delimiter=%2C"
            ),
            discovery="static",
            ingest="csv",
            schema_name="cadent",
            table_template="underground_pipes_latest",
            ref="src/pipelines/cadent_underground.py",
        ),
        SourceConfig(
            name="built_up_areas",
            base_url=(
                "https://api.os.uk/downloads/v1/products/BuiltUpAreas/downloads"
                "?area=GB&format=GeoPackage&redirect"
            ),
            discovery="redirect",
            ingest="geopackage",
            schema_name="os_built_up_areas",
            table_template="built_up_areas_latest",
            ref="src/data_sources/built_up_areas.py",
        ),
        SourceConfig(
            name="code_point",
            base_url=(
                "https://api.os.uk/downloads/v1/products/CodePointOpen/downloads"
                "?area=GB&format=GeoPackage&redirect"
            ),
            discovery="redirect",
            ingest="geopackage",
            schema_name="os_code_point",
            table_template="code_point_latest",
            ref="src/pipelines/code_point.py",
        ),
        SourceConfig(
            name="dft_road_stats",
            base_url=(
                "https://www.gov.uk/government/statistical-data-sets/"
                "road-length-statistics-rdl"
            ),
            discovery="scrape",
            ingest="ods",
            schema_name="dft",
            table_template="road_stats_latest",
            discovery_args={"href_pattern": r"\.ods$"},
            # the published RDL ODS carries 6 preamble rows before the
            # header (reference dft_road_stats.py:41-62, header=6)
            ingest_args={"header_row": 6},
            ref="src/pipelines/dft_road_stats.py",
        ),
        SourceConfig(
            name="naptan_data",
            base_url="https://beta-naptan.dft.gov.uk/Download/National/csv",
            discovery="static",
            ingest="csv",
            schema_name="naptan",
            table_template="naptan_latest",
            batch_limit=100_000,
            ref="src/pipelines/naptan.py",
        ),
        SourceConfig(
            name="bods_timetables",
            base_url=(
                "https://data.bus-data.dft.gov.uk/timetable/download/"
                "gtfs-file/north_west/"
            ),
            discovery="static",
            ingest="gtfs",
            schema_name="bods",
            table_template="gtfs_north_west",
            ref="src/pipelines/bods_timetables.py",
        ),
        SourceConfig(
            name="postcode_p001",
            base_url="https://www.nomisweb.co.uk/output/census/2021/pcd_p001.csv",
            discovery="static",
            ingest="csv",
            schema_name="census_2021",
            table_template="postcode_p001",
            ref="src/pipelines/post_code_p001.py",
        ),
        SourceConfig(
            name="postcode_p002",
            base_url="https://www.nomisweb.co.uk/output/census/2021/pcd_p002.csv",
            discovery="static",
            ingest="csv",
            schema_name="census_2021",
            table_template="postcode_p002",
            ref="src/pipelines/post_code_p002.py",
        ),
        SourceConfig(
            name="national_statistic_postcode_lookup",
            base_url=(
                "https://www.arcgis.com/sharing/rest/content/items/"
                "2410f94375674cd2a6182b4f5e531bb8/data"
            ),
            discovery="static",
            ingest="zip_csv",
            schema_name="ons_nspl",
            table_template="nspl_latest",
            ref="src/pipelines/national_stat_postcode_lookup.py",
        ),
        SourceConfig(
            name="ons_uprn_directory",
            base_url="https://geoportal.statistics.gov.uk",
            discovery="scrape",
            ingest="zip_csv",
            schema_name="ons_uprn",
            table_template="uprn_directory_latest",
            discovery_args={"href_pattern": r"\.zip$"},
            ref="src/pipelines/ons_uprn_directory.py",
        ),
        SourceConfig(
            name="nhs_english_prescribing_data",
            base_url=(
                "https://opendata.nhsbsa.net/api/3/action/package_show"
                "?id=english-prescribing-dataset-epd-with-snomed-code"
            ),
            discovery="ckan_latest",
            ingest="csv",
            schema_name="nhs_epd",
            batch_limit=500_000,
            discovery_args={"format": "CSV"},
            ref="src/pipelines/nhs_prescriptions.py",
        ),
    )
}


def resolve_url(
    cfg: SourceConfig,
    *,
    year: int | None = None,
    month: int | None = None,
    fetch: Callable[[str], str] | None = None,
    catalogue: dict | list | None = None,
) -> str:
    """Turn a config into a concrete download URL.

    Network-touching strategies take the fetched payload via ``fetch``
    / ``catalogue`` injectables (same pattern as
    :mod:`.discovery`'s tests) so resolution is unit-testable offline.
    When ``catalogue`` is omitted but ``fetch`` is given, the JSON
    catalogue strategies fetch+parse ``base_url`` themselves — so a
    caller only ever needs to supply ``fetch``.
    """
    base = cfg.base_url.rstrip("/")
    if cfg.discovery == "static":
        return cfg.base_url
    if cfg.discovery == "latest_month_link":
        if year is not None and month is not None:
            return discovery.monthly_links(base, (year, month), (year, month))[0]
        return discovery.latest_month_link(base)
    if cfg.discovery in ("ckan_latest", "os_product"):
        if catalogue is None:
            if fetch is None:
                raise ValueError(
                    f"{cfg.discovery} discovery for {cfg.name!r} needs either the "
                    f"catalogue payload or a fetch callable"
                )
            import json

            catalogue = json.loads(fetch(cfg.base_url))
        if cfg.discovery == "ckan_latest":
            resources = discovery.filter_ckan_resources(
                catalogue, fmt=cfg.discovery_args.get("format", "CSV")
            )
            if not resources:
                raise LookupError(f"no matching CKAN resources at {cfg.base_url}")
            return resources[0]["url"]  # newest first
        product = discovery.select_product(
            catalogue, cfg.discovery_args["product_id"], cfg.discovery_args.get("fmt")
        )
        return product["url"]
    if cfg.discovery == "scrape":
        if fetch is None:
            raise ValueError(f"scrape discovery for {cfg.name!r} needs a fetch callable")
        links = discovery.scrape_links(
            fetch(cfg.base_url),
            href_pattern=cfg.discovery_args.get("href_pattern"),
            css_class=cfg.discovery_args.get("css_class"),
            base_url=cfg.base_url,
        )
        if not links:
            raise LookupError(f"no matching links at {cfg.base_url}")
        return links[0]
    if cfg.discovery == "redirect":
        if fetch is None:
            raise ValueError(f"redirect discovery for {cfg.name!r} needs a fetch callable")
        return discovery.resolve_redirect(cfg.base_url, fetch)
    raise KeyError(f"unknown discovery strategy {cfg.discovery!r}")


def run_source(
    spark: SparkSession,
    name: str,
    *,
    landing_dir: str,
    warehouse_path: str,
    log_path: str,
    year: int,
    month: int,
    url: str | None = None,
    opener: Callable = urllib.request.urlopen,
    fetch: Callable[[str], str] | None = None,
    catalogue: dict | list | None = None,
    json_schema=None,
) -> DataFrame | dict[str, DataFrame]:
    """Run a catalogued source end-to-end by name.

    ``url`` overrides discovery (fixtures / pinned drops); everything
    else comes from the catalog row. The scrape / redirect / ckan /
    os_product strategies resolve through ``fetch`` (defaults to a
    urllib GET via ``opener``, injectable for offline tests) and/or a
    pre-fetched ``catalogue`` payload — so every catalogued source is
    runnable by name alone. All ingest kinds run natively in-container
    (stdlib parsers — ods, geopackage, AND encrypted_xls via the
    CFB+RC4+BIFF8 reader in :mod:`.xls_native`).
    """
    cfg = CATALOG[name]
    if fetch is None:
        if cfg.discovery == "redirect":
            # the redirect strategy's contract is "fetch returns the
            # FINAL URL" (discovery.resolve_redirect) — a body-reading
            # default would hand the downloaded payload to the landing
            # step as if it were a URL (round-9 review find)
            def fetch(u: str) -> str:  # pragma: no cover - network default
                with opener(u) as resp:
                    return resp.geturl()
        else:
            def fetch(u: str) -> str:  # pragma: no cover - network default
                with opener(u) as resp:
                    return resp.read().decode("utf-8", "replace")

    resolved = (
        url
        if url is not None
        else resolve_url(cfg, year=year, month=month, fetch=fetch, catalogue=catalogue)
    )

    if cfg.ingest in ("zip_csv", "csv"):
        mcfg = MonthlyIngestConfig(
            data_source=cfg.name,
            url=resolved,
            year=year,
            month=month,
            expected_columns=list(cfg.columns) if cfg.columns else [],
            numeric_columns=dict(cfg.numeric_columns),
            member_glob=cfg.member_glob,
            strict_schema=cfg.columns is not None,
        )
        table_name = cfg.table_template.format(year=year, month=month)
        if cfg.ingest == "csv":
            # direct CSV: land the single file, then the same silver path
            local = download_to_landing(resolved, landing_dir, opener=opener)
            return _ingest_csv_files(
                spark, mcfg, [local], warehouse_path, log_path, table_name=table_name
            )
        members = fetch_and_extract(resolved, landing_dir, cfg.member_glob, opener=opener)
        return _ingest_csv_files(
            spark, mcfg, members, warehouse_path, log_path, table_name=table_name
        )

    if cfg.ingest == "zip_json":
        from pyspark.sql import functions as F

        from ..sinks.metadata import MetadataLogger
        from ..sinks.writers import write_month_partition
        from .json_source import read_json_events

        if json_schema is None:
            raise ValueError("zip_json ingest needs a declared schema (json_schema=)")
        with MetadataLogger(
            spark,
            log_path,
            data_source=cfg.name,
            table_name=cfg.table_template.format(year=year, month=month),
            processor_type="catalog_ingest",
            url=resolved,
        ) as meta:
            members = fetch_and_extract(
                resolved, landing_dir, cfg.member_glob, opener=opener
            )
            # read only the extracted members (the landing dir also holds the zip)
            flat = read_json_events(spark, members, json_schema)
            silver = (
                flat.withColumn("year", F.lit(year))
                .withColumn("month", F.lit(month))
                .withColumn("date_time_processed", F.current_timestamp())
            )
            # dynamic month overwrite -> idempotent re-runs (reference:
            # street_manager.py:202-265 rebuilds the month table,
            # motherduck.py:69-71 CREATE OR REPLACE)
            meta.rows_processed = write_month_partition(silver, warehouse_path)
            return silver

    # the remaining kinds share one epilogue: bronze frame(s) ->
    # month-partitioned warehouse write (dynamic overwrite, idempotent
    # re-runs) -> one processing_logs row — the same contract the
    # zip_json/zip_csv paths guarantee, so EVERY catalogued kind lands
    # and logs uniformly (reference: street_manager.py:202-265 rebuild
    # + metadata_logger.py evidence row per run)
    if cfg.ingest == "gtfs":

        def load(local: str):
            return load_gtfs_bundle(spark, local, landing_dir)

    elif cfg.ingest in ("ods", "encrypted_xls"):
        from .spreadsheet import load_spreadsheet_bronze

        def load(local: str):
            return load_spreadsheet_bronze(spark, local, **cfg.ingest_args)

    elif cfg.ingest == "geopackage":
        from .geopackage import gpkg_to_parquet, load_geoparquet

        def load(local: str):
            pq = gpkg_to_parquet(local, f"{landing_dir}/geo.parquet")
            return load_geoparquet(spark, pq)

    else:
        raise KeyError(f"unknown ingest kind {cfg.ingest!r}")

    from pyspark.sql import functions as F

    from ..sinks.metadata import MetadataLogger
    from ..sinks.writers import write_month_partition

    with MetadataLogger(
        spark,
        log_path,
        data_source=cfg.name,
        table_name=cfg.table_template.format(year=year, month=month),
        processor_type="catalog_ingest",
        url=resolved,
    ) as meta:
        local = download_to_landing(resolved, landing_dir, opener=opener)
        out = load(local)
        frames = out if isinstance(out, dict) else {None: out}
        total = 0
        for table, frame in frames.items():
            silver = (
                frame.withColumn("year", F.lit(year))
                .withColumn("month", F.lit(month))
                .withColumn("date_time_processed", F.current_timestamp())
            )
            target = warehouse_path if table is None else f"{warehouse_path.rstrip('/')}/{table}"
            total += write_month_partition(silver, target)
        meta.rows_processed = total
        return out


def run_source_backfill(
    spark: SparkSession,
    name: str,
    *,
    zip_glob: str,
    warehouse_path: str,
    log_path: str,
    json_schema,
    event_time_col: str = "event_time",
) -> DataFrame:
    """Multi-month backfill of a ``zip_json`` source from a FLEET of
    archives (e.g. every monthly Street Manager drop re-ingested at
    once).

    Scale shape: archives decompress executor-side
    (:func:`.zip_source.zip_lines_distributed` — one Python task per
    core, no driver landing), JSON parses JVM-side (``from_json``
    with the declared schema), and (year, month) derive from each
    event's own timestamp, so ONE dynamic-partition-overwrite write
    replaces exactly the months present in the fleet — idempotent for
    the whole backfill, untouched months preserved. The fleet is
    scanned once: ``rows_processed`` is counted during that write. One
    metadata row logs the run (reference equivalent: looping
    ``src/pipelines/street_manager.py`` month by month)."""
    from pyspark.sql import functions as F

    from ..sinks.metadata import MetadataLogger
    from ..sinks.writers import write_month_partition
    from .json_source import flatten_struct_columns
    from .zip_source import zip_lines_distributed

    cfg = CATALOG[name]
    if cfg.ingest != "zip_json":
        raise ValueError(f"backfill supports zip_json sources, {name!r} is {cfg.ingest}")
    with MetadataLogger(
        spark,
        log_path,
        data_source=cfg.name,
        table_name="backfill",
        processor_type="catalog_backfill",
        url=zip_glob,
    ) as meta:
        lines = zip_lines_distributed(spark, zip_glob, cfg.member_glob)
        parsed = lines.select(F.from_json("line", json_schema).alias("__e")).select("__e.*")
        flat = flatten_struct_columns(parsed, sep="_", strip_prefix="object_data_")
        ts = F.to_timestamp(event_time_col)
        silver = (
            flat.withColumn("year", F.year(ts))
            .withColumn("month", F.month(ts))
            .withColumn("date_time_processed", F.current_timestamp())
        )
        meta.rows_processed = write_month_partition(silver, warehouse_path)
        return silver


def _ingest_csv_files(
    spark: SparkSession,
    mcfg: MonthlyIngestConfig,
    files: list[str],
    warehouse_path: str,
    log_path: str,
    table_name: str | None = None,
) -> DataFrame:
    """Shared CSV silver path for already-landed files (the body of
    ``run_monthly_ingest`` minus the zip download). ``table_name``
    carries the catalog row's ``table_template`` (e.g. a ``_latest``
    style name) into the metadata log; monthly default otherwise."""
    from pyspark.sql import functions as F

    from ..functions.cleaning import (
        normalize_column_names,
        normalize_null_tokens,
        safe_cast,
    )
    from ..sinks.metadata import MetadataLogger
    from ..sinks.writers import write_month_partition

    with MetadataLogger(
        spark,
        log_path,
        data_source=mcfg.data_source,
        table_name=table_name or f"{mcfg.month:02d}_{mcfg.year}",
        processor_type="catalog_ingest",
        url=mcfg.url,
    ) as meta:
        silver: DataFrame | None = None
        for path in files:
            # no declared columns -> lenient: the landed header IS the schema
            expected = mcfg.expected_columns or read_csv_header(path)
            bronze = read_csv_bronze(spark, path, expected, strict=mcfg.strict_schema)
            part = normalize_column_names(bronze)
            silver = part if silver is None else silver.unionByName(part)
        if silver is None:
            raise ValueError("no files to ingest")
        for col, typ in mcfg.numeric_columns.items():
            silver = silver.withColumn(col, safe_cast(normalize_null_tokens(col), typ))
        silver = (
            silver.withColumn("year", F.lit(mcfg.year))
            .withColumn("month", F.lit(mcfg.month))
            .withColumn("date_time_processed", F.current_timestamp())
        )
        meta.rows_processed = write_month_partition(silver, warehouse_path)
        return silver
