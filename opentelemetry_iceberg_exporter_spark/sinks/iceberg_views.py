"""Iceberg catalog VIEWS (the public Iceberg view spec, format-version
1) on both transports — SQL definitions stored as versioned catalog
metadata instead of engine-local temp views.

Why views matter to this exporter: the telemetry warehouse's derived
surfaces (per-service error rates, latency rollups, the corpus-report
shapes) are SQL over the signal tables, and a view makes that SQL a
SHARED, VERSIONED catalog object — every engine (and every retention /
audit process) reads the same definition, `replace` keeps the full
version history (the spec's `versions` + `version-log`), and time
travel over DEFINITIONS (`read(version_id=)`) answers "what did this
dashboard compute last week" exactly.

Spec shapes (view spec "View Metadata"):

* view metadata JSON: `view-uuid`, `format-version` 1, `location`,
  `schemas` (the SQL's output schema per version), `current-version-id`,
  `versions` (each: `version-id`, `timestamp-ms`, `schema-id`,
  `summary` with the writing engine, `representations`,
  `default-namespace`), `version-log`, `properties`.
* a representation: `{"type": "sql", "sql": ..., "dialect": ...}`.

Dialect: `"spark"`, with table references written as the warehouse-wide
`<namespace>_<table>` temp-view names this package's `sql` CLI /
`register_warehouse` registers — execution (`read`) registers the
warehouse and runs the SQL, so a view is one `spark.sql` away on either
transport.

Filesystem transport: the Java HadoopCatalog has NO view support, so
the directory convention here is this engine's own (documented, like
its table convention): a view directory holds
`metadata/v{N}.metadata.json` files (the table CAS — `open(x)` races
lose) with `metadata/view-version-hint.text` as the commit pointer.
The DISTINCT hint filename is deliberate: `list_tables` keys on
`version-hint.text`, so tables and views never shadow each other and
listing stays one directory scan with zero metadata reads.

REST transport: the spec's /v1/{prefix}/namespaces/{ns}/views routes
(create / load / CommitViewRequest with assert-view-uuid / drop /
rename) — see RestCatalogClient's view methods and the stub server's
independent implementation.
"""

from __future__ import annotations

import glob
import json
import os
import time
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession

ENGINE_NAME = "opentelemetry-iceberg-exporter-spark"
VIEW_HINT = "view-version-hint.text"


# -- metadata construction (spec shapes) -------------------------------------

def strip_schema_internal(schema: dict) -> dict:
    """iceberg_schema() carries a private `_last_column_id` the table
    writer strips before serialization — views serialize the same way."""
    return {k: v for k, v in schema.items() if not k.startswith("_")}


def build_view_version(
    version_id: int,
    schema_id: int,
    sql: str,
    namespace: str,
    timestamp_ms: int,
    operation: str = "create",
) -> dict:
    return {
        "version-id": version_id,
        "timestamp-ms": timestamp_ms,
        "schema-id": schema_id,
        "summary": {"engine-name": ENGINE_NAME, "operation": operation},
        "representations": [{"type": "sql", "sql": sql, "dialect": "spark"}],
        "default-namespace": [namespace],
    }


def new_view_metadata(
    location: str,
    schema: dict,
    sql: str,
    namespace: str,
    properties: dict[str, str] | None = None,
) -> dict:
    ts = int(time.time() * 1000)
    schema = strip_schema_internal({**schema, "schema-id": 0})
    return {
        "view-uuid": str(uuid.uuid4()),
        "format-version": 1,
        "location": location,
        "schemas": [schema],
        "current-version-id": 1,
        "versions": [build_view_version(1, 0, sql, namespace, ts)],
        "version-log": [{"timestamp-ms": ts, "version-id": 1}],
        "properties": dict(properties or {}),
    }


def add_view_version(
    md: dict, schema: dict, sql: str, namespace: str
) -> dict:
    """A REPLACE as the spec models it: append a schema + a version,
    move `current-version-id`, extend the version log — prior versions
    stay addressable (definition time travel)."""
    ts = int(time.time() * 1000)
    new = {k: json.loads(json.dumps(v)) if isinstance(v, (dict, list)) else v
           for k, v in md.items()}
    schema_id = max(s["schema-id"] for s in new["schemas"]) + 1
    version_id = max(v["version-id"] for v in new["versions"]) + 1
    new["schemas"].append(strip_schema_internal({**schema, "schema-id": schema_id}))
    new["versions"].append(
        build_view_version(version_id, schema_id, sql, namespace, ts, "replace")
    )
    new["current-version-id"] = version_id
    new["version-log"].append({"timestamp-ms": ts, "version-id": version_id})
    return new


def resolve_version(md: dict, version_id: int | None = None) -> dict:
    vid = md["current-version-id"] if version_id is None else version_id
    try:
        return next(v for v in md["versions"] if v["version-id"] == vid)
    except StopIteration:
        raise ValueError(
            f"view {md.get('location', '?')} has no version {vid} "
            f"(known: {sorted(v['version-id'] for v in md['versions'])})"
        ) from None


def sql_representation(version: dict) -> str:
    """The executable SQL of a version: prefer the `spark` dialect,
    fall back to ANY sql representation (the spec allows engines to try
    other dialects), refuse representation-less versions loudly."""
    reps = [r for r in version.get("representations", []) if r.get("type") == "sql"]
    for r in reps:
        if r.get("dialect") == "spark":
            return r["sql"]
    if reps:
        return reps[0]["sql"]
    raise ValueError(
        f"view version {version.get('version-id')} carries no SQL "
        "representation"
    )


# -- execution ----------------------------------------------------------------

def infer_view_schema(spark: SparkSession, sql: str) -> Any:
    """The view's recorded output schema = Spark's ANALYZED schema of
    the defining SQL (plan analysis only — nothing executes)."""
    return spark.sql(sql).schema


def execute_view(spark: SparkSession, md: dict, version_id: int | None = None) -> DataFrame:
    return spark.sql(sql_representation(resolve_version(md, version_id)))


# -- filesystem transport -----------------------------------------------------

def _view_hint_path(location: str) -> str:
    return os.path.join(location, "metadata", VIEW_HINT)


def view_exists_at(location: str) -> bool:
    return os.path.isfile(_view_hint_path(location))


def _swap_view_hint(location: str, version: int) -> None:
    from .iceberg_fs import _swap_version_hint

    _swap_version_hint(location, version, hint_name=VIEW_HINT)


class FsView:
    """A filesystem-catalog view: metadata/v{N}.metadata.json under the
    view location, view-version-hint.text as the commit pointer (same
    optimistic CAS as tables — racing writers lose on open(x))."""

    def __init__(self, location: str, warehouse: str):
        self.location = location
        self.warehouse = warehouse

    def current_version(self) -> int:
        with open(_view_hint_path(self.location)) as f:
            return int(f.read().strip())

    def metadata(self) -> dict:
        from .iceberg_fs import _metadata_path

        with open(_metadata_path(self.location, self.current_version())) as f:
            return json.load(f)

    def versions(self) -> list[dict]:
        return self.metadata()["versions"]

    def replace(
        self,
        spark: SparkSession,
        sql: str,
        max_retries: int = 3,
        register_tables: bool = True,
    ) -> int:
        """Point the view at new SQL (spec REPLACE): new schema + new
        version appended, history preserved. Returns the new
        current-version-id. Retries the metadata CAS like table
        commits. `register_tables=False` skips the warehouse temp-view
        registration when the caller already did it (batch convergence
        registers once for all declared views)."""
        from .iceberg_fs import (
            CommitConflictError,
            FsCatalog,
            _write_metadata_version,
            iceberg_schema,
        )

        if register_tables:
            register_warehouse(spark, FsCatalog(self.warehouse))
        schema = iceberg_schema(infer_view_schema(spark, sql))
        last: Exception | None = None
        for _ in range(max_retries + 1):
            base = self.current_version()
            md = add_view_version(
                self.metadata(), schema, sql, _namespace_of(self)
            )
            try:
                _write_metadata_version(self.location, base + 1, md)
            except CommitConflictError as exc:
                last = exc
                continue
            _swap_view_hint(self.location, base + 1)
            return md["current-version-id"]
        raise last  # type: ignore[misc]

    def read(self, spark: SparkSession, version_id: int | None = None) -> DataFrame:
        """Execute the view (optionally a historical DEFINITION via
        version_id — the data underneath is whatever the referenced
        tables currently hold; pair with table time travel for full
        as-of reads)."""
        from .iceberg_fs import FsCatalog

        register_warehouse(spark, FsCatalog(self.warehouse))
        return execute_view(spark, self.metadata(), version_id)


def _namespace_of(view: FsView) -> str:
    rel = os.path.relpath(view.location, view.warehouse)
    return rel.split(os.sep)[0]


def register_warehouse(
    spark: SparkSession, catalog, namespace: str | None = None
) -> tuple[dict[str, str], list[tuple[str, str]]]:
    """Make every catalog table AND every existing catalog view of
    `catalog` (an FsCatalog or a RestCatalogClient; one namespace or
    all) addressable as `<ns>_<name>` before SQL analyzes/executes —
    the whole warehouse by default, so cross-namespace references and
    views-over-views resolve. Tables register first (views execute
    over them). Returns register_catalog_views' pair with the table
    views merged into the first."""
    from ..sources.iceberg_source import register_catalog_tables

    views = register_catalog_tables(spark, catalog, namespace)
    namespaces = [namespace] if namespace else catalog.list_namespaces()
    registered, unresolved = register_catalog_views(spark, catalog, namespaces)
    views.update(registered)
    return views, unresolved


def register_catalog_views(
    spark: SparkSession, handle, namespaces: list[str]
) -> tuple[dict[str, str], list[tuple[str, str]]]:
    """Register every catalog VIEW as a `<ns>_<name>` temp view by
    executing its CURRENT definition (the referenced tables must
    already be registered — callers do tables first). Views may
    reference other views, so resolution loops to a fixpoint: each
    round registers what analyzes and retries the rest, terminating
    when a round makes no progress. Returns
    ({registered name: location}, [(ns, name) unresolved]) — broken or
    cyclic views are REPORTED, never allowed to block the resolvable
    ones (the sql CLI surfaces them in its output)."""
    from pyspark.errors import AnalysisException

    pending: list[tuple[str, str]] = [
        (ns, name) for ns in namespaces for name in handle.list_views(ns)
    ]
    registered: dict[str, str] = {}
    for _ in range(max(1, len(pending))):
        if not pending:
            break
        still: list[tuple[str, str]] = []
        for ns, name in pending:
            md = handle.load_view(ns, name).metadata()
            try:
                df = execute_view(spark, md)
            except (AnalysisException, ValueError):
                # unresolved reference (maybe a later view) or a
                # representation-less version: retry next round
                still.append((ns, name))
                continue
            df.createOrReplaceTempView(f"{ns}_{name}")
            registered[f"{ns}_{name}"] = md.get("location", "")
        if len(still) == len(pending):
            break
        pending = still
    return registered, pending


def default_otlp_views(
    namespace: str = "otel",
    prefix: str = "otel",
    overrides: dict[str, str] | None = None,
) -> dict[str, str]:
    """A ready-made starter set for `CatalogConfig.views` — the derived
    surfaces an OTLP warehouse's dashboards ask for first, written
    against the resolved signal-table names and ONLY mode-independent
    columns (service_name / status_code / duration / severity /
    metric_name), so the same SQL works on µs-native and ns-native
    (`ns_timestamps`) tables alike:

    * service_span_stats — per-service span volume, error count,
      duration profile (avg/max/p95);
    * service_error_rate — the SLO numerator/denominator per service;
    * service_log_severity — log volume by service × severity;
    * metric_series_inventory — which metric series exist, per kind.

    Splat into the config (possibly with edits):
    `CatalogConfig(..., views=default_otlp_views())`."""
    from ..schemas import (
        SIGNAL_LOGS,
        SIGNAL_METRICS_GAUGE,
        SIGNAL_METRICS_SUM,
        SIGNAL_TRACES,
        table_name,
    )

    def t(signal: str) -> str:
        return f"{namespace}_{table_name(signal, prefix=prefix, overrides=overrides)}"

    traces, logs = t(SIGNAL_TRACES), t(SIGNAL_LOGS)
    gauge, csum = t(SIGNAL_METRICS_GAUGE), t(SIGNAL_METRICS_SUM)
    return {
        "service_span_stats": (
            "SELECT service_name, COUNT(*) AS spans, "
            "SUM(CASE WHEN status_code = 'ERROR' THEN 1 ELSE 0 END) AS errors, "
            "AVG(duration) AS avg_duration_ns, MAX(duration) AS max_duration_ns, "
            "APPROX_PERCENTILE(duration, 0.95) AS p95_duration_ns "
            f"FROM {traces} GROUP BY service_name"
        ),
        "service_error_rate": (
            "SELECT service_name, COUNT(*) AS spans, "
            "AVG(CASE WHEN status_code = 'ERROR' THEN 1.0 ELSE 0.0 END) AS error_rate "
            f"FROM {traces} GROUP BY service_name"
        ),
        "service_log_severity": (
            "SELECT service_name, severity_text, COUNT(*) AS records "
            f"FROM {logs} GROUP BY service_name, severity_text"
        ),
        "metric_series_inventory": (
            "SELECT 'gauge' AS kind, service_name, metric_name, metric_unit, "
            f"COUNT(*) AS points FROM {gauge} "
            "GROUP BY service_name, metric_name, metric_unit "
            "UNION ALL "
            "SELECT 'sum' AS kind, service_name, metric_name, metric_unit, "
            f"COUNT(*) AS points FROM {csum} "
            "GROUP BY service_name, metric_name, metric_unit"
        ),
    }


def create_fs_view(
    catalog,
    spark: SparkSession,
    namespace: str,
    name: str,
    sql: str,
    properties: dict[str, str] | None = None,
    register_tables: bool = True,
) -> FsView:
    """FsCatalog.create_view body: refuse table-name shadowing, infer
    the output schema from the analyzed SQL, commit v1 metadata."""
    from .iceberg_fs import _write_metadata_version, iceberg_schema

    location = catalog.table_location(namespace, name)
    if catalog.table_exists(namespace, name):
        raise ValueError(
            f"cannot create view {namespace}.{name}: a TABLE of that "
            "name exists (one namespace, one name space — the spec "
            "forbids shadowing)"
        )
    if view_exists_at(location):
        raise ValueError(f"view {namespace}.{name} already exists")
    meta_dir = os.path.join(location, "metadata")
    if os.path.isdir(meta_dir) and glob.glob(
        os.path.join(meta_dir, "v*.metadata.json")
    ):
        # remains of a drop_view(purge=False): the directory catalog
        # derives the location from the name, so re-creating would hit
        # the v1 metadata CAS — surface the remedy instead of a
        # confusing CommitConflictError (same contract as create_table)
        raise FileExistsError(
            f"view location {location} holds metadata from a dropped view "
            "(drop_view without purge leaves files for salvage) — purge "
            "it (drop_view(..., purge=True) / `view drop --purge`) or "
            "move the remains before re-creating the name"
        )
    catalog.create_namespace(namespace)
    if register_tables:
        register_warehouse(spark, catalog)
    schema = iceberg_schema(infer_view_schema(spark, sql))
    md = new_view_metadata(location, schema, sql, namespace, properties)
    os.makedirs(os.path.join(location, "metadata"), exist_ok=True)
    _write_metadata_version(location, 1, md)
    _swap_view_hint(location, 1)
    return FsView(location, catalog.warehouse)
