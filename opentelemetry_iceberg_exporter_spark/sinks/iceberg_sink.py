"""Iceberg catalog sink (catalog: rest/hadoop mode) — C1, C2, K3, K4.

Reference parity:
* EnsureNamespace — create-if-absent (catalog_rest.go:129-165)
* EnsureTable — load-else-create with partition spec; per-process cache
  (catalog_rest.go:168-240); EnsureAllTables bootstrap (writer.go:330-358,
  exporter.go:66-80)
* AppendRecords — atomic append with snapshot properties
  `otel.exporter` / `otel.record_count` (writer.go:256-297,
  catalog_rest.go:243-303)
* AddFiles — register existing Parquet files without copying
  (catalog_rest.go:306-367) via the Iceberg Spark `add_files` procedure

Everything is expressed as Spark SQL / DataFrameWriterV2 against an
Iceberg catalog. All methods raise IcebergUnavailableError when the
Iceberg runtime jar is absent (this container), but the SQL-generation
layer is pure and unit-tested regardless — the same statements run
verbatim on a cluster with `iceberg-spark-runtime` on the classpath.

Scale notes (100 TB): tables are created with
  write.distribution-mode=hash      -- cluster rows by partition on write
  write.target-file-size-bytes=512M -- few large files per partition
so high-cardinality hour partitions in streaming don't degenerate into
the reference's file-per-batch-per-hour pattern (SURVEY §7 risk 7);
compaction stays available via rewrite_data_files.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, DataType, StructType

from .. import schemas as S
from ..config import ExporterConfig
from ..session import iceberg_available

_GRANULARITY_TRANSFORM = {"hourly": "hours", "daily": "days", "monthly": "months"}

TABLE_PROPERTIES = {
    "format-version": "2",
    "write.distribution-mode": "hash",
    "write.target-file-size-bytes": str(512 * 1024 * 1024),
    # commit-time manifest merging, EXPLICIT on the exporter DDL: the
    # exporter commits one snapshot per micro-batch, so carried
    # manifests grow with commit count; merging every ~min-count
    # commits keeps scan planning O(files) instead of O(commits) and
    # bounds the manifest list at min-count + a few graduated
    # generations (see merge_small_manifests amortization note). These
    # mirror Iceberg's engine defaults so OTHER writers appending to
    # the same tables apply the same policy — the per-table property
    # is the contract, not this engine's built-in fallback.
    "commit.manifest-merge.enabled": "true",
    "commit.manifest.min-count-to-merge": "100",
    "commit.manifest.target-size-bytes": str(8 * 1024 * 1024),
}




def _ensure_declared_views(spark, config, handle) -> list[str]:
    """catalog.views convergence both pure-Python transports share
    (`handle` is an FsCatalog or a RestCatalogClient — identical view
    surface): a declared view that is missing is CREATED; one whose
    CURRENT SQL differs is REPLACED (the view spec keeps every prior
    version addressable, so convergence never loses history); identical
    SQL is a no-op — startup DDL stays idempotent like the table half.

    Declared views may reference OTHER declared views, in any dict
    order, so convergence loops to a fixpoint (same contract as
    register_catalog_views): each round converges what analyzes,
    registers the result as a `<ns>_<name>` temp view so dependents
    resolve next round, and retries the rest. A view whose SQL never
    analyzes (typo, missing table, cycle) is REPORTED as
    "fail name: reason" — it never aborts startup DDL or blocks the
    resolvable views. Returns
    ["create name" | "replace name" | "keep name" | "fail name: ..."]."""
    actions: list[str] = []
    if not config.catalog.views:
        return actions
    from pyspark.errors import AnalysisException

    from .iceberg_views import execute_view, resolve_version, sql_representation

    # ONE warehouse registration for the whole declared set (each
    # create/replace would otherwise re-register every table)
    handle.register_warehouse_views(spark)
    ns = config.catalog.namespace
    pending = list(config.catalog.views.items())
    failures: dict[str, str] = {}
    for _ in range(max(1, len(pending))):
        if not pending:
            break
        still: list[tuple[str, str]] = []
        for name, sql in pending:
            try:
                if handle.view_exists(ns, name):
                    view = handle.load_view(ns, name)
                    current = sql_representation(resolve_version(view.metadata()))
                    if current != sql:
                        view.replace(spark, sql, register_tables=False)
                        actions.append(f"replace {name}")
                    else:
                        actions.append(f"keep {name}")
                else:
                    handle.create_view(
                        spark, ns, name, sql, register_tables=False
                    )
                    actions.append(f"create {name}")
            except (AnalysisException, ValueError) as exc:
                # unresolved reference (maybe a declared view converging
                # later this pass) — retry next round, keep the reason
                failures[name] = str(exc).splitlines()[0]
                still.append((name, sql))
                continue
            # make the just-converged definition addressable for any
            # declared view that references it
            execute_view(
                spark, handle.load_view(ns, name).metadata()
            ).createOrReplaceTempView(f"{ns}_{name}")
        if len(still) == len(pending):
            break
        pending = still
    for name, _sql in pending:
        actions.append(f"fail {name}: {failures.get(name, 'unresolved')}")
    return actions


def _exporter_table_props(config, signal: str, schema) -> dict[str, str]:
    """The per-signal DDL property set both transports share."""
    props = dict(TABLE_PROPERTIES)
    props[f"iceberg_exporter.{signal}_schema_version"] = S.SCHEMA_VERSION
    props["write.parquet.compression-codec"] = config.storage.compression
    if config.ns_timestamps or config.variant_attrs:
        # ns/variant tables must BIRTH at v3 (timestamptz_ns /
        # variant columns)
        props["format-version"] = "3"
    names = set(schema.names)
    for col in config.catalog.bloom_filter_columns.get(signal, []):
        # fail at DDL time, not as a silently ignored writer option
        if col not in names:
            raise ValueError(
                f"catalog.bloom_filter_columns[{signal!r}]: column "
                f"{col!r} is not in the {signal} table schema"
            )
        props[f"write.parquet.bloom-filter-enabled.column.{col}"] = "true"
    for col, paths in config.catalog.shred_paths.get(signal, {}).items():
        # the declared-shred contract lives ON THE TABLE so other
        # writers/readers see it, not just this process's config
        if col not in S.VARIANT_ATTR_COLUMNS.get(signal, []):
            raise ValueError(
                f"catalog.shred_paths[{signal!r}]: {col!r} is not a "
                f"variant attribute column of the {signal} table"
            )
        props[f"variant.shred-paths.{col}"] = ",".join(paths)
    return props


class ShredDriftError(RuntimeError):
    """A committed batch's footers violate the declared shred-path
    contract (catalog.shred_paths, shred_check='fail'). The data IS
    committed and correct — reads fall back to scanning the violating
    files — but point-lookup pruning on the declared paths silently
    degraded, which is exactly what the declaration exists to catch."""


def _verify_shred_after_commit(config, signal, table, snapshot_id) -> None:
    """Post-commit footer check of catalog.shred_paths: every file the
    snapshot added must hold the declared paths as typed shredded
    columns (or provably carry no values for them). O(new files) ranged
    footer reads, zero when the signal declares nothing."""
    spaths = config.catalog.shred_paths.get(signal)
    if not spaths or snapshot_id is None:
        return
    from .iceberg_fs import _added_files
    from .variant_prune import verify_shred_paths

    md = table.metadata()
    snap = next(
        s for s in md["snapshots"] if s["snapshot-id"] == snapshot_id
    )
    # the snapshot's OWN manifests only (branch-agnostic — WAP-staged
    # commits are checked at stage time, before publish)
    files, _ = _added_files(snap)
    violations = verify_shred_paths(
        [f.file_path for f in files if f.content == 0], spaths
    )
    if not violations:
        return
    lines = "; ".join(
        f"{os.path.basename(fp)} {col} {path}: {reason}"
        for fp, col, path, reason in violations[:5]
    )
    msg = (
        f"shred-path drift on {signal} snapshot {snapshot_id}: "
        f"{len(violations)} declared-path violation(s) — {lines}"
    )
    if config.catalog.shred_check == "fail":
        raise ShredDriftError(msg)
    logging.getLogger(__name__).warning(msg)




class IcebergUnavailableError(RuntimeError):
    pass


def _sql_type(dt: DataType) -> str:
    if isinstance(dt, ArrayType):
        return f"ARRAY<{_sql_type(dt.elementType)}>"
    return dt.simpleString().upper()


def create_namespace_sql(catalog: str, namespace: str) -> str:
    """C1 (catalog_rest.go:129-165)."""
    return f"CREATE NAMESPACE IF NOT EXISTS `{catalog}`.`{namespace}`"


def create_table_sql(
    catalog: str, namespace: str, table: str, signal: str, config: ExporterConfig
) -> str:
    """C2 DDL: declared schema + hidden time partitioning + table props
    (catalog_rest.go:168-240, writer.go:361-372).

    Iceberg assigns partition-spec field IDs (1000+) itself
    (catalog_rest.go:494-542 is dissolved by the DDL).
    """
    schema: StructType = S.SCHEMAS[signal]
    cols = ",\n  ".join(
        f"`{f.name}` {_sql_type(f.dataType)}{'' if f.nullable else ' NOT NULL'}"
        for f in schema.fields
    )
    transform = _GRANULARITY_TRANSFORM[config.partition.granularity]
    ts_col = S.partition_column(signal)
    props = dict(TABLE_PROPERTIES)
    # schema version metadata kept as a table property (schema.go:370-374)
    props[f"iceberg_exporter.{signal}_schema_version"] = S.SCHEMA_VERSION
    props["write.parquet.compression-codec"] = config.storage.compression
    props_sql = ",\n  ".join(f"'{k}'='{v}'" for k, v in sorted(props.items()))
    return (
        f"CREATE TABLE IF NOT EXISTS `{catalog}`.`{namespace}`.`{table}` (\n  {cols}\n)\n"
        f"USING iceberg\n"
        f"PARTITIONED BY ({transform}(`{ts_col}`))\n"
        f"TBLPROPERTIES (\n  {props_sql}\n)"
    )


def add_files_sql(catalog: str, namespace: str, table: str, source_path: str) -> str:
    """K4: register existing Parquet files without copying
    (catalog_rest.go:306-367 -> Iceberg add_files procedure)."""
    return (
        f"CALL `{catalog}`.system.add_files("
        f"table => '{namespace}.{table}', "
        f"source_table => '`parquet`.`{source_path}`')"
    )


class IcebergSink:
    """Bootstrap + append against an Iceberg catalog (K3)."""

    def __init__(self, spark: SparkSession, config: ExporterConfig, catalog: str = "otel"):
        self.spark = spark
        self.config = config
        self.catalog = catalog
        self._ensured: set[str] = set()  # per-process table cache (catalog_rest.go:169-188)

    def _require_iceberg(self) -> None:
        # config-shape refusal FIRST — it holds regardless of classpath
        if self.config.ns_timestamps or self.config.variant_attrs:
            # Spark SQL DDL has no ns timestamp / variant type to
            # declare, so the jar-backed path cannot create them — the
            # pure-Python catalogs (fs/rest) own the v3-native modes
            raise ValueError(
                "ns_timestamps/variant_attrs require the pure-Python "
                "catalog sinks (catalog_type 'fs' or 'rest') — Spark DDL "
                "cannot declare timestamptz_ns/variant columns"
            )
        if not iceberg_available(self.spark):
            raise IcebergUnavailableError(
                "Iceberg Spark runtime not on the classpath; use catalog_type='none' "
                "(raw-Parquet sink) or submit with iceberg-spark-runtime"
            )

    def ensure_all_tables(self) -> list[str]:
        """Startup DDL ×7 (writer.go:330-358, exporter.go:66-80). Returns
        the executed statements."""
        self._require_iceberg()
        ns = self.config.catalog.namespace
        stmts = [create_namespace_sql(self.catalog, ns)]
        for signal in S.ALL_SIGNALS:
            table = S.table_name(
                signal,
                prefix=self.config.catalog.table_prefix,
                overrides=self.config.catalog.table_overrides,
            )
            if table in self._ensured:
                continue
            stmts.append(create_table_sql(self.catalog, ns, table, signal, self.config))
            self._ensured.add(table)
        for s in stmts:
            self.spark.sql(s)
        return stmts

    def append(self, df: DataFrame, signal: str, record_count: int | None = None) -> None:
        """K3: atomic append with snapshot properties (writer.go:256-297).
        Iceberg gives the same atomicity (snapshot commit) as the
        reference's table.Append transaction."""
        self._require_iceberg()
        table = S.table_name(
            signal,
            prefix=self.config.catalog.table_prefix,
            overrides=self.config.catalog.table_overrides,
        )
        fq = f"`{self.catalog}`.`{self.config.catalog.namespace}`.`{table}`"
        writer = S.conform(df, S.SCHEMAS[signal]).writeTo(fq).option(
            "snapshot-property.otel.exporter", "opentelemetry-iceberg-exporter-spark"
        )
        if record_count is not None:
            writer = writer.option("snapshot-property.otel.record_count", str(record_count))
        writer.append()

    def add_files(self, signal: str, source_path: str) -> str:
        self._require_iceberg()
        table = S.table_name(
            signal,
            prefix=self.config.catalog.table_prefix,
            overrides=self.config.catalog.table_overrides,
        )
        stmt = add_files_sql(self.catalog, self.config.catalog.namespace, table, source_path)
        self.spark.sql(stmt)
        return stmt


class FsIcebergSink:
    """Same surface as IcebergSink against the pure-Python filesystem
    catalog (sinks/iceberg_fs.py) — the jar-less executable path for
    C1/C2/K3/K4. Same table properties, same snapshot properties
    (writer.go:256-297), same per-process ensure cache."""

    def __init__(self, spark: SparkSession, config: ExporterConfig):
        from .iceberg_fs import FsCatalog

        self.spark = spark
        self.config = config
        self.catalog = FsCatalog(config.catalog.warehouse)
        self._ensured: set[str] = set()

    def _table_props(self, signal: str) -> dict[str, str]:
        return _exporter_table_props(
            self.config, signal, self._signal_schema(signal)
        )

    def _signal_schema(self, signal: str):
        return S.schema_for(
            signal, self.config.ns_timestamps, self.config.variant_attrs
        )

    def _signal_iceberg_types(self, signal: str) -> dict[str, str] | None:
        if not self.config.ns_timestamps:
            return None
        return S.ns_iceberg_types(S.SCHEMAS[signal])

    def _table_name(self, signal: str) -> str:
        return S.table_name(
            signal,
            prefix=self.config.catalog.table_prefix,
            overrides=self.config.catalog.table_overrides,
        )

    def ensure_all_tables(self) -> list[str]:
        """C1 + C2 x7: namespace dir + create-if-absent with the hidden
        time-partition spec, then catalog.views convergence (the views
        analyze against the signal tables, so they ensure LAST). Returns
        created/ensured table names."""
        ns = self.config.catalog.namespace
        self.catalog.create_namespace(ns)
        ensured = []
        for signal in S.ALL_SIGNALS:
            table = self._table_name(signal)
            if table not in self._ensured:
                self.catalog.create_table(
                    ns,
                    table,
                    self._signal_schema(signal),
                    partition_source=S.partition_column(signal),
                    granularity=self.config.partition.granularity,
                    properties=self._table_props(signal),
                    iceberg_types=self._signal_iceberg_types(signal),
                )
                self._ensured.add(table)
            ensured.append(table)
        _ensure_declared_views(self.spark, self.config, self.catalog)
        return ensured

    def _load(self, signal: str):
        ns = self.config.catalog.namespace
        table = self._table_name(signal)
        if table not in self._ensured:
            self.catalog.create_table(
                ns,
                table,
                self._signal_schema(signal),
                partition_source=S.partition_column(signal),
                granularity=self.config.partition.granularity,
                properties=self._table_props(signal),
                iceberg_types=self._signal_iceberg_types(signal),
            )
            self._ensured.add(table)
        return self.catalog.load_table(ns, table)

    def ensure_table(self, signal: str) -> None:
        """Create the signal's table if absent, writing nothing — what an
        empty demuxed frame leaves behind."""
        self._load(signal)

    def append(self, df: DataFrame, signal: str, record_count: int | None = None) -> int | None:
        """K3: executors write Parquet, driver commits one snapshot with
        the reference's snapshot properties. Returns the snapshot id, or
        None for an empty batch (F1 short-circuit — no empty snapshots).
        With catalog.wap_branch set, the commit stages on that branch
        (write-audit-publish) and main is untouched until
        publish_staged(). With catalog.upsert_keys[signal] set, the
        batch commits as a single-snapshot equality UPSERT instead —
        re-exported rows replace earlier versions (CDC semantics) at
        O(batch) cost, never O(table)."""
        props = {"otel.exporter": "opentelemetry-iceberg-exporter-spark"}
        if record_count is not None:
            props["otel.record_count"] = str(record_count)
        table = self._load(signal)
        conformed = S.conform(df, self._signal_schema(signal))
        keys = self.config.catalog.upsert_keys.get(signal)
        if keys:
            sid = table.upsert_equality(self.spark, conformed, keys, props)
            _verify_shred_after_commit(self.config, signal, table, sid)
            return sid
        branch = self.config.catalog.wap_branch
        if branch:
            sid = table.append_dataframe_to_branch(branch, conformed, props)
        else:
            sid = table.append_dataframe(
                conformed, props, fanout=self.config.catalog.write_fanout
            )
        _verify_shred_after_commit(self.config, signal, table, sid)
        return sid

    def publish_staged(self, signal: str) -> int | None:
        """WAP publish: fast-forward main to the staged branch head for
        one signal's table. No-op (None) when wap_branch is unset or the
        branch has no staged commits."""
        branch = self.config.catalog.wap_branch
        if not branch:
            return None
        table = self._load(signal)
        if branch not in table.metadata().get("refs", {}):
            return None
        return table.fast_forward(branch)

    def add_files(self, signal: str, source_path: str) -> int:
        """K4: register raw-sink Hive files without copying."""
        return self._load(signal).add_files_hive(
            source_path, timezone_name=self.config.partition.timezone
        )

    def read(self, signal: str, snapshot_id: int | None = None) -> DataFrame:
        return self._load(signal).read(self.spark, snapshot_id)


class RestIcebergSink:
    """Same surface as FsIcebergSink against a REST catalog server via
    the pure-Python client (sinks/iceberg_rest.py) — the reference's
    production catalog mode (catalog_rest.go), jar-free. Executors write
    Parquet to the warehouse; the REST server arbitrates commits."""

    def __init__(self, spark: SparkSession, config: ExporterConfig):
        from .iceberg_rest import RestCatalogClient

        self.spark = spark
        self.config = config
        self.client = RestCatalogClient(
            config.catalog.uri,
            warehouse=config.catalog.warehouse,
            token=config.catalog.token,
            credential=config.catalog.credential,
            oauth2_server_uri=config.catalog.oauth2_server_uri,
            scope=config.catalog.scope,
        )
        self._namespace_ready = False

    def _ensure_namespace(self) -> None:
        """C1 once per sink: every later append skips the namespace GET."""
        if not self._namespace_ready:
            self.client.ensure_namespace(self.config.catalog.namespace)
            self._namespace_ready = True

    def _table_props(self, signal: str) -> dict[str, str]:
        return _exporter_table_props(
            self.config, signal, self._signal_schema(signal)
        )

    def _signal_schema(self, signal: str):
        return S.schema_for(
            signal, self.config.ns_timestamps, self.config.variant_attrs
        )

    def _signal_iceberg_types(self, signal: str) -> dict[str, str] | None:
        if not self.config.ns_timestamps:
            return None
        return S.ns_iceberg_types(S.SCHEMAS[signal])

    def _table_name(self, signal: str) -> str:
        return S.table_name(
            signal,
            prefix=self.config.catalog.table_prefix,
            overrides=self.config.catalog.table_overrides,
        )

    def ensure_all_tables(self) -> list[str]:
        """C1 + C2 x7 over REST (ensure ladder with client-side cache —
        catalog_rest.go:129-240), then catalog.views convergence."""
        ns = self.config.catalog.namespace
        self._ensure_namespace()
        ensured = []
        for signal in S.ALL_SIGNALS:
            table = self._table_name(signal)
            self.client.ensure_table(
                ns,
                table,
                self._signal_schema(signal),
                partition_source=S.partition_column(signal),
                granularity=self.config.partition.granularity,
                properties=self._table_props(signal),
                iceberg_types=self._signal_iceberg_types(signal),
            )
            ensured.append(table)
        _ensure_declared_views(self.spark, self.config, self.client)
        return ensured

    def _load(self, signal: str):
        ns = self.config.catalog.namespace
        return self.client.ensure_table(
            ns,
            self._table_name(signal),
            self._signal_schema(signal),
            partition_source=S.partition_column(signal),
            granularity=self.config.partition.granularity,
            properties=self._table_props(signal),
            iceberg_types=self._signal_iceberg_types(signal),
        )

    def ensure_table(self, signal: str) -> None:
        """Create the signal's table (and the namespace) if absent,
        writing nothing — what an empty demuxed frame leaves behind."""
        self._ensure_namespace()
        self._load(signal)

    def append(self, df: DataFrame, signal: str, record_count: int | None = None) -> int | None:
        """K3 over REST (catalog_rest.go:243-303 AppendRecords); with
        catalog.wap_branch set the commit stages on that branch (WAP);
        with catalog.upsert_keys[signal] set the batch commits as a
        single-snapshot equality upsert (CDC semantics)."""
        props = {"otel.exporter": "opentelemetry-iceberg-exporter-spark"}
        if record_count is not None:
            props["otel.record_count"] = str(record_count)
        self._ensure_namespace()
        conformed = S.conform(df, self._signal_schema(signal))
        keys = self.config.catalog.upsert_keys.get(signal)
        table = self._load(signal)
        if keys:
            sid = table.upsert_equality(self.spark, conformed, keys, props)
            _verify_shred_after_commit(self.config, signal, table, sid)
            return sid
        branch = self.config.catalog.wap_branch
        if branch:
            sid = table.append_dataframe_to_branch(branch, conformed, props)
        else:
            sid = table.append_dataframe(
                conformed, props, fanout=self.config.catalog.write_fanout
            )
        _verify_shred_after_commit(self.config, signal, table, sid)
        return sid

    def append_all(self, dfs: dict[str, DataFrame]) -> dict[str, int]:
        """Atomic MULTI-SIGNAL append: every signal's data files are
        written first, then ONE CommitTransaction advances all the
        tables together (REST `/v1/{prefix}/transactions/commit`) — a
        crash or conflict can never persist a batch's traces without
        its logs/metrics halves, which per-table appends cannot
        guarantee. Empty frames are skipped; returns per-signal
        snapshot ids. Mutually exclusive with wap_branch/upsert_keys
        (those are per-table commit shapes)."""
        from .iceberg_fs import write_partitioned_batch
        from .iceberg_rest import commit_append_transaction

        if self.config.catalog.wap_branch or self.config.catalog.upsert_keys:
            raise ValueError(
                "append_all commits straight to main; it cannot combine "
                "with wap_branch or upsert_keys"
            )
        self._ensure_namespace()
        props = {"otel.exporter": "opentelemetry-iceberg-exporter-spark"}
        parts = []
        signal_of = {}
        for signal, df in dfs.items():
            table = self._load(signal)
            md = table.metadata()
            conformed = S.conform(df, self._signal_schema(signal))
            files = write_partitioned_batch(
                conformed, md["location"], md, self.config.catalog.write_fanout
            )
            parts.append((table, files, props))
            signal_of[(table.namespace, table.name)] = signal
        sids = commit_append_transaction(self.client, parts)
        return {signal_of[k]: sid for k, sid in sids.items()}

    def publish_staged(self, signal: str) -> int | None:
        """WAP publish over REST: fast-forward main to the staged branch
        head for one signal's table."""
        branch = self.config.catalog.wap_branch
        if not branch:
            return None
        table = self._load(signal)
        if branch not in table.metadata().get("refs", {}):
            return None
        return table.fast_forward(branch)

    def add_files(self, signal: str, source_path: str) -> int:
        """K4 over REST (catalog_rest.go:306-367 AppendDataFiles)."""
        self._ensure_namespace()
        return self._load(signal).add_files_hive(
            source_path, timezone_name=self.config.partition.timezone
        )

    def read(self, signal: str, snapshot_id: int | None = None) -> DataFrame:
        return self._load(signal).read(self.spark, snapshot_id)
