"""The exporter's Iceberg catalog sink (catalog_type fs/rest) — C1, C2, K3, K4.

Reference parity:
* EnsureNamespace — create-if-absent, once per sink (catalog_rest.go:129-165)
* EnsureTable — load-else-create with partition spec (catalog_rest.go:168-240);
  EnsureAllTables bootstrap (writer.go:330-358, exporter.go:66-80)
* AppendRecords — atomic append with snapshot properties
  `otel.exporter` / `otel.record_count` (writer.go:256-297,
  catalog_rest.go:243-303)
* AddFiles — register existing Parquet files without copying
  (catalog_rest.go:306-367)

One `IcebergSink` holds all of it over a catalog handle: `FsCatalog`
(sinks/iceberg_fs.py) or `RestCatalogClient` (sinks/iceberg_rest.py),
which share the `ensure_namespace`/`ensure_table` surface and hand back
a `Table`. `FsIcebergSink` and `RestIcebergSink` only build that
catalog; the REST one adds the atomic multi-table `append_all`.

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
import threading

from pyspark.sql import DataFrame, SparkSession

from .. import schemas as S
from ..config import ExporterConfig

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


class IcebergSink:
    """Bootstrap + append against one catalog (K3): the per-signal table
    names, schemas and DDL properties, the namespace ensure (once per
    sink), and every write the exporter makes. `catalog` is an FsCatalog
    or a RestCatalogClient; both ensure a table and return its `Table`."""

    def __init__(self, spark: SparkSession, config: ExporterConfig, catalog):
        self.spark = spark
        self.config = config
        self.catalog = catalog
        self._namespace_ready = False
        self._namespace_lock = threading.Lock()

    def _ensure_namespace(self) -> None:
        """C1 once per sink: every later append skips the namespace check.
        A metrics batch's frames append on concurrent threads, so the
        first check and the ensure happen under a lock."""
        if self._namespace_ready:
            return
        with self._namespace_lock:
            if not self._namespace_ready:
                self.catalog.ensure_namespace(self.config.catalog.namespace)
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

    def _load(self, signal: str):
        """C2: the signal's table, created with the hidden time-partition
        spec if absent (the REST client caches what it has ensured)."""
        return self.catalog.ensure_table(
            self.config.catalog.namespace,
            self._table_name(signal),
            self._signal_schema(signal),
            partition_source=S.partition_column(signal),
            granularity=self.config.partition.granularity,
            properties=self._table_props(signal),
            iceberg_types=self._signal_iceberg_types(signal),
        )

    def ensure_all_tables(self) -> list[str]:
        """C1 + C2 x7, then catalog.views convergence (the views analyze
        against the signal tables, so they ensure LAST). Returns the
        ensured table names."""
        self._ensure_namespace()
        ensured = []
        for signal in S.ALL_SIGNALS:
            self._load(signal)
            ensured.append(self._table_name(signal))
        _ensure_declared_views(self.spark, self.config, self.catalog)
        return ensured

    def ensure_table(self, signal: str) -> None:
        """Create the signal's table (and the namespace) if absent,
        writing nothing — what an empty demuxed frame leaves behind."""
        self._ensure_namespace()
        self._load(signal)

    def append(self, df: DataFrame, signal: str, record_count: int | None = None) -> int | None:
        """K3: executors write Parquet, the driver commits one snapshot
        with the reference's snapshot properties (catalog_rest.go:243-303
        AppendRecords). Returns the snapshot id, or None for an empty
        batch (F1 short-circuit — no empty snapshots). With
        catalog.wap_branch set, the commit stages on that branch
        (write-audit-publish) and main is untouched until
        publish_staged(). With catalog.upsert_keys[signal] set, the
        batch commits as a single-snapshot equality UPSERT instead —
        re-exported rows replace earlier versions (CDC semantics) at
        O(batch) cost, never O(table)."""
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
        """K4: register raw-sink Hive files without copying
        (catalog_rest.go:306-367 AppendDataFiles)."""
        self._ensure_namespace()
        return self._load(signal).add_files_hive(
            source_path, timezone_name=self.config.partition.timezone
        )

    def read(self, signal: str, snapshot_id: int | None = None) -> DataFrame:
        return self._load(signal).read(self.spark, snapshot_id)


class FsIcebergSink(IcebergSink):
    """IcebergSink over the pure-Python filesystem catalog
    (sinks/iceberg_fs.py): the warehouse directory is the catalog."""

    def __init__(self, spark: SparkSession, config: ExporterConfig):
        from .iceberg_fs import FsCatalog

        super().__init__(spark, config, FsCatalog(config.catalog.warehouse))


class RestIcebergSink(IcebergSink):
    """IcebergSink over a REST catalog server via the pure-Python client
    (sinks/iceberg_rest.py) — the reference's production catalog mode
    (catalog_rest.go), jar-free. Executors write Parquet to the
    warehouse; the REST server arbitrates commits."""

    def __init__(self, spark: SparkSession, config: ExporterConfig):
        from .iceberg_rest import RestCatalogClient

        super().__init__(
            spark,
            config,
            RestCatalogClient(
                config.catalog.uri,
                warehouse=config.catalog.warehouse,
                token=config.catalog.token,
                credential=config.catalog.credential,
                oauth2_server_uri=config.catalog.oauth2_server_uri,
                scope=config.catalog.scope,
            ),
        )

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
            with table._credentialed_write(self.spark, md["location"]):
                files = write_partitioned_batch(
                    conformed, md["location"], md, self.config.catalog.write_fanout
                )
            parts.append((table, files, props))
            signal_of[(table.namespace, table.name)] = signal
        sids = commit_append_transaction(self.catalog, parts)
        return {signal_of[k]: sid for k, sid in sids.items()}
