"""Engine configuration model — reproduces the reference's config surface.

Reference: config.go:24-80 (+ factory.go:48-76 defaults, fileio.go:194-201
compression validation, internal/logger/logger.go:15-71 verbosity).

The three FileIO backends (S3 / Cloudflare R2 / local FS, fileio_s3.go /
fileio_r2.go / fileio_local.go, path-style autodetect fileio.go:235-302,
auth chain auth.go:33-90) collapse into Hadoop `fs.s3a.*` configuration in
Spark — `storage_options` carries them verbatim.
"""

from __future__ import annotations

from dataclasses import dataclass, field

VALID_COMPRESSIONS = ("none", "snappy", "gzip", "zstd")  # fileio.go:194-201
VALID_GRANULARITIES = ("hourly", "daily", "monthly")  # factory.go:22-25
# config.go catalog block; "fs" = pure-Python filesystem catalog
# (sinks/iceberg_fs.py) — executes the Iceberg commit protocol without jars
VALID_CATALOG_TYPES = ("rest", "none", "fs")
VALID_STORAGE_PROVIDERS = ("s3", "r2", "filesystem")
VALID_VERBOSITY = ("basic", "normal", "detailed")  # logger.go:15-71
VALID_SOURCE_KINDS = ("file", "kafka")  # SURVEY §2.1 S1 streaming primitives
VALID_WIRE_FORMATS = ("json", "protobuf")  # exporter.go:101-200 consumes pdata


@dataclass
class StorageConfig:
    provider: str = "filesystem"  # s3 | r2 | filesystem
    bucket: str = ""  # or local root path for filesystem
    prefix: str = "opentelemetry-iceberg-exporter"
    compression: str = "snappy"  # factory.go:28
    # Hadoop fs.s3a.* overrides (endpoint, path-style, credentials...).
    options: dict[str, str] = field(default_factory=dict)

    def validate(self) -> None:
        if self.provider not in VALID_STORAGE_PROVIDERS:
            raise ValueError(f"invalid storage provider {self.provider!r}")
        if self.compression not in VALID_COMPRESSIONS:
            raise ValueError(
                f"invalid compression {self.compression!r}; one of {VALID_COMPRESSIONS}"
            )
        if not self.bucket:
            raise ValueError("storage.bucket (or filesystem root) is required")

    @property
    def base_uri(self) -> str:
        if self.provider == "filesystem":
            root = self.bucket.rstrip("/")
            return f"{root}/{self.prefix}" if self.prefix else root
        scheme = "s3a"
        return f"{scheme}://{self.bucket}/{self.prefix}" if self.prefix else f"{scheme}://{self.bucket}"


@dataclass
class CatalogConfig:
    catalog_type: str = "none"  # rest | none
    uri: str = ""  # REST catalog endpoint
    token: str = ""  # bearer token (catalog_rest.go:69-76 WithOAuthToken)
    # OAuth2 client-credentials instead of a static token: the spec's
    # /v1/oauth/tokens flow — "client_id:client_secret"; the client
    # fetches/refreshes short-lived bearer tokens itself (expires_in
    # honored, one refresh+replay on 401). Mutually exclusive with
    # `token`. `oauth2_server_uri` overrides the token endpoint (an
    # external IdP); empty = the catalog's own /v1/oauth/tokens.
    credential: str = ""
    oauth2_server_uri: str = ""
    scope: str = "catalog"
    namespace: str = "otel"
    warehouse: str = ""
    # per-signal table-name overrides (catalog.go:167-222)
    table_prefix: str = "otel"
    table_overrides: dict[str, str] = field(default_factory=dict)
    # write-audit-publish: when set, exporter appends stage on this
    # BRANCH instead of main; publish_staged() fast-forwards main after
    # validation (Iceberg's spark.wap.branch workflow). "" = direct.
    wap_branch: str = ""
    # CDC-upsert: per-signal equality-key columns. A signal listed here
    # commits each batch as a single-snapshot equality upsert (new data
    # files + an equality delete on the batch's keys) instead of a plain
    # append — re-exported rows REPLACE earlier versions instead of
    # duplicating (e.g. {"traces": ["trace_id", "span_id"]} dedups
    # re-sent spans). Zero table reads per batch; O(batch) forever.
    upsert_keys: dict[str, list[str]] = field(default_factory=dict)
    # write fanout: spread each hidden-partition value over ~N writer
    # tasks/files. None (default) = one large file per partition value,
    # the right shape for streaming micro-batches; set for BACKFILL
    # replays whose batches concentrate in few hours and would otherwise
    # funnel through one writer task per hour.
    write_fanout: int | None = None
    # atomic multi-signal batches (REST only): commit every signal's
    # append for a micro-batch in ONE CommitTransaction
    # (/v1/{prefix}/transactions/commit) — a crash can never persist a
    # batch's traces without its logs/metrics halves. Per-table commit
    # shapes (wap_branch, upsert_keys) are mutually exclusive.
    atomic_batch: bool = False
    # per-signal parquet BLOOM FILTER columns: each listed column gets
    # the write.parquet.bloom-filter-enabled.column.<col> table property
    # at DDL time, so point lookups on high-cardinality uniformly
    # distributed keys (trace_id/span_id — where min/max bounds prune
    # nothing) plan down to the files that might hold the key
    # (sinks/bloom_prune.py). e.g. {"traces": ["trace_id", "span_id"]}.
    # Column names are checked against the signal schema at DDL time.
    bloom_filter_columns: dict[str, list[str]] = field(default_factory=dict)
    # declared catalog VIEWS (Iceberg view spec v1): {view_name: SQL},
    # ensured by the sinks' startup DDL (ensure_all_tables) AFTER the
    # signal tables exist. Table references use the `sql`-CLI naming
    # `<namespace>_<table>` (e.g. otel_otel_traces). Convergent: a
    # missing view is created, a view whose CURRENT SQL differs is
    # REPLACED (version history preserved — definition time travel
    # keeps the old SQL addressable), identical SQL is a no-op.
    # Requires the pure-Python catalogs (catalog_type fs | rest).
    # `sinks.iceberg_views.default_otlp_views()` is a ready-made
    # starter set (per-service span stats / error rate / log severity /
    # metric inventory).
    views: dict[str, str] = field(default_factory=dict)
    # declared VARIANT shred paths (requires variant_attrs=True):
    # {signal: {variant_column: ["$.http.status_code", ...]}}. The
    # engine rides Spark's inferred shredding, so WHICH attribute paths
    # get typed parquet columns (and therefore prune via footer stats,
    # sinks/variant_prune.py) would otherwise depend on what the writer
    # happened to infer per file. Declaring a path makes the contract
    # explicit: it is recorded as the `variant.shred-paths.<column>`
    # table property at DDL, and every exporter commit VERIFIES the
    # written footers — a declared path whose values escaped typing
    # (type-mismatch residual, unshredded level) is drift, reported per
    # `shred_check`. Paths use the try_variant_get grammar ($.a.b /
    # $['dotted.key']).
    shred_paths: dict[str, dict[str, list[str]]] = field(default_factory=dict)
    # what a post-commit shred-path violation does: "fail" raises (the
    # batch is committed — the error flags the WRITER config/inference
    # drift for the operator), "warn" logs and continues.
    shred_check: str = "fail"

    def validate(self) -> None:
        if self.catalog_type not in VALID_CATALOG_TYPES:
            raise ValueError(f"invalid catalog type {self.catalog_type!r}")
        if self.write_fanout is not None and self.write_fanout < 2:
            raise ValueError("catalog.write_fanout must be >= 2 (or None)")
        if self.catalog_type == "rest" and not self.uri:
            raise ValueError("catalog.uri required for rest catalog")
        if self.credential and self.token:
            raise ValueError(
                "catalog.credential (OAuth2) and catalog.token (static "
                "bearer) are mutually exclusive"
            )
        if self.credential and ":" not in self.credential:
            raise ValueError(
                "catalog.credential must be 'client_id:client_secret'"
            )
        if self.catalog_type == "fs" and not self.warehouse:
            raise ValueError("catalog.warehouse required for fs catalog")
        if self.wap_branch == "main":
            raise ValueError("catalog.wap_branch cannot be 'main'; leave empty for direct writes")
        for signal, cols in self.upsert_keys.items():
            if not cols or not all(isinstance(c, str) and c for c in cols):
                raise ValueError(
                    f"catalog.upsert_keys[{signal!r}] must be a non-empty list of column names"
                )
        for signal, cols in self.bloom_filter_columns.items():
            if not cols or not all(isinstance(c, str) and c for c in cols):
                raise ValueError(
                    f"catalog.bloom_filter_columns[{signal!r}] must be a "
                    "non-empty list of column names"
                )
        if self.shred_check not in ("warn", "fail"):
            raise ValueError(
                f"catalog.shred_check must be 'warn' or 'fail', got "
                f"{self.shred_check!r}"
            )
        for signal, by_col in self.shred_paths.items():
            if not by_col:
                raise ValueError(
                    f"catalog.shred_paths[{signal!r}] must map variant "
                    "columns to non-empty path lists"
                )
            for col, paths in by_col.items():
                if not col or not paths:
                    raise ValueError(
                        f"catalog.shred_paths[{signal!r}][{col!r}] must be "
                        "a non-empty list of paths"
                    )
                from .sinks.variant_prune import parse_shred_path

                for path in paths:
                    parse_shred_path(path)  # raises with the grammar
        for vname, vsql in self.views.items():
            if not vname or not isinstance(vsql, str) or not vsql.strip():
                raise ValueError(
                    f"catalog.views[{vname!r}] must map a view name to a "
                    "non-empty SQL string"
                )
        if self.views and self.catalog_type not in ("fs", "rest"):
            raise ValueError(
                "catalog.views requires the pure-Python catalog sinks "
                "(catalog_type 'fs' or 'rest') — views are catalog objects"
            )
        if self.upsert_keys and self.wap_branch:
            raise ValueError(
                "catalog.upsert_keys and catalog.wap_branch are mutually "
                "exclusive (branch-staged upserts are not supported)"
            )
        if self.atomic_batch:
            if self.catalog_type != "rest":
                raise ValueError(
                    "catalog.atomic_batch requires catalog_type='rest' — "
                    "multi-table transactions are a REST-protocol feature"
                )
            if self.wap_branch or self.upsert_keys:
                raise ValueError(
                    "catalog.atomic_batch commits straight to main; it "
                    "cannot combine with wap_branch or upsert_keys"
                )


@dataclass
class PartitionConfig:
    granularity: str = "hourly"  # hourly | daily | monthly (factory.go:22-25)
    timezone: str = "UTC"  # IANA name

    def validate(self) -> None:
        if self.granularity not in VALID_GRANULARITIES:
            raise ValueError(f"invalid granularity {self.granularity!r}")


@dataclass
class SourceConfig:
    """S1 ingestion source: replayable message bus or file drop-box.

    The reference sits behind the collector's queue (factory.go:90-100);
    the Spark-native replayable equivalents are a Kafka topic or a file
    directory, both of which replay from the checkpoint on retry (X3).
    `max_per_trigger` is the batch-size admission control (the
    reference's 512-record batch processor, otel-config.yaml:26-29):
    files per trigger for the file source, offsets per trigger for Kafka.
    """

    kind: str = "file"  # file | kafka
    path: str = ""  # file source: input directory
    bootstrap_servers: str = ""  # kafka source
    topic: str = ""  # kafka source
    starting_offsets: str = "earliest"  # kafka: earliest | latest | JSON
    wire_format: str = "json"  # json | protobuf (payload encoding)
    max_per_trigger: int | None = None
    # extra source options passed verbatim (kafka.* security settings,
    # pathGlobFilter for files, ...)
    options: dict[str, str] = field(default_factory=dict)

    def validate(self) -> None:
        if self.kind not in VALID_SOURCE_KINDS:
            raise ValueError(f"invalid source kind {self.kind!r}")
        if self.wire_format not in VALID_WIRE_FORMATS:
            raise ValueError(f"invalid wire format {self.wire_format!r}")
        if self.kind == "file" and not self.path:
            raise ValueError("source.path required for file source")
        if self.kind == "kafka":
            if not self.bootstrap_servers:
                raise ValueError("source.bootstrap_servers required for kafka")
            if not self.topic:
                raise ValueError("source.topic required for kafka")

    def kafka_options(self) -> dict[str, str]:
        """The option map handed to `readStream.format('kafka')` —
        factored out so it is testable without the kafka-sql jar."""
        opts = {
            "kafka.bootstrap.servers": self.bootstrap_servers,
            "subscribe": self.topic,
            "startingOffsets": self.starting_offsets,
            # at-least-once like the reference: data loss is an error
            "failOnDataLoss": "true",
        }
        if self.max_per_trigger:
            opts["maxOffsetsPerTrigger"] = str(self.max_per_trigger)
        opts.update(self.options)
        return opts


@dataclass
class RetryConfig:
    """X3 envelope: exporterhelper queue/retry/timeout (factory.go:48-76)."""

    timeout_seconds: float = 60.0  # factory.go:30-35
    max_elapsed_seconds: float = 300.0  # retry_on_failure
    num_consumers: int = 10  # sending_queue.num_consumers
    queue_size: int = 1000


@dataclass
class ExporterConfig:
    storage: StorageConfig = field(default_factory=StorageConfig)
    catalog: CatalogConfig = field(default_factory=CatalogConfig)
    partition: PartitionConfig = field(default_factory=PartitionConfig)
    retry: RetryConfig = field(default_factory=RetryConfig)
    source: SourceConfig = field(default_factory=SourceConfig)
    verbosity: str = "normal"
    # Iceberg-v3-native NANOSECOND timestamps: every OTLP time column
    # stays full-precision epoch-nanos (LongType; catalog tables declare
    # timestamptz_ns at format-version 3) instead of the reference's
    # documented lossy ns->us truncation (traces.go:141-142,
    # README.md:430). OTel timestamps ARE nanoseconds — this is the
    # exporter mode that stops discarding the bottom three digits.
    ns_timestamps: bool = False
    # Iceberg v3 VARIANT attributes: store the OTLP attribute maps as
    # queryable `variant` columns (try_variant_get path extraction with
    # typed comparisons) instead of the reference's opaque JSON strings.
    # Composes with ns_timestamps; requires the pure-Python catalog
    # sinks (fs/rest — Spark DDL cannot declare variant).
    variant_attrs: bool = False

    def validate(self) -> None:
        self.storage.validate()
        self.catalog.validate()
        self.partition.validate()
        if self.source.kind != "file" or self.source.path:
            # default file source with no path is valid for batch-only use
            self.source.validate()
        if self.verbosity not in VALID_VERBOSITY:
            raise ValueError(f"invalid verbosity {self.verbosity!r}")
        if self.catalog.shred_paths and not self.variant_attrs:
            raise ValueError(
                "catalog.shred_paths declares typed VARIANT paths — it "
                "requires variant_attrs=True (JSON-string attribute "
                "columns have no shredding to verify)"
            )
