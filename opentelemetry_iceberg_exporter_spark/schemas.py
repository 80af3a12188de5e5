"""Fixed, versioned, code-defined schemas for the 7 OTel tables.

Reference parity: internal/arrow/schema.go:316-594 declares the Arrow
schemas; schema.go:222-289 widens unsigned ints for Iceberg (Uint8/16 ->
Int32, Uint32/64 -> Int64); timestamps are stored at microsecond precision
(ns -> us truncation at conversion, traces.go:141-142, README.md:430).
Spark's TimestampType is natively us, and Spark has no unsigned ints, so
the post-conversion (signed, us) schema IS the Spark schema.

Schemas are declared — never inferred (schema.go:298-309 buildSchema).
Schema version metadata (iceberg_exporter.*_schema_version, schema.go:
370-374/412-415/487-491) maps to Iceberg table properties / a module
constant here.

Summary-table column names contain literal dots
(`quantile_values.quantile`, schema.go:165-167); Spark supports them but
every reference requires backticks.  We keep the exact names for parity.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DataType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

SCHEMA_VERSION = "1.0.0"

# ---------------------------------------------------------------------------
# helpers


def _f(name: str, dtype: DataType, nullable: bool) -> StructField:
    return StructField(name, dtype, nullable)


def _arr(element: DataType) -> ArrayType:
    # Reference list elements are declared nullable (schema.go:240-264,
    # element field named "element", nullable=true).
    return ArrayType(element, containsNull=True)


# ---------------------------------------------------------------------------
# otel_traces — 33 columns (schema.go:316-375; FIXTURES.md table 1)

TRACES_SCHEMA = StructType(
    [
        _f("trace_id", StringType(), False),
        _f("span_id", StringType(), False),
        _f("trace_state", StringType(), True),
        _f("parent_span_id", StringType(), True),
        _f("span_flags", LongType(), False),
        _f("span_name", StringType(), False),
        _f("span_kind", StringType(), False),
        _f("start_time_unix_nano", TimestampType(), False),
        _f("end_time_unix_nano", TimestampType(), False),
        _f("span_attributes", StringType(), False),
        _f("dropped_attributes_count", LongType(), False),
        _f("events_time_unix_nano", _arr(TimestampType()), False),
        _f("events_name", _arr(StringType()), False),
        _f("events_attributes", _arr(StringType()), False),
        _f("events_dropped_attributes_count", _arr(LongType()), False),
        _f("dropped_events_count", LongType(), False),
        _f("links_trace_id", _arr(StringType()), False),
        _f("links_span_id", _arr(StringType()), False),
        _f("links_trace_state", _arr(StringType()), False),
        _f("links_attributes", _arr(StringType()), False),
        _f("links_dropped_attributes_count", _arr(LongType()), False),
        _f("links_flags", _arr(LongType()), False),
        _f("dropped_links_count", LongType(), False),
        _f("status_code", StringType(), True),
        _f("status_message", StringType(), True),
        _f("duration", LongType(), False),
        _f("service_name", StringType(), True),
        _f("resource_attributes", StringType(), False),
        _f("resource_dropped_attributes_count", LongType(), False),
        _f("scope_name", StringType(), True),
        _f("scope_version", StringType(), True),
        _f("scope_attributes", StringType(), False),
        _f("scope_dropped_attributes_count", LongType(), False),
    ]
)

# ---------------------------------------------------------------------------
# otel_logs — 18 columns (schema.go:382-417; FIXTURES.md table 2)

LOGS_SCHEMA = StructType(
    [
        _f("time_unix_nano", TimestampType(), False),
        _f("severity_number", IntegerType(), False),
        _f("severity_text", StringType(), True),
        _f("body", StringType(), False),
        _f("log_attributes", StringType(), False),
        _f("dropped_attributes_count", LongType(), False),
        _f("log_flags", LongType(), False),
        _f("trace_id", StringType(), True),
        _f("span_id", StringType(), True),
        _f("observed_time_unix_nano", TimestampType(), True),
        _f("event_name", StringType(), True),
        _f("service_name", StringType(), True),
        _f("resource_attributes", StringType(), False),
        _f("resource_dropped_attributes_count", LongType(), False),
        _f("scope_name", StringType(), True),
        _f("scope_version", StringType(), True),
        _f("scope_attributes", StringType(), False),
        _f("scope_dropped_attributes_count", LongType(), False),
    ]
)

# ---------------------------------------------------------------------------
# metrics common prefix — 15 columns (schema.go:425-455)

_METRICS_COMMON = [
    _f("time_unix_nano", TimestampType(), False),
    _f("service_name", StringType(), True),
    _f("resource_attributes", StringType(), False),
    _f("resource_dropped_attributes_count", LongType(), False),
    _f("scope_name", StringType(), True),
    _f("scope_version", StringType(), True),
    _f("scope_attributes", StringType(), False),
    _f("scope_dropped_attributes_count", LongType(), False),
    _f("metric_name", StringType(), False),
    _f("metric_description", StringType(), True),
    _f("metric_unit", StringType(), True),
    _f("metric_metadata", StringType(), True),
    _f("attributes", StringType(), False),
    _f("start_time_unix_nano", TimestampType(), True),
    _f("flags", LongType(), False),
]

# exemplar suffix — 6 columns, all nullable (schema.go:458-470); empty
# exemplar set => NULL list, not empty list (metrics.go:431-438); the unused
# value representation is padded with 0 INSIDE lists (metrics.go:456-466)
# while top-level as_double/as_int use NULL (metrics.go:500-510).
_EXEMPLARS = [
    _f("exemplars_time_unix_nano", _arr(TimestampType()), True),
    _f("exemplars_as_double", _arr(DoubleType()), True),
    _f("exemplars_span_id", _arr(StringType()), True),
    _f("exemplars_trace_id", _arr(StringType()), True),
    _f("exemplars_as_int", _arr(LongType()), True),
    _f("exemplars_filtered_attributes", _arr(StringType()), True),
]

# otel_metrics_gauge — 23 cols (schema.go:472-492)
GAUGE_SCHEMA = StructType(
    _METRICS_COMMON
    + [
        _f("as_double", DoubleType(), True),
        _f("as_int", LongType(), True),
    ]
    + _EXEMPLARS
)

# otel_metrics_sum — 25 cols (schema.go:494-516)
SUM_SCHEMA = StructType(
    _METRICS_COMMON
    + [
        _f("as_double", DoubleType(), True),
        _f("as_int", LongType(), True),
        _f("is_monotonic", BooleanType(), False),
        _f("aggregation_temporality", StringType(), False),
    ]
    + _EXEMPLARS
)

# otel_metrics_histogram — 28 cols (schema.go:518-542)
HISTOGRAM_SCHEMA = StructType(
    _METRICS_COMMON
    + [
        _f("count", LongType(), False),
        _f("sum", DoubleType(), True),
        _f("min", DoubleType(), True),
        _f("max", DoubleType(), True),
        _f("bucket_counts", _arr(LongType()), False),
        _f("explicit_bounds", _arr(DoubleType()), False),
        _f("aggregation_temporality", StringType(), False),
    ]
    + _EXEMPLARS
)

# otel_metrics_exponential_histogram — 33 cols (schema.go:544-573)
EXP_HISTOGRAM_SCHEMA = StructType(
    _METRICS_COMMON
    + [
        _f("count", LongType(), False),
        _f("sum", DoubleType(), True),
        _f("min", DoubleType(), True),
        _f("max", DoubleType(), True),
        _f("scale", IntegerType(), False),
        _f("zero_count", LongType(), False),
        _f("zero_threshold", DoubleType(), False),
        _f("positive_offset", IntegerType(), False),
        _f("positive_buckets", _arr(LongType()), False),
        _f("negative_offset", IntegerType(), False),
        _f("negative_buckets", _arr(LongType()), False),
        _f("aggregation_temporality", StringType(), False),
    ]
    + _EXEMPLARS
)

# otel_metrics_summary — 19 cols (schema.go:575-594). Column names contain
# literal dots (schema.go:165-167) — kept for parity; use backticks in SQL.
SUMMARY_SCHEMA = StructType(
    _METRICS_COMMON
    + [
        _f("count", LongType(), False),
        _f("sum", DoubleType(), False),
        _f("quantile_values.quantile", _arr(DoubleType()), False),
        _f("quantile_values.value", _arr(DoubleType()), False),
    ]
)

# ---------------------------------------------------------------------------
# signal/table resolution (reference D2: internal/iceberg/catalog.go:167-222)

SIGNAL_TRACES = "traces"
SIGNAL_LOGS = "logs"
SIGNAL_METRICS_GAUGE = "metrics_gauge"
SIGNAL_METRICS_SUM = "metrics_sum"
SIGNAL_METRICS_HISTOGRAM = "metrics_histogram"
SIGNAL_METRICS_EXP_HISTOGRAM = "metrics_exponential_histogram"
SIGNAL_METRICS_SUMMARY = "metrics_summary"

ALL_SIGNALS = (
    SIGNAL_TRACES,
    SIGNAL_LOGS,
    SIGNAL_METRICS_GAUGE,
    SIGNAL_METRICS_SUM,
    SIGNAL_METRICS_HISTOGRAM,
    SIGNAL_METRICS_EXP_HISTOGRAM,
    SIGNAL_METRICS_SUMMARY,
)

SCHEMAS: dict[str, StructType] = {
    SIGNAL_TRACES: TRACES_SCHEMA,
    SIGNAL_LOGS: LOGS_SCHEMA,
    SIGNAL_METRICS_GAUGE: GAUGE_SCHEMA,
    SIGNAL_METRICS_SUM: SUM_SCHEMA,
    SIGNAL_METRICS_HISTOGRAM: HISTOGRAM_SCHEMA,
    SIGNAL_METRICS_EXP_HISTOGRAM: EXP_HISTOGRAM_SCHEMA,
    SIGNAL_METRICS_SUMMARY: SUMMARY_SCHEMA,
}

_DEFAULT_SUFFIXES: dict[str, str] = {
    SIGNAL_TRACES: "traces",
    SIGNAL_LOGS: "logs",
    SIGNAL_METRICS_GAUGE: "metrics_gauge",
    SIGNAL_METRICS_SUM: "metrics_sum",
    SIGNAL_METRICS_HISTOGRAM: "metrics_histogram",
    SIGNAL_METRICS_EXP_HISTOGRAM: "metrics_exponential_histogram",
    SIGNAL_METRICS_SUMMARY: "metrics_summary",
}


def table_name(signal: str, prefix: str = "otel", overrides: dict[str, str] | None = None) -> str:
    """Resolve the physical table name for a signal.

    Reference: config-driven `{prefix}_{suffix}` defaulting with per-type
    overrides (internal/iceberg/catalog.go:167-222).
    """
    if signal not in _DEFAULT_SUFFIXES:
        raise ValueError(f"unknown signal {signal!r}")
    if overrides and signal in overrides and overrides[signal]:
        return overrides[signal]
    return f"{prefix}_{_DEFAULT_SUFFIXES[signal]}"


# partition-column resolution (reference D3: writer.go:299-311;
# recovery flavor by table-name prefix repartitioner.go:135-147)
_PARTITION_COLUMNS: dict[str, str] = {
    SIGNAL_TRACES: "start_time_unix_nano",
    SIGNAL_LOGS: "time_unix_nano",
    SIGNAL_METRICS_GAUGE: "time_unix_nano",
    SIGNAL_METRICS_SUM: "time_unix_nano",
    SIGNAL_METRICS_HISTOGRAM: "time_unix_nano",
    SIGNAL_METRICS_EXP_HISTOGRAM: "time_unix_nano",
    SIGNAL_METRICS_SUMMARY: "time_unix_nano",
}


def partition_column(signal: str) -> str:
    """traces -> start_time_unix_nano, logs/metrics -> time_unix_nano."""
    return _PARTITION_COLUMNS[signal]


def partition_column_for_table(name: str) -> str:
    """Recovery-style resolution from a table NAME (repartitioner.go:135-147):
    tables whose suffix says traces partition on start time."""
    return "start_time_unix_nano" if "traces" in name else "time_unix_nano"


def ns_variant(schema: StructType) -> StructType:
    """The Iceberg-v3 nanosecond-native shape of a signal schema: every
    TimestampType column (including array elements — event/exemplar time
    lists) becomes LongType epoch-nanos. Spark has no ns temporal type,
    so this is the lossless representation for `timestamptz_ns` tables —
    the v3 escape from the reference's documented ns->us truncation
    (traces.go:141-142, README.md:430)."""

    def conv(dt: DataType) -> DataType:
        if isinstance(dt, TimestampType):
            return LongType()
        if isinstance(dt, ArrayType):
            return ArrayType(conv(dt.elementType), dt.containsNull)
        return dt

    return StructType(
        [StructField(f.name, conv(f.dataType), f.nullable) for f in schema.fields]
    )


def ns_iceberg_types(schema: StructType) -> dict[str, str]:
    """create_table `iceberg_types` for a signal's ns variant: top-level
    timestamp columns become `timestamptz_ns` (OTLP times are UTC
    instants). Array time columns stay array<long> epoch-nanos by
    documented convention — the override surface is top-level only."""
    return {
        f.name: "timestamptz_ns"
        for f in schema.fields
        if isinstance(f.dataType, TimestampType)
    }


# Top-level JSON-text attribute columns per signal — the columns the
# v3 `variant_attrs` mode stores as queryable VARIANT instead of JSON
# strings (nested per-event/link/exemplar attribute LISTS stay
# array<string> of JSON by documented convention — Iceberg/Spark carry
# variant at top level here). metric_metadata keeps its '{}'->NULL rule
# (parse_json(NULL) is NULL).
VARIANT_ATTR_COLUMNS: dict[str, list[str]] = {
    SIGNAL_TRACES: ["span_attributes", "resource_attributes", "scope_attributes"],
    SIGNAL_LOGS: ["log_attributes", "resource_attributes", "scope_attributes"],
    **{
        sig: [
            "attributes",
            "metric_metadata",
            "resource_attributes",
            "scope_attributes",
        ]
        for sig in (
            SIGNAL_METRICS_GAUGE,
            SIGNAL_METRICS_SUM,
            SIGNAL_METRICS_HISTOGRAM,
            SIGNAL_METRICS_EXP_HISTOGRAM,
            SIGNAL_METRICS_SUMMARY,
        )
    },
}


def variant_attrs_schema(schema: StructType, signal: str) -> StructType:
    """The signal schema with its attribute columns as VariantType —
    Iceberg v3 `variant` storage for the OTLP attribute maps, making
    them QUERYABLE (try_variant_get / variant_get path extraction with
    type-aware comparisons) instead of opaque JSON text the reference
    stores (schema.go renders attributes as strings)."""
    from pyspark.sql.types import VariantType

    names = set(VARIANT_ATTR_COLUMNS[signal])
    return StructType(
        [
            StructField(f.name, VariantType() if f.name in names else f.dataType, f.nullable)
            for f in schema.fields
        ]
    )


def to_variant_attrs(df, signal: str):
    """Convert a flattened signal's JSON-text attribute columns to
    VARIANT values (F.parse_json — plan-level, no Python). NULL JSON
    (metric_metadata's empty rule) stays NULL."""
    from pyspark.sql import functions as F

    names = set(VARIANT_ATTR_COLUMNS[signal])
    return df.select(
        *[
            F.parse_json(F.col(f"`{c}`")).alias(c) if c in names else F.col(f"`{c}`")
            for c in df.columns
        ]
    )


def schema_for(
    signal: str, ns_timestamps: bool = False, variant_attrs: bool = False
) -> StructType:
    """The conform/DDL schema for a signal — the declared us schema,
    optionally at ns-native precision and/or with variant attributes
    (both Iceberg v3 features; they compose)."""
    schema = SCHEMAS[signal]
    if ns_timestamps:
        schema = ns_variant(schema)
    if variant_attrs:
        schema = variant_attrs_schema(schema, signal)
    return schema


def conform(df, schema: StructType):
    """Project a DataFrame onto the declared schema: exact column order,
    exact types (cast), error on missing columns.

    Transform outputs carry Catalyst-inferred nullability; the declared
    nullability is enforced at the table boundary (Iceberg DDL / parquet
    write), matching the reference where the Arrow schema — not the
    appender — owns nullability (schema.go:298-309).

    An input whose names, order and data types (array `containsNull`
    included) already equal the schema's is returned unchanged: every
    Project stacked on the flatten makes Spark re-analyse the whole
    plan, and the flatten already emits the declared types.
    """
    from pyspark.sql import functions as F

    if [(f.name, f.dataType) for f in df.schema.fields] == [
        (f.name, f.dataType) for f in schema.fields
    ]:
        return df
    have = set(df.columns)
    missing = [f.name for f in schema.fields if f.name not in have]
    if missing:
        raise ValueError(f"missing columns for schema conform: {missing}")
    return df.select(
        *[F.col(f"`{f.name}`").cast(f.dataType).alias(f.name) for f in schema.fields]
    )
