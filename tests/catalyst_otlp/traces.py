"""Traces flatten + projection: OTLP/JSON -> the 33-column otel_traces
schema.

Reference parity (internal/arrow/traces.go):
* 3-level explode ResourceSpans->ScopeSpans->Spans with resource/scope
  denormalized onto every span row        (traces.go:36-68, P1)
* 33-column projection: hex IDs, enum strings, ns->us timestamps, JSON
  attributes, events/links as parallel arrays  (traces.go:70-248, P2)
* duration = end_ns - start_ns computed on raw ns BEFORE us truncation
  (traces.go:218-220, P3)
* service_name from resource attributes 'service.name'
  (attributes.go:7-12, P4)
* null rules (SURVEY §1.5): empty trace_state -> NULL (traces.go:122-127),
  zero parent_span_id -> NULL (:129-134), STATUS_CODE_UNSET -> NULL
  (:204-209,320-331), empty service/scope name/version -> NULL
  (:223-243)

The whole transform is one Catalyst plan: selects + explodes + array
transforms. No Python executes per row.
"""

from __future__ import annotations

from opentelemetry_iceberg_exporter_spark.plancache import column_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .anyvalue import attributes_to_json_sql
from .model import ATTR_DEPTH, TRACES_REQUEST

SPAN_KINDS = ["UNSPECIFIED", "INTERNAL", "SERVER", "CLIENT", "PRODUCER", "CONSUMER"]


def _int_div_1000(ns: Column) -> Column:
    """Exact ns->us integer division as a Column expression.

    Long `/` in Spark is double division (lossy above 2^53, i.e. at
    epoch-ns magnitude); decimal division + floor stays exact.
    """
    return F.floor(ns.cast("decimal(20,0)") / F.lit(1000)).cast("long")


def ns_str_to_ts(col: Column) -> Column:
    """epoch-ns decimal string -> us TimestampType."""
    return F.timestamp_micros(_int_div_1000(col.cast("long")))


def hex_id_or_null(col: Column, n_bytes: int) -> Column:
    """OTLP/JSON IDs are already lowercase hex; zero/absent -> NULL
    (traces.go:129-134: all-zero IDs treated as unset)."""
    zero = "0" * (2 * n_bytes)
    c = F.lower(col)
    return F.when(c.isNull() | (c == "") | (c == zero), F.lit(None).cast("string")).otherwise(c)


def empty_to_null(col: Column) -> Column:
    return F.when(col.isNull() | (col == ""), F.lit(None).cast("string")).otherwise(col)


def enum_str(col: Column, names: list[str]) -> Column:
    """int enum -> symbolic string; out-of-range -> 'UNKNOWN' (the
    reference's spanKindToString default branch, traces.go:315-317 —
    names[0] 'UNSPECIFIED' is only for 0/null)."""
    mapping = F.array(*[F.lit(n) for n in names])
    idx = F.coalesce(col, F.lit(0)).cast("int")
    in_range = (idx >= 0) & (idx < len(names))
    return F.when(in_range, F.element_at(mapping, idx + 1)).otherwise(F.lit("UNKNOWN"))


def status_code_str(code: Column) -> Column:
    """0/unset -> NULL, 1 -> OK, 2 -> ERROR (traces.go:320-331)."""
    c = F.coalesce(code, F.lit(0))
    return (
        F.when(c == 1, F.lit("OK")).when(c == 2, F.lit("ERROR")).otherwise(F.lit(None).cast("string"))
    )


def service_name_col(res_attrs: Column) -> Column:
    """resource.attributes['service.name'] as string; absent/empty -> NULL
    (attributes.go:7-12 + traces.go:223-231)."""
    matches = F.filter(res_attrs, lambda kv: kv["key"] == "service.name")
    # try_element_at: absent key -> NULL (element_at throws under ANSI)
    v = F.try_element_at(matches, F.lit(1))["value"]["stringValue"]
    return empty_to_null(v)


def parse_traces_json(df: DataFrame, json_col: str = "value") -> DataFrame:
    """Parse OTLP/JSON request lines with the declared schema (AnyValue
    nesting bounded at ATTR_DEPTH, see model.py)."""
    return df.select(
        F.from_json(F.col(json_col), TRACES_REQUEST).alias("req")
    ).select("req.resourceSpans")


def flatten_traces(
    df: DataFrame, depth: int = ATTR_DEPTH, ns_timestamps: bool = False
) -> DataFrame:
    """resourceSpans DF -> 33-column otel_traces DF (one plan). `depth`
    must match the parse depth so the JSON encoders render every parsed
    level.

    `ns_timestamps=True` is the Iceberg-v3-native variant: the span and
    event timestamps stay FULL-PRECISION epoch-nanosecond longs (Spark
    has no ns temporal type) instead of the reference's documented
    lossy ns->us truncation (traces.go:141-142, README.md:430) — store
    them in a v3 table as `timestamptz_ns` columns
    (create_table(iceberg_types=ns_trace_types())). `duration` is
    ns-exact in both modes."""
    rs = df.select(F.explode("resourceSpans").alias("rs"))
    ss = rs.select(
        F.col("rs.resource").alias("resource"),
        F.explode("rs.scopeSpans").alias("ss"),
    )
    sp = ss.select(
        "resource",
        F.col("ss.scope").alias("scope"),
        F.explode("ss.spans").alias("span"),
    )
    return sp.select(*_trace_columns(depth, ns_timestamps))


@column_cache(maxsize=8)
def _trace_columns(depth: int, ns_timestamps: bool) -> tuple:
    """The 33-column trace projection, built ONCE per (depth,
    ns_timestamps): the lambda-bearing transforms and the deep
    attributes_to_json_sql encoders cost ~2s of driver/py4j time per
    construction (measured in the v3-sink profile — ~20% of the sink's
    wall). Column objects are immutable expression wrappers reusable
    across DataFrames, so this caches plan-construction work only.

    The list columns are cast to their declared element-nullable type
    here, so the projection already IS schemas.TRACES_SCHEMA and
    conform stacks no second Project on it."""
    span = F.col("span")
    res = F.col("resource")
    scope = F.col("scope")
    start_ns = span["startTimeUnixNano"].cast("long")
    end_ns = span["endTimeUnixNano"].cast("long")

    return (
        F.lower(span["traceId"]).alias("trace_id"),
        F.lower(span["spanId"]).alias("span_id"),
        empty_to_null(span["traceState"]).alias("trace_state"),
        hex_id_or_null(span["parentSpanId"], 8).alias("parent_span_id"),
        F.coalesce(span["flags"], F.lit(0)).alias("span_flags"),
        F.coalesce(span["name"], F.lit("")).alias("span_name"),
        enum_str(span["kind"], SPAN_KINDS).alias("span_kind"),
        (
            start_ns if ns_timestamps
            else F.timestamp_micros(_int_div_1000(start_ns))
        ).alias("start_time_unix_nano"),
        (
            end_ns if ns_timestamps
            else F.timestamp_micros(_int_div_1000(end_ns))
        ).alias("end_time_unix_nano"),
        F.expr(attributes_to_json_sql("span.attributes", depth)).alias("span_attributes"),
        F.coalesce(span["droppedAttributesCount"], F.lit(0)).alias("dropped_attributes_count"),
        F.transform(
            F.coalesce(span["events"], F.array()),
            (lambda e: e["timeUnixNano"].cast("long")) if ns_timestamps
            else (
                lambda e: F.timestamp_micros(_int_div_1000(e["timeUnixNano"].cast("long")))
            ),
        ).alias("events_time_unix_nano"),
        F.transform(
            F.coalesce(span["events"], F.array()), lambda e: F.coalesce(e["name"], F.lit(""))
        ).cast("array<string>").alias("events_name"),
        F.expr(
            "transform(coalesce(span.events, array()), ev0 -> "
            + attributes_to_json_sql("ev0.attributes", depth)
            + ")"
        ).cast("array<string>").alias("events_attributes"),
        F.transform(
            F.coalesce(span["events"], F.array()),
            lambda e: F.coalesce(e["droppedAttributesCount"], F.lit(0)),
        ).cast("array<bigint>").alias("events_dropped_attributes_count"),
        F.coalesce(span["droppedEventsCount"], F.lit(0)).alias("dropped_events_count"),
        F.transform(
            F.coalesce(span["links"], F.array()), lambda l: F.lower(F.coalesce(l["traceId"], F.lit("")))
        ).cast("array<string>").alias("links_trace_id"),
        F.transform(
            F.coalesce(span["links"], F.array()), lambda l: F.lower(F.coalesce(l["spanId"], F.lit("")))
        ).cast("array<string>").alias("links_span_id"),
        F.transform(
            F.coalesce(span["links"], F.array()), lambda l: F.coalesce(l["traceState"], F.lit(""))
        ).cast("array<string>").alias("links_trace_state"),
        F.expr(
            "transform(coalesce(span.links, array()), lk0 -> "
            + attributes_to_json_sql("lk0.attributes", depth)
            + ")"
        ).cast("array<string>").alias("links_attributes"),
        F.transform(
            F.coalesce(span["links"], F.array()),
            lambda l: F.coalesce(l["droppedAttributesCount"], F.lit(0)),
        ).cast("array<bigint>").alias("links_dropped_attributes_count"),
        F.transform(
            F.coalesce(span["links"], F.array()), lambda l: F.coalesce(l["flags"], F.lit(0))
        ).cast("array<bigint>").alias("links_flags"),
        F.coalesce(span["droppedLinksCount"], F.lit(0)).alias("dropped_links_count"),
        status_code_str(span["status"]["code"]).alias("status_code"),
        empty_to_null(span["status"]["message"]).alias("status_message"),
        # duration from RAW ns, before us truncation (traces.go:218-220)
        (end_ns - start_ns).alias("duration"),
        service_name_col(res["attributes"]).alias("service_name"),
        F.expr(attributes_to_json_sql("resource.attributes", depth)).alias("resource_attributes"),
        F.coalesce(res["droppedAttributesCount"], F.lit(0)).alias(
            "resource_dropped_attributes_count"
        ),
        empty_to_null(scope["name"]).alias("scope_name"),
        empty_to_null(scope["version"]).alias("scope_version"),
        F.expr(attributes_to_json_sql("scope.attributes", depth)).alias("scope_attributes"),
        F.coalesce(scope["droppedAttributesCount"], F.lit(0)).alias(
            "scope_dropped_attributes_count"
        ),
    )
