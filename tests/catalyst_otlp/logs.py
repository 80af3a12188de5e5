"""Logs flatten + projection: OTLP/JSON -> the 18-column otel_logs schema.

Reference parity (internal/arrow/logs.go):
* 3-level explode ResourceLogs->ScopeLogs->LogRecords (logs.go:34-66)
* 18-column projection (logs.go:68-188)
* body rule: scalar passthrough, slice/map JSON-encoded, %f doubles
  (logs.go:190-211) — see anyvalue.log_body_to_string
* null rules: zero trace/span IDs -> NULL (logs.go:133-146), zero
  observed_time -> NULL (logs.go:148-156), event_name always NULL
  (logs.go:158-160 placeholder), empty service/scope fields -> NULL
"""

from __future__ import annotations

from opentelemetry_iceberg_exporter_spark.plancache import column_cache

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .anyvalue import attributes_to_json_sql, log_body_to_string_sql
from .model import ATTR_DEPTH, LOGS_REQUEST
from .traces import (
    empty_to_null,
    hex_id_or_null,
    ns_str_to_ts,
    service_name_col,
)


def parse_logs_json(df: DataFrame, json_col: str = "value") -> DataFrame:
    return df.select(
        F.from_json(F.col(json_col), LOGS_REQUEST).alias("req")
    ).select("req.resourceLogs")


def flatten_logs(
    df: DataFrame, depth: int = ATTR_DEPTH, ns_timestamps: bool = False
) -> DataFrame:
    """resourceLogs DF -> 18-column otel_logs DF (one plan).
    `ns_timestamps=True` keeps time/observed-time as FULL-PRECISION
    epoch-nanosecond longs for v3 `timestamptz_ns` tables (see
    flatten_traces; zero-observed-time -> NULL rule preserved)."""
    rl = df.select(F.explode("resourceLogs").alias("rl"))
    sl = rl.select(
        F.col("rl.resource").alias("resource"),
        F.explode("rl.scopeLogs").alias("sl"),
    )
    lr = sl.select(
        "resource",
        F.col("sl.scope").alias("scope"),
        F.explode("sl.logRecords").alias("rec"),
    )

    return lr.select(*_log_columns(depth, ns_timestamps))


@column_cache(maxsize=8)
def _log_columns(depth: int, ns_timestamps: bool) -> tuple:
    """The 18-column log projection, built ONCE per (depth,
    ns_timestamps) — same plan-build cache as traces._trace_columns
    (lambda transforms + deep JSON encoders dominate construction)."""
    rec = F.col("rec")
    res = F.col("resource")
    scope = F.col("scope")
    obs_ns = rec["observedTimeUnixNano"].cast("long")

    time_ns = rec["timeUnixNano"].cast("long")
    return (
        (
            time_ns if ns_timestamps else ns_str_to_ts(rec["timeUnixNano"])
        ).alias("time_unix_nano"),
        F.coalesce(rec["severityNumber"], F.lit(0)).cast("int").alias("severity_number"),
        empty_to_null(rec["severityText"]).alias("severity_text"),
        F.coalesce(F.expr(log_body_to_string_sql("rec.body", depth)), F.lit("")).alias("body"),
        F.expr(attributes_to_json_sql("rec.attributes", depth)).alias("log_attributes"),
        F.coalesce(rec["droppedAttributesCount"], F.lit(0)).alias("dropped_attributes_count"),
        F.coalesce(rec["flags"], F.lit(0)).alias("log_flags"),
        hex_id_or_null(rec["traceId"], 16).alias("trace_id"),
        hex_id_or_null(rec["spanId"], 8).alias("span_id"),
        # zero observed time -> NULL (logs.go:148-156)
        F.when(
            obs_ns.isNull() | (obs_ns == 0),
            F.lit(None).cast("long" if ns_timestamps else "timestamp"),
        ).otherwise(
            obs_ns if ns_timestamps
            else ns_str_to_ts(rec["observedTimeUnixNano"])
        ).alias(
            "observed_time_unix_nano"
        ),
        # always NULL in the reference (logs.go:158-160 placeholder)
        F.lit(None).cast("string").alias("event_name"),
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
