"""Metrics flatten + 5-way demux: OTLP/JSON -> the 5 otel_metrics_*
tables.

Reference parity (internal/arrow/metrics.go):
* 3-level explode ResourceMetrics->ScopeMetrics->Metrics, then a
  per-type demux loop (metrics.go:137-245, D1): one input stream ->
  5 output tables keyed on metric type; only non-empty types emit.
  In Spark: flatten ONCE (cache the exploded metric-level DF), then 5
  branch filters `metric.<type> IS NOT NULL` + per-type dataPoint
  explode + projection — the SURVEY §4 note about reading the exploded
  source once.
* common 15-column prefix (metrics.go:252-269, schema.go:425-455)
* gauge/sum appenders (metrics.go:476-516): exactly one of
  as_double/as_int non-null at top level (metrics.go:500-510)
* exemplar parallel lists (metrics.go:423-470): empty set -> NULL list
  (:431-438); the UNUSED value representation padded with 0 INSIDE
  lists (:456-466) — asymmetric with the top-level null rule.
* histogram/exp-histogram/summary appenders (metrics.go:518-762)
* metric_metadata: '{}' -> NULL (metrics.go:414-420); zero start_time
  -> NULL (metrics.go:396-400)
"""

from __future__ import annotations

from opentelemetry_iceberg_exporter_spark.plancache import column_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from opentelemetry_iceberg_exporter_spark import schemas as S
from .anyvalue import attributes_to_json_sql
from .model import ATTR_DEPTH, METRICS_REQUEST
from .traces import empty_to_null, hex_id_or_null, ns_str_to_ts, service_name_col

TEMPORALITY = ["UNSPECIFIED", "DELTA", "CUMULATIVE"]  # metrics.go:776-787


def parse_metrics_json(df: DataFrame, json_col: str = "value") -> DataFrame:
    return df.select(
        F.from_json(F.col(json_col), METRICS_REQUEST).alias("req")
    ).select("req.resourceMetrics")


def _explode_to_metric(df: DataFrame) -> DataFrame:
    rm = df.select(F.explode("resourceMetrics").alias("rm"))
    sm = rm.select(
        F.col("rm.resource").alias("resource"), F.explode("rm.scopeMetrics").alias("sm")
    )
    return sm.select(
        "resource", F.col("sm.scope").alias("scope"), F.explode("sm.metrics").alias("metric")
    )


@column_cache(maxsize=16)
def _common_cols(
    dp_name: str = "dp", depth: int = ATTR_DEPTH, ns_timestamps: bool = False
) -> tuple:
    # lru_cache: string/int/bool args, immutable Column results — the 5
    # per-type projections each rebuilt these encoder-heavy lists per
    # flatten call (~3s of driver time per flatten_metrics, measured)
    """The 15-column metrics prefix (schema.go:425-455).

    Attribute encoders use the SQL-text form (anyvalue.*_sql via one
    F.expr each): the Column form costs ~4.5k py4j round trips PER
    encoded column, which made every metrics flatten spend ~20 s in
    plan construction alone (see anyvalue.py). Takes the exploded
    data-point column NAME (not a Column) so the Column references and
    the SQL-text paths are derived from the same string and cannot
    silently diverge."""
    dp = F.col(dp_name)
    res = F.col("resource")
    scope = F.col("scope")
    m = F.col("metric")
    start_ns = dp["startTimeUnixNano"].cast("long")
    meta_json = F.expr(attributes_to_json_sql("metric.metadata", depth))
    time_col = (
        dp["timeUnixNano"].cast("long") if ns_timestamps
        else ns_str_to_ts(dp["timeUnixNano"])
    )
    return (
        time_col.alias("time_unix_nano"),
        service_name_col(res["attributes"]).alias("service_name"),
        F.expr(attributes_to_json_sql("resource.attributes", depth)).alias(
            "resource_attributes"
        ),
        F.coalesce(res["droppedAttributesCount"], F.lit(0)).alias(
            "resource_dropped_attributes_count"
        ),
        empty_to_null(scope["name"]).alias("scope_name"),
        empty_to_null(scope["version"]).alias("scope_version"),
        F.expr(attributes_to_json_sql("scope.attributes", depth)).alias("scope_attributes"),
        F.coalesce(scope["droppedAttributesCount"], F.lit(0)).alias(
            "scope_dropped_attributes_count"
        ),
        F.coalesce(m["name"], F.lit("")).alias("metric_name"),
        empty_to_null(m["description"]).alias("metric_description"),
        empty_to_null(m["unit"]).alias("metric_unit"),
        # '{}' (empty metadata) -> NULL (metrics.go:414-420)
        F.when(meta_json == "{}", F.lit(None).cast("string")).otherwise(meta_json).alias(
            "metric_metadata"
        ),
        F.expr(attributes_to_json_sql(f"{dp_name}.attributes", depth)).alias("attributes"),
        # zero start time -> NULL (metrics.go:396-400)
        F.when(
            start_ns.isNull() | (start_ns == 0),
            F.lit(None).cast("long" if ns_timestamps else "timestamp"),
        ).otherwise(
            start_ns if ns_timestamps else ns_str_to_ts(dp["startTimeUnixNano"])
        ).alias("start_time_unix_nano"),
        F.coalesce(dp["flags"], F.lit(0)).alias("flags"),
    )


@column_cache(maxsize=16)
def _exemplar_cols(
    dp_name: str = "dp", depth: int = ATTR_DEPTH, ns_timestamps: bool = False
) -> tuple:
    """6 parallel exemplar lists (metrics.go:423-470).

    Empty/absent exemplar set -> NULL lists (not empty, :431-438); the
    unused value representation is 0-padded INSIDE lists (:456-466).
    Column name and SQL-text paths derive from dp_name (see _common_cols).
    """
    ex = F.col(dp_name)["exemplars"]
    absent = ex.isNull() | (F.size(ex) == 0)

    def lst(builder, out_type: str) -> Column:
        return F.when(absent, F.lit(None).cast(out_type)).otherwise(
            F.transform(ex, builder)
        )

    return (
        (
            lst(lambda e: e["timeUnixNano"].cast("long"), "array<bigint>")
            if ns_timestamps
            else lst(lambda e: ns_str_to_ts(e["timeUnixNano"]), "array<timestamp>")
        ).alias("exemplars_time_unix_nano"),
        lst(
            lambda e: F.coalesce(e["asDouble"], F.lit(0.0)), "array<double>"
        ).alias("exemplars_as_double"),
        lst(
            lambda e: F.coalesce(F.lower(e["spanId"]), F.lit("")), "array<string>"
        ).alias("exemplars_span_id"),
        lst(
            lambda e: F.coalesce(F.lower(e["traceId"]), F.lit("")), "array<string>"
        ).alias("exemplars_trace_id"),
        lst(
            lambda e: F.coalesce(e["asInt"].cast("long"), F.lit(0)), "array<bigint>"
        ).alias("exemplars_as_int"),
        F.when(absent, F.lit(None).cast("array<string>"))
        .otherwise(
            F.expr(
                f"transform({dp_name}.exemplars, ex0 -> "
                + attributes_to_json_sql("ex0.filteredAttributes", depth)
                + ")"
            )
        )
        .alias("exemplars_filtered_attributes"),
    )


def _number_value_cols(dp: Column) -> list[Column]:
    """Top level: exactly one of as_double/as_int non-null
    (metrics.go:500-510) — NULL for the unused representation."""
    return [
        dp["asDouble"].alias("as_double"),
        F.when(dp["asDouble"].isNull(), dp["asInt"].cast("long"))
        .otherwise(F.lit(None).cast("long"))
        .alias("as_int"),
    ]


def _uint_list(col: Column) -> Column:
    return F.transform(
        F.coalesce(col, F.array()), lambda x: x.cast("long")
    )


def flatten_metrics(
    df: DataFrame,
    depth: int = ATTR_DEPTH,
    ns_timestamps: bool = False,
) -> dict[str, DataFrame]:
    """resourceMetrics DF -> {signal: DataFrame} for the 5 metric tables.

    The 5 branch filters share one un-cached metric-level explode.
    Long-lived paths (the streaming pipeline) persist the exploded DF
    themselves via `_explode_to_metric` + `flatten_metrics_from_metric`
    and unpersist it when the batch is done.
    """
    return flatten_metrics_from_metric(_explode_to_metric(df), depth, ns_timestamps)


def flatten_metrics_from_metric(
    metric: DataFrame, depth: int = ATTR_DEPTH, ns_timestamps: bool = False
) -> dict[str, DataFrame]:
    """The 5 per-type projections over an already-exploded metric-level
    DF (one row per metric, columns resource/scope/metric). Callers that
    persist `metric` own its unpersist. `ns_timestamps=True` keeps the
    data-point / start / exemplar times as FULL-PRECISION epoch-nanos
    longs for v3 `timestamptz_ns` tables (see traces.flatten_traces)."""
    m = F.col("metric")
    dp = F.col("dp")

    # the 5 branch plans are independent and their cost is eager JVM
    # analysis over the huge parsed-OTLP schema (~0.5s each, measured;
    # the Column lists are already lru_cached) — build them on a small
    # thread pool so the analyses overlap inside the JVM (guide §2.6's
    # overlap-independent-work rule, applied to plan construction);
    # py4j is thread-safe and Columns are immutable expression wrappers
    def _gauge():
        # gauge (metrics.go:476-492)
        g = metric.filter(m["gauge"].isNotNull()).select(
            "resource", "scope", "metric", F.explode(m["gauge"]["dataPoints"]).alias("dp")
        )
        return g.select(
            *_common_cols("dp", depth, ns_timestamps), *_number_value_cols(dp), *_exemplar_cols("dp", depth, ns_timestamps)
        )

    def _sum():
        # sum (metrics.go:494-516)
        s = metric.filter(m["sum"].isNotNull()).select(
            "resource", "scope", "metric", F.explode(m["sum"]["dataPoints"]).alias("dp")
        )
        return s.select(
        *_common_cols("dp", depth, ns_timestamps),
        *_number_value_cols(dp),
        F.coalesce(F.col("metric")["sum"]["isMonotonic"], F.lit(False)).alias("is_monotonic"),
        _temporality(F.col("metric")["sum"]["aggregationTemporality"]).alias(
            "aggregation_temporality"
        ),
        *_exemplar_cols("dp", depth, ns_timestamps),
        )

    def _hist():
        # histogram (metrics.go:518-542)
        h = metric.filter(m["histogram"].isNotNull()).select(
            "resource", "scope", "metric", F.explode(m["histogram"]["dataPoints"]).alias("dp")
        )
        return h.select(
        *_common_cols("dp", depth, ns_timestamps),
        F.coalesce(dp["count"].cast("long"), F.lit(0)).alias("count"),
        dp["sum"].alias("sum"),
        dp["min"].alias("min"),
        dp["max"].alias("max"),
        _uint_list(dp["bucketCounts"]).alias("bucket_counts"),
        F.coalesce(dp["explicitBounds"], F.array().cast("array<double>")).alias(
            "explicit_bounds"
        ),
        _temporality(F.col("metric")["histogram"]["aggregationTemporality"]).alias(
            "aggregation_temporality"
        ),
        *_exemplar_cols("dp", depth, ns_timestamps),
        )

    def _exp():
        # exponential histogram (metrics.go:544-573)
        e = metric.filter(m["exponentialHistogram"].isNotNull()).select(
            "resource",
            "scope",
            "metric",
            F.explode(m["exponentialHistogram"]["dataPoints"]).alias("dp"),
        )
        return e.select(
        *_common_cols("dp", depth, ns_timestamps),
        F.coalesce(dp["count"].cast("long"), F.lit(0)).alias("count"),
        dp["sum"].alias("sum"),
        dp["min"].alias("min"),
        dp["max"].alias("max"),
        F.coalesce(dp["scale"], F.lit(0)).cast("int").alias("scale"),
        F.coalesce(dp["zeroCount"].cast("long"), F.lit(0)).alias("zero_count"),
        F.coalesce(dp["zeroThreshold"], F.lit(0.0)).alias("zero_threshold"),
        F.coalesce(dp["positive"]["offset"], F.lit(0)).cast("int").alias("positive_offset"),
        _uint_list(dp["positive"]["bucketCounts"]).alias("positive_buckets"),
        F.coalesce(dp["negative"]["offset"], F.lit(0)).cast("int").alias("negative_offset"),
        _uint_list(dp["negative"]["bucketCounts"]).alias("negative_buckets"),
        _temporality(
            F.col("metric")["exponentialHistogram"]["aggregationTemporality"]
        ).alias("aggregation_temporality"),
        *_exemplar_cols("dp", depth, ns_timestamps),
        )

    def _summary():
        # summary (metrics.go:575-594) — dot column names kept for parity;
        # the quantile lists cast to the declared element-nullable type
        su = metric.filter(m["summary"].isNotNull()).select(
            "resource", "scope", "metric", F.explode(m["summary"]["dataPoints"]).alias("dp")
        )
        return su.select(
        *_common_cols("dp", depth, ns_timestamps),
        F.coalesce(dp["count"].cast("long"), F.lit(0)).alias("count"),
        F.coalesce(dp["sum"], F.lit(0.0)).alias("sum"),
        F.transform(
            F.coalesce(dp["quantileValues"], F.array()),
            lambda q: F.coalesce(q["quantile"], F.lit(0.0)),
        ).cast("array<double>").alias("quantile_values.quantile"),
        F.transform(
            F.coalesce(dp["quantileValues"], F.array()),
            lambda q: F.coalesce(q["value"], F.lit(0.0)),
        ).cast("array<double>").alias("quantile_values.value"),
        )

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=5) as pool:
        futs = {
            S.SIGNAL_METRICS_GAUGE: pool.submit(_gauge),
            S.SIGNAL_METRICS_SUM: pool.submit(_sum),
            S.SIGNAL_METRICS_HISTOGRAM: pool.submit(_hist),
            S.SIGNAL_METRICS_EXP_HISTOGRAM: pool.submit(_exp),
            S.SIGNAL_METRICS_SUMMARY: pool.submit(_summary),
        }
        return {k: f.result() for k, f in futs.items()}


def _temporality(col: Column) -> Column:
    c = F.coalesce(col, F.lit(0)).cast("int")
    return (
        F.when(c == 1, F.lit("DELTA"))
        .when(c == 2, F.lit("CUMULATIVE"))
        .otherwise(F.lit("UNSPECIFIED"))
    )
