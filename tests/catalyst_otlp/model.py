"""OTLP/JSON input schemas (public OTLP spec / file-exporter format).

Declared explicitly — never inferred — mirroring the reference's fixed
FieldDef lists (internal/arrow/schema.go:216-309). Timestamps arrive as
decimal strings of epoch-ns; trace/span IDs as lowercase hex strings;
enums as integers — all per OTLP/JSON encoding rules.

AnyValue is recursive in the proto; Spark types cannot recurse, so we
bound nesting at ATTR_DEPTH levels. Depth 2 covers every fixture
scenario in the reference test corpus (deepest: complex_body's
map-of-slice/map of scalars — a kvlist at level 2 whose values are
arrays/maps of level-0 scalars, test_helper.go complex_body generator).
Deeper values are dropped by from_json (documented limitation vs the
reference's unbounded Go interface{} recursion). Each extra level
roughly doubles the from_json schema and the JSON-encoder expression
tree, which is pure plan-compile cost (depth 3 added ~80% to the
o01-o04 first-run wall time for zero extra corpus coverage).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

ATTR_DEPTH = 2


def anyvalue_type(depth: int = ATTR_DEPTH) -> StructType:
    """OTLP AnyValue, nesting bounded at `depth` (0 = scalars only)."""
    fields = [
        StructField("stringValue", StringType(), True),
        StructField("boolValue", BooleanType(), True),
        StructField("intValue", StringType(), True),  # int64 as string in OTLP/JSON
        StructField("doubleValue", DoubleType(), True),
        StructField("bytesValue", StringType(), True),  # base64 in OTLP/JSON
    ]
    if depth > 0:
        inner = anyvalue_type(depth - 1)
        fields.append(
            StructField(
                "arrayValue",
                StructType([StructField("values", ArrayType(inner), True)]),
                True,
            )
        )
        fields.append(
            StructField(
                "kvlistValue",
                StructType([StructField("values", ArrayType(keyvalue_type(depth - 1)), True)]),
                True,
            )
        )
    return StructType(fields)


def keyvalue_type(depth: int = ATTR_DEPTH) -> StructType:
    return StructType(
        [
            StructField("key", StringType(), True),
            StructField("value", anyvalue_type(depth), True),
        ]
    )


ATTRIBUTES = ArrayType(keyvalue_type())

RESOURCE = StructType(
    [
        StructField("attributes", ATTRIBUTES, True),
        StructField("droppedAttributesCount", LongType(), True),
    ]
)

SCOPE = StructType(
    [
        StructField("name", StringType(), True),
        StructField("version", StringType(), True),
        StructField("attributes", ATTRIBUTES, True),
        StructField("droppedAttributesCount", LongType(), True),
    ]
)

# --- traces ---------------------------------------------------------------

SPAN_EVENT = StructType(
    [
        StructField("timeUnixNano", StringType(), True),
        StructField("name", StringType(), True),
        StructField("attributes", ATTRIBUTES, True),
        StructField("droppedAttributesCount", LongType(), True),
    ]
)

SPAN_LINK = StructType(
    [
        StructField("traceId", StringType(), True),
        StructField("spanId", StringType(), True),
        StructField("traceState", StringType(), True),
        StructField("attributes", ATTRIBUTES, True),
        StructField("droppedAttributesCount", LongType(), True),
        StructField("flags", LongType(), True),
    ]
)

SPAN = StructType(
    [
        StructField("traceId", StringType(), True),
        StructField("spanId", StringType(), True),
        StructField("traceState", StringType(), True),
        StructField("parentSpanId", StringType(), True),
        StructField("flags", LongType(), True),
        StructField("name", StringType(), True),
        StructField("kind", LongType(), True),
        StructField("startTimeUnixNano", StringType(), True),
        StructField("endTimeUnixNano", StringType(), True),
        StructField("attributes", ATTRIBUTES, True),
        StructField("droppedAttributesCount", LongType(), True),
        StructField("events", ArrayType(SPAN_EVENT), True),
        StructField("droppedEventsCount", LongType(), True),
        StructField("links", ArrayType(SPAN_LINK), True),
        StructField("droppedLinksCount", LongType(), True),
        StructField(
            "status",
            StructType(
                [
                    StructField("code", LongType(), True),
                    StructField("message", StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

TRACES_REQUEST = StructType(
    [
        StructField(
            "resourceSpans",
            ArrayType(
                StructType(
                    [
                        StructField("resource", RESOURCE, True),
                        StructField(
                            "scopeSpans",
                            ArrayType(
                                StructType(
                                    [
                                        StructField("scope", SCOPE, True),
                                        StructField("spans", ArrayType(SPAN), True),
                                    ]
                                )
                            ),
                            True,
                        ),
                    ]
                )
            ),
            True,
        )
    ]
)

# --- logs -----------------------------------------------------------------

LOG_RECORD = StructType(
    [
        StructField("timeUnixNano", StringType(), True),
        StructField("observedTimeUnixNano", StringType(), True),
        StructField("severityNumber", LongType(), True),
        StructField("severityText", StringType(), True),
        StructField("body", anyvalue_type(), True),
        StructField("attributes", ATTRIBUTES, True),
        StructField("droppedAttributesCount", LongType(), True),
        StructField("flags", LongType(), True),
        StructField("traceId", StringType(), True),
        StructField("spanId", StringType(), True),
        StructField("eventName", StringType(), True),
    ]
)

LOGS_REQUEST = StructType(
    [
        StructField(
            "resourceLogs",
            ArrayType(
                StructType(
                    [
                        StructField("resource", RESOURCE, True),
                        StructField(
                            "scopeLogs",
                            ArrayType(
                                StructType(
                                    [
                                        StructField("scope", SCOPE, True),
                                        StructField(
                                            "logRecords", ArrayType(LOG_RECORD), True
                                        ),
                                    ]
                                )
                            ),
                            True,
                        ),
                    ]
                )
            ),
            True,
        )
    ]
)

# --- metrics --------------------------------------------------------------

EXEMPLAR = StructType(
    [
        StructField("timeUnixNano", StringType(), True),
        StructField("asDouble", DoubleType(), True),
        StructField("asInt", StringType(), True),
        StructField("spanId", StringType(), True),
        StructField("traceId", StringType(), True),
        StructField("filteredAttributes", ATTRIBUTES, True),
    ]
)

NUMBER_DATA_POINT = StructType(
    [
        StructField("attributes", ATTRIBUTES, True),
        StructField("startTimeUnixNano", StringType(), True),
        StructField("timeUnixNano", StringType(), True),
        StructField("asDouble", DoubleType(), True),
        StructField("asInt", StringType(), True),
        StructField("exemplars", ArrayType(EXEMPLAR), True),
        StructField("flags", LongType(), True),
    ]
)

HISTOGRAM_DATA_POINT = StructType(
    [
        StructField("attributes", ATTRIBUTES, True),
        StructField("startTimeUnixNano", StringType(), True),
        StructField("timeUnixNano", StringType(), True),
        StructField("count", StringType(), True),  # uint64 as string
        StructField("sum", DoubleType(), True),
        StructField("min", DoubleType(), True),
        StructField("max", DoubleType(), True),
        StructField("bucketCounts", ArrayType(StringType()), True),
        StructField("explicitBounds", ArrayType(DoubleType()), True),
        StructField("exemplars", ArrayType(EXEMPLAR), True),
        StructField("flags", LongType(), True),
    ]
)

EXP_HISTOGRAM_BUCKETS = StructType(
    [
        StructField("offset", IntegerType(), True),
        StructField("bucketCounts", ArrayType(StringType()), True),
    ]
)

EXP_HISTOGRAM_DATA_POINT = StructType(
    [
        StructField("attributes", ATTRIBUTES, True),
        StructField("startTimeUnixNano", StringType(), True),
        StructField("timeUnixNano", StringType(), True),
        StructField("count", StringType(), True),
        StructField("sum", DoubleType(), True),
        StructField("min", DoubleType(), True),
        StructField("max", DoubleType(), True),
        StructField("scale", IntegerType(), True),
        StructField("zeroCount", StringType(), True),
        StructField("zeroThreshold", DoubleType(), True),
        StructField("positive", EXP_HISTOGRAM_BUCKETS, True),
        StructField("negative", EXP_HISTOGRAM_BUCKETS, True),
        StructField("exemplars", ArrayType(EXEMPLAR), True),
        StructField("flags", LongType(), True),
    ]
)

SUMMARY_DATA_POINT = StructType(
    [
        StructField("attributes", ATTRIBUTES, True),
        StructField("startTimeUnixNano", StringType(), True),
        StructField("timeUnixNano", StringType(), True),
        StructField("count", StringType(), True),
        StructField("sum", DoubleType(), True),
        StructField(
            "quantileValues",
            ArrayType(
                StructType(
                    [
                        StructField("quantile", DoubleType(), True),
                        StructField("value", DoubleType(), True),
                    ]
                )
            ),
            True,
        ),
        StructField("flags", LongType(), True),
    ]
)

METRIC = StructType(
    [
        StructField("name", StringType(), True),
        StructField("description", StringType(), True),
        StructField("unit", StringType(), True),
        StructField("metadata", ATTRIBUTES, True),
        StructField(
            "gauge",
            StructType([StructField("dataPoints", ArrayType(NUMBER_DATA_POINT), True)]),
            True,
        ),
        StructField(
            "sum",
            StructType(
                [
                    StructField("dataPoints", ArrayType(NUMBER_DATA_POINT), True),
                    StructField("aggregationTemporality", LongType(), True),
                    StructField("isMonotonic", BooleanType(), True),
                ]
            ),
            True,
        ),
        StructField(
            "histogram",
            StructType(
                [
                    StructField("dataPoints", ArrayType(HISTOGRAM_DATA_POINT), True),
                    StructField("aggregationTemporality", LongType(), True),
                ]
            ),
            True,
        ),
        StructField(
            "exponentialHistogram",
            StructType(
                [
                    StructField("dataPoints", ArrayType(EXP_HISTOGRAM_DATA_POINT), True),
                    StructField("aggregationTemporality", LongType(), True),
                ]
            ),
            True,
        ),
        StructField(
            "summary",
            StructType([StructField("dataPoints", ArrayType(SUMMARY_DATA_POINT), True)]),
            True,
        ),
    ]
)

METRICS_REQUEST = StructType(
    [
        StructField(
            "resourceMetrics",
            ArrayType(
                StructType(
                    [
                        StructField("resource", RESOURCE, True),
                        StructField(
                            "scopeMetrics",
                            ArrayType(
                                StructType(
                                    [
                                        StructField("scope", SCOPE, True),
                                        StructField("metrics", ArrayType(METRIC), True),
                                    ]
                                )
                            ),
                            True,
                        ),
                    ]
                )
            ),
            True,
        )
    ]
)
