"""Golden-style tests for the OTLP/JSON -> flat-table transforms.

Mirrors the reference's fixture strategy (internal/arrow/test_helper.go:
22-769: deterministic testTime=2024-01-15T10:30:00Z, fixed IDs) and its
cell-by-cell golden comparison (test_helper.go:199-240) — here as exact
row-dict equality after schema conform, which also locks the §1.5 null
rules and the canonical-JSON attribute encoding.
"""

from __future__ import annotations

import json
from datetime import datetime

import pytest

from opentelemetry_iceberg_exporter_spark import schemas as S
from opentelemetry_iceberg_exporter_spark.streaming.pipeline import flatten_signal

# testTime = 2024-01-15T10:30:00Z (test_helper.go:22) in epoch ns
T0_NS = 1_705_314_600_000_000_000
T0 = datetime(2024, 1, 15, 10, 30, 0)

TRACE_ID = "0102030405060708090a0b0c0d0e0f10"
SPAN_ID = "0102030405060708"
PARENT_ID = "1112131415161718"


def _attr(key, **value):
    return {"key": key, "value": value}


def _flatten(spark, payload, signal_kind):
    df = spark.createDataFrame([(json.dumps(payload),)], "value string")
    return flatten_signal(df, signal_kind)


def _span(**over):
    base = {
        "traceId": TRACE_ID,
        "spanId": SPAN_ID,
        "traceState": "",
        "parentSpanId": PARENT_ID,
        "flags": 1,
        "name": "GET /api",
        "kind": 2,  # SERVER
        "startTimeUnixNano": str(T0_NS + 123_456_789),
        "endTimeUnixNano": str(T0_NS + 2_000_000_000 + 123_456_789),
        "attributes": [
            _attr("http.status_code", intValue="200"),
            _attr("http.method", stringValue="GET"),
        ],
        "droppedAttributesCount": 0,
        "status": {"code": 1, "message": ""},
    }
    base.update(over)
    return base


def _traces_payload(spans, service="svc-a", scope_name="lib", scope_version="1.2.3"):
    return {
        "resourceSpans": [
            {
                "resource": {
                    "attributes": [
                        _attr("service.name", stringValue=service),
                        _attr("env", stringValue="prod"),
                    ],
                    "droppedAttributesCount": 0,
                },
                "scopeSpans": [
                    {
                        "scope": {
                            "name": scope_name,
                            "version": scope_version,
                            "attributes": [],
                        },
                        "spans": spans,
                    }
                ],
            }
        ]
    }


def _assert_conformed(df, schema):
    # the flatten emits the declared names, order and types, so conform()
    # has nothing to do (see schemas.conform docstring)
    assert [(f.name, f.dataType) for f in df.schema.fields] == [
        (f.name, f.dataType) for f in schema.fields
    ]


def _flatten_traces_rows(spark, payload):
    df = _flatten(spark, payload, "traces")[S.SIGNAL_TRACES]
    _assert_conformed(df, S.TRACES_SCHEMA)
    return [r.asDict() for r in df.collect()]


class TestTracesFlatten:
    def test_basic_span(self, spark):
        rows = _flatten_traces_rows(spark, _traces_payload([_span()]))
        assert len(rows) == 1
        r = rows[0]
        assert r["trace_id"] == TRACE_ID
        assert r["span_id"] == SPAN_ID
        assert r["trace_state"] is None  # empty -> NULL (traces.go:122-127)
        assert r["parent_span_id"] == PARENT_ID
        assert r["span_kind"] == "SERVER"
        assert r["span_name"] == "GET /api"
        # ns -> us truncation (traces.go:141-142)
        assert r["start_time_unix_nano"] == datetime(2024, 1, 15, 10, 30, 0, 123456)
        assert r["end_time_unix_nano"] == datetime(2024, 1, 15, 10, 30, 2, 123456)
        # duration on raw ns, pre-truncation (traces.go:218-220)
        assert r["duration"] == 2_000_000_000
        # canonical JSON: keys sorted (Go json.Marshal)
        assert r["span_attributes"] == '{"http.method":"GET","http.status_code":200}'
        assert r["resource_attributes"] == '{"env":"prod","service.name":"svc-a"}'
        assert r["service_name"] == "svc-a"
        assert r["status_code"] == "OK"
        assert r["status_message"] is None
        assert r["scope_name"] == "lib"
        assert r["scope_version"] == "1.2.3"
        assert r["scope_attributes"] == "{}"
        assert r["events_name"] == []
        assert r["links_trace_id"] == []

    def test_null_rules(self, spark):
        sp = _span(
            traceState="",
            parentSpanId="0000000000000000",  # zero -> NULL (traces.go:129-134)
            status={"code": 0, "message": ""},  # UNSET -> NULL (:320-331)
        )
        payload = _traces_payload([sp], service="", scope_name="", scope_version="")
        r = _flatten_traces_rows(spark, payload)[0]
        assert r["parent_span_id"] is None
        assert r["trace_state"] is None
        assert r["status_code"] is None
        assert r["status_message"] is None
        assert r["service_name"] is None  # empty -> NULL (traces.go:223-231)
        assert r["scope_name"] is None
        assert r["scope_version"] is None

    def test_all_span_kinds(self, spark):
        spans = [_span(spanId=f"010203040506070{i}", kind=i) for i in range(6)]
        rows = _flatten_traces_rows(spark, _traces_payload(spans))
        kinds = {r["span_id"]: r["span_kind"] for r in rows}
        assert kinds == {
            "0102030405060700": "UNSPECIFIED",
            "0102030405060701": "INTERNAL",
            "0102030405060702": "SERVER",
            "0102030405060703": "CLIENT",
            "0102030405060704": "PRODUCER",
            "0102030405060705": "CONSUMER",
        }

    def test_out_of_range_span_kind_is_unknown(self, spark):
        """spanKindToString's default branch returns 'UNKNOWN'
        (traces.go:315-317); only 0/null map to 'UNSPECIFIED'."""
        spans = [
            _span(spanId="0102030405060700", kind=99),
            _span(spanId="0102030405060701", kind=-1),
        ]
        rows = _flatten_traces_rows(spark, _traces_payload(spans))
        kinds = {r["span_id"]: r["span_kind"] for r in rows}
        assert kinds == {
            "0102030405060700": "UNKNOWN",
            "0102030405060701": "UNKNOWN",
        }

    def test_status_codes(self, spark):
        spans = [
            _span(spanId="0102030405060700", status={"code": 0}),
            _span(spanId="0102030405060701", status={"code": 1}),
            _span(spanId="0102030405060702", status={"code": 2, "message": "boom"}),
        ]
        rows = _flatten_traces_rows(spark, _traces_payload(spans))
        by_id = {r["span_id"]: r for r in rows}
        assert by_id["0102030405060700"]["status_code"] is None
        assert by_id["0102030405060701"]["status_code"] == "OK"
        assert by_id["0102030405060702"]["status_code"] == "ERROR"
        assert by_id["0102030405060702"]["status_message"] == "boom"

    def test_multi_events_links(self, spark):
        sp = _span(
            events=[
                {
                    "timeUnixNano": str(T0_NS),
                    "name": "ev1",
                    "attributes": [_attr("k", stringValue="v")],
                    "droppedAttributesCount": 1,
                },
                {"timeUnixNano": str(T0_NS + 1_000), "name": "ev2", "attributes": []},
            ],
            droppedEventsCount=2,
            links=[
                {
                    "traceId": TRACE_ID,
                    "spanId": PARENT_ID,
                    "traceState": "st=1",
                    "attributes": [],
                    "droppedAttributesCount": 0,
                    "flags": 7,
                }
            ],
            droppedLinksCount=3,
        )
        r = _flatten_traces_rows(spark, _traces_payload([sp]))[0]
        assert r["events_name"] == ["ev1", "ev2"]
        assert r["events_time_unix_nano"] == [T0, datetime(2024, 1, 15, 10, 30, 0, 1)]
        assert r["events_attributes"] == ['{"k":"v"}', "{}"]
        assert r["events_dropped_attributes_count"] == [1, 0]
        assert r["dropped_events_count"] == 2
        assert r["links_trace_id"] == [TRACE_ID]
        assert r["links_span_id"] == [PARENT_ID]
        assert r["links_trace_state"] == ["st=1"]
        assert r["links_flags"] == [7]
        assert r["dropped_links_count"] == 3

    def test_empty_batch(self, spark):
        rows = _flatten_traces_rows(spark, {"resourceSpans": []})
        assert rows == []

    def test_nested_attribute_json(self, spark):
        sp = _span(
            attributes=[
                _attr(
                    "arr",
                    arrayValue={
                        "values": [
                            {"intValue": "1"},
                            {"stringValue": "two"},
                            {"boolValue": True},
                        ]
                    },
                ),
                _attr(
                    "map",
                    kvlistValue={
                        "values": [
                            _attr("z", doubleValue=1.5),
                            _attr("a", intValue="9"),
                        ]
                    },
                ),
            ]
        )
        r = _flatten_traces_rows(spark, _traces_payload([sp]))[0]
        assert r["span_attributes"] == '{"arr":[1,"two",true],"map":{"a":9,"z":1.5}}'

    def test_depth2_attribute_value_rendered(self, spark):
        """A value nested two levels under an attribute (map-of-array-of-
        scalars) must render; in r1 the encoder ran one level shallower
        than the parse and emitted 'null' here."""
        sp = _span(
            attributes=[
                _attr(
                    "m",
                    kvlistValue={
                        "values": [
                            _attr(
                                "xs",
                                arrayValue={
                                    "values": [{"intValue": "1"}, {"intValue": "2"}]
                                },
                            )
                        ]
                    },
                )
            ]
        )
        r = _flatten_traces_rows(spark, _traces_payload([sp]))[0]
        assert r["span_attributes"] == '{"m":{"xs":[1,2]}}'

    def test_depth3_attribute_value_renders(self, spark):
        """A value THREE levels under an attribute (map-of-map-of-array)
        renders in full, as the reference's unbounded recursion does
        (traces.go:252-291). The Catalyst flatten's from_json schema
        stopped at depth 2 and rendered it '{"a":{"b":{"c":null}}}'."""
        sp = _span(
            attributes=[
                _attr(
                    "a",
                    kvlistValue={
                        "values": [
                            _attr(
                                "b",
                                kvlistValue={
                                    "values": [
                                        _attr(
                                            "c",
                                            arrayValue={
                                                "values": [{"intValue": "1"}]
                                            },
                                        )
                                    ]
                                },
                            )
                        ]
                    },
                )
            ]
        )
        r = _flatten_traces_rows(spark, _traces_payload([sp]))[0]
        assert r["span_attributes"] == '{"a":{"b":{"c":[1]}}}'

    def test_attr_depth_configurable_renders_deep_kvlist_faithfully(self, spark):
        """The default flatten renders kvlists nested 4 and 6 levels deep
        in full, with no depth setting: the reference recurses without
        bound (traces.go:252-291). The Catalyst flatten needed
        attr_depth >= the payload's depth and truncated the rest."""

        def nested(depth: int) -> dict:
            value = {"stringValue": "deep"}
            for level in range(depth, 0, -1):
                value = {"kvlistValue": {"values": [_attr(f"l{level}", **value)]}}
            return value

        spans = [
            _span(spanId="0102030405060704", attributes=[_attr("d", **nested(4))]),
            _span(spanId="0102030405060706", attributes=[_attr("d", **nested(6))]),
        ]
        rows = _flatten_traces_rows(spark, _traces_payload(spans))
        attrs = {r["span_id"]: r["span_attributes"] for r in rows}
        assert attrs == {
            "0102030405060704": '{"d":{"l1":{"l2":{"l3":{"l4":"deep"}}}}}',
            "0102030405060706": (
                '{"d":{"l1":{"l2":{"l3":{"l4":{"l5":{"l6":"deep"}}}}}}}'
            ),
        }


def _log_record(**over):
    base = {
        "timeUnixNano": str(T0_NS),
        "observedTimeUnixNano": str(T0_NS + 5_000_000_000),
        "severityNumber": 9,
        "severityText": "INFO",
        "body": {"stringValue": "hello world"},
        "attributes": [_attr("k1", stringValue="v1")],
        "droppedAttributesCount": 0,
        "flags": 1,
        "traceId": TRACE_ID,
        "spanId": SPAN_ID,
    }
    base.update(over)
    return base


def _logs_payload(records, service="svc-a"):
    return {
        "resourceLogs": [
            {
                "resource": {
                    "attributes": [_attr("service.name", stringValue=service)],
                },
                "scopeLogs": [
                    {
                        "scope": {"name": "lib", "version": "1.0.0", "attributes": []},
                        "logRecords": records,
                    }
                ],
            }
        ]
    }


def _flatten_logs_rows(spark, payload):
    df = _flatten(spark, payload, "logs")[S.SIGNAL_LOGS]
    _assert_conformed(df, S.LOGS_SCHEMA)
    return [r.asDict() for r in df.collect()]


class TestLogsFlatten:
    def test_basic(self, spark):
        r = _flatten_logs_rows(spark, _logs_payload([_log_record()]))[0]
        assert r["time_unix_nano"] == T0
        assert r["severity_number"] == 9
        assert r["severity_text"] == "INFO"
        assert r["body"] == "hello world"  # scalar passthrough (logs.go:190-211)
        assert r["log_attributes"] == '{"k1":"v1"}'
        assert r["trace_id"] == TRACE_ID
        assert r["span_id"] == SPAN_ID
        assert r["observed_time_unix_nano"] == datetime(2024, 1, 15, 10, 30, 5)
        assert r["event_name"] is None  # always NULL (logs.go:158-160)
        assert r["service_name"] == "svc-a"

    def test_null_rules(self, spark):
        rec = _log_record(
            severityText="",
            traceId="0" * 32,  # zero -> NULL (logs.go:133-146)
            spanId="0" * 16,
            observedTimeUnixNano="0",  # zero -> NULL (logs.go:148-156)
        )
        r = _flatten_logs_rows(spark, _logs_payload([rec]))[0]
        assert r["severity_text"] is None
        assert r["trace_id"] is None
        assert r["span_id"] is None
        assert r["observed_time_unix_nano"] is None

    def test_body_scalar_variants(self, spark):
        # logValueToJSON: int -> digits, double -> %f (fixed 6 decimals),
        # bool -> true/false (logs.go:190-211)
        recs = [
            _log_record(timeUnixNano=str(T0_NS + 0), body={"intValue": "42"}),
            _log_record(timeUnixNano=str(T0_NS + 1000), body={"doubleValue": 3.14}),
            _log_record(timeUnixNano=str(T0_NS + 2000), body={"boolValue": True}),
        ]
        rows = _flatten_logs_rows(spark, _logs_payload(recs))
        bodies = {r["time_unix_nano"].microsecond: r["body"] for r in rows}
        assert bodies[0] == "42"
        assert bodies[1] == "3.140000"
        assert bodies[2] == "true"

    def test_bytes_body_decoded(self, spark):
        """OTLP/JSON carries bytesValue base64-encoded; the reference
        emits the DECODED bytes as the body string (logs.go:207,
        string(v.Bytes().AsRaw())) — 'aGVsbG8=' must land as 'hello'."""
        rec = _log_record(body={"bytesValue": "aGVsbG8="})
        r = _flatten_logs_rows(spark, _logs_payload([rec]))[0]
        assert r["body"] == "hello"

    def test_complex_body_json(self, spark):
        rec = _log_record(
            body={
                "kvlistValue": {
                    "values": [
                        _attr("nested", arrayValue={"values": [{"intValue": "1"}]}),
                        _attr("a", stringValue="x"),
                    ]
                }
            }
        )
        r = _flatten_logs_rows(spark, _logs_payload([rec]))[0]
        assert r["body"] == '{"a":"x","nested":[1]}'

    def test_multi_resource(self, spark):
        payload = {
            "resourceLogs": [
                _logs_payload([_log_record()], service="svc-a")["resourceLogs"][0],
                _logs_payload([_log_record()], service="svc-b")["resourceLogs"][0],
            ]
        }
        rows = _flatten_logs_rows(spark, payload)
        assert sorted(r["service_name"] for r in rows) == ["svc-a", "svc-b"]


def _metrics_payload(metrics, service="svc-a"):
    return {
        "resourceMetrics": [
            {
                "resource": {
                    "attributes": [_attr("service.name", stringValue=service)],
                },
                "scopeMetrics": [
                    {
                        "scope": {"name": "lib", "version": "1.0.0", "attributes": []},
                        "metrics": metrics,
                    }
                ],
            }
        ]
    }


def _flatten_metric_rows(spark, payload, signal, schema):
    df = _flatten(spark, payload, "metrics")[signal]
    _assert_conformed(df, schema)
    return [r.asDict() for r in df.collect()]


GAUGE_DP = {
    "attributes": [_attr("host", stringValue="h1")],
    "startTimeUnixNano": str(T0_NS - 60_000_000_000),
    "timeUnixNano": str(T0_NS),
    "asDouble": 0.75,
}


class TestMetricsFlatten:
    def test_gauge_double(self, spark):
        payload = _metrics_payload(
            [
                {
                    "name": "cpu.util",
                    "description": "CPU",
                    "unit": "1",
                    "gauge": {"dataPoints": [GAUGE_DP]},
                }
            ]
        )
        r = _flatten_metric_rows(
            spark, payload, S.SIGNAL_METRICS_GAUGE, S.GAUGE_SCHEMA
        )[0]
        assert r["metric_name"] == "cpu.util"
        assert r["metric_unit"] == "1"
        assert r["metric_metadata"] is None  # '{}' -> NULL (metrics.go:414-420)
        assert r["as_double"] == 0.75
        assert r["as_int"] is None  # exactly-one-non-null (metrics.go:500-510)
        assert r["attributes"] == '{"host":"h1"}'
        assert r["time_unix_nano"] == T0
        assert r["start_time_unix_nano"] == datetime(2024, 1, 15, 10, 29, 0)
        # empty exemplars -> NULL lists, not empty (metrics.go:431-438)
        assert r["exemplars_time_unix_nano"] is None
        assert r["exemplars_as_double"] is None

    def test_gauge_int_and_zero_start(self, spark):
        dp = {
            "attributes": [],
            "startTimeUnixNano": "0",
            "timeUnixNano": str(T0_NS),
            "asInt": "7",
        }
        payload = _metrics_payload([{"name": "g", "gauge": {"dataPoints": [dp]}}])
        r = _flatten_metric_rows(
            spark, payload, S.SIGNAL_METRICS_GAUGE, S.GAUGE_SCHEMA
        )[0]
        assert r["as_int"] == 7
        assert r["as_double"] is None
        assert r["start_time_unix_nano"] is None  # zero -> NULL (metrics.go:396-400)
        assert r["metric_description"] is None

    def test_sum_with_exemplars(self, spark):
        dp = {
            "attributes": [],
            "timeUnixNano": str(T0_NS),
            "asDouble": 10.0,
            "exemplars": [
                {
                    "timeUnixNano": str(T0_NS),
                    "asInt": "5",
                    "traceId": TRACE_ID,
                    "spanId": SPAN_ID,
                    "filteredAttributes": [],
                },
                {"timeUnixNano": str(T0_NS), "asDouble": 2.5},
            ],
        }
        payload = _metrics_payload(
            [
                {
                    "name": "req.count",
                    "sum": {
                        "dataPoints": [dp],
                        "aggregationTemporality": 2,
                        "isMonotonic": True,
                    },
                }
            ]
        )
        r = _flatten_metric_rows(
            spark, payload, S.SIGNAL_METRICS_SUM, S.SUM_SCHEMA
        )[0]
        assert r["is_monotonic"] is True
        assert r["aggregation_temporality"] == "CUMULATIVE"
        # 0-padding INSIDE lists for the unused representation
        # (metrics.go:456-466) — asymmetric with top-level NULL rule
        assert r["exemplars_as_int"] == [5, 0]
        assert r["exemplars_as_double"] == [0.0, 2.5]
        assert r["exemplars_trace_id"] == [TRACE_ID, ""]
        assert r["exemplars_span_id"] == [SPAN_ID, ""]
        assert r["exemplars_filtered_attributes"] == ["{}", "{}"]

    def test_histogram(self, spark):
        dp = {
            "attributes": [],
            "timeUnixNano": str(T0_NS),
            "count": "100",
            "sum": 550.5,
            "min": 0.1,
            "max": 99.9,
            "bucketCounts": ["10", "40", "50"],
            "explicitBounds": [1.0, 10.0],
        }
        payload = _metrics_payload(
            [
                {
                    "name": "latency",
                    "histogram": {"dataPoints": [dp], "aggregationTemporality": 1},
                }
            ]
        )
        r = _flatten_metric_rows(
            spark, payload, S.SIGNAL_METRICS_HISTOGRAM, S.HISTOGRAM_SCHEMA
        )[0]
        assert r["count"] == 100
        assert r["sum"] == 550.5
        assert r["bucket_counts"] == [10, 40, 50]
        assert r["explicit_bounds"] == [1.0, 10.0]
        assert r["aggregation_temporality"] == "DELTA"

    def test_exponential_histogram(self, spark):
        dp = {
            "attributes": [],
            "timeUnixNano": str(T0_NS),
            "count": "7",
            "sum": 21.0,
            "scale": 2,
            "zeroCount": "1",
            "zeroThreshold": 0.001,
            "positive": {"offset": 3, "bucketCounts": ["1", "2"]},
            "negative": {"offset": -1, "bucketCounts": ["4"]},
        }
        payload = _metrics_payload(
            [
                {
                    "name": "eh",
                    "exponentialHistogram": {
                        "dataPoints": [dp],
                        "aggregationTemporality": 2,
                    },
                }
            ]
        )
        r = _flatten_metric_rows(
            spark,
            payload,
            S.SIGNAL_METRICS_EXP_HISTOGRAM,
            S.EXP_HISTOGRAM_SCHEMA,
        )[0]
        assert r["scale"] == 2
        assert r["zero_count"] == 1
        assert r["zero_threshold"] == 0.001
        assert r["positive_offset"] == 3
        assert r["positive_buckets"] == [1, 2]
        assert r["negative_offset"] == -1
        assert r["negative_buckets"] == [4]
        assert r["aggregation_temporality"] == "CUMULATIVE"

    def test_summary_dot_columns(self, spark):
        dp = {
            "attributes": [],
            "timeUnixNano": str(T0_NS),
            "count": "50",
            "sum": 123.4,
            "quantileValues": [
                {"quantile": 0.5, "value": 1.0},
                {"quantile": 0.99, "value": 9.0},
            ],
        }
        payload = _metrics_payload([{"name": "s", "summary": {"dataPoints": [dp]}}])
        r = _flatten_metric_rows(
            spark, payload, S.SIGNAL_METRICS_SUMMARY, S.SUMMARY_SCHEMA
        )[0]
        # literal-dot column names preserved (schema.go:165-167)
        assert r["quantile_values.quantile"] == [0.5, 0.99]
        assert r["quantile_values.value"] == [1.0, 9.0]
        assert r["count"] == 50

    def test_mixed_demux(self, spark):
        """One batch with all 5 types -> each lands in exactly its table
        (metrics.go:180-245 demux, D1)."""
        payload = _metrics_payload(
            [
                {"name": "g", "gauge": {"dataPoints": [GAUGE_DP]}},
                {
                    "name": "s",
                    "sum": {
                        "dataPoints": [GAUGE_DP],
                        "aggregationTemporality": 1,
                        "isMonotonic": False,
                    },
                },
                {
                    "name": "h",
                    "histogram": {
                        "dataPoints": [
                            {
                                "attributes": [],
                                "timeUnixNano": str(T0_NS),
                                "count": "1",
                                "bucketCounts": ["1"],
                                "explicitBounds": [],
                            }
                        ],
                        "aggregationTemporality": 1,
                    },
                },
            ]
        )
        dfs = _flatten(spark, payload, "metrics")
        counts = {sig: df.count() for sig, df in dfs.items()}
        assert counts == {
            S.SIGNAL_METRICS_GAUGE: 1,
            S.SIGNAL_METRICS_SUM: 1,
            S.SIGNAL_METRICS_HISTOGRAM: 1,
            S.SIGNAL_METRICS_EXP_HISTOGRAM: 0,
            S.SIGNAL_METRICS_SUMMARY: 0,
        }


class TestConform:
    def test_missing_column_raises(self, spark):
        df = spark.createDataFrame([(1,)], "x long")
        with pytest.raises(ValueError, match="missing columns"):
            S.conform(df, S.LOGS_SCHEMA)
