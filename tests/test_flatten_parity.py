"""The Arrow flatten equals the Catalyst flatten it replaced.

tests/catalyst_otlp keeps the old `from_json` -> explode -> select
flatten as the oracle. Over three corpora — the payloads of
test_otlp_flatten, the protobuf requests of test_otlp_protobuf and a
perfbench-shaped batch of each signal — every one of the 7 tables must
come out with the same schema (names, types, nullability) and the same
rows in the same order, in us and ns timestamp modes, with VARIANT
attributes, under a UTC and a non-UTC session time zone, and in both
run modes: the driver flatten of the foreachBatch body and the
mapInArrow flatten of flatten_signal.
"""

from __future__ import annotations

import json
import random

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import VariantType

import catalyst_otlp
import test_otlp_protobuf as PB
from opentelemetry_iceberg_exporter_spark.config import ExporterConfig, StorageConfig
from opentelemetry_iceberg_exporter_spark.otlp.protobuf import REQUEST_DESCRIPTORS, decode_message
from opentelemetry_iceberg_exporter_spark.streaming.pipeline import (
    flatten_signal,
    make_batch_processor,
)
from perfbench import gen
from test_otlp_flatten import (
    GAUGE_DP,
    PARENT_ID,
    T0_NS,
    TRACE_ID,
    _attr,
    _log_record,
    _logs_payload,
    _metrics_payload,
    _span,
    _traces_payload,
)


def _flatten_corpus() -> dict[str, list]:
    """The payloads test_otlp_flatten flattens, at most 2 levels of
    AnyValue nesting (the oracle's from_json bound)."""
    traces = [
        _traces_payload([_span()]),
        _traces_payload(
            [
                _span(
                    traceState="",
                    parentSpanId="0000000000000000",
                    status={"code": 0, "message": ""},
                )
            ],
            service="",
            scope_name="",
            scope_version="",
        ),
        _traces_payload(
            [_span(spanId=f"010203040506070{i}", kind=i) for i in range(6)]
            + [_span(kind=99), _span(kind=-1), _span(status={"code": 2, "message": "boom"})]
        ),
        _traces_payload(
            [
                _span(
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
            ]
        ),
        {"resourceSpans": []},
        _traces_payload(
            [
                _span(
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
                                    _attr("xs", arrayValue={"values": [{"intValue": "2"}]}),
                                ]
                            },
                        ),
                        _attr("d", doubleValue=0.1),
                        _attr("e", doubleValue=12345678.5),
                        _attr("f", doubleValue=42.0),
                        _attr("q", stringValue='q"u\\o\x01te\n/é'),
                        _attr("b", bytesValue="aGVsbG8="),
                    ]
                )
            ]
        ),
    ]
    logs = [
        _logs_payload([_log_record()]),
        _logs_payload(
            [
                _log_record(
                    severityText="",
                    traceId="0" * 32,
                    spanId="0" * 16,
                    observedTimeUnixNano="0",
                )
            ]
        ),
        _logs_payload(
            [
                _log_record(body={"intValue": "42"}),
                _log_record(body={"doubleValue": 3.14}),
                _log_record(body={"doubleValue": 0.1234565}),
                _log_record(body={"boolValue": True}),
                _log_record(body={"bytesValue": "aGVsbG8="}),
                _log_record(
                    body={
                        "kvlistValue": {
                            "values": [
                                _attr("nested", arrayValue={"values": [{"intValue": "1"}]}),
                                _attr("a", stringValue="x"),
                            ]
                        }
                    }
                ),
                _log_record(body=None),
            ],
            service="svc-b",
        ),
    ]
    exemplar_dp = {
        "attributes": [],
        "timeUnixNano": str(T0_NS),
        "asDouble": 10.0,
        "exemplars": [
            {
                "timeUnixNano": str(T0_NS),
                "asInt": "5",
                "traceId": TRACE_ID,
                "spanId": PARENT_ID,
                "filteredAttributes": [_attr("k", stringValue="v")],
            },
            {"timeUnixNano": str(T0_NS), "asDouble": 2.5},
        ],
    }
    metrics = [
        _metrics_payload(
            [
                {"name": "cpu.util", "description": "CPU", "unit": "1",
                 "gauge": {"dataPoints": [GAUGE_DP]}},
                {"name": "g", "gauge": {"dataPoints": [
                    {"attributes": [], "startTimeUnixNano": "0",
                     "timeUnixNano": str(T0_NS), "asInt": "7"}]}},
                {"name": "req.count", "sum": {"dataPoints": [exemplar_dp],
                 "aggregationTemporality": 2, "isMonotonic": True}},
                {"name": "latency", "histogram": {"dataPoints": [
                    {"attributes": [], "timeUnixNano": str(T0_NS), "count": "100",
                     "sum": 550.5, "min": 0.1, "max": 99.9,
                     "bucketCounts": ["10", "40", "50"], "explicitBounds": [1.0, 10.0]}],
                 "aggregationTemporality": 1}},
                {"name": "eh", "exponentialHistogram": {"dataPoints": [
                    {"attributes": [], "timeUnixNano": str(T0_NS), "count": "7",
                     "sum": 21.0, "scale": 2, "zeroCount": "1", "zeroThreshold": 0.001,
                     "positive": {"offset": 3, "bucketCounts": ["1", "2"]},
                     "negative": {"offset": -1, "bucketCounts": ["4"]}}],
                 "aggregationTemporality": 2}},
                {"name": "s", "summary": {"dataPoints": [
                    {"attributes": [], "timeUnixNano": str(T0_NS), "count": "50",
                     "sum": 123.4, "quantileValues": [
                         {"quantile": 0.5, "value": 1.0},
                         {"quantile": 0.99, "value": 9.0}]}]}},
                {"name": "q", "summary": {"dataPoints": []}},
            ],
        ),
    ]
    dumps = lambda payloads: [json.dumps(p) for p in payloads]  # noqa: E731
    return {"traces": dumps(traces), "logs": dumps(logs), "metrics": dumps(metrics)}


def _protobuf_corpus() -> dict[str, list]:
    return {
        "traces": [PB._traces_request_pb()],
        "logs": [PB._logs_request_pb()],
        "metrics": [PB._histogram_request_pb(), PB._gauge_sum_summary_request_pb()],
    }


def _perfbench_corpus() -> dict[str, list]:
    rng = random.Random(7)
    spans, _ = gen.make_spans(rng, 64, 3)
    logs, _ = gen.make_logs(rng, 64, 3)
    # two batches of the stream between them carry all five point types
    metrics = [gen.make_metrics(rng, start, 512, 3)[0] for start in (0, 512)]
    return {
        "traces": [json.dumps({"resourceSpans": spans})],
        "logs": [json.dumps({"resourceLogs": logs})],
        "metrics": [json.dumps({"resourceMetrics": m}) for m in metrics],
    }


CORPORA = {
    "flatten": _flatten_corpus,
    "protobuf": _protobuf_corpus,
    "perfbench": _perfbench_corpus,
}
MODES = {  # (ns_timestamps, variant_attrs, session time zone)
    "us-tokyo": (False, False, "Asia/Tokyo"),
    "ns": (True, False, "UTC"),
    "variant": (False, True, "UTC"),
}


@pytest.fixture(scope="module")
def sessions(spark):
    tokyo = spark.newSession()
    tokyo.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    return {"UTC": spark, "Asia/Tokyo": tokyo}


def _rows(df) -> list[dict]:
    """Rows in order, VARIANT columns as their JSON text."""
    cols = [
        F.col(f"`{f.name}`").cast("string").alias(f.name)
        if isinstance(f.dataType, VariantType)
        else F.col(f"`{f.name}`")
        for f in df.schema.fields
    ]
    return [r.asDict(recursive=True) for r in df.select(*cols).collect()]


@pytest.mark.parametrize("mode", list(MODES))
@pytest.mark.parametrize("corpus", list(CORPORA))
def test_arrow_flatten_equals_catalyst_flatten(sessions, tmp_path, corpus, mode):
    ns, variant, tz = MODES[mode]
    spark = sessions[tz]
    config = ExporterConfig(
        storage=StorageConfig(bucket=str(tmp_path)), ns_timestamps=ns, variant_attrs=variant
    )
    rows_seen = 0
    for kind, payloads in CORPORA[corpus]().items():
        # one partition each: a payload list is one Arrow batch
        source = spark.createDataFrame(pa.table({"value": payloads}))
        # the oracle parsed OTLP/JSON only: protobuf reached it re-encoded
        lines = [
            json.dumps(decode_message(p, REQUEST_DESCRIPTORS[kind]), separators=(",", ":"))
            if isinstance(p, bytes)
            else p
            for p in payloads
        ]
        oracle = catalyst_otlp.flatten(
            spark.createDataFrame(pa.table({"value": lines})), kind, ns, variant
        )
        driver = {}
        make_batch_processor(
            kind, config, sink=lambda df, sig: driver.__setitem__(sig, df)
        )(source, 0)
        mapped = flatten_signal(source, kind, ns, variant)
        assert sorted(driver) == sorted(mapped) == sorted(oracle)
        for sig, want in oracle.items():
            rows = _rows(want)
            rows_seen += len(rows)
            for form, got in (("driver", driver[sig]), ("mapInArrow", mapped[sig])):
                assert got.schema == want.schema, (kind, sig, form)
                assert _rows(got) == rows, (kind, sig, form)
    assert rows_seen  # not vacuous
