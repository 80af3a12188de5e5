"""Protobuf ingestion path: serialized Export*ServiceRequest payloads
(a binary `value` column) must flow through the SAME flatten as the JSON
path, decoded in its own pass, producing identical rows
(exporter.go:101-200 parity beyond OTLP/JSON).

The test encodes fixtures with a minimal wire-format writer (varint /
fixed64 / length-delimited — public protobuf spec) and compares the
protobuf-path flatten output against the JSON-path flatten output of the
equivalent OTLP/JSON payload; the JSON path itself is pinned by the o01/
o02/o03 oracles, so agreement here certifies the decoder end-to-end.
"""

from __future__ import annotations

import json
import struct

import pytest

from opentelemetry_iceberg_exporter_spark.otlp.protobuf import (
    decode_message,
    TRACES_REQUEST,
)
from opentelemetry_iceberg_exporter_spark.streaming.pipeline import flatten_signal

from test_otlp_flatten import T0_NS, TRACE_ID, SPAN_ID, PARENT_ID

# --- minimal wire-format writer --------------------------------------------


def _varint(v: int) -> bytes:
    if v < 0:  # int64 negatives go on the wire as 10-byte two's complement
        v &= (1 << 64) - 1
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _tag(fno: int, wt: int) -> bytes:
    return _varint((fno << 3) | wt)


def f_varint(fno: int, v: int) -> bytes:
    return _tag(fno, 0) + _varint(v)


def f_bool(fno: int, v: bool) -> bytes:
    return f_varint(fno, 1 if v else 0)


def f_sint32(fno: int, v: int) -> bytes:  # zigzag
    return f_varint(fno, ((v << 1) ^ (v >> 31)) & 0xFFFFFFFF)


def f_fixed64(fno: int, v: int) -> bytes:
    return _tag(fno, 1) + struct.pack("<Q", v)


def f_sfixed64(fno: int, v: int) -> bytes:
    return _tag(fno, 1) + struct.pack("<q", v)


def f_double(fno: int, v: float) -> bytes:
    return _tag(fno, 1) + struct.pack("<d", v)


def f_fixed32(fno: int, v: int) -> bytes:
    return _tag(fno, 5) + struct.pack("<I", v)


def f_len(fno: int, payload: bytes) -> bytes:
    return _tag(fno, 2) + _varint(len(payload)) + payload


def f_str(fno: int, s: str) -> bytes:
    return f_len(fno, s.encode("utf-8"))


def f_packed(fno: int, chunks: list[bytes]) -> bytes:
    return f_len(fno, b"".join(chunks))


# --- OTLP message builders --------------------------------------------------


def kv_str(key: str, val: str) -> bytes:
    return f_str(1, key) + f_len(2, f_str(1, val))


def kv_int(key: str, val: int) -> bytes:
    return f_str(1, key) + f_len(2, f_varint(3, val))


def _resource(service: str) -> bytes:
    return f_len(1, kv_str("service.name", service)) + f_len(1, kv_str("env", "prod"))


def _scope(name: str, version: str) -> bytes:
    return f_str(1, name) + f_str(2, version)


def _span_pb() -> bytes:
    return b"".join(
        [
            f_len(1, bytes.fromhex(TRACE_ID)),
            f_len(2, bytes.fromhex(SPAN_ID)),
            f_len(4, bytes.fromhex(PARENT_ID)),
            f_str(5, "GET /api"),
            f_varint(6, 2),  # SERVER
            f_fixed64(7, T0_NS + 123_456_789),
            f_fixed64(8, T0_NS + 2_123_456_789),
            f_len(9, kv_int("http.status_code", 200)),
            f_len(9, kv_str("http.method", "GET")),
            f_len(
                11,  # event
                f_fixed64(1, T0_NS) + f_str(2, "ev1") + f_len(3, kv_str("k", "v")),
            ),
            f_len(
                13,  # link
                f_len(1, bytes.fromhex(TRACE_ID))
                + f_len(2, bytes.fromhex(PARENT_ID))
                + f_str(3, "st=1")
                + f_fixed32(6, 7),
            ),
            f_len(15, f_varint(3, 1)),  # status OK (empty message elided, proto3)
            f_fixed32(16, 1),  # span flags
        ]
    )


def _traces_request_pb() -> bytes:
    scope_spans = f_len(1, _scope("lib", "1.2.3")) + f_len(2, _span_pb())
    resource_spans = f_len(1, _resource("svc-a")) + f_len(2, scope_spans)
    return f_len(1, resource_spans)


def _logs_request_pb() -> bytes:
    body = f_len(5, f_str(1, "hello world"))
    rec = (
        f_fixed64(1, T0_NS)
        + f_varint(2, 9)
        + f_str(3, "INFO")
        + body
        + f_len(6, kv_str("k1", "v1"))
        + f_len(9, bytes.fromhex(TRACE_ID))
        + f_len(10, bytes.fromhex(SPAN_ID))
    )
    scope_logs = f_len(1, _scope("lib", "1.0.0")) + f_len(2, rec)
    return f_len(1, f_len(1, _resource("svc-a")) + f_len(2, scope_logs))


def _metrics_request_pb(metrics: bytes) -> bytes:
    scope_metrics = f_len(1, _scope("lib", "1.0.0")) + metrics
    return f_len(1, f_len(1, _resource("svc-a")) + f_len(2, scope_metrics))


def _histogram_request_pb() -> bytes:
    hist_dp = (
        f_fixed64(3, T0_NS)
        + f_fixed64(4, 100)
        + f_double(5, 550.5)
        + f_packed(6, [struct.pack("<Q", v) for v in (10, 40, 50)])
        + f_packed(7, [struct.pack("<d", v) for v in (1.0, 10.0)])
        + f_double(11, 0.1)
        + f_double(12, 99.9)
    )
    hist = f_len(9, f_len(1, hist_dp) + f_varint(2, 1))  # DELTA
    exp_dp = (
        f_fixed64(3, T0_NS)
        + f_fixed64(4, 7)
        + f_double(5, 21.0)
        + f_sint32(6, 2)
        + f_fixed64(7, 1)
        + f_len(8, f_sint32(1, 3) + f_packed(2, [_varint(1), _varint(2)]))
        + f_len(9, f_sint32(1, -1) + f_packed(2, [_varint(4)]))
        + f_double(14, 0.001)
    )
    exp = f_len(10, f_len(1, exp_dp) + f_varint(2, 2))  # CUMULATIVE
    return _metrics_request_pb(
        f_len(2, f_str(1, "latency") + hist) + f_len(2, f_str(1, "eh") + exp)
    )


def _gauge_sum_summary_request_pb() -> bytes:
    gauge_dp = f_fixed64(3, T0_NS) + f_double(4, 0.75) + f_fixed64(2, T0_NS - 60_000_000_000)
    gauge = f_len(5, f_len(1, gauge_dp))
    sum_dp = f_fixed64(3, T0_NS) + f_sfixed64(6, 100)
    sum_m = f_len(7, f_len(1, sum_dp) + f_varint(2, 2) + f_bool(3, True))
    summ_dp = (
        f_fixed64(3, T0_NS)
        + f_fixed64(4, 50)
        + f_double(5, 123.4)
        + f_len(6, f_double(1, 0.5) + f_double(2, 1.0))
        + f_len(6, f_double(1, 0.99) + f_double(2, 9.0))
    )
    summ = f_len(11, f_len(1, summ_dp))
    return _metrics_request_pb(
        f_len(2, f_str(1, "cpu.util") + f_str(3, "1") + gauge)
        + f_len(2, f_str(1, "req.count") + sum_m)
        + f_len(2, f_str(1, "rpc") + summ)
    )


def _traces_request_json() -> dict:
    # the OTLP/JSON equivalent of _traces_request_pb
    return {
        "resourceSpans": [
            {
                "resource": {
                    "attributes": [
                        {"key": "service.name", "value": {"stringValue": "svc-a"}},
                        {"key": "env", "value": {"stringValue": "prod"}},
                    ]
                },
                "scopeSpans": [
                    {
                        "scope": {"name": "lib", "version": "1.2.3"},
                        "spans": [
                            {
                                "traceId": TRACE_ID,
                                "spanId": SPAN_ID,
                                "parentSpanId": PARENT_ID,
                                "name": "GET /api",
                                "kind": 2,
                                "startTimeUnixNano": str(T0_NS + 123_456_789),
                                "endTimeUnixNano": str(T0_NS + 2_123_456_789),
                                "attributes": [
                                    {
                                        "key": "http.status_code",
                                        "value": {"intValue": "200"},
                                    },
                                    {
                                        "key": "http.method",
                                        "value": {"stringValue": "GET"},
                                    },
                                ],
                                "events": [
                                    {
                                        "timeUnixNano": str(T0_NS),
                                        "name": "ev1",
                                        "attributes": [
                                            {
                                                "key": "k",
                                                "value": {"stringValue": "v"},
                                            }
                                        ],
                                    }
                                ],
                                "links": [
                                    {
                                        "traceId": TRACE_ID,
                                        "spanId": PARENT_ID,
                                        "traceState": "st=1",
                                        "flags": 7,
                                    }
                                ],
                                "status": {"message": "", "code": 1},
                                "flags": 1,
                            }
                        ],
                    }
                ],
            }
        ]
    }


class TestDecoder:
    def test_decode_roundtrip_matches_json_dict(self):
        decoded = decode_message(_traces_request_pb(), TRACES_REQUEST)
        expected = _traces_request_json()
        # proto3 never serializes defaults: the empty status message is
        # absent on the wire — align the expectation
        expected["resourceSpans"][0]["scopeSpans"][0]["spans"][0]["status"].pop(
            "message"
        )
        assert decoded == expected

    def test_negative_int64_attribute(self):
        pb = f_len(1, f_len(2, f_len(2, kv_int("n", -5))))
        # field path: resourceSpans[0].scopeSpans... too deep; decode the
        # KeyValue directly instead
        kv = decode_message(kv_int("n", (1 << 64) - 5), {1: ("key", "string", False), 2: ("value", {3: ("intValue", "int64_str", False)}, False)})
        assert kv == {"key": "n", "value": {"intValue": "-5"}}
        assert pb  # silence unused warning


class TestProtobufExport:
    def test_export_batch_protobuf_to_partitioned_parquet(self, spark, tmp_path):
        """End-to-end: serialized ExportTraceServiceRequest file ->
        export_batch(wire_format='protobuf') -> Hive-partitioned raw
        parquet — the reference's actual ingestion wire format through
        the whole pipeline."""
        import os

        from opentelemetry_iceberg_exporter_spark import schemas as S
        from opentelemetry_iceberg_exporter_spark.sinks import read_raw_table
        from opentelemetry_iceberg_exporter_spark.streaming import export_batch
        from test_sinks_pipeline import _config

        cfg = _config(tmp_path)
        src = tmp_path / "in" / "traces.pb"
        os.makedirs(src.parent, exist_ok=True)
        src.write_bytes(_traces_request_pb())

        counts = export_batch(
            spark, str(src), "traces", cfg, wire_format="protobuf"
        )
        assert counts == {S.SIGNAL_TRACES: 1}
        rows = read_raw_table(spark, cfg, S.SIGNAL_TRACES).collect()
        assert len(rows) == 1
        assert rows[0]["trace_id"] == TRACE_ID
        assert rows[0]["span_kind"] == "SERVER"

    def test_streaming_protobuf_source(self, spark, tmp_path):
        """The streaming entry point accepts protobuf files via the
        binaryFile source (availableNow -> one micro-batch)."""
        import os

        from opentelemetry_iceberg_exporter_spark import schemas as S
        from opentelemetry_iceberg_exporter_spark.sinks import read_raw_table
        from opentelemetry_iceberg_exporter_spark.streaming import (
            start_export_stream,
        )
        from test_sinks_pipeline import _config

        cfg = _config(tmp_path)
        in_dir = tmp_path / "in_pb"
        os.makedirs(in_dir, exist_ok=True)
        (in_dir / "req1.pb").write_bytes(_traces_request_pb())

        q = start_export_stream(
            spark,
            str(in_dir),
            "traces",
            cfg,
            checkpoint_dir=str(tmp_path / "ckpt"),
            trigger_once=True,
            wire_format="protobuf",
        )
        q.awaitTermination()
        rows = read_raw_table(spark, cfg, S.SIGNAL_TRACES).collect()
        assert len(rows) == 1
        assert rows[0]["span_id"] == SPAN_ID


class TestProtobufPipeline:
    def test_traces_protobuf_equals_json_path(self, spark):
        pb_df = spark.createDataFrame([(_traces_request_pb(),)], "value binary")
        json_df = spark.createDataFrame(
            [(json.dumps(_traces_request_json()),)], "value string"
        )
        via_pb = flatten_signal(pb_df, "traces")["traces"].collect()
        via_json = flatten_signal(json_df, "traces")["traces"].collect()
        assert via_pb == via_json
        assert via_pb[0]["span_kind"] == "SERVER"
        assert via_pb[0]["duration"] == 2_000_000_000

    def test_logs_protobuf_equals_json_path(self, spark):
        pb_df = spark.createDataFrame([(_logs_request_pb(),)], "value binary")
        json_payload = {
            "resourceLogs": [
                {
                    "resource": {
                        "attributes": [
                            {"key": "service.name", "value": {"stringValue": "svc-a"}},
                            {"key": "env", "value": {"stringValue": "prod"}},
                        ]
                    },
                    "scopeLogs": [
                        {
                            "scope": {"name": "lib", "version": "1.0.0"},
                            "logRecords": [
                                {
                                    "timeUnixNano": str(T0_NS),
                                    "severityNumber": 9,
                                    "severityText": "INFO",
                                    "body": {"stringValue": "hello world"},
                                    "attributes": [
                                        {"key": "k1", "value": {"stringValue": "v1"}}
                                    ],
                                    "traceId": TRACE_ID,
                                    "spanId": SPAN_ID,
                                }
                            ],
                        }
                    ],
                }
            ]
        }
        json_df = spark.createDataFrame([(json.dumps(json_payload),)], "value string")
        via_pb = flatten_signal(pb_df, "logs")["logs"].collect()
        via_json = flatten_signal(json_df, "logs")["logs"].collect()
        assert via_pb == via_json
        assert via_pb[0]["body"] == "hello world"

    def test_metrics_protobuf_histogram_and_exp(self, spark):
        pb_df = spark.createDataFrame([(_histogram_request_pb(),)], "value binary")
        dfs = flatten_signal(pb_df, "metrics")
        h = dfs["metrics_histogram"].collect()
        assert len(h) == 1
        assert h[0]["count"] == 100
        assert h[0]["bucket_counts"] == [10, 40, 50]
        assert h[0]["explicit_bounds"] == [1.0, 10.0]
        assert h[0]["aggregation_temporality"] == "DELTA"
        assert h[0]["min"] == 0.1 and h[0]["max"] == 99.9
        e = dfs["metrics_exponential_histogram"].collect()
        assert len(e) == 1
        assert e[0]["scale"] == 2
        assert e[0]["zero_count"] == 1
        assert e[0]["positive_offset"] == 3
        assert e[0]["positive_buckets"] == [1, 2]
        assert e[0]["negative_offset"] == -1
        assert e[0]["negative_buckets"] == [4]
        assert e[0]["aggregation_temporality"] == "CUMULATIVE"
        assert e[0]["zero_threshold"] == pytest.approx(0.001)

    def test_metrics_protobuf_gauge_sum_summary(self, spark):
        pb_df = spark.createDataFrame([(_gauge_sum_summary_request_pb(),)], "value binary")
        dfs = flatten_signal(pb_df, "metrics")
        g = dfs["metrics_gauge"].collect()
        assert len(g) == 1 and g[0]["as_double"] == 0.75 and g[0]["as_int"] is None
        assert g[0]["metric_unit"] == "1"
        s = dfs["metrics_sum"].collect()
        assert len(s) == 1
        assert s[0]["as_int"] == 100 and s[0]["as_double"] is None
        assert s[0]["is_monotonic"] is True
        assert s[0]["aggregation_temporality"] == "CUMULATIVE"
        su = dfs["metrics_summary"].collect()
        assert len(su) == 1
        assert su[0]["count"] == 50
        assert su[0]["`quantile_values.quantile`".strip("`")] == [0.5, 0.99]
        assert su[0]["quantile_values.value"] == [1.0, 9.0]
