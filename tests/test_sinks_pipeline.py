"""Sink + streaming-pipeline tests: Hive-partitioned raw-Parquet writes,
the foreachBatch exporter body, error classification, and Iceberg DDL
generation.

Mirrors the reference's component tests (exporter_test.go:332-499,
writer_test.go:86-150: start -> consume -> shutdown against real
local-FS storage with catalog=none) and the error-classifier matrix
(errors_test.go:74-174).
"""

from __future__ import annotations

import json
import os

import pytest

from opentelemetry_iceberg_exporter_spark import schemas as S
from opentelemetry_iceberg_exporter_spark.config import (
    CatalogConfig,
    ExporterConfig,
    PartitionConfig,
    StorageConfig,
)
from opentelemetry_iceberg_exporter_spark.sinks import (
    PERMANENT,
    TRANSIENT,
    classify_error,
    is_cross_partition_error,
    read_raw_table,
)
from opentelemetry_iceberg_exporter_spark.streaming import (
    export_batch,
    make_batch_processor,
    start_export_stream,
)

from test_otlp_flatten import T0_NS, _logs_payload, _log_record, _span, _traces_payload


def _config(tmp_path, granularity="hourly", timezone="UTC") -> ExporterConfig:
    return ExporterConfig(
        storage=StorageConfig(provider="filesystem", bucket=str(tmp_path), prefix="otel-exp"),
        catalog=CatalogConfig(catalog_type="none"),
        partition=PartitionConfig(granularity=granularity, timezone=timezone),
    )


def _write_jsonl(path, payloads):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for p in payloads:
            f.write(json.dumps(p) + "\n")


class TestRawParquetSink:
    def test_hive_layout_and_roundtrip(self, spark, tmp_path):
        cfg = _config(tmp_path)
        src = tmp_path / "in" / "traces.jsonl"
        # two spans in different hours -> two partition dirs (R1 analog)
        late = _span(
            spanId="aaaa030405060708",
            startTimeUnixNano=str(T0_NS + 3_600_000_000_000),
            endTimeUnixNano=str(T0_NS + 3_601_000_000_000),
        )
        _write_jsonl(str(src), [_traces_payload([_span(), late])])

        counts = export_batch(spark, str(src), "traces", cfg)
        assert counts == {S.SIGNAL_TRACES: 2}

        data_dir = f"{tmp_path}/otel-exp/otel_traces/data"
        hours = sorted(
            d
            for root, dirs, _ in os.walk(data_dir)
            for d in dirs
            if d.startswith("hour=")
        )
        assert hours == ["hour=10", "hour=11"]
        assert os.path.isdir(f"{data_dir}/year=2024/month=01/day=15/hour=10")

        back = read_raw_table(spark, cfg, S.SIGNAL_TRACES)
        assert back.count() == 2
        # partition pruning: filter on the partition column reads one dir
        pruned = back.filter("hour = '11'")
        assert pruned.count() == 1
        assert [r["span_id"] for r in pruned.collect()] == ["aaaa030405060708"]

    def test_granularity_daily(self, spark, tmp_path):
        cfg = _config(tmp_path, granularity="daily")
        src = tmp_path / "in" / "logs.jsonl"
        _write_jsonl(str(src), [_logs_payload([_log_record()])])
        export_batch(spark, str(src), "logs", cfg)
        data_dir = f"{tmp_path}/otel-exp/otel_logs/data"
        assert os.path.isdir(f"{data_dir}/year=2024/month=01/day=15")
        # no hour level at daily granularity (partition.go:169-180)
        assert not any(
            d.startswith("hour=")
            for _, dirs, _ in os.walk(data_dir)
            for d in dirs
        )

    def test_timezone_applied(self, spark, tmp_path):
        # JST = UTC+9: 2024-01-15T10:30Z -> 19:30 local (partition_test.go JST case)
        cfg = _config(tmp_path, timezone="Asia/Tokyo")
        src = tmp_path / "in" / "logs.jsonl"
        _write_jsonl(str(src), [_logs_payload([_log_record()])])
        export_batch(spark, str(src), "logs", cfg)
        assert os.path.isdir(
            f"{tmp_path}/otel-exp/otel_logs/data/year=2024/month=01/day=15/hour=19"
        )

    def test_metrics_demux_writes_tables(self, spark, tmp_path):
        cfg = _config(tmp_path)
        src = tmp_path / "in" / "metrics.jsonl"
        payload = {
            "resourceMetrics": [
                {
                    "resource": {"attributes": []},
                    "scopeMetrics": [
                        {
                            "scope": {"name": "lib"},
                            "metrics": [
                                {
                                    "name": "g",
                                    "gauge": {
                                        "dataPoints": [
                                            {
                                                "attributes": [],
                                                "timeUnixNano": str(T0_NS),
                                                "asDouble": 1.0,
                                            }
                                        ]
                                    },
                                },
                                {
                                    "name": "s",
                                    "sum": {
                                        "dataPoints": [
                                            {
                                                "attributes": [],
                                                "timeUnixNano": str(T0_NS),
                                                "asInt": "2",
                                            }
                                        ],
                                        "aggregationTemporality": 1,
                                        "isMonotonic": True,
                                    },
                                },
                            ],
                        }
                    ],
                }
            ]
        }
        _write_jsonl(str(src), [payload])
        counts = export_batch(spark, str(src), "metrics", cfg)
        assert counts[S.SIGNAL_METRICS_GAUGE] == 1
        assert counts[S.SIGNAL_METRICS_SUM] == 1
        assert counts[S.SIGNAL_METRICS_HISTOGRAM] == 0
        # only non-empty types materialize tables (D1, metrics.go:180-245)
        assert os.path.isdir(f"{tmp_path}/otel-exp/otel_metrics_gauge/data")
        assert os.path.isdir(f"{tmp_path}/otel-exp/otel_metrics_sum/data")
        assert not os.path.isdir(f"{tmp_path}/otel-exp/otel_metrics_histogram/data")

    def test_null_timestamp_rows_dropped(self, spark, tmp_path):
        """F4 (partition.go:87-90): NULL partition ts -> row dropped."""
        cfg = _config(tmp_path)
        src = tmp_path / "in" / "logs.jsonl"
        rec_null = _log_record(timeUnixNano=None)
        _write_jsonl(str(src), [_logs_payload([_log_record(), rec_null])])
        export_batch(spark, str(src), "logs", cfg)
        assert read_raw_table(spark, cfg, S.SIGNAL_LOGS).count() == 1


class TestStreamingPipeline:
    def test_stream_then_restart_no_duplicates(self, spark, tmp_path):
        """Checkpointed availableNow stream: re-running after new files
        processes only the new ones (X3: persistent-queue analog)."""
        cfg = _config(tmp_path)
        src_dir = tmp_path / "stream-in"
        ckpt = str(tmp_path / "ckpt")
        _write_jsonl(str(src_dir / "b1.jsonl"), [_traces_payload([_span()])])

        q = start_export_stream(
            spark, str(src_dir), "traces", cfg, ckpt, trigger_once=True
        )
        q.awaitTermination(120)
        assert read_raw_table(spark, cfg, S.SIGNAL_TRACES).count() == 1

        _write_jsonl(
            str(src_dir / "b2.jsonl"),
            [_traces_payload([_span(spanId="bbbb030405060708")])],
        )
        q2 = start_export_stream(
            spark, str(src_dir), "traces", cfg, ckpt, trigger_once=True
        )
        q2.awaitTermination(120)
        back = read_raw_table(spark, cfg, S.SIGNAL_TRACES)
        assert back.count() == 2  # b1 not reprocessed
        assert back.select("span_id").distinct().count() == 2

    def test_permanent_error_dead_letters(self, spark, tmp_path):
        cfg = _config(tmp_path)
        seen: list[str] = []

        def bad_sink(df, signal):
            raise RuntimeError("403 Forbidden: access denied to bucket")

        def dead_letter(df, signal):
            seen.append(signal)

        proc = make_batch_processor("traces", cfg, sink=bad_sink, dead_letter=dead_letter)
        batch = spark.createDataFrame(
            [(json.dumps(_traces_payload([_span()])),)], "value string"
        )
        proc(batch, 0)  # must NOT raise (X2 permanent -> swallow + DL)
        assert seen == [S.SIGNAL_TRACES]

    def test_transient_error_propagates(self, spark, tmp_path):
        cfg = _config(tmp_path)

        def flaky_sink(df, signal):
            raise RuntimeError("connection reset by peer")

        proc = make_batch_processor("traces", cfg, sink=flaky_sink)
        batch = spark.createDataFrame(
            [(json.dumps(_traces_payload([_span()])),)], "value string"
        )
        with pytest.raises(RuntimeError, match="connection reset"):
            proc(batch, 0)  # transient -> re-raise for micro-batch retry


class TestErrorClassifier:
    """errors_test.go:74-174 matrix."""

    @pytest.mark.parametrize(
        "msg",
        [
            "AccessDenied: not allowed",
            "401 Unauthorized",
            "validation failed: bad field",
            "namespace already exists",
            "NoSuchBucket: gone",
        ],
    )
    def test_permanent(self, msg):
        assert classify_error(msg) == PERMANENT

    @pytest.mark.parametrize(
        "msg",
        [
            "dial tcp: i/o timeout",
            "connection refused",
            "503 Service Unavailable",
            "something entirely novel",  # unknown -> transient
            "CommitFailedException: concurrent update",  # retryable commit race
            "access denied page timed out",  # transient marker wins
        ],
    )
    def test_transient(self, msg):
        assert classify_error(msg) == TRANSIENT

    def test_cross_partition_detector(self):
        assert is_cross_partition_error(
            "Cannot add file: more than one value for partition field ts_hour"
        )
        assert not is_cross_partition_error("some other failure")
