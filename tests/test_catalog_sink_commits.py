"""The exporter's catalog sinks end to end on both transports: every
metric table of a micro-batch commits (summary points included), and
raw-sink output written in a non-UTC partition timezone registers under
the right UTC partition values.
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
from opentelemetry_iceberg_exporter_spark.sinks.iceberg_fs import FsCatalog
from opentelemetry_iceberg_exporter_spark.sinks.iceberg_rest import (
    RestCatalogClient,
    RestTable,
)
from opentelemetry_iceberg_exporter_spark.sinks.iceberg_sink import (
    FsIcebergSink,
    RestIcebergSink,
)
from opentelemetry_iceberg_exporter_spark.streaming import (
    export_batch,
    make_batch_processor,
)
from rest_stub import make_server

from test_otlp_flatten import GAUGE_DP, T0_NS, _metrics_payload, _span, _traces_payload

METRIC_TABLES = (
    S.SIGNAL_METRICS_GAUGE,
    S.SIGNAL_METRICS_SUM,
    S.SIGNAL_METRICS_HISTOGRAM,
    S.SIGNAL_METRICS_EXP_HISTOGRAM,
    S.SIGNAL_METRICS_SUMMARY,
)
HOUR_NS = 3_600_000_000_000


def _metrics(with_summary: bool) -> dict:
    dp = {"attributes": [], "timeUnixNano": str(T0_NS), "count": "3", "sum": 6.0}
    metrics = [
        {"name": "g", "gauge": {"dataPoints": [GAUGE_DP]}},
        {
            "name": "s",
            "sum": {
                "dataPoints": [GAUGE_DP],
                "aggregationTemporality": 2,
                "isMonotonic": True,
            },
        },
        {
            "name": "h",
            "histogram": {
                "dataPoints": [{**dp, "bucketCounts": ["1", "2"], "explicitBounds": [1.0]}],
                "aggregationTemporality": 2,
            },
        },
        {
            "name": "e",
            "exponentialHistogram": {
                "dataPoints": [
                    {**dp, "scale": 1, "positive": {"offset": 0, "bucketCounts": ["3"]}}
                ],
                "aggregationTemporality": 2,
            },
        },
    ]
    if with_summary:
        quantiles = [{"quantile": 0.5, "value": 2.0}, {"quantile": 0.99, "value": 3.0}]
        metrics.append(
            {"name": "q", "summary": {"dataPoints": [{**dp, "quantileValues": quantiles}]}}
        )
    return _metrics_payload(metrics)


def _snapshot_counts(load_table, config) -> dict[str, int]:
    return {
        sig: len(
            load_table(
                S.table_name(sig, prefix=config.catalog.table_prefix)
            ).snapshots()
        )
        for sig in METRIC_TABLES
    }


@pytest.fixture()
def rest_catalog(tmp_path):
    warehouse = str(tmp_path / "rwh")
    os.makedirs(warehouse)
    server, _, uri = make_server(warehouse)
    yield uri, warehouse
    server.shutdown()


class TestMetricsBatchCommitsEveryTable:
    """A metrics micro-batch demuxes into five tables; the summary
    table's dotted columns (`quantile_values.quantile`) once failed the
    write AFTER the other four had committed."""

    def test_rest_batch_processor(self, spark, rest_catalog):
        uri, warehouse = rest_catalog
        config = ExporterConfig(
            storage=StorageConfig(bucket=warehouse),
            catalog=CatalogConfig(catalog_type="rest", uri=uri, warehouse=warehouse),
        )
        process = make_batch_processor("metrics", config)
        client = RestCatalogClient(uri, warehouse=warehouse)

        def load(name):
            return RestTable(client, config.catalog.namespace, name)

        for batch_id, with_summary in enumerate((True, False)):
            batch = spark.createDataFrame(
                [(json.dumps(_metrics(with_summary)),)], "value string"
            )
            process(batch, batch_id)
            if with_summary:
                assert _snapshot_counts(load, config) == dict.fromkeys(METRIC_TABLES, 1)
        after = _snapshot_counts(load, config)
        assert after == {**dict.fromkeys(METRIC_TABLES, 2), S.SIGNAL_METRICS_SUMMARY: 1}
        row = load("otel_metrics_summary").read(spark).first()
        assert row["quantile_values.quantile"] == [0.5, 0.99]

    def test_fs_export_batch(self, spark, tmp_path):
        config = ExporterConfig(
            storage=StorageConfig(provider="filesystem", bucket=str(tmp_path)),
            catalog=CatalogConfig(catalog_type="fs", warehouse=str(tmp_path / "wh")),
        )
        catalog = FsCatalog(config.catalog.warehouse)

        def load(name):
            return catalog.load_table(config.catalog.namespace, name)

        for i, with_summary in enumerate((True, False)):
            src = tmp_path / "in" / f"metrics{i}.jsonl"
            os.makedirs(src.parent, exist_ok=True)
            src.write_text(json.dumps(_metrics(with_summary)) + "\n")
            counts = export_batch(spark, str(src), "metrics", config)
            assert counts[S.SIGNAL_METRICS_SUMMARY] == (1 if with_summary else 0)
            if with_summary:
                assert _snapshot_counts(load, config) == dict.fromkeys(METRIC_TABLES, 1)
        after = _snapshot_counts(load, config)
        assert after == {**dict.fromkeys(METRIC_TABLES, 2), S.SIGNAL_METRICS_SUMMARY: 1}
        row = load("otel_metrics_summary").read(spark).first()
        assert row["quantile_values.value"] == [2.0, 3.0]


class TestAddFilesPartitionTimezone:
    """The raw sink writes `hour=` directories in partition.timezone
    wall time; registering them must land each file on its UTC hour,
    or a UTC-hour read prunes it away."""

    def _raw_tokyo_traces(self, spark, tmp_path) -> tuple[str, PartitionConfig]:
        partition = PartitionConfig(granularity="hourly", timezone="Asia/Tokyo")
        raw_config = ExporterConfig(
            storage=StorageConfig(provider="filesystem", bucket=str(tmp_path), prefix="raw"),
            catalog=CatalogConfig(catalog_type="none"),
            partition=partition,
        )
        late = _span(
            spanId="aaaa030405060708",
            startTimeUnixNano=str(T0_NS + HOUR_NS),
            endTimeUnixNano=str(T0_NS + HOUR_NS + 1_000_000_000),
        )
        src = tmp_path / "in" / "traces.jsonl"
        os.makedirs(src.parent, exist_ok=True)
        src.write_text(json.dumps(_traces_payload([_span(), late])) + "\n")
        export_batch(spark, str(src), "traces", raw_config)
        raw = f"{tmp_path}/raw/otel_traces/data"
        # 10:30Z and 11:30Z render as Tokyo hours 19 and 20
        assert os.path.isdir(f"{raw}/year=2024/month=01/day=15/hour=19")
        return raw, partition

    def _assert_utc_hours(self, spark, table):
        hour = T0_NS // HOUR_NS
        for h, span_id in ((hour, "0102030405060708"), (hour + 1, "aaaa030405060708")):
            got = table.read(spark, partition_range=(h, h)).collect()
            assert [r["span_id"] for r in got] == [span_id]

    def test_fs(self, spark, tmp_path):
        raw, partition = self._raw_tokyo_traces(spark, tmp_path)
        sink = FsIcebergSink(
            spark,
            ExporterConfig(
                storage=StorageConfig(provider="filesystem", bucket=str(tmp_path)),
                catalog=CatalogConfig(catalog_type="fs", warehouse=str(tmp_path / "wh")),
                partition=partition,
            ),
        )
        sink.add_files(S.SIGNAL_TRACES, raw)
        self._assert_utc_hours(spark, sink._load(S.SIGNAL_TRACES))

    def test_rest(self, spark, tmp_path, rest_catalog):
        uri, warehouse = rest_catalog
        raw, partition = self._raw_tokyo_traces(spark, tmp_path)
        sink = RestIcebergSink(
            spark,
            ExporterConfig(
                storage=StorageConfig(bucket=warehouse),
                catalog=CatalogConfig(catalog_type="rest", uri=uri, warehouse=warehouse),
                partition=partition,
            ),
        )
        sink.add_files(S.SIGNAL_TRACES, raw)
        self._assert_utc_hours(spark, sink._load(S.SIGNAL_TRACES))

    def test_day_directory_under_a_non_utc_zone_is_refused(self, spark, tmp_path):
        raw = str(tmp_path / "raw" / "year=2024" / "month=01" / "day=15")
        spark.range(1).write.parquet(raw)
        table = FsCatalog(str(tmp_path / "wh")).create_table(
            "otel",
            "daily",
            spark.range(1).selectExpr("id", "current_timestamp() AS ts").schema,
            partition_source="ts",
            granularity="daily",
        )
        with pytest.raises(ValueError, match="day=15"):
            table.add_files_hive(str(tmp_path / "raw"), timezone_name="Asia/Tokyo")


class TestTransportsEnsureIdenticalTables:
    """Both transports run the one sink's ensure: the seven tables come
    out with the same schema, partition spec, format version and
    properties, whichever catalog holds them."""

    @staticmethod
    def _shape(md: dict) -> dict:
        schema = next(
            s for s in md["schemas"] if s["schema-id"] == md["current-schema-id"]
        )
        spec = next(
            s for s in md["partition-specs"] if s["spec-id"] == md["default-spec-id"]
        )
        return {
            "schema": schema["fields"],
            "spec": spec["fields"],
            "format-version": md["format-version"],
            "properties": md["properties"],
        }

    @pytest.mark.parametrize(
        "mode",
        [{}, {"ns_timestamps": True}, {"variant_attrs": True}],
        ids=["default", "ns_timestamps", "variant_attrs"],
    )
    def test_fs_and_rest(self, spark, tmp_path, rest_catalog, mode):
        uri, warehouse = rest_catalog
        fs_sink = FsIcebergSink(
            spark,
            ExporterConfig(
                storage=StorageConfig(provider="filesystem", bucket=str(tmp_path)),
                catalog=CatalogConfig(catalog_type="fs", warehouse=str(tmp_path / "wh")),
                **mode,
            ),
        )
        rest_sink = RestIcebergSink(
            spark,
            ExporterConfig(
                storage=StorageConfig(bucket=warehouse),
                catalog=CatalogConfig(catalog_type="rest", uri=uri, warehouse=warehouse),
                **mode,
            ),
        )
        names = fs_sink.ensure_all_tables()
        assert rest_sink.ensure_all_tables() == names
        assert len(names) == 7
        for signal in S.ALL_SIGNALS:
            fs_md = fs_sink._load(signal).metadata()
            rest_md = rest_sink._load(signal).metadata()
            assert self._shape(fs_md) == self._shape(rest_md), signal
