"""Config validation matrix — reference exporter_test.go:21-203 and
fileio_test.go:9-129 table-driven style."""

from __future__ import annotations

import pytest

from opentelemetry_iceberg_exporter_spark import schemas as S
from opentelemetry_iceberg_exporter_spark.config import (
    CatalogConfig,
    ExporterConfig,
    PartitionConfig,
    StorageConfig,
)


class TestStorageConfig:
    def test_defaults_valid(self):
        StorageConfig(bucket="/tmp/wh").validate()

    @pytest.mark.parametrize("comp", ["none", "snappy", "gzip", "zstd"])
    def test_valid_compressions(self, comp):
        StorageConfig(bucket="b", compression=comp).validate()

    def test_invalid_compression(self):
        with pytest.raises(ValueError, match="compression"):
            StorageConfig(bucket="b", compression="lz4").validate()

    def test_missing_bucket(self):
        with pytest.raises(ValueError, match="bucket"):
            StorageConfig(bucket="").validate()

    def test_invalid_provider(self):
        with pytest.raises(ValueError, match="provider"):
            StorageConfig(bucket="b", provider="gcs").validate()

    def test_base_uri_filesystem(self):
        c = StorageConfig(provider="filesystem", bucket="/wh", prefix="p")
        assert c.base_uri == "/wh/p"

    def test_base_uri_s3(self):
        c = StorageConfig(provider="s3", bucket="b", prefix="p")
        assert c.base_uri == "s3a://b/p"

    def test_base_uri_no_prefix(self):
        assert StorageConfig(provider="s3", bucket="b", prefix="").base_uri == "s3a://b"


class TestCatalogConfig:
    def test_rest_requires_uri(self):
        with pytest.raises(ValueError, match="uri"):
            CatalogConfig(catalog_type="rest", uri="").validate()

    def test_none_needs_no_uri(self):
        CatalogConfig(catalog_type="none").validate()

    def test_invalid_type(self):
        with pytest.raises(ValueError, match="catalog type"):
            CatalogConfig(catalog_type="hive").validate()

    def test_write_fanout_bounds(self):
        CatalogConfig(catalog_type="none", write_fanout=None).validate()
        CatalogConfig(catalog_type="none", write_fanout=8).validate()
        with pytest.raises(ValueError, match="write_fanout"):
            CatalogConfig(catalog_type="none", write_fanout=1).validate()


class TestPartitionConfig:
    @pytest.mark.parametrize("g", ["hourly", "daily", "monthly"])
    def test_valid_granularities(self, g):
        PartitionConfig(granularity=g).validate()

    def test_invalid_granularity(self):
        with pytest.raises(ValueError, match="granularity"):
            PartitionConfig(granularity="weekly").validate()


class TestTableNaming:
    """D2 (catalog.go:167-222): prefix + suffix defaulting and overrides."""

    def test_defaults(self):
        assert S.table_name(S.SIGNAL_TRACES) == "otel_traces"
        assert (
            S.table_name(S.SIGNAL_METRICS_EXP_HISTOGRAM)
            == "otel_metrics_exponential_histogram"
        )

    def test_custom_prefix(self):
        assert S.table_name(S.SIGNAL_LOGS, prefix="prod") == "prod_logs"

    def test_override_wins(self):
        assert (
            S.table_name(S.SIGNAL_TRACES, overrides={S.SIGNAL_TRACES: "spans"})
            == "spans"
        )

    def test_empty_override_falls_back(self):
        assert (
            S.table_name(S.SIGNAL_TRACES, overrides={S.SIGNAL_TRACES: ""})
            == "otel_traces"
        )

    def test_unknown_signal_raises(self):
        with pytest.raises(ValueError, match="unknown signal"):
            S.table_name("profiles")


class TestPartitionColumns:
    """D3 (writer.go:299-311, repartitioner.go:135-147)."""

    def test_by_signal(self):
        assert S.partition_column(S.SIGNAL_TRACES) == "start_time_unix_nano"
        assert S.partition_column(S.SIGNAL_LOGS) == "time_unix_nano"
        assert S.partition_column(S.SIGNAL_METRICS_SUMMARY) == "time_unix_nano"

    def test_by_table_name(self):
        assert S.partition_column_for_table("otel_traces") == "start_time_unix_nano"
        assert S.partition_column_for_table("otel_logs") == "time_unix_nano"
        assert S.partition_column_for_table("custom_traces_v2") == "start_time_unix_nano"


class TestExporterConfig:
    def test_full_valid(self):
        ExporterConfig(
            storage=StorageConfig(bucket="/wh"),
            catalog=CatalogConfig(catalog_type="none"),
            partition=PartitionConfig(),
        ).validate()

    def test_invalid_verbosity(self):
        cfg = ExporterConfig(storage=StorageConfig(bucket="/wh"))
        cfg.verbosity = "debug"
        with pytest.raises(ValueError, match="verbosity"):
            cfg.validate()
