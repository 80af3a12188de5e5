"""Manifest-merge defaults on exporter DDL + the streaming-cadence
boundedness proof.

The exporter commits ONE snapshot per micro-batch (writer.go:161-297:
one commit per 512-record batch), so without commit-time manifest
merging the manifest list grows linearly with commit count and scan
planning degrades to O(commits). The sink DDL now pins the
`commit.manifest*` properties EXPLICITLY on every OTLP table (so other
engines appending to the same tables apply the same policy), and this
suite executes the actual claim: ~100+ micro-batch commits keep the
manifest count bounded at min-count + a few graduated generations, on
BOTH catalog transports, with totals and reads staying exact."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from opentelemetry_iceberg_exporter_spark.sinks.avro_ocf import read_ocf
from opentelemetry_iceberg_exporter_spark.sinks.iceberg_fs import (
    DataFile,
    FsCatalog,
)
from opentelemetry_iceberg_exporter_spark.sinks.iceberg_sink import TABLE_PROPERTIES

N_COMMITS = 120
MIN_COUNT = int(TABLE_PROPERTIES["commit.manifest.min-count-to-merge"])


def _schema(spark):
    return (
        spark.range(1)
        .select(
            F.col("id"),
            F.lit("2024-03-01 00:00:00").cast("timestamp").alias("ts"),
        )
        .schema
    )


def _commit_stream(t) -> None:
    """N_COMMITS metadata-only micro-batch appends (fabricated file
    entries: write_snapshot_tree tolerates missing footers with empty
    bounds, so the loop measures pure manifest/commit mechanics, the
    thing the cadence claim is about)."""
    spec_name = t.partition_spec()[0]["name"]
    location = t.metadata()["location"]
    for i in range(N_COMMITS):
        t.append_files(
            [
                DataFile(
                    file_path=os.path.join(
                        location, "data", f"batch-{i}.parquet"
                    ),
                    file_size_in_bytes=1000 + i,
                    record_count=10,
                    partition={spec_name: 473000 + i},
                )
            ]
        )


def _assert_bounded(t) -> None:
    snap = t.current_snapshot()
    manifests = read_ocf(snap["manifest-list"])[2]
    # bounded: min-count smalls of the current generation + merged
    # generations — NOT O(commits). With min-count=100 and 120 commits
    # the first merge fired at commit ~100 and ~20 fresh manifests have
    # accumulated since; without merging there would be 120.
    assert len(manifests) < N_COMMITS / 2
    assert len(manifests) <= MIN_COUNT // 2 + 5
    # a merge actually happened: some carried manifest holds EXISTING
    # entries rewritten under a later snapshot
    assert any(m["existing_files_count"] > 0 for m in manifests)
    # metadata totals stayed exact through the merges
    assert t.count_rows() == N_COMMITS * 10
    # and every committed file is still reachable exactly once
    paths = []
    for m in manifests:
        for e in read_ocf(m["manifest_path"])[2]:
            if e["status"] != 2:  # not DELETED
                paths.append(e["data_file"]["file_path"])
    assert len(paths) == N_COMMITS
    assert len(set(paths)) == N_COMMITS


class TestExporterDdlDefaults:
    def test_table_properties_pin_manifest_merging(self):
        assert TABLE_PROPERTIES["commit.manifest-merge.enabled"] == "true"
        assert int(TABLE_PROPERTIES["commit.manifest.min-count-to-merge"]) >= 2
        assert int(TABLE_PROPERTIES["commit.manifest.target-size-bytes"]) > 0

    def test_fs_sink_table_props_include_merging(self, spark, tmp_path):
        from opentelemetry_iceberg_exporter_spark.config import (
            CatalogConfig,
            ExporterConfig,
            StorageConfig,
        )
        from opentelemetry_iceberg_exporter_spark.sinks.iceberg_sink import (
            FsIcebergSink,
        )

        config = ExporterConfig(
            storage=StorageConfig(bucket=str(tmp_path / "b")),
            catalog=CatalogConfig(warehouse=str(tmp_path / "wh")),
        )
        sink = FsIcebergSink(spark, config)
        ensured = sink.ensure_all_tables()
        assert len(ensured) == 7
        t = sink.catalog.load_table(config.catalog.namespace, ensured[0])
        props = t.metadata().get("properties", {})
        assert props["commit.manifest-merge.enabled"] == "true"
        assert props["commit.manifest.min-count-to-merge"] == "100"


class TestStreamingCadenceBounded:
    def test_fs_120_commits_bounded(self, spark, tmp_path):
        cat = FsCatalog(str(tmp_path / "wh"))
        t = cat.create_table(
            "otel",
            "ev",
            _schema(spark),
            partition_source="ts",
            granularity="hourly",
            properties=dict(TABLE_PROPERTIES),
        )
        _commit_stream(t)
        _assert_bounded(t)

    def test_rest_120_commits_bounded(self, spark, tmp_path):
        import sys

        sys.path.insert(0, os.path.dirname(__file__))
        from rest_stub import make_server

        from opentelemetry_iceberg_exporter_spark.sinks.iceberg_rest import (
            RestCatalogClient,
        )

        warehouse = str(tmp_path / "warehouse")
        os.makedirs(warehouse)
        server, _, uri = make_server(warehouse)
        try:
            client = RestCatalogClient(uri, warehouse=warehouse)
            client.ensure_namespace("otel")
            t = client.ensure_table(
                "otel",
                "ev",
                _schema(spark),
                partition_source="ts",
                granularity="hourly",
                properties=dict(TABLE_PROPERTIES),
            )
            _commit_stream(t)
            _assert_bounded(t)
        finally:
            server.shutdown()
