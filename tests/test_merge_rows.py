"""Copy-on-write MERGE (keyed upsert) on both catalog transports:
same-key rows replaced, new keys inserted, untouched files survive by
reference, one atomic overwrite snapshot, pre-merge state
time-travelable, concurrent advance conflicts."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from opentelemetry_iceberg_exporter_spark.sinks.iceberg_fs import (
    FsCatalog,
    ReplaceConflictError,
)

from rest_stub import make_server


def _base_df(spark, n=40):
    return (
        spark.range(n)
        .withColumn(
            "ts",
            F.to_timestamp(
                F.lit("2024-03-01 00:00:00").cast("timestamp")
                + F.make_interval(hours=(F.col("id") % 4).cast("int"))
            ),
        )
        .withColumn("val", F.lit("old"))
    )


def _source_df(spark):
    """5 updates (ids 0-4, all in hour partition of id%4) + 5 inserts."""
    return (
        spark.range(5)
        .union(spark.range(100, 105))
        .withColumn(
            "ts",
            F.to_timestamp(
                F.lit("2024-03-01 00:00:00").cast("timestamp")
                + F.make_interval(hours=(F.col("id") % 4).cast("int"))
            ),
        )
        .withColumn("val", F.lit("new"))
    )


@pytest.fixture()
def fs_table(spark, tmp_path):
    df = _base_df(spark)
    cat = FsCatalog(str(tmp_path / "wh"))
    t = cat.create_table("otel", "m", df.schema, partition_source="ts")
    t.append_dataframe(df)
    return t


class TestFsMerge:
    def test_upsert_semantics(self, spark, fs_table):
        t = fs_table
        pre = t.current_snapshot()["snapshot-id"]
        sid, n_updated, n_inserted = t.merge_rows(spark, _source_df(spark), ["id"])
        assert (n_updated, n_inserted) == (5, 5)
        out = t.read(spark)
        assert out.count() == 45  # 40 - 5 replaced + 10 source
        assert out.filter("val = 'new'").count() == 10
        assert out.filter("id < 5 AND val = 'old'").count() == 0
        assert out.select("id").distinct().count() == 45
        snap = t.current_snapshot()
        assert snap["summary"]["operation"] == "overwrite"
        assert snap["summary"]["merged-records"] == "5"
        # pre-merge state still time-travels
        assert t.read(spark, snapshot_id=pre).filter("val = 'new'").count() == 0

    @pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
    def test_equality_deleted_row_is_not_merged(self, spark, tmp_path, mode):
        """A row an equality delete already removed is not live: MERGE
        neither counts it as merged nor deletes it again, and its key
        inserts like any unmatched source row."""
        df = _base_df(spark, n=11).filter("id >= 1")
        cat = FsCatalog(str(tmp_path / "wh"))
        t = cat.create_table("otel", "eqm", df.schema, partition_source="ts")
        t.append_dataframe(df)
        t.delete_where_equality(spark, spark.range(3, 4), ["id"])
        source = (
            _base_df(spark, n=12)
            .filter("id IN (3, 11)")
            .withColumn("val", F.lit("new"))
        )
        sid, n_updated, n_inserted = t.merge_rows(spark, source, ["id"], mode=mode)
        assert (n_updated, n_inserted) == (0, 2)
        assert t.current_snapshot()["summary"]["merged-records"] == "0"
        assert not [f for f in t.plan_scan()[1] if f.content == 1]
        out = t.read(spark)
        assert out.count() == 11
        assert sorted(r.id for r in out.filter("val = 'new'").collect()) == [3, 11]

    def test_insert_only_into_empty_table(self, spark, tmp_path):
        df = _base_df(spark)
        cat = FsCatalog(str(tmp_path / "wh"))
        t = cat.create_table("otel", "empty", df.schema, partition_source="ts")
        sid, n_updated, n_inserted = t.merge_rows(spark, _source_df(spark), ["id"])
        assert (n_updated, n_inserted) == (0, 10)
        assert t.read(spark).count() == 10

    def test_untouched_files_survive_by_reference(self, spark, fs_table):
        t = fs_table
        before = {f.file_path for f in t.plan_files()[0]}
        # keys 0..4 hit every hour partition EXCEPT none — id%4 covers all
        # 4; use a single-partition update instead
        single = (
            spark.range(4, 5)
            .withColumn("ts", F.to_timestamp(F.lit("2024-03-01 00:00:00")))
            .withColumn("val", F.lit("new"))
        )
        t.merge_rows(spark, single, ["id"])
        after = {f.file_path for f in t.plan_files()[0]}
        assert len(before & after) == 3  # 3 of 4 hour files untouched

    def test_concurrent_advance_conflicts(self, spark, fs_table, monkeypatch):
        import opentelemetry_iceberg_exporter_spark.sinks.iceberg_fs as ifs

        t = fs_table
        real = ifs._write_metadata_version
        state = {"raced": False}

        def racy(location, version, metadata):
            if not state["raced"]:
                state["raced"] = True
                monkeypatch.setattr(ifs, "_write_metadata_version", real)
                ifs.FsTable(location).append_dataframe(_base_df(spark).limit(2))
                monkeypatch.setattr(ifs, "_write_metadata_version", racy)
            return real(location, version, metadata)

        monkeypatch.setattr(ifs, "_write_metadata_version", racy)
        with pytest.raises(ReplaceConflictError):
            t.merge_rows(spark, _source_df(spark), ["id"])


class TestRestMerge:
    def test_upsert_over_rest(self, spark, tmp_path):
        from opentelemetry_iceberg_exporter_spark.sinks.iceberg_rest import (
            RestCatalogClient,
        )

        warehouse = str(tmp_path / "rwh")
        os.makedirs(warehouse)
        server, _, uri = make_server(warehouse)
        try:
            client = RestCatalogClient(uri, warehouse=warehouse)
            df = _base_df(spark)
            client.ensure_namespace("otel")
            t = client.ensure_table("otel", "m", df.schema, partition_source="ts")
            t.append_dataframe(df)
            sid, n_updated, n_inserted = t.merge_rows(spark, _source_df(spark), ["id"])
            assert (n_updated, n_inserted) == (5, 5)
            out = t.read(spark)
            assert out.count() == 45
            assert out.filter("val = 'new'").count() == 10
            assert t.current_snapshot()["summary"]["inserted-records"] == "5"
        finally:
            server.shutdown()
