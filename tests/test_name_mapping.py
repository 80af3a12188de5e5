"""Iceberg name mapping (`schema.name-mapping.default`).

Files registered via add_files carry no parquet field ids, so once a
rename (or drop-and-readd) flips reads to field-id resolution they
would surface as all-null; round-2/3 guarded by REFUSING the rename.
The spec's real answer is a name mapping — a table property assigning
field ids to columns of id-less files by footer name
(iceberg spec "Name Mapping Serialization"). This engine now:

* maintains the property automatically whenever add_files registers an
  id-less file (folding the CURRENT schema into any existing mapping,
  so post-rename registrations resolve by the new name too),
* resolves id-less files through the mapping on every read path
  (table scans, DML planning, changelog, incremental reads, and the
  `iceberg_fs` Spark data source),
* keeps refusing rename/drop-readd only for id-less files the mapping
  does NOT cover, and
* never resurrects old bytes: a dropped-then-readded column binds a
  NEW id, while the mapping keeps the old name on the OLD id, so
  pre-drop files read null for the re-added column.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField

from opentelemetry_iceberg_exporter_spark.sinks.iceberg_fs import (
    NAME_MAPPING_PROP,
    FsCatalog,
    parse_name_mapping,
    schema_requires_id_read,
)

from rest_stub import make_server


def _df(spark, n=100, base=0):
    return (
        spark.range(n)
        .withColumn("id", F.col("id") + base)
        .withColumn(
            "ts",
            F.to_timestamp(
                F.lit("2024-03-01 00:00:00").cast("timestamp")
                + F.make_interval(hours=(F.col("id") % 4).cast("int"))
            ),
        )
        .withColumn("v", F.col("id") * 10)
    )


def _write_raw(spark, tmp_path, name, df):
    """Raw Hive-layout parquet WITHOUT parquet field ids (plain
    df.write — nothing stamps ids), as an external tool would produce."""
    raw = str(tmp_path / name)
    df.write.parquet(raw + "/year=2024/month=3/day=1/hour=0")
    return raw


@pytest.fixture()
def fs_table(spark, tmp_path):
    cat = FsCatalog(str(tmp_path / "wh"))
    t = cat.create_table("otel", "ev", _df(spark).schema, partition_source="ts")
    t.append_dataframe(_df(spark))
    return t


class TestMappingProperty:
    def test_add_files_creates_the_mapping(self, spark, tmp_path, fs_table):
        raw = _write_raw(spark, tmp_path, "raw", _df(spark, 10, base=1000))
        fs_table.add_files_hive(raw)
        mapping = parse_name_mapping(fs_table.metadata())
        ids = {f["name"]: f["id"] for f in _current_fields(fs_table)}
        assert mapping == ids

    def test_engine_only_tables_get_no_mapping(self, fs_table):
        assert parse_name_mapping(fs_table.metadata()) is None

    def test_mapping_serialization_is_spec_shaped(self, spark, tmp_path, fs_table):
        raw = _write_raw(spark, tmp_path, "raw", _df(spark, 10, base=1000))
        fs_table.add_files_hive(raw)
        raw_prop = fs_table.metadata()["properties"][NAME_MAPPING_PROP]
        entries = json.loads(raw_prop)
        assert all(set(e) == {"field-id", "names"} for e in entries)
        assert all(isinstance(e["names"], list) for e in entries)

    def test_mapping_folds_new_name_after_rename(self, spark, tmp_path, fs_table):
        t = fs_table
        t.add_files_hive(_write_raw(spark, tmp_path, "raw1", _df(spark, 10, base=1000)))
        t.rename_column("v", "value")
        # register post-rename raw files written under the NEW name
        t.add_files_hive(
            _write_raw(
                spark,
                tmp_path,
                "raw2",
                _df(spark, 10, base=2000).withColumnRenamed("v", "value"),
            )
        )
        mapping = parse_name_mapping(t.metadata())
        vid = next(f["id"] for f in _current_fields(t) if f["name"] == "value")
        assert mapping["v"] == vid and mapping["value"] == vid


def _current_fields(t):
    md = t.metadata()
    sid = md["current-schema-id"]
    return next(s for s in md["schemas"] if s.get("schema-id", 0) == sid)["fields"]


class TestMappedReads:
    def test_rename_now_allowed_and_old_files_resolve(self, spark, tmp_path, fs_table):
        t = fs_table
        raw = _write_raw(spark, tmp_path, "raw", _df(spark, 10, base=1000))
        t.add_files_hive(raw)
        t.rename_column("v", "value")  # would have refused pre-mapping
        assert schema_requires_id_read(t.metadata())
        out = t.read(spark)
        assert out.columns == ["id", "ts", "value"]
        # engine files resolve by footer id, raw files via the mapping
        assert out.count() == 110
        assert out.filter("value is null").count() == 0
        assert out.filter("value = 10050").count() == 1  # from the raw file

    def test_mixed_old_new_and_post_rename_raw_files(self, spark, tmp_path, fs_table):
        t = fs_table
        t.add_files_hive(_write_raw(spark, tmp_path, "raw1", _df(spark, 10, base=1000)))
        t.rename_column("v", "value")
        t.append_dataframe(
            _df(spark, 10, base=3000).withColumnRenamed("v", "value")
        )
        t.add_files_hive(
            _write_raw(
                spark,
                tmp_path,
                "raw2",
                _df(spark, 10, base=2000).withColumnRenamed("v", "value"),
            )
        )
        out = t.read(spark)
        assert out.count() == 130
        assert out.filter("value is null").count() == 0
        assert out.select(F.sum("value")).collect()[0][0] == (
            sum(i * 10 for i in range(100))
            + sum((i + 1000) * 10 for i in range(10))
            + sum((i + 3000) * 10 for i in range(10))
            + sum((i + 2000) * 10 for i in range(10))
        )

    def test_incremental_read_resolves_mapped_files(self, spark, tmp_path, fs_table):
        t = fs_table
        start = t.current_snapshot()["snapshot-id"]
        t.add_files_hive(_write_raw(spark, tmp_path, "raw", _df(spark, 10, base=1000)))
        t.rename_column("v", "value")
        changes = t.read_changes(spark, from_snapshot_id=start)
        assert changes.count() == 10
        assert changes.filter("value is null").count() == 0

    def test_dml_on_mapped_table(self, spark, tmp_path, fs_table):
        t = fs_table
        t.add_files_hive(_write_raw(spark, tmp_path, "raw", _df(spark, 10, base=1000)))
        t.rename_column("v", "value")
        # copy-on-write delete planning scans the mapped raw file too
        _, n = t.delete_where(spark, "value = 10050")
        assert n == 1
        out = t.read(spark)
        assert out.count() == 109
        assert out.filter("value is null").count() == 0

    def test_datasource_reads_mapped_files(self, spark, tmp_path, fs_table):
        """A registered table view resolves id-less files through the
        name mapping after a rename."""
        from opentelemetry_iceberg_exporter_spark.sources.iceberg_source import (
            register_table_views,
        )

        t = fs_table
        t.add_files_hive(_write_raw(spark, tmp_path, "raw", _df(spark, 10, base=1000)))
        t.rename_column("v", "value")
        register_table_views(spark, str(tmp_path / "wh"))
        out = spark.table("otel_ev")
        assert out.count() == 110
        assert out.filter("value is null").count() == 0
        assert out.filter("value = 10050").count() == 1


class TestGuards:
    def test_rename_still_refused_without_coverage(self, spark, tmp_path, fs_table):
        # a raw file with a column the mapping cannot know about
        raw = str(tmp_path / "raw")
        _df(spark, 10, base=1000).withColumn("extra", F.lit(1)).write.parquet(
            raw + "/year=2024/month=3/day=1/hour=0"
        )
        fs_table.add_files_hive(raw)
        with pytest.raises(ValueError, match="unmapped"):
            fs_table.rename_column("v", "value")

    def test_readd_does_not_resurrect_mapped_bytes(self, spark, tmp_path, fs_table):
        t = fs_table
        t.add_files_hive(_write_raw(spark, tmp_path, "raw", _df(spark, 10, base=1000)))
        t.drop_column("v")
        t.add_columns([StructField("v", LongType(), True)])  # new field id
        out = t.read(spark)
        # the raw file's old "v" bytes must NOT surface under the new id
        assert out.filter("v is not null").count() == 0

    def test_add_files_refuses_after_readd(self, spark, tmp_path, fs_table):
        t = fs_table
        t.add_files_hive(_write_raw(spark, tmp_path, "raw1", _df(spark, 10, base=1000)))
        t.drop_column("v")
        t.add_columns([StructField("v", LongType(), True)])
        # a NEW id-less registration cannot distinguish old-v from new-v
        with pytest.raises(ValueError, match="re-added"):
            t.add_files_hive(
                _write_raw(spark, tmp_path, "raw2", _df(spark, 10, base=2000))
            )


class TestRestParity:
    def test_rest_add_files_rename_read(self, spark, tmp_path):
        warehouse = str(tmp_path / "wh")
        os.makedirs(warehouse)
        server, _, uri = make_server(warehouse)
        try:
            from opentelemetry_iceberg_exporter_spark.sinks.iceberg_rest import (
                RestCatalogClient,
            )

            client = RestCatalogClient(uri)
            client.ensure_namespace("otel")
            t = client.ensure_table(
                "otel", "ev", _df(spark).schema, partition_source="ts"
            )
            t.append_dataframe(_df(spark))
            raw = _write_raw(spark, tmp_path, "raw", _df(spark, 10, base=1000))
            t.add_files_hive(raw)
            assert parse_name_mapping(t.metadata()) is not None
            t.rename_column("v", "value")
            out = t.read(spark)
            assert out.count() == 110
            assert out.filter("value is null").count() == 0
            assert out.filter("value = 10050").count() == 1
        finally:
            server.shutdown()
