"""Reads of fs-catalog tables through `Table`'s library scan — the
temp views register_table_views registers (the sql surface) and
`Table.read` for time travel and pruned reads: merge-on-read position,
equality and mixed deletes, field-id resolution after a rename, and
schema evolution."""

from __future__ import annotations

from urllib.parse import urlparse

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from opentelemetry_iceberg_exporter_spark.sinks.iceberg_fs import FsCatalog
from opentelemetry_iceberg_exporter_spark.sinks.transforms import bucket_value
from opentelemetry_iceberg_exporter_spark.sources.iceberg_source import (
    register_table_views,
)

SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("v", StringType(), True),
    ]
)


@pytest.fixture()
def view(spark, tmp_path):
    """Register the test warehouse's tables; return `t`'s view."""

    def of(t):
        register_table_views(spark, str(tmp_path / "wh"))
        return spark.table("ns_" + t.location.rstrip("/").rsplit("/", 1)[-1])

    return of


def _make(spark, tmp_path, n=100, partition_by=None):
    cat = FsCatalog(str(tmp_path / "wh"))
    t = cat.create_table("ns", "src_t", SCHEMA, partition_by=partition_by)
    t.append_dataframe(
        spark.createDataFrame([Row(id=i, v=f"v{i}") for i in range(n)])
    )
    return t


class TestBatchFormat:
    def test_roundtrip(self, spark, tmp_path, view):
        t = _make(spark, tmp_path)
        df = view(t)
        assert df.count() == 100
        assert sorted(r.id for r in df.collect()) == list(range(100))
        assert df.schema["id"].dataType == LongType()

    def test_time_travel_option(self, spark, tmp_path, view):
        t = _make(spark, tmp_path, n=10)
        s1 = t.current_snapshot()["snapshot-id"]
        t.append_dataframe(
            spark.createDataFrame([Row(id=i, v=f"v{i}") for i in range(10, 20)])
        )
        old = t.read(spark, snapshot_id=s1)
        assert old.count() == 10
        assert view(t).count() == 20

    def test_pushed_equality_prunes_bucket_files(self, spark, tmp_path, view):
        t = _make(spark, tmp_path, partition_by=[("id", "bucket[4]")])
        # engine-level: correct rows through the view with the filter
        got = view(t).filter(F.col("id") == 42).collect()
        assert [r.v for r in got] == ["v42"]
        # a read with the predicate scans only the bucket's files
        pruned = t.read(spark, where="id = 42")
        assert [r.v for r in pruned.collect()] == ["v42"]
        all_files, _ = t.plan_files()
        want_bucket = bucket_value(42, 4, "long")
        files, _ = t.plan_files(source_predicate=("id", 42))
        assert 0 < len(files) < len(all_files)
        assert {f.partition["id_bucket"] for f in files} == {want_bucket}
        assert {urlparse(p).path for p in pruned.inputFiles()} == {
            f.file_path for f in files
        }

    def test_position_deletes_applied(self, spark, tmp_path, view):
        t = _make(spark, tmp_path, n=50)
        t.delete_where(spark, "id < 10", mode="merge-on-read")
        df = view(t)
        assert sorted(r.id for r in df.collect()) == list(range(10, 50))

    def test_equality_deletes_applied(self, spark, tmp_path, view):
        """Equality deletes apply inside the scan: key-matched rows
        vanish, and the strict-seq rule protects rows appended AFTER the
        delete."""
        t = _make(spark, tmp_path, n=20)
        keys = spark.createDataFrame([Row(id=3), Row(id=7)])
        t.delete_where_equality(spark, keys, ["id"])
        # re-appending id=3 AFTER the delete must survive (its file's
        # seq is above the delete's)
        t.append_dataframe(spark.createDataFrame([Row(id=3, v="reborn")]))
        got = sorted(
            (r.id, r.v)
            for r in view(t).collect()
        )
        want = sorted(
            [(i, f"v{i}") for i in range(20) if i not in (3, 7)]
            + [(3, "reborn")]
        )
        assert got == want
        # the same rows through Table.read
        lib = sorted((r.id, r.v) for r in t.read(spark).collect())
        assert got == lib

    def test_equality_deletes_compose_with_position_deletes(
        self, spark, tmp_path, view
    ):
        t = _make(spark, tmp_path, n=30)
        t.delete_where(spark, "id < 5", mode="merge-on-read")  # positions
        keys = spark.createDataFrame([Row(id=10), Row(id=4), Row(id=29)])
        t.delete_where_equality(spark, keys, ["id"])
        got = sorted(
            r.id
            for r in view(t).collect()
        )
        assert got == [i for i in range(5, 30) if i not in (10, 29)]

    def test_many_row_delete_file_vectorized_null_safe(
        self, spark, tmp_path, view
    ):
        """A LARGE delete file (the un-compacted-backlog case the r10
        advisory flagged) with NULL keys: the subtraction must match
        Spark's eqNullSafe semantics — a NULL delete key deletes exactly
        the NULL-keyed data rows."""
        cat = FsCatalog(str(tmp_path / "wh"))
        t = cat.create_table("ns", "big_del", SCHEMA)
        rows = [
            Row(id=i, v=(None if i % 10 == 0 else f"g{i % 7}"))
            for i in range(2000)
        ]
        t.append_dataframe(spark.createDataFrame(rows, SCHEMA))
        keys = spark.createDataFrame(
            [Row(v=None), Row(v="g3")],
            StructType([StructField("v", StringType(), True)]),
        )
        t.delete_where_equality(spark, keys, ["v"])
        got = sorted(
            r.id
            for r in view(t).collect()
        )
        want = sorted(
            i for i in range(2000) if i % 10 != 0 and i % 7 != 3
        )
        assert got == want
        lib = sorted(r.id for r in t.read(spark).collect())
        assert got == lib

    def test_delete_columns_resolve_by_field_id_after_rename(
        self, spark, tmp_path, view
    ):
        """A delete file written BEFORE a column rename stores the OLD
        name; the scan must resolve its key column by parquet field id,
        not the current name (r10 advisory)."""
        t = _make(spark, tmp_path, n=10)
        keys = spark.createDataFrame([Row(id=2), Row(id=8)])
        t.delete_where_equality(spark, keys, ["id"])
        t.rename_column("id", "ident")
        df = view(t)
        assert df.columns == ["ident", "v"]
        got = sorted(r.ident for r in df.collect())
        assert got == [i for i in range(10) if i not in (2, 8)]
        lib = sorted(r.ident for r in t.read(spark).collect())
        assert got == lib

    def test_date_and_decimal_keyed_equality_deletes(
        self, spark, tmp_path, view
    ):
        """Date- and decimal-keyed equality deletes, NULL keys included
        (null-safe: a NULL key deletes the NULL-keyed rows)."""
        import datetime
        from decimal import Decimal

        from pyspark.sql.types import DateType, DecimalType

        schema = StructType(
            [
                StructField("id", LongType(), False),
                StructField("d", DateType(), True),
                StructField("m", DecimalType(10, 2), True),
            ]
        )
        cat = FsCatalog(str(tmp_path / "wh"))
        t = cat.create_table("ns", "typed_del", schema)
        rows = [
            Row(
                id=i,
                d=(None if i % 5 == 0 else datetime.date(2024, 1, 1 + i % 20)),
                m=(None if i % 7 == 0 else Decimal(i).scaleb(-1)),
            )
            for i in range(100)
        ]
        t.append_dataframe(spark.createDataFrame(rows, schema))
        # date-keyed delete incl. a NULL key (null-safe: kills the
        # date-null rows)
        keys = spark.createDataFrame(
            [Row(d=datetime.date(2024, 1, 3)), Row(d=None)],
            StructType([StructField("d", DateType(), True)]),
        )
        t.delete_where_equality(spark, keys, ["d"])
        # decimal-keyed delete
        mkeys = spark.createDataFrame(
            [Row(m=Decimal("1.20"))],
            StructType([StructField("m", DecimalType(10, 2), True)]),
        )
        t.delete_where_equality(spark, mkeys, ["m"])
        got = sorted(
            r.id
            for r in view(t).collect()
        )
        want = sorted(
            i
            for i in range(100)
            if i % 5 != 0  # null date deleted
            and (i % 20) != 2  # 2024-01-03 deleted
            and i != 12  # m = 1.20 deleted
        )
        assert got == want
        lib = sorted(r.id for r in t.read(spark).collect())
        assert got == lib

    def test_schema_evolution_nulls(self, spark, tmp_path, view):
        t = _make(spark, tmp_path, n=5)
        t.add_columns([StructField("extra", StringType(), True)])
        df = view(t)
        assert df.columns == ["id", "v", "extra"]
        assert all(r.extra is None for r in df.collect())
