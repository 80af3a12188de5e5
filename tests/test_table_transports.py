"""Transport parity: one Iceberg op sequence run on the filesystem
catalog and on the REST stub (tests/rest_stub.py) must leave the same
rows and the same snapshot history on both.

Both transports share one `Table` (sinks/iceberg_fs.py); they differ
only in how metadata loads and how a commit lands — the engine's own
`apply_updates` under the fs version CAS, the stub's independent
`_apply_updates` behind CommitTable. The rows after every step are
checked against the same edits replayed in DuckDB; the snapshot
operations and summaries, refs, schema, spec and format version are
compared across the two runs.
"""

from __future__ import annotations

import os
import time
from datetime import datetime

import duckdb
import pytest
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from opentelemetry_iceberg_exporter_spark.sinks.iceberg_fs import FsCatalog
from opentelemetry_iceberg_exporter_spark.sinks.iceberg_rest import RestCatalogClient
from rest_stub import make_server

SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("ts", TimestampType(), True),
        StructField("v", StringType(), True),
        StructField("n", LongType(), True),
    ]
)
TRANSPORTS = ("fs", "rest")


def _df(spark, ids, tag="a", hour=None):
    """Rows id/v/n with ts in hour `hour`, or alternating hours 0/1."""
    return spark.createDataFrame(
        [
            (i, datetime(2024, 3, 1, i % 2 if hour is None else hour), f"{tag}{i}", i)
            for i in ids
        ],
        SCHEMA,
    )


class _Mirror:
    """The expected table state, edited in DuckDB alongside each op
    (`h` = the row's hour, for partition overwrites)."""

    def __init__(self):
        self.con = duckdb.connect()
        self.con.execute("CREATE TABLE cur (id BIGINT, h INT, v VARCHAR, n BIGINT)")

    def insert(self, ids, tag="a", hour=None):
        for i in ids:
            h = i % 2 if hour is None else hour
            self.con.execute("INSERT INTO cur VALUES (?, ?, ?, ?)", [i, h, f"{tag}{i}", i])

    def sql(self, stmt):
        self.con.execute(stmt)

    def rows(self, label="v"):
        return sorted(self.con.execute(f"SELECT id, {label}, n FROM cur").fetchall())


def _run_sequence(spark, table) -> dict:
    """The op sequence; returns the rows read after every step and the
    final metadata."""
    duck = _Mirror()
    steps = []
    label = "v"

    def check(step):
        got = sorted(
            (r["id"], r[label], r["n"])
            for r in table.read(spark).select("id", label, "n").collect()
        )
        steps.append((step, got, duck.rows(label)))

    def head():
        return table.current_snapshot()["snapshot-id"]

    table.append_dataframe(_df(spark, range(40)))
    duck.insert(range(40))
    check("append")

    table.delete_where(spark, "id < 3")
    duck.sql("DELETE FROM cur WHERE id < 3")
    check("copy-on-write delete")

    table.delete_where(spark, "id >= 3 AND id < 6", mode="merge-on-read")
    duck.sql("DELETE FROM cur WHERE id >= 3 AND id < 6")
    check("merge-on-read delete")

    table.delete_where_equality(spark, spark.range(6, 8).toDF("id"), ["id"])
    duck.sql("DELETE FROM cur WHERE id IN (6, 7)")
    check("equality delete")

    # the two delete manifests merge into one
    assert table.rewrite_manifests(min_count=2) is not None
    check("rewrite_manifests")

    table.update_where(spark, "id >= 8 AND id < 11", {"v": "'u'"})
    duck.sql("UPDATE cur SET v = 'u' WHERE id >= 8 AND id < 11")
    check("update")

    table.merge_rows(spark, _df(spark, [10, 11, 12, 100, 101], tag="m", hour=0), ["id"])
    duck.sql("DELETE FROM cur WHERE id IN (10, 11, 12, 100, 101)")
    duck.insert([10, 11, 12, 100, 101], tag="m", hour=0)
    check("merge")

    table.overwrite_partitions(_df(spark, range(200, 204), tag="o", hour=1))
    duck.sql("DELETE FROM cur WHERE h = 1")
    duck.insert(range(200, 204), tag="o", hour=1)
    check("overwrite_partitions")

    assert table.rewrite_data_files(spark, target_bytes=1 << 20, min_files=2) is not None
    check("rewrite_data_files")

    table.set_ref("audit", head(), "branch")
    table.append_dataframe_to_branch("audit", _df(spark, [300, 301], tag="b"))
    check("branch append leaves main")
    table.fast_forward("audit")
    duck.insert([300, 301], tag="b")
    check("fast_forward")

    tagged = head()
    table.set_ref("t1", tagged, "tag")
    duck.sql("CREATE TABLE t1 AS SELECT * FROM cur")
    table.append_dataframe(_df(spark, [400, 401], tag="r"))
    duck.insert([400, 401], tag="r")
    check("append after tag")
    assert table.rollback_to(tagged) == tagged
    duck.sql("DELETE FROM cur")
    duck.sql("INSERT INTO cur SELECT * FROM t1")
    check("rollback_to")

    table.add_columns([StructField("extra", StringType(), True)])
    table.rename_column("v", "label")
    table.drop_column("extra")
    label = "label"
    duck.sql("ALTER TABLE cur RENAME COLUMN v TO label")
    check("add/rename/drop column")

    table.update_partition_spec("ts", "daily")
    table.append_dataframe(
        _df(spark, [500, 501], tag="d").withColumnRenamed("v", "label")
    )
    duck.insert([500, 501], tag="d")
    check("spec evolution")

    table.rewrite_position_deletes(spark)
    check("rewrite_position_deletes")
    assert table.upgrade_format_version(3) == 3
    table.delete_where(spark, "id = 500", mode="deletion-vectors")
    duck.sql("DELETE FROM cur WHERE id = 500")
    check("format upgrade + deletion-vector delete")

    before_expire = table.metadata()
    table.drop_ref("audit")
    table.set_properties({"history.expire.max-snapshot-age-ms": "1"})
    now_ms = int(time.time() * 1000) + 60_000
    assert table.expire_snapshots(keep_last=1, older_than_ms=now_ms, now_ms=now_ms)
    check("expire")
    return {"steps": steps, "md": table.metadata(), "before_expire": before_expire}


@pytest.fixture(scope="module")
def runs(spark, tmp_path_factory) -> dict:
    out = {}
    root = tmp_path_factory.mktemp("fs")
    out["fs"] = _run_sequence(
        spark, FsCatalog(str(root / "wh")).create_table("otel", "par", SCHEMA, "ts")
    )
    warehouse = str(tmp_path_factory.mktemp("rest") / "wh")
    os.makedirs(warehouse)
    server, _, uri = make_server(warehouse)
    try:
        client = RestCatalogClient(uri, warehouse=warehouse)
        client.ensure_namespace("otel")
        out["rest"] = _run_sequence(
            spark, client.ensure_table("otel", "par", SCHEMA, partition_source="ts")
        )
    finally:
        server.shutdown()
    return out


def _history(md: dict) -> list[tuple[str, dict]]:
    # file sizes are the one summary figure two separate writes of the
    # same rows need not agree on byte for byte
    return [
        (
            s["summary"]["operation"],
            {k: v for k, v in s["summary"].items() if "size" not in k},
        )
        for s in md["snapshots"]
    ]


@pytest.mark.parametrize("transport", TRANSPORTS)
def test_rows_match_duckdb_after_every_step(runs, transport):
    steps = runs[transport]["steps"]
    assert len(steps) == 18
    for step, got, expected in steps:
        assert got == expected, step


def test_same_rows_after_every_step(runs):
    assert runs["fs"]["steps"] == runs["rest"]["steps"]


def test_same_snapshot_history(runs):
    before = _history(runs["fs"]["before_expire"])
    assert before == _history(runs["rest"]["before_expire"])
    assert [op for op, _ in before] == [
        "append", "overwrite", "delete", "delete", "replace", "overwrite",
        "overwrite", "overwrite", "replace", "append", "append", "append",
        "replace", "delete",
    ]
    assert _history(runs["fs"]["md"]) == _history(runs["rest"]["md"])


def test_same_refs_schema_spec_and_format(runs):
    fs, rest = runs["fs"]["md"], runs["rest"]["md"]

    def shape(md):
        by_id = {s["snapshot-id"]: i for i, s in enumerate(md["snapshots"])}
        return {
            "refs": {
                name: (ref["type"], by_id[ref["snapshot-id"]])
                for name, ref in md["refs"].items()
            },
            "current": by_id[md["current-snapshot-id"]],
            "schema": [
                f_["name"]
                for s in md["schemas"]
                if s["schema-id"] == md["current-schema-id"]
                for f_ in s["fields"]
            ],
            "spec": [
                f_["transform"]
                for s in md["partition-specs"]
                if s["spec-id"] == md["default-spec-id"]
                for f_ in s["fields"]
            ],
            "format-version": md["format-version"],
            "snapshot-log": [by_id.get(e["snapshot-id"]) for e in md["snapshot-log"]],
        }

    assert shape(fs) == shape(rest)
    assert shape(fs)["format-version"] == 3
    assert set(shape(fs)["refs"]) == {"main", "t1"}
