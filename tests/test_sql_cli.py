"""The SQL entry point: catalog tables registered as temp views over
the library scan (register_table_views on fs, register_warehouse_views
on REST) + the `sql` CLI (joins across catalog tables, pruned reads,
parquet output)."""

from __future__ import annotations

import json
import os

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from opentelemetry_iceberg_exporter_spark.__main__ import main
from opentelemetry_iceberg_exporter_spark.sinks.iceberg_fs import FsCatalog
from opentelemetry_iceberg_exporter_spark.sources.iceberg_source import (
    register_table_views,
)


@pytest.fixture()
def warehouse(spark, tmp_path):
    wh = str(tmp_path / "wh")
    cat = FsCatalog(wh)
    events = cat.create_table(
        "otel",
        "events",
        StructType(
            [
                StructField("id", LongType(), False),
                StructField("service", StringType(), True),
            ]
        ),
    )
    events.append_dataframe(
        spark.range(10).select(
            "id", F.concat(F.lit("svc-"), (F.col("id") % 3).cast("string")).alias("service")
        )
    )
    dims = cat.create_table(
        "ref",
        "services",
        StructType(
            [
                StructField("service", StringType(), False),
                StructField("team", StringType(), True),
            ]
        ),
    )
    dims.append_dataframe(
        spark.createDataFrame(
            [("svc-0", "alpha"), ("svc-1", "beta"), ("svc-2", "gamma")],
            ["service", "team"],
        )
    )
    return wh, cat


class TestRegisterViews:
    def test_registers_all_namespaces(self, spark, warehouse):
        wh, cat = warehouse
        views = register_table_views(spark, wh)
        assert set(views) == {"otel_events", "ref_services"}
        assert spark.sql("SELECT COUNT(*) AS n FROM otel_events").collect()[0]["n"] == 10

    def test_cross_table_join(self, spark, warehouse):
        wh, _ = warehouse
        register_table_views(spark, wh)
        rows = spark.sql(
            "SELECT team, COUNT(*) AS n FROM otel_events e "
            "JOIN ref_services s ON e.service = s.service "
            "GROUP BY team ORDER BY team"
        ).collect()
        assert [(r["team"], r["n"]) for r in rows] == [
            ("alpha", 4), ("beta", 3), ("gamma", 3),
        ]

    def test_namespace_restriction(self, spark, warehouse):
        wh, _ = warehouse
        views = register_table_views(spark, wh, namespace="ref")
        assert set(views) == {"ref_services"}

    def test_catalog_listing(self, warehouse):
        wh, cat = warehouse
        assert cat.list_namespaces() == ["otel", "ref"]
        assert cat.list_tables("otel") == ["events"]
        assert cat.list_tables("missing") == []

    def test_small_tables_register_with_broadcast_hint(self, spark, warehouse):
        """The tables' on-disk bytes drive a broadcast hint, so SQL star
        joins broadcast the dimension side without explicit hints."""
        wh, _ = warehouse
        register_table_views(spark, wh)
        plan = (
            spark.sql(
                "SELECT team, COUNT(*) AS n FROM otel_events e "
                "JOIN ref_services s ON e.service = s.service GROUP BY team"
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_broadcast_threshold_zero_disables_hint(self, spark, warehouse):
        wh, _ = warehouse
        register_table_views(spark, wh, broadcast_threshold=0)
        plan = (
            spark.sql(
                "SELECT COUNT(*) AS n FROM otel_events e "
                "JOIN ref_services s ON e.service = s.service"
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" not in plan or "SortMergeJoin" in plan

    def test_views_see_deletes(self, spark, warehouse):
        wh, cat = warehouse
        cat.load_table("otel", "events").delete_where(spark, "id < 5")
        register_table_views(spark, wh)
        assert spark.sql("SELECT COUNT(*) AS n FROM otel_events").collect()[0]["n"] == 5


class TestRestRegistration:
    def test_one_load_per_table_and_no_server_plan(self, spark, tmp_path):
        """REST registration plans locally: N tables cost N LoadTable
        GETs plus the listing calls, and no /plan request, although the
        stub advertises PlanTableScan."""
        from opentelemetry_iceberg_exporter_spark.sinks.iceberg_rest import (
            RestCatalogClient,
        )

        from rest_stub import make_server

        wh = str(tmp_path / "rwh")
        os.makedirs(wh)
        server, state, uri = make_server(wh)
        try:
            client = RestCatalogClient(uri, warehouse=wh)
            schema = StructType([StructField("id", LongType(), False)])
            for ns, name in (("otel", "a"), ("otel", "b"), ("ref", "c")):
                client.ensure_namespace(ns)
                client.ensure_table(ns, name, schema).append_dataframe(spark.range(3))
            assert state.advertise_plan
            state.requests.clear()
            views = client.register_warehouse_views(spark)
            requests = list(state.requests)
        finally:
            server.shutdown()
        assert set(views) == {"otel_a", "otel_b", "ref_c"}
        tables = [("otel", "a"), ("otel", "b"), ("ref", "c")]
        listings = {client._ns_path()} | {
            route(ns) for ns in ("otel", "ref")
            for route in (client._table_path, client._view_path)
        }
        assert all(method == "GET" for method, _ in requests), requests
        loads = sorted(path for _, path in requests if path.split("?")[0] not in listings)
        assert loads == sorted(client._table_path(ns, name) for ns, name in tables)
        assert not any("/plan" in path for _, path in requests)


class TestSqlCli:
    def test_query_prints_json_rows(self, spark, warehouse, capsys):
        wh, _ = warehouse
        rc = main(
            [
                "sql", "--warehouse", wh,
                "--query",
                "SELECT service, COUNT(*) AS n FROM otel_events "
                "GROUP BY service ORDER BY service",
            ]
        )
        assert rc == 0
        lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
        summary = lines[-1]
        assert summary["rows"] == 3 and "otel_events" in summary["views"]
        assert lines[0] == {"service": "svc-0", "n": 4}

    def test_query_writes_parquet(self, spark, warehouse, tmp_path, capsys):
        wh, _ = warehouse
        out = str(tmp_path / "out")
        rc = main(
            [
                "sql", "--warehouse", wh, "--output", out,
                "--query", "SELECT id FROM otel_events WHERE id >= 8",
            ]
        )
        assert rc == 0
        assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["rows"] == 2
        got = sorted(r[0] for r in duckdb.sql(f"SELECT id FROM '{out}/*.parquet'").fetchall())
        assert got == [8, 9]
