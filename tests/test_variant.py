"""Iceberg v3 `variant` columns: semi-structured values with the Spark 4
VariantType as the engine representation (parse_json / try_variant_get /
variant_get are the query surface). Spark 4.1 writes variant SHREDDED by
default (parquet-format VariantShredding.md: an inferred per-file schema
stores typed paths as real stat-bearing columns, with the metadata+value
pair as the residual encoding) and reads shredded and unshredded files
alike — round 9 adds footer-stats file pruning for variant-path
predicates on top (sinks/variant_prune.py, tested here).

The container's pyarrow cannot PARSE footers carrying the VARIANT
logical type, so the write path's record counts AND column bounds fall
back to the engine's own Thrift-compact footer walker
(sinks/parquet_footer.py) — cross-checked against pyarrow on footers
pyarrow accepts. The variant column itself carries no manifest bounds
(spec: no defined ordering), but since round 9 the walker decodes the
row-group statistics of the OTHER columns, so variant-bearing files
keep min/max pruning on every orderable column they contain.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from opentelemetry_iceberg_exporter_spark.sinks.iceberg_fs import FsCatalog

from rest_stub import make_server

try:
    from pyspark.sql.types import VariantType
except ImportError:  # pragma: no cover - Spark < 4
    VariantType = None

pytestmark = pytest.mark.skipif(
    VariantType is None, reason="Spark VariantType unavailable"
)

SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("ts", LongType(), True),
        StructField("attrs", VariantType() if VariantType else StringType(), True),
    ]
)


def _df(spark, n=6):
    rows = spark.range(n).select(
        F.col("id"),
        (F.lit(1705320000_000000000) + F.col("id")).alias("ts"),
        F.parse_json(
            F.concat(
                F.lit('{"k": '),
                F.col("id").cast("string"),
                F.lit(', "tags": ["a", "b"]}'),
            )
        ).alias("attrs"),
    )
    return rows


class TestFooterWalker:
    def test_cross_check_against_pyarrow(self):
        import pyarrow.parquet as pq

        from opentelemetry_iceberg_exporter_spark.sinks.parquet_footer import (
            footer_num_rows,
        )

        for name in ("events", "lineitem", "region", "documents"):
            p = f"/root/testdata/sf0.001/{name}.parquet"
            assert footer_num_rows(p) == pq.ParquetFile(p).metadata.num_rows

    def test_variant_footer_readable_where_pyarrow_fails(self, spark, tmp_path):
        import pyarrow.parquet as pq

        from opentelemetry_iceberg_exporter_spark.sinks.parquet_footer import (
            footer_num_rows,
        )

        out = str(tmp_path / "var")
        _df(spark, 7).write.parquet(out)
        files = glob.glob(os.path.join(out, "*.parquet"))
        with pytest.raises(Exception):
            for f in files:
                pq.ParquetFile(f).metadata  # noqa: B018 — the probe
        assert sum(footer_num_rows(f) for f in files) == 7

    def test_column_names_cross_check(self, spark, tmp_path):
        import pyarrow.parquet as pq

        from opentelemetry_iceberg_exporter_spark.sinks.parquet_footer import (
            footer_column_names,
        )

        # nested types (lists, structs): top-level names only
        for name in ("events", "lineitem", "documents", "embeddings"):
            p = f"/root/testdata/sf0.001/{name}.parquet"
            assert footer_column_names(p) == set(pq.read_schema(p).names), name
        # variant file where pyarrow refuses the footer outright
        out = str(tmp_path / "var")
        _df(spark, 3).write.parquet(out)
        f = glob.glob(os.path.join(out, "*.parquet"))[0]
        assert footer_column_names(f) == {"id", "ts", "attrs"}

    def test_defaults_compose_with_variant(self, spark, tmp_path):
        """v3 default values on a table whose files carry a variant
        column: the footer-presence split must survive pyarrow's
        unknown-LogicalType refusal (the engine walker reads names)."""
        cat = FsCatalog(str(tmp_path / "wh"))
        t = cat.create_table(
            "otel", "vd", SCHEMA, properties={"format-version": "3"}
        )
        t.append_dataframe(_df(spark, 4))  # pre-evolution variant files
        t.add_columns(
            [StructField("tier", StringType(), True)],
            defaults={"tier": "bronze"},
        )
        rows = t.read(spark).collect()
        assert len(rows) == 4 and all(r["tier"] == "bronze" for r in rows)

    def test_garbage_refused(self, tmp_path):
        from opentelemetry_iceberg_exporter_spark.sinks.parquet_footer import (
            footer_num_rows,
        )

        p = str(tmp_path / "junk")
        with open(p, "wb") as f:
            f.write(b"not parquet at all")
        with pytest.raises(ValueError):
            footer_num_rows(p)

    def test_bool_collection_elements_are_one_byte(self):
        """Thrift compact: a bool STRUCT FIELD lives in the header
        nibble, but a bool LIST ELEMENT is one byte on the wire —
        skipping it zero-width desyncs the whole walk (advisor
        finding, round 8)."""
        import io

        from opentelemetry_iceberg_exporter_spark.sinks.parquet_footer import (
            _CT_LIST,
            _skip,
        )

        # list header: size=3 (<<4) | elem type 1 (BOOL/TRUE), then one
        # value byte per element, then a sentinel the walk must land on
        blob = io.BytesIO(bytes([0x31, 0x01, 0x02, 0x01, 0xEE]))
        _skip(blob, _CT_LIST)
        assert blob.read(1) == b"\xee"

    def test_column_minmax_cross_check(self, spark, tmp_path):
        """footer_column_minmax agrees with pyarrow's statistics on
        footers pyarrow CAN read (top-level primitive leaves)."""
        import pyarrow.parquet as pq

        from opentelemetry_iceberg_exporter_spark.sinks.parquet_footer import (
            footer_column_minmax,
        )

        for name in ("events", "lineitem", "region"):
            p = f"/root/testdata/sf0.001/{name}.parquet"
            got = footer_column_minmax(p)
            meta = pq.ParquetFile(p).metadata
            checked = 0
            for ci in range(meta.row_group(0).num_columns):
                col = meta.row_group(0).column(ci)
                st = col.statistics
                if (
                    meta.num_row_groups != 1
                    or st is None
                    or not st.has_min_max
                    or col.path_in_schema not in got
                ):
                    continue
                _, lo, hi = got[col.path_in_schema]
                want_lo, want_hi = st.min, st.max
                if hasattr(want_lo, "timestamp"):  # walker: raw int64
                    continue
                if isinstance(want_lo, str):
                    lo, hi = lo.decode("utf-8"), hi.decode("utf-8")
                assert (lo, hi) == (want_lo, want_hi), col.path_in_schema
                checked += 1
            assert checked > 0, name

    def test_variant_file_keeps_bounds_on_other_columns(self, spark, tmp_path):
        """file_column_bounds falls back to the walker when pyarrow
        refuses the footer: a variant-bearing file still records
        min/max for its orderable columns (the variant column itself
        carries none — no defined ordering)."""
        from opentelemetry_iceberg_exporter_spark.sinks.iceberg_fs import (
            decode_bound,
            file_column_bounds,
            live_files,
        )

        cat = FsCatalog(str(tmp_path / "wh"))
        t = cat.create_table(
            "otel", "vb", SCHEMA, properties={"format-version": "3"}
        )
        t.append_dataframe(_df(spark, 9).coalesce(1))
        md = t.metadata()
        fields = {
            f["name"]: f["id"]
            for f in md["schemas"][-1]["fields"]
        }
        data, _ = live_files(md, md["current-snapshot-id"])
        [f] = data
        lower, upper = file_column_bounds(f.file_path, md)
        assert fields["attrs"] not in lower  # variant: no bounds, ever
        assert decode_bound(lower[fields["id"]], "long") == 0
        assert decode_bound(upper[fields["id"]], "long") == 8
        assert decode_bound(lower[fields["ts"]], "long") == 1705320000_000000000
        assert decode_bound(upper[fields["ts"]], "long") == 1705320000_000000008

    def test_variant_table_dml_prunes_by_bounds(self, spark, tmp_path):
        """The restored bounds PRUNE: four disjoint-id commits on a
        variant table, an id predicate plans exactly one scanned file
        (round-8 behavior was scan-all — footer unreadable by pyarrow)."""
        from opentelemetry_iceberg_exporter_spark.sinks.iceberg_fs import (
            plan_dml_files,
        )

        cat = FsCatalog(str(tmp_path / "wh"))
        t = cat.create_table(
            "otel", "vp", SCHEMA, properties={"format-version": "3"}
        )
        for base in (0, 100, 200, 300):
            df = spark.range(base, base + 50).select(
                F.col("id"),
                (F.lit(1705320000_000000000) + F.col("id")).alias("ts"),
                F.parse_json(
                    F.concat(F.lit('{"k": '), F.col("id").cast("string"), F.lit("}"))
                ).alias("attrs"),
            )
            t.append_dataframe(df.coalesce(1))
        md = t.metadata()
        scan, excluded, _ = plan_dml_files(
            md, md["current-snapshot-id"], "id >= 320"
        )
        assert len(scan) == 1 and len(excluded) == 3


class TestVariantTable:
    def test_v3_roundtrip_and_variant_get(self, spark, tmp_path):
        cat = FsCatalog(str(tmp_path / "wh"))
        t = cat.create_table(
            "otel", "var", SCHEMA, properties={"format-version": "3"}
        )
        md = t.metadata()
        assert md["format-version"] == 3
        assert next(
            f for f in md["schemas"][0]["fields"] if f["name"] == "attrs"
        )["type"] == "variant"
        t.append_dataframe(_df(spark, 6))
        got = t.read(spark)
        assert dict(got.dtypes)["attrs"] == "variant"
        vals = {
            r["id"]: r["k"]
            for r in got.select(
                "id", F.try_variant_get("attrs", "$.k", "long").alias("k")
            ).collect()
        }
        assert vals == {i: i for i in range(6)}
        # manifests recorded the right record counts (footer fallback)
        assert t.count_rows(spark) == 6

    def test_v2_refuses_variant(self, spark, tmp_path):
        cat = FsCatalog(str(tmp_path / "wh"))
        with pytest.raises(ValueError, match="format-version"):
            cat.create_table("otel", "var2", SCHEMA)

    def test_partition_by_variant_refused(self, spark, tmp_path):
        cat = FsCatalog(str(tmp_path / "wh"))
        with pytest.raises(ValueError, match="variant"):
            cat.create_table(
                "otel", "var3", SCHEMA,
                partition_source="attrs",
                properties={"format-version": "3"},
            )

    def test_sort_by_variant_refused(self, spark, tmp_path):
        cat = FsCatalog(str(tmp_path / "wh"))
        with pytest.raises(ValueError, match="sort"):
            cat.create_table(
                "otel", "var3s", SCHEMA,
                sort_by=["attrs"],
                properties={"format-version": "3"},
            )

    def test_dml_on_variant_table(self, spark, tmp_path):
        """Row-level DML works with a variant column riding along: the
        CoW rewrite carries the variant bytes; deletes prune nothing by
        bounds (variant files carry none) but stay CORRECT."""
        cat = FsCatalog(str(tmp_path / "wh"))
        t = cat.create_table(
            "otel", "var4", SCHEMA, properties={"format-version": "3"}
        )
        t.append_dataframe(_df(spark, 10))
        sid, n = t.delete_where(spark, "id >= 7", mode="copy-on-write")
        assert n == 3
        got = t.read(spark)
        assert got.count() == 7
        vals = {
            r["id"]: r["k"]
            for r in got.select(
                "id", F.try_variant_get("attrs", "$.k", "long").alias("k")
            ).collect()
        }
        assert vals == {i: i for i in range(7)}  # variant survived the rewrite

    def test_mor_dv_delete_on_variant_table(self, spark, tmp_path):
        """Merge-on-read deletion vectors on a variant-bearing table:
        the roaring/Puffin write path and the masked read never touch
        the variant bytes, and the footer fallback keeps the re-commit
        record counts right."""
        cat = FsCatalog(str(tmp_path / "wh"))
        t = cat.create_table(
            "otel", "var7", SCHEMA, properties={"format-version": "3"}
        )
        t.append_dataframe(_df(spark, 12))
        sid, n = t.delete_where(
            spark, "pmod(id, 4) = 1", mode="deletion-vectors"
        )
        assert n == 3
        got = t.read(spark).select(
            "id", F.try_variant_get("attrs", "$.k", "long").alias("k")
        ).collect()
        assert len(got) == 9
        assert all(r["k"] == r["id"] for r in got)

    def test_column_stats_on_variant_table(self, spark, tmp_path):
        """Puffin NDV stats compute over the orderable columns of a
        variant-bearing table (the variant column itself carries no
        sketch — no defined value identity)."""
        cat = FsCatalog(str(tmp_path / "wh"))
        t = cat.create_table(
            "otel", "var8", SCHEMA, properties={"format-version": "3"}
        )
        t.append_dataframe(_df(spark, 20))
        t.compute_column_stats(spark, columns=["id", "ts"])
        stats = t.column_stats()
        assert stats["id"]["ndv"] == 20

    def test_add_variant_column_v3_only(self, spark, tmp_path):
        cat = FsCatalog(str(tmp_path / "wh"))
        plain = StructType(
            [StructField("id", LongType(), False), StructField("v", StringType(), True)]
        )
        t = cat.create_table("otel", "var5", plain)
        t.append_dataframe(
            spark.createDataFrame([(1, "a"), (2, "b")], plain)
        )
        with pytest.raises(ValueError, match="upgrade_format_version"):
            t.add_columns([StructField("attrs", VariantType(), True)])
        t.upgrade_format_version(3)
        t.add_columns([StructField("attrs", VariantType(), True)])
        rows = t.read(spark).collect()
        assert len(rows) == 2 and all(r["attrs"] is None for r in rows)

    def test_lineage_composes_with_variant(self, spark, tmp_path):
        cat = FsCatalog(str(tmp_path / "wh"))
        t = cat.create_table(
            "otel", "var6", SCHEMA, properties={"format-version": "3"}
        )
        t.append_dataframe(_df(spark, 5))
        rows = t.read(spark, with_lineage=True).collect()
        assert {r["_row_id"] for r in rows} == set(range(5))


class TestVariantAttrsExporter:
    def _cfg(self, tmp_path, **kw):
        from opentelemetry_iceberg_exporter_spark.config import (
            CatalogConfig,
            ExporterConfig,
            PartitionConfig,
            StorageConfig,
        )

        return ExporterConfig(
            storage=StorageConfig(
                provider="filesystem", bucket=str(tmp_path), prefix="otel-exp"
            ),
            catalog=CatalogConfig(
                catalog_type="fs", warehouse=str(tmp_path / "wh")
            ),
            partition=PartitionConfig(granularity="hourly"),
            **kw,
        )

    def _fixture(self, name):
        return os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "..",
            "opentelemetry_iceberg_exporter_spark",
            "queries",
            "fixtures",
            name,
        )

    def test_traces_variant_attrs_end_to_end(self, spark, tmp_path):
        """variant_attrs mode: span/resource/scope attributes land as
        QUERYABLE v3 variant columns — typed path extraction instead of
        the reference's opaque JSON strings."""
        from opentelemetry_iceberg_exporter_spark.sinks.iceberg_sink import (
            FsIcebergSink,
        )
        from opentelemetry_iceberg_exporter_spark.streaming.pipeline import (
            flatten_signal,
        )

        cfg = self._cfg(tmp_path, variant_attrs=True)
        raw = spark.read.text(self._fixture("otlp_traces.jsonl"))
        flat = flatten_signal(raw, "traces", variant_attrs=True)
        sink = FsIcebergSink(spark, cfg)
        sink.append(flat["traces"], "traces")
        t = sink.catalog.load_table("otel", "otel_traces")
        md = t.metadata()
        assert md["format-version"] == 3
        types = {f["name"]: f["type"] for f in md["schemas"][0]["fields"]}
        assert types["span_attributes"] == "variant"
        assert types["resource_attributes"] == "variant"
        # typed extraction straight off the table — an int compared as
        # an int, which the JSON-string form cannot do without casts
        got = t.read(spark).select(
            "span_id",
            F.try_variant_get(
                "span_attributes", "$['http.status_code']", "int"
            ).alias("code"),
        ).collect()
        by_span = {r["span_id"]: r["code"] for r in got}
        assert by_span["0102030405060708"] == 200

    def test_metrics_variant_attrs_with_ns(self, spark, tmp_path):
        """ns_timestamps and variant_attrs COMPOSE: a metrics table with
        epoch-nanos times AND variant attribute maps; the empty-metadata
        -> NULL rule survives (parse_json(NULL) is NULL)."""
        from opentelemetry_iceberg_exporter_spark.sinks.iceberg_sink import (
            FsIcebergSink,
        )
        from opentelemetry_iceberg_exporter_spark.streaming.pipeline import (
            flatten_signal,
        )

        cfg = self._cfg(tmp_path, ns_timestamps=True, variant_attrs=True)
        raw = spark.read.text(self._fixture("otlp_metrics.jsonl"))
        flat = flatten_signal(
            raw, "metrics", ns_timestamps=True, variant_attrs=True
        )
        sink = FsIcebergSink(spark, cfg)
        sink.append(flat["metrics_gauge"], "metrics_gauge")
        t = sink.catalog.load_table("otel", "otel_metrics_gauge")
        types = {
            f["name"]: f["type"] for f in t.metadata()["schemas"][0]["fields"]
        }
        assert types["time_unix_nano"] == "timestamptz_ns"
        assert types["attributes"] == "variant"
        rows = t.read(spark).select(
            "time_unix_nano",
            F.try_variant_get("attributes", "$.host", "string").alias("host"),
            F.col("metric_metadata").isNull().alias("meta_null"),
        ).collect()
        assert all(isinstance(r["time_unix_nano"], int) for r in rows)
        assert any(r["host"] == "h1" for r in rows)
        assert all(r["meta_null"] for r in rows)  # '{}' -> NULL survives


class TestVariantRest:
    def test_rest_variant_roundtrip(self, spark, tmp_path):
        warehouse = str(tmp_path / "rwh")
        os.makedirs(warehouse)
        server, _, uri = make_server(warehouse)
        try:
            from opentelemetry_iceberg_exporter_spark.sinks.iceberg_rest import (
                RestCatalogClient,
            )

            client = RestCatalogClient(uri, warehouse=warehouse)
            client.ensure_namespace("otel")
            t = client.ensure_table(
                "otel", "var", SCHEMA, properties={"format-version": "3"}
            )
            t.append_dataframe(_df(spark, 4))
            got = t.read(spark).select(
                "id", F.try_variant_get("attrs", "$.tags[1]", "string").alias("t1")
            ).collect()
            assert {r["t1"] for r in got} == {"b"}
            with pytest.raises(ValueError, match="format-version"):
                client.create_table("otel", "var2", SCHEMA)
        finally:
            server.shutdown()
