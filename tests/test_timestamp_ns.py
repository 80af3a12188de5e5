"""Iceberg v3 nanosecond timestamps (timestamp_ns / timestamptz_ns).

Spark has no nanosecond temporal type (TimestampType is µs), so ns
columns ride as LongType epoch-nanos end to end — full precision, exact
integer arithmetic everywhere (double division is lossy at epoch-ns
magnitude, ~1.7e18 > 2^53). This kills the reference's documented lossy
ns->µs truncation (internal/arrow/traces.go:141-142, README.md:430) on
v3 tables: OTel span/log timestamps ARE nanoseconds.

Covered: v3-birth creation with type overrides, round-trip at full ns
precision, hours/days/months partition transforms over ns (floor
semantics incl. pre-1970), manifest column bounds + DML pruning on ns
predicates, scoped reads with ISO-string bounds, bucket hashing over
epoch-nanos, refusal matrix, both transports.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from opentelemetry_iceberg_exporter_spark.sinks.iceberg_fs import (
    FsCatalog,
    apply_transform_value,
    plan_dml_files,
    transform_value_ns,
)

from rest_stub import make_server

NS = 1_000_000_000
HOUR_NS = 3600 * NS
# 2024-01-15T12:00:00Z in epoch-nanos
BASE_NS = 1705320000 * NS

SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("ts_ns", LongType(), True),  # epoch-nanos
        StructField("v", StringType(), True),
    ]
)


def _rows(n=8, base=BASE_NS, step=HOUR_NS, jitter=1):
    """One row per hour; `jitter` adds sub-µs digits that µs truncation
    would destroy — the precision the reference loses."""
    return [(i, base + i * step + i * jitter, f"r{i}") for i in range(n)]


def _make(spark, tmp_path, rows=None, granularity="hourly"):
    cat = FsCatalog(str(tmp_path / "wh"))
    t = cat.create_table(
        "otel",
        "tns",
        SCHEMA,
        partition_source="ts_ns",
        granularity=granularity,
        properties={"format-version": "3"},
        iceberg_types={"ts_ns": "timestamptz_ns"},
    )
    t.append_dataframe(spark.createDataFrame(rows or _rows(), SCHEMA))
    return t


class TestCreateAndRoundTrip:
    def test_v3_birth_schema_and_roundtrip(self, spark, tmp_path):
        t = _make(spark, tmp_path)
        md = t.metadata()
        assert md["format-version"] == 3
        assert md["next-row-id"] > 0  # v3 birth assigns lineage ids
        field = next(
            f for f in md["schemas"][0]["fields"] if f["name"] == "ts_ns"
        )
        assert field["type"] == "timestamptz_ns"
        got = {r["id"]: r["ts_ns"] for r in t.read(spark).collect()}
        # FULL ns precision survives — including the sub-µs jitter
        assert got == {i: ns for i, ns, _ in _rows()}
        # ...and lineage works from birth (no upgrade ceremony)
        ids = {r["_row_id"] for r in t.read(spark, with_lineage=True).collect()}
        assert ids == set(range(8))

    def test_sub_microsecond_values_stay_distinct(self, spark, tmp_path):
        rows = [(1, BASE_NS, "a"), (2, BASE_NS + 1, "b"), (3, BASE_NS + 999, "c")]
        t = _make(spark, tmp_path, rows=rows)
        got = sorted(r["ts_ns"] for r in t.read(spark).collect())
        assert got == [BASE_NS, BASE_NS + 1, BASE_NS + 999]

    def test_refusals(self, spark, tmp_path):
        cat = FsCatalog(str(tmp_path / "wh"))
        with pytest.raises(ValueError, match="format-version"):
            cat.create_table(
                "otel", "bad1", SCHEMA, iceberg_types={"ts_ns": "timestamptz_ns"}
            )
        with pytest.raises(ValueError, match="LongType"):
            cat.create_table(
                "otel", "bad2", SCHEMA,
                properties={"format-version": "3"},
                iceberg_types={"v": "timestamp_ns"},
            )
        with pytest.raises(ValueError, match="unknown column"):
            cat.create_table(
                "otel", "bad3", SCHEMA,
                properties={"format-version": "3"},
                iceberg_types={"ghost": "timestamp_ns"},
            )
        with pytest.raises(ValueError, match="override"):
            cat.create_table(
                "otel", "bad4", SCHEMA,
                properties={"format-version": "3"},
                iceberg_types={"id": "string"},
            )


class TestTransforms:
    def test_hour_partition_values_exact(self, spark, tmp_path):
        t = _make(spark, tmp_path)
        files, _ = t.plan_files()
        hours = sorted(f.partition["ts_ns_hour"] for f in files)
        assert hours == [BASE_NS // HOUR_NS + i for i in range(8)]

    def test_pre_1970_floor_semantics(self, spark, tmp_path):
        """Negative epoch-nanos must land in hour -1, not 0 — Python //
        floor semantics, matched by the decimal-floor Column path."""
        rows = [(1, -1, "a"), (2, -HOUR_NS, "b"), (3, 1, "c")]
        t = _make(spark, tmp_path, rows=rows)
        # hour -1 holds BOTH negative rows (one file per partition value)
        parts = sorted(f.partition["ts_ns_hour"] for f in t.plan_files()[0])
        assert parts == [-1, 0]
        assert transform_value_ns(-1, "hours") == -1
        assert transform_value_ns(-HOUR_NS, "hours") == -1
        assert transform_value_ns(1, "hours") == 0

    def test_driver_and_executor_transforms_agree(self, spark, tmp_path):
        """transform_value_ns (planner) == transform_column (writer) on
        values that double division would corrupt."""
        day_ns = 86400 * NS
        probe = [
            BASE_NS, BASE_NS + 1, BASE_NS + HOUR_NS - 1, -1, -HOUR_NS - 1,
            2_000_000_000 * NS + 123,  # 2033, near the top of the range
            19738 * day_ns - 1,  # 1ns below a day boundary: the case
            19738 * day_ns,      # naive decimal division rounds wrong
        ]
        rows = [(i, ns, "x") for i, ns in enumerate(probe)]
        t = _make(spark, tmp_path, rows=rows, granularity="daily")
        by_val = {}
        for f in t.plan_files()[0]:
            # re-derive: each file holds rows of exactly one day value
            by_val[f.partition["ts_ns_day"]] = f
        expected = {transform_value_ns(ns, "days") for ns in probe}
        assert set(by_val) == expected

    def test_months_over_ns(self, spark, tmp_path):
        jan = int(datetime(2024, 1, 31, 23, 59, 59, tzinfo=timezone.utc).timestamp()) * NS + 999_999_999
        feb = int(datetime(2024, 2, 1, 0, 0, 0, tzinfo=timezone.utc).timestamp()) * NS
        assert transform_value_ns(jan, "months") == (2024 - 1970) * 12 + 0
        assert transform_value_ns(feb, "months") == (2024 - 1970) * 12 + 1
        rows = [(1, jan, "jan"), (2, feb, "feb")]
        t = _make(spark, tmp_path, rows=rows, granularity="monthly")
        parts = sorted(f.partition["ts_ns_month"] for f in t.plan_files()[0])
        assert parts == [648, 649]

    def test_iso_string_bounds_transform(self):
        # the scoped-read surface hands ISO strings to the planner
        got = apply_transform_value(
            datetime(2024, 1, 15, 12, 0, 0, tzinfo=timezone.utc),
            "hours",
            "timestamptz_ns",
        )
        assert got == BASE_NS // HOUR_NS


class TestPruning:
    def test_dml_pruning_on_ns_predicate(self, spark, tmp_path):
        """A ns-range DELETE predicate prunes provably-unmatched files
        at the metadata level — partition transform values AND manifest
        column bounds both engage on the epoch-nanos long."""
        t = _make(spark, tmp_path)  # 8 files, one per hour
        lo = BASE_NS + 2 * HOUR_NS
        hi = BASE_NS + 3 * HOUR_NS + 3  # row 3 sits 3ns past the hour
        live, excluded, _ = plan_dml_files(
            t.metadata(),
            t.current_snapshot()["snapshot-id"],
            f"ts_ns >= {lo} AND ts_ns <= {hi}",
        )
        assert len(live) == 2 and len(excluded) == 6
        # sub-µs sharpness: shrink hi by ONE nanosecond and the hour-3
        # file is provably out (manifest ns bounds, not just partitions)
        live, excluded, _ = plan_dml_files(
            t.metadata(),
            t.current_snapshot()["snapshot-id"],
            f"ts_ns >= {lo} AND ts_ns <= {hi - 1}",
        )
        assert len(live) == 1 and len(excluded) == 7

    def test_delete_where_ns_range(self, spark, tmp_path):
        t = _make(spark, tmp_path)
        sid, n = t.delete_where(
            spark, f"ts_ns < {BASE_NS + 2 * HOUR_NS}", mode="deletion-vectors"
        )
        assert n == 2
        assert t.read(spark).count() == 6

    def test_scoped_changelog_on_ns_column(self, spark, tmp_path):
        t = _make(spark, tmp_path)
        lo, hi = BASE_NS + HOUR_NS, BASE_NS + 3 * HOUR_NS
        scoped = t.changelog_scan(
            spark, source_range=("ts_ns", lo, hi)
        ).collect()
        # row 3 sits 3ns PAST hi (jitter) — the exact row filter drops
        # it even though its hour partition is in range
        assert {r["id"] for r in scoped} == {1, 2}


class TestBucketOverNs:
    def test_bucket_partition_matches_spec_hash(self, spark, tmp_path):
        from opentelemetry_iceberg_exporter_spark.sinks.transforms import (
            bucket_value,
        )

        cat = FsCatalog(str(tmp_path / "whb"))
        t = cat.create_table(
            "otel",
            "tnsb",
            SCHEMA,
            partition_by=[("ts_ns", "bucket[8]")],
            properties={"format-version": "3"},
            iceberg_types={"ts_ns": "timestamptz_ns"},
        )
        rows = _rows(16, jitter=7)
        t.append_dataframe(spark.createDataFrame(rows, SCHEMA))
        got = {}
        for f in t.plan_files()[0]:
            b = f.partition["ts_ns_bucket"]
            # read the file back to see which ns values landed there
            for r in spark.read.parquet(f.file_path).collect():
                got[r["ts_ns"]] = b
        # spec hash of the epoch-NANOS long (v3 Appendix B rule)
        assert got == {
            ns: bucket_value(ns, 8, "timestamptz_ns") for _, ns, _ in rows
        }


class TestOtlpNsVariant:
    def test_traces_flatten_ns_mode_preserves_sub_us(self, spark):
        """The reference truncates ns->us on the primary time columns
        (traces.go:141-142); ns mode keeps the full value — the fixture
        span ends in ...789, which the us path destroys."""
        from opentelemetry_iceberg_exporter_spark.streaming.pipeline import (
            flatten_signal,
        )

        fix = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "..",
            "opentelemetry_iceberg_exporter_spark",
            "queries",
            "fixtures",
            "otlp_traces.jsonl",
        )
        raw = spark.read.text(fix)
        ns = flatten_signal(raw, "traces", ns_timestamps=True)["traces"]
        row = ns.where("span_id = '0102030405060708'").first()
        assert row["start_time_unix_nano"] == 1705314600123456789
        assert row["end_time_unix_nano"] == 1705314602123456789
        assert row["duration"] == 2_000_000_000  # ns-exact in both modes
        # the us path truncates the ...789 tail (reference parity)
        us = flatten_signal(raw, "traces")["traces"].where(
            "span_id = '0102030405060708'"
        ).first()
        assert us["start_time_unix_nano"].microsecond == 123456

    def test_ns_traces_table_end_to_end(self, spark, tmp_path):
        """v3-native OTLP traces table: flatten in ns mode, store the
        span timestamps as timestamptz_ns, hour-partitioned, read back
        at full precision, prune by ns predicate."""
        from opentelemetry_iceberg_exporter_spark import schemas as S
        from opentelemetry_iceberg_exporter_spark.streaming.pipeline import (
            flatten_signal,
        )

        fix = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "..",
            "opentelemetry_iceberg_exporter_spark",
            "queries",
            "fixtures",
            "otlp_traces.jsonl",
        )
        flat = flatten_signal(
            spark.read.text(fix), "traces", ns_timestamps=True
        )["traces"].select(
            "trace_id", "span_id", "start_time_unix_nano",
            "end_time_unix_nano", "duration", "service_name",
        )
        cat = FsCatalog(str(tmp_path / "wh"))
        t = cat.create_table(
            "otel",
            "traces_ns",
            flat.schema,
            partition_source="start_time_unix_nano",
            granularity="hourly",
            properties={"format-version": "3"},
            iceberg_types=S.ns_iceberg_types(S.TRACES_SCHEMA),
        )
        t.append_dataframe(flat)
        got = {
            r["span_id"]: r["start_time_unix_nano"]
            for r in t.read(spark).collect()
        }
        assert got["0102030405060708"] == 1705314600123456789
        # ns-precision filter: a bound BETWEEN the us truncation and the
        # true value separates spans a us engine could not
        n = t.read(spark).where(
            "start_time_unix_nano > 1705314600123456500"
        ).count()
        assert n >= 1
        hours = {
            f.partition["start_time_unix_nano_hour"] for f in t.plan_files()[0]
        }
        assert 1705314600123456789 // HOUR_NS in hours

    def test_logs_flatten_ns_mode(self, spark):
        from opentelemetry_iceberg_exporter_spark.streaming.pipeline import (
            flatten_signal,
        )

        fix = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "..",
            "opentelemetry_iceberg_exporter_spark",
            "queries",
            "fixtures",
            "otlp_logs.jsonl",
        )
        ns = flatten_signal(spark.read.text(fix), "logs", ns_timestamps=True)["logs"]
        rows = ns.select("time_unix_nano", "observed_time_unix_nano").collect()
        assert all(isinstance(r["time_unix_nano"], int) for r in rows)
        # the zero-observed-time -> NULL rule survives ns mode
        assert any(r["observed_time_unix_nano"] is None for r in rows)
        assert any(r["observed_time_unix_nano"] is not None for r in rows)


class TestNsExporterPipeline:
    def test_fs_sink_ns_mode_end_to_end(self, spark, tmp_path):
        """The exporter's ns-native mode (ExporterConfig.ns_timestamps):
        flatten keeps epoch-nanos, the fs sink births v3 tables with
        timestamptz_ns span/log time columns, and the committed rows
        carry the sub-us digits the reference's us mode truncates."""
        import json as _json

        from opentelemetry_iceberg_exporter_spark.config import (
            CatalogConfig,
            ExporterConfig,
            PartitionConfig,
            StorageConfig,
        )
        from opentelemetry_iceberg_exporter_spark.sinks.iceberg_sink import (
            FsIcebergSink,
        )
        from opentelemetry_iceberg_exporter_spark.streaming.pipeline import (
            flatten_signal,
        )

        cfg = ExporterConfig(
            storage=StorageConfig(
                provider="filesystem", bucket=str(tmp_path), prefix="otel-exp"
            ),
            catalog=CatalogConfig(
                catalog_type="fs", warehouse=str(tmp_path / "wh")
            ),
            partition=PartitionConfig(granularity="hourly"),
            ns_timestamps=True,
        )
        fix = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "..",
            "opentelemetry_iceberg_exporter_spark",
            "queries",
            "fixtures",
            "otlp_traces.jsonl",
        )
        raw = spark.read.text(fix)
        flattened = flatten_signal(raw, "traces", ns_timestamps=True)
        sink = FsIcebergSink(spark, cfg)
        sink.append(flattened["traces"], "traces")
        t = sink.catalog.load_table("otel", "otel_traces")
        md = t.metadata()
        assert md["format-version"] == 3
        types = {f["name"]: f["type"] for f in md["schemas"][0]["fields"]}
        assert types["start_time_unix_nano"] == "timestamptz_ns"
        assert types["end_time_unix_nano"] == "timestamptz_ns"
        got = {
            r["span_id"]: r["start_time_unix_nano"]
            for r in t.read(spark).collect()
        }
        assert got["0102030405060708"] == 1705314600123456789
        # partition spec: hours over the ns column
        spec = md["partition-specs"][0]["fields"][0]
        assert spec["transform"] == "hours"

    def test_metrics_flatten_ns_mode(self, spark):
        from opentelemetry_iceberg_exporter_spark.streaming.pipeline import (
            flatten_signal,
        )

        fix = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "..",
            "opentelemetry_iceberg_exporter_spark",
            "queries",
            "fixtures",
            "otlp_metrics.jsonl",
        )
        dfs = flatten_signal(spark.read.text(fix), "metrics", ns_timestamps=True)
        gauge = dfs["metrics_gauge"].select(
            "time_unix_nano", "start_time_unix_nano"
        ).collect()
        assert all(isinstance(r["time_unix_nano"], int) for r in gauge)
        # the zero-start-time -> NULL rule survives ns mode
        assert any(r["start_time_unix_nano"] is None for r in gauge)
        assert any(r["start_time_unix_nano"] is not None for r in gauge)
        # exemplar time lists are epoch-nanos longs
        dtypes = dict(dfs["metrics_gauge"].dtypes)
        assert dtypes["exemplars_time_unix_nano"] == "array<bigint>"


class TestNsDefaultsAndUnknown:
    """Round-8 stretch: v3 `unknown` columns (type not yet decided —
    always optional, always read null, refused as partition source /
    default target) and ns-timestamp DEFAULT VALUES (the spec's ISO
    single-value string with up to 9 fractional digits, or engine-native
    epoch-nanos)."""

    def test_parse_iso_ns(self):
        from opentelemetry_iceberg_exporter_spark.sinks.iceberg_fs import (
            parse_iso_ns,
        )

        assert parse_iso_ns("2024-01-15T12:00:00.123456789+00:00") == (
            BASE_NS + 123456789
        )
        assert parse_iso_ns("2024-01-15 12:00:00") == BASE_NS  # naive = UTC
        assert parse_iso_ns("1969-12-31T23:59:59.999999999") == -1
        with pytest.raises(ValueError, match="9 fractional"):
            parse_iso_ns("2024-01-15T12:00:00.1234567891")

    def test_parse_iso_ns_roundtrip_property(self):
        """format(ns) -> ISO with 9 fractional digits -> parse == ns,
        over the whole datetime-representable range incl. pre-1970
        (floor semantics on the seconds part)."""
        from datetime import timedelta

        from hypothesis import given, settings
        from hypothesis import strategies as st

        from opentelemetry_iceberg_exporter_spark.sinks.iceberg_fs import (
            parse_iso_ns,
        )

        epoch = datetime(1970, 1, 1, tzinfo=timezone.utc)
        lo = int((datetime(1, 1, 1, tzinfo=timezone.utc) - epoch).total_seconds()) + 86400
        hi = int((datetime(9999, 12, 31, tzinfo=timezone.utc) - epoch).total_seconds()) - 86400

        @settings(max_examples=200, deadline=None)
        @given(
            st.integers(min_value=lo, max_value=hi),
            st.integers(min_value=0, max_value=999_999_999),
        )
        def check(sec: int, frac: int) -> None:
            ns = sec * NS + frac
            dt = epoch + timedelta(seconds=sec)
            # strftime does NOT zero-pad years < 1000; ISO requires it
            iso = (
                f"{dt.year:04d}-{dt.month:02d}-{dt.day:02d}"
                f"T{dt.hour:02d}:{dt.minute:02d}:{dt.second:02d}"
                f".{frac:09d}+00:00"
            )
            assert parse_iso_ns(iso) == ns

        check()

    def test_ns_default_values(self, spark, tmp_path):
        from pyspark.sql.types import LongType, StructField

        t = _make(spark, tmp_path)  # 8 pre-evolution rows
        t.add_columns(
            [StructField("seen_ns", LongType(), True)],
            defaults={"seen_ns": "2024-01-15T12:00:00.123456789+00:00"},
            iceberg_types={"seen_ns": "timestamptz_ns"},
        )
        field = next(
            f for f in t.metadata()["schemas"][-1]["fields"]
            if f["name"] == "seen_ns"
        )
        assert field["type"] == "timestamptz_ns"
        # pre-evolution files read the ISO default AS EPOCH-NANOS
        rows = t.read(spark).collect()
        assert all(r["seen_ns"] == BASE_NS + 123456789 for r in rows)
        # a writer omitting the column STORES the write-default
        t.append_dataframe(
            spark.createDataFrame([(100, BASE_NS + 9 * HOUR_NS, "w")], SCHEMA)
        )
        got = {r["id"]: r["seen_ns"] for r in t.read(spark).collect()}
        assert got[100] == BASE_NS + 123456789

    def test_unknown_column_always_reads_null(self, spark, tmp_path):
        from pyspark.sql.types import StringType, StructField

        t = _make(spark, tmp_path)
        t.add_columns(
            [StructField("maybe", StringType(), True)],
            iceberg_types={"maybe": "unknown"},
        )
        field = next(
            f for f in t.metadata()["schemas"][-1]["fields"]
            if f["name"] == "maybe"
        )
        assert field["type"] == "unknown"
        rows = t.read(spark).collect()
        assert rows and all(r["maybe"] is None for r in rows)
        # post-evolution appends (omitting the column) still read null
        t.append_dataframe(
            spark.createDataFrame([(200, BASE_NS + 10 * HOUR_NS, "x")], SCHEMA)
        )
        rows = t.read(spark).collect()
        assert len(rows) == 9 and all(r["maybe"] is None for r in rows)

    def test_unknown_refusals(self, spark, tmp_path):
        from pyspark.sql.types import StringType, StructField

        t = _make(spark, tmp_path)
        with pytest.raises(ValueError, match="optional"):
            t.add_columns(
                [StructField("must", StringType(), False)],
                iceberg_types={"must": "unknown"},
            )
        with pytest.raises(ValueError, match="default"):
            t.add_columns(
                [StructField("maybe", StringType(), True)],
                defaults={"maybe": "x"},
                iceberg_types={"maybe": "unknown"},
            )
        t.add_columns(
            [StructField("maybe", StringType(), True)],
            iceberg_types={"maybe": "unknown"},
        )
        with pytest.raises(ValueError, match="partition source"):
            t.update_partition_spec("maybe")
        # v2 tables refuse the v3-only overrides outright
        cat = FsCatalog(str(tmp_path / "wh2"))
        t2 = cat.create_table("otel", "v2t", SCHEMA)
        with pytest.raises(ValueError, match="v3"):
            t2.add_columns(
                [StructField("maybe", StringType(), True)],
                iceberg_types={"maybe": "unknown"},
            )

    def test_unknown_over_rest(self, spark, tmp_path):
        import os as _os

        from pyspark.sql.types import StringType, StructField

        warehouse = str(tmp_path / "rwh")
        _os.makedirs(warehouse)
        server, _, uri = make_server(warehouse)
        try:
            from opentelemetry_iceberg_exporter_spark.sinks.iceberg_rest import (
                RestCatalogClient,
            )

            client = RestCatalogClient(uri, warehouse=warehouse)
            client.ensure_namespace("otel")
            t = client.ensure_table(
                "otel", "unk", SCHEMA,
                properties={"format-version": "3"},
                iceberg_types={"ts_ns": "timestamptz_ns"},
            )
            t.append_dataframe(spark.createDataFrame(_rows(3), SCHEMA))
            t.add_columns(
                [StructField("maybe", StringType(), True)],
                iceberg_types={"maybe": "unknown"},
            )
            rows = t.read(spark).collect()
            assert len(rows) == 3 and all(r["maybe"] is None for r in rows)
        finally:
            server.shutdown()


class TestRestTransport:
    def test_rest_ns_table_roundtrip_and_prune(self, spark, tmp_path):
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
                "otel",
                "tns",
                SCHEMA,
                partition_source="ts_ns",
                granularity="hourly",
                properties={"format-version": "3"},
                iceberg_types={"ts_ns": "timestamptz_ns"},
            )
            md = t.metadata()
            assert md["format-version"] == 3
            assert next(
                f for f in md["schemas"][0]["fields"] if f["name"] == "ts_ns"
            )["type"] == "timestamptz_ns"
            t.append_dataframe(spark.createDataFrame(_rows(), SCHEMA))
            got = {r["id"]: r["ts_ns"] for r in t.read(spark).collect()}
            assert got == {i: ns for i, ns, _ in _rows()}
            sid, n = t.delete_where(
                spark,
                f"ts_ns >= {BASE_NS + 6 * HOUR_NS}",
                mode="deletion-vectors",
            )
            assert n == 2 and t.read(spark).count() == 6
            with pytest.raises(ValueError, match="format-version"):
                client.create_table(
                    "otel", "bad", SCHEMA,
                    iceberg_types={"ts_ns": "timestamp_ns"},
                )
        finally:
            server.shutdown()
