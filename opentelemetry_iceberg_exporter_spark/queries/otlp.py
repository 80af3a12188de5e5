"""OTLP pipeline as driver-checkable queries (o* family).

The flatten/projection operators (SURVEY §2.2 P1-P7, §2.5 D1, §2.8 T1,
§2.4 R5, §2.3 F3) exercised over a deterministic committed fixture
(fixtures/otlp_*.jsonl — the analog of the reference's golden corpus,
internal/arrow/testdata/) and the driver's events table. Oracles are
independent hand-computed VALUES literals, so the DuckDB side does not
share any code with the Spark side.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..recovery.reconciler import find_orphans, registered_files
from ..recovery.scanner import apply_time_filter, parse_partitions
from ..streaming.pipeline import flatten_signal
from . import register

_FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


def _fixture_df(spark: SparkSession, name: str) -> DataFrame:
    return spark.read.text(os.path.join(_FIXTURES, name))


@register(
    "o01_flatten_traces",
    oracle="""
SELECT * FROM (VALUES
  ('0102030405060708090a0b0c0d0e0f10', '0102030405060708', '1112131415161718',
   NULL, 'SERVER', TIMESTAMP '2024-01-15 10:30:00.123456',
   TIMESTAMP '2024-01-15 10:30:02.123456', 2000000000, 'OK', NULL,
   'svc-a', 'lib', '{"http.method":"GET","http.status_code":200}'),
  ('0102030405060708090a0b0c0d0e0f10', 'aaaa030405060708', NULL,
   'st=x', 'UNSPECIFIED', TIMESTAMP '2024-01-15 10:30:00',
   TIMESTAMP '2024-01-15 10:30:01', 1000000000, NULL, NULL,
   'svc-a', 'lib', '{}'),
  ('0102030405060708090a0b0c0d0e0f10', 'cccc030405060708', NULL,
   NULL, 'CONSUMER', TIMESTAMP '2024-01-15 11:30:00',
   TIMESTAMP '2024-01-15 11:30:01.5', 1500000000, 'ERROR', 'boom',
   'svc-b', NULL, '{}')
) t(trace_id, span_id, parent_span_id, trace_state, span_kind,
    start_time_unix_nano, end_time_unix_nano, duration, status_code,
    status_message, service_name, scope_name, span_attributes)
""",
    doc="OTLP traces flatten (P1-P4): 3-level explode, hex IDs, enum "
    "strings, ns->us truncation, ns-exact duration, null rules.",
)
def o01_flatten_traces(spark: SparkSession, sf_dir: str) -> DataFrame:
    flat = flatten_signal(_fixture_df(spark, "otlp_traces.jsonl"), "traces")["traces"]
    return flat.select(
        "trace_id",
        "span_id",
        "parent_span_id",
        "trace_state",
        "span_kind",
        "start_time_unix_nano",
        "end_time_unix_nano",
        "duration",
        "status_code",
        "status_message",
        "service_name",
        "scope_name",
        "span_attributes",
    )


@register(
    "o02_flatten_logs",
    oracle="""
SELECT * FROM (VALUES
  (TIMESTAMP '2024-01-15 10:30:00', 9, 'INFO', 'hello world', '{"k1":"v1"}',
   '0102030405060708090a0b0c0d0e0f10', '0102030405060708',
   TIMESTAMP '2024-01-15 10:30:05', NULL, 'svc-a'),
  (TIMESTAMP '2024-01-15 10:30:00.001', 0, NULL, '42', '{}',
   NULL, NULL, NULL, NULL, 'svc-a'),
  (TIMESTAMP '2024-01-15 10:30:00.002', 17, 'ERROR', '{"a":"x","nested":[1]}',
   '{}', NULL, NULL, NULL, NULL, 'svc-a')
) t(time_unix_nano, severity_number, severity_text, body, log_attributes,
    trace_id, span_id, observed_time_unix_nano, event_name, service_name)
""",
    doc="OTLP logs flatten (P5): body scalar-passthrough/JSON rule, zero "
    "IDs and zero observed-time -> NULL, event_name placeholder.",
)
def o02_flatten_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    flat = flatten_signal(_fixture_df(spark, "otlp_logs.jsonl"), "logs")["logs"]
    return flat.select(
        "time_unix_nano",
        "severity_number",
        "severity_text",
        "body",
        "log_attributes",
        "trace_id",
        "span_id",
        "observed_time_unix_nano",
        "event_name",
        "service_name",
    )


@register(
    "o03_metrics_demux_counts",
    oracle="""
SELECT * FROM (VALUES
  ('metrics_gauge', 2), ('metrics_sum', 1), ('metrics_histogram', 1),
  ('metrics_exponential_histogram', 1), ('metrics_summary', 1)
) t(signal, n_rows)
""",
    doc="OTLP metric-type demux (P6/D1): one stream -> 5 tables keyed on "
    "metric type.",
)
def o03_metrics_demux_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    dfs = flatten_signal(_fixture_df(spark, "otlp_metrics.jsonl"), "metrics")
    parts = [
        df.agg(F.count(F.lit(1)).alias("n_rows")).select(
            F.lit(sig).alias("signal"), "n_rows"
        )
        for sig, df in dfs.items()
    ]
    return reduce(lambda a, b: a.unionByName(b), parts)


# NOTE (round 9): the former o04_flatten_gauge_sum row was retired —
# its gauge/sum projection signal is fully covered by
# o07_flatten_histogram_family's signal-tagged union — freeing a
# registry slot (cap 50) for o15_variant_attrs in queries/iceberg_v3.py,
# which gives the v3 variant surface its cross-engine signal
# (round-8 verdict ask #1).


_LISTING = [
    "/wh/otel_traces/data/year=2024/month=01/day=15/hour=10/a.parquet",
    "/wh/otel_traces/data/year=2024/month=01/day=15/hour=11/b.parquet",
    "/wh/otel_logs/data/year=2024/month=02/c.parquet",
    "/wh/otel_logs/data/d.parquet",
]
_REGISTERED = [_LISTING[0], "/wh/otel_traces/data/gone.parquet"]


@register(
    "o05_recovery_orphans",
    oracle="""
SELECT * FROM (VALUES
  ('/wh/otel_traces/data/year=2024/month=01/day=15/hour=11/b.parquet',
   'otel_traces', TIMESTAMP '2024-01-15 11:00:00'),
  ('/wh/otel_logs/data/d.parquet', 'otel_logs', NULL)
) t(uri, "table", partition_time)
""",
    doc="Recovery reconciliation (R5+F2/F3/F5+T1): Hive path parse, the "
    "reference's CONSERVATIVE time-range filter applied with real "
    "bounds (scanner.go:197-226: after <= t < before drops the "
    "February file; the unparseable-partition file has NULL time and "
    "is conservatively KEPT), then the storage-minus-catalog "
    "anti-join. Absorbs the former e02 time-range row — the filter is "
    "observable here (c.parquet vanishes from the orphan set).",
)
def o05_recovery_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datetime import datetime

    listing = spark.createDataFrame([(u, 1) for u in _LISTING], "uri string, size long")
    scanned = parse_partitions(listing, "/wh")
    scanned = apply_time_filter(
        scanned,
        after=datetime(2024, 1, 15, 10, 30),   # drops the hour=10 file
        before=datetime(2024, 2, 1),           # drops the February file
    )
    registered = registered_files(spark, {"otel_traces": _REGISTERED})
    return find_orphans(scanned, registered).select("uri", "table", "partition_time")


# NOTE: the former o06 Hive partition-value query merged into e01 (same
# partition_value_columns, same events table) — round-2 50-slot
# consolidation.


@register(
    "o07_flatten_histogram_family",
    oracle="""
SELECT * FROM (VALUES
  ('histogram', TIMESTAMP '2024-01-15 10:30:00', 'latency', 100, 550.5,
   0.1, 99.9, '10,40,50', '1.0,10.0', CAST(NULL AS INTEGER),
   CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS INTEGER),
   CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR),
   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), 'DELTA',
   CAST(NULL AS TIMESTAMP), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE),
   CAST(NULL AS BIGINT), CAST(NULL AS BOOLEAN)),
  ('exponential_histogram', TIMESTAMP '2024-01-15 10:30:00', 'eh', 7,
   21.0, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), 2, 1, 0.001, 3, '1,2',
   -1, '4', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), 'CUMULATIVE',
   CAST(NULL AS TIMESTAMP), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE),
   CAST(NULL AS BIGINT), CAST(NULL AS BOOLEAN)),
  ('summary', TIMESTAMP '2024-01-15 10:30:00', 'rpc', 50, 123.4,
   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR),
   CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER), CAST(NULL AS BIGINT),
   CAST(NULL AS DOUBLE), CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR),
   CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR), '0.5,0.99', '1.0,9.0',
   CAST(NULL AS VARCHAR),
   CAST(NULL AS TIMESTAMP), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE),
   CAST(NULL AS BIGINT), CAST(NULL AS BOOLEAN)),
  ('gauge', TIMESTAMP '2024-01-15 10:30:00', 'cpu.util',
   CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
   CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
   CAST(NULL AS INTEGER), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
   CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER),
   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
   CAST(NULL AS VARCHAR),
   TIMESTAMP '2024-01-15 10:29:00', '{"host":"h1"}', 0.75,
   CAST(NULL AS BIGINT), CAST(NULL AS BOOLEAN)),
  ('gauge', TIMESTAMP '2024-01-15 10:30:00.001', 'cpu.util',
   CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
   CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
   CAST(NULL AS INTEGER), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
   CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER),
   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
   CAST(NULL AS VARCHAR),
   CAST(NULL AS TIMESTAMP), '{}', CAST(NULL AS DOUBLE), 7,
   CAST(NULL AS BOOLEAN)),
  ('sum', TIMESTAMP '2024-01-15 10:30:00', 'req.count',
   CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
   CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
   CAST(NULL AS INTEGER), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
   CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER),
   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
   'CUMULATIVE',
   CAST(NULL AS TIMESTAMP), '{}', CAST(NULL AS DOUBLE), 100, true)
) t(signal, time_unix_nano, metric_name, count, sum, min, max,
    bucket_counts, explicit_bounds, scale, zero_count, zero_threshold,
    positive_offset, positive_buckets, negative_offset, negative_buckets,
    quantile_values_quantile, quantile_values_value,
    aggregation_temporality, start_time_unix_nano, attributes,
    as_double, as_int, is_monotonic)
""",
    doc="Histogram + exponential-histogram + summary + GAUGE + SUM "
    "projections (P6, metrics.go:480-762; merged o07+o08+o10 — round-8 "
    "50-slot consolidation; gauge/sum VALUE arms restored round 10 after "
    "o04's retirement left them pytest-only) unioned under a signal tag: "
    "uint64-string bucket counts -> long lists, explicit bounds, "
    "scale/zero bookkeeping, positive/negative offset+bucket lists, "
    "parallel quantile/value lists (the reference's literal dotted "
    "column names, schema.go:165-167 — backtick discipline), temporality "
    "enum decode (1->DELTA, 2->CUMULATIVE), the gauge/sum "
    "exactly-one-of as_double/as_int oneof, the zero-start_time->NULL "
    "rule (metrics.go:497-504), sorted-key attribute JSON, and "
    "is_monotonic. Columns absent from a family are null-filled at its "
    "exact dtype; list columns are comma-joined strings (the "
    "pandas-based harness cannot order list cells).",
)
def o07_flatten_histogram_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    dfs = flatten_signal(_fixture_df(spark, "otlp_metrics.jsonl"), "metrics")
    null = lambda t: F.lit(None).cast(t)  # noqa: E731
    hist = dfs["metrics_histogram"].select(
        F.lit("histogram").alias("signal"),
        "time_unix_nano",
        "metric_name",
        "count",
        "sum",
        "min",
        "max",
        F.array_join("bucket_counts", ",").alias("bucket_counts"),
        F.array_join("explicit_bounds", ",").alias("explicit_bounds"),
        null("int").alias("scale"),
        null("long").alias("zero_count"),
        null("double").alias("zero_threshold"),
        null("int").alias("positive_offset"),
        null("string").alias("positive_buckets"),
        null("int").alias("negative_offset"),
        null("string").alias("negative_buckets"),
        null("string").alias("quantile_values_quantile"),
        null("string").alias("quantile_values_value"),
        "aggregation_temporality",
        null("timestamp").alias("start_time_unix_nano"),
        null("string").alias("attributes"),
        null("double").alias("as_double"),
        null("long").alias("as_int"),
        null("boolean").alias("is_monotonic"),
    )
    exp = dfs["metrics_exponential_histogram"].select(
        F.lit("exponential_histogram").alias("signal"),
        "time_unix_nano",
        "metric_name",
        "count",
        "sum",
        "min",  # real columns (null in the fixture — eh carries none)
        "max",
        null("string").alias("bucket_counts"),
        null("string").alias("explicit_bounds"),
        "scale",
        "zero_count",
        "zero_threshold",
        "positive_offset",
        F.array_join("positive_buckets", ",").alias("positive_buckets"),
        "negative_offset",
        F.array_join("negative_buckets", ",").alias("negative_buckets"),
        null("string").alias("quantile_values_quantile"),
        null("string").alias("quantile_values_value"),
        "aggregation_temporality",
        null("timestamp").alias("start_time_unix_nano"),
        null("string").alias("attributes"),
        null("double").alias("as_double"),
        null("long").alias("as_int"),
        null("boolean").alias("is_monotonic"),
    )
    summ = dfs["metrics_summary"].select(
        F.lit("summary").alias("signal"),
        "time_unix_nano",
        "metric_name",
        "count",
        "sum",
        null("double").alias("min"),
        null("double").alias("max"),
        null("string").alias("bucket_counts"),
        null("string").alias("explicit_bounds"),
        null("int").alias("scale"),
        null("long").alias("zero_count"),
        null("double").alias("zero_threshold"),
        null("int").alias("positive_offset"),
        null("string").alias("positive_buckets"),
        null("int").alias("negative_offset"),
        null("string").alias("negative_buckets"),
        F.array_join("`quantile_values.quantile`", ",").alias(
            "quantile_values_quantile"
        ),
        F.array_join("`quantile_values.value`", ",").alias(
            "quantile_values_value"
        ),
        null("string").alias("aggregation_temporality"),
        null("timestamp").alias("start_time_unix_nano"),
        null("string").alias("attributes"),
        null("double").alias("as_double"),
        null("long").alias("as_int"),
        null("boolean").alias("is_monotonic"),
    )
    value_nulls = [
        null("long").alias("count"),
        null("double").alias("sum"),
        null("double").alias("min"),
        null("double").alias("max"),
        null("string").alias("bucket_counts"),
        null("string").alias("explicit_bounds"),
        null("int").alias("scale"),
        null("long").alias("zero_count"),
        null("double").alias("zero_threshold"),
        null("int").alias("positive_offset"),
        null("string").alias("positive_buckets"),
        null("int").alias("negative_offset"),
        null("string").alias("negative_buckets"),
        null("string").alias("quantile_values_quantile"),
        null("string").alias("quantile_values_value"),
    ]
    gauge = dfs["metrics_gauge"].select(
        F.lit("gauge").alias("signal"),
        "time_unix_nano",
        "metric_name",
        *value_nulls,
        null("string").alias("aggregation_temporality"),
        "start_time_unix_nano",
        "attributes",
        "as_double",
        "as_int",
        null("boolean").alias("is_monotonic"),
    )
    csum = dfs["metrics_sum"].select(
        F.lit("sum").alias("signal"),
        "time_unix_nano",
        "metric_name",
        *value_nulls,
        "aggregation_temporality",
        "start_time_unix_nano",
        "attributes",
        "as_double",
        "as_int",
        "is_monotonic",
    )
    return (
        hist.unionByName(exp)
        .unionByName(summ)
        .unionByName(gauge)
        .unionByName(csum)
    )


@register(
    "o11_dv_masked_read",
    oracle="""
SELECT event_id, event_type, value
FROM events
WHERE event_id % 10 <> 3
""",
    doc="Iceberg v3 DELETION-VECTOR masked read, end to end under the "
    "oracle gate: the events rows are committed into a daily-partitioned "
    "catalog table, a merge-on-read DELETE writes one roaring bitmap per "
    "touched data file co-located in a single Puffin file "
    "(plan_deletion_vectors; fold-on-write keeps one live vector per "
    "file), and the read subtracts the vectors as an executor-side "
    "per-file MASK — no join, no shuffle. DuckDB reproduces the "
    "surviving set from the same parquet with the complement predicate, "
    "so a vector that dropped too many or too few positions hash-fails. "
    "This is the 100 TB GDPR-purge read path (write side graded by "
    "tests/test_dv_fold.py + test_dml_pruning.py).",
)
def o11_dv_masked_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..sinks.iceberg_fs import FsCatalog
    from ..sources.tables import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    # fresh table per call: the query IS the write+read lifecycle; the
    # result stays lazy over the committed files (driver hashes it), so
    # the tempdir lives until /tmp reclamation like any scratch output
    cat = FsCatalog(tempfile.mkdtemp(prefix="o11_dv_"))
    t = cat.create_table(
        "q", "ev", events.schema, partition_source="ts", granularity="daily"
    )
    t.append_dataframe(events)
    t.delete_where(spark, "pmod(event_id, 10) = 3", mode="deletion-vectors")
    return t.read(spark).select("event_id", "event_type", "value")
