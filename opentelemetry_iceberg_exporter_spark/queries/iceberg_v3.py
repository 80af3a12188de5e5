"""Iceberg v3 read surfaces under the DuckDB oracle gate (o12-o15):
row lineage, net_changes over a scoped changelog, nanosecond
timestamps, and variant attribute columns — the round-7/8 features
promoted from pytest-only coverage to hard cross-engine signals
(round-8 verdict ask #4, round-9 ask #1).

Each query builds a REAL catalog table per call (like o11): the query
IS the write+read lifecycle, and DuckDB reproduces the expected result
from the same source parquet with plain SQL — so a wrong lineage id, a
mis-collapsed change window, or a truncated nanosecond hash-fails.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sinks.iceberg_fs import FsCatalog, net_changes
from ..sources.tables import load_table
from . import register

# epoch-nanos bounds for the scoped window (2024-01-10 .. 2024-01-20,
# mid-range of the generator's one-month span at every sf)
_SCOPE_LO_NS = 1704844800 * 1_000_000_000
_SCOPE_HI_NS = 1705708800 * 1_000_000_000


@register(
    "o12_lineage_read",
    oracle="""
SELECT event_id,
       CASE WHEN event_type = 'click' THEN value * 2 ELSE value END AS value,
       row_number() OVER (ORDER BY event_id) - 1 AS "_row_id",
       CASE WHEN event_type = 'click' THEN 2 ELSE 1
            END AS "_last_updated_sequence_number"
FROM events
""",
    doc="Iceberg v3 ROW LINEAGE read, end to end under the oracle gate: "
    "events committed RANGE-DISTRIBUTED + sorted by event_id (the "
    "production sorted-write pattern — 4 disjoint ascending slices, "
    "one file each, no single-partition plan node; r11 verdict ask "
    "#7), then a copy-on-write UPDATE doubles the click rows' value. "
    "Inherited _row_id stays content-predictable because the commit "
    "assigns first_row_id in sorted file-name order = ascending range "
    "slices, so ids concatenate to the global event_id rank "
    "regardless of where the range boundaries fall. The lineage read "
    "must show every row's ORIGINAL _row_id surviving the rewrite "
    "(materialized by the CoW path) and _last_updated_sequence_number "
    "flipped to the update commit's sequence number for exactly the "
    "updated rows. DuckDB reproduces both columns from the source "
    "parquet with a window function — an id reassigned, lost, or "
    "duplicated by the rewrite hash-fails.",
)
def o12_lineage_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "event_type", "value")
        # 4 disjoint ascending event_id slices, each file sorted: the
        # appended files' first_row_id cursor (assigned in sorted
        # file-name = slice order) makes inherited _row_id the global
        # event_id rank — deterministic WITHOUT a coalesce(1)
        .repartitionByRange(4, "event_id")
        .sortWithinPartitions("event_id")
    )
    cat = FsCatalog(tempfile.mkdtemp(prefix="o12_ln_"))
    t = cat.create_table(
        "q", "ev", events.schema, properties={"format-version": "3"}
    )
    t.append_dataframe(events)  # seq 1: _row_id 0..n-1 in event_id order
    t.update_where(
        spark, "event_type = 'click'", {"value": "value * 2"},
        mode="copy-on-write",
    )  # seq 2: rewrite materializes lineage
    return t.read(spark, with_lineage=True).select(
        "event_id", "value", "_row_id", "_last_updated_sequence_number"
    )


@register(
    "o13_net_changes_scoped",
    oracle=f"""
WITH scoped AS (
  SELECT event_id, event_type, value
  FROM events
  WHERE epoch_ns(ts) >= {_SCOPE_LO_NS} AND epoch_ns(ts) <= {_SCOPE_HI_NS}
)
SELECT 'delete' AS _change_type, event_id, value
FROM scoped WHERE event_type = 'click' OR event_id % 7 = 0
UNION ALL
SELECT 'insert' AS _change_type, event_id, value * 2 AS value
FROM scoped WHERE event_type = 'click' AND event_id % 7 <> 0
""",
    doc="net_changes over a SCOPED lineage changelog on a v3 table with "
    "a NANOSECOND-timestamp partition column (timestamptz_ns, daily "
    "transform over epoch-nanos): merge-on-read UPDATE (clicks x2) then "
    "DELETE (event_id % 7) commit after the baseline append; the "
    "changelog window is scoped to a 10-day ts_ns range (manifest "
    "summary skip + ns partition-transform file skip + exact row "
    "filter) and collapsed per row identity. A row updated THEN deleted "
    "nets to ONE delete with its ORIGINAL pre-image; updated-only rows "
    "net to delete(original)+insert(final); untouched rows vanish. "
    "DuckDB reproduces the net set from the source parquet — a wrong "
    "collapse order, a leaked intermediate, or a mis-scoped row "
    "hash-fails.",
)
def o13_net_changes_scoped(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts_ns", "event_type", "value"
    )
    cat = FsCatalog(tempfile.mkdtemp(prefix="o13_nc_"))
    t = cat.create_table(
        "q",
        "ev",
        events.schema,
        partition_source="ts_ns",
        granularity="daily",
        properties={"format-version": "3"},
        iceberg_types={"ts_ns": "timestamptz_ns"},
    )
    t.append_dataframe(events)
    start = t.current_snapshot()["snapshot-id"]
    t.update_where(
        spark, "event_type = 'click'", {"value": "value * 2"},
        mode="deletion-vectors",
    )
    t.delete_where(spark, "pmod(event_id, 7) = 0", mode="deletion-vectors")
    log = t.changelog_scan(
        spark,
        from_snapshot_id=start,
        source_range=("ts_ns", _SCOPE_LO_NS, _SCOPE_HI_NS),
        with_lineage=True,
    )
    return net_changes(log).select("_change_type", "event_id", "value")


@register(
    "o14_ns_traces",
    oracle="""
SELECT * FROM (VALUES
  ('0102030405060708', 1705314600123456789, 1705314602123456789,
   2000000000),
  ('cccc030405060708', 1705318200000000000, 1705318201500000000,
   1500000000)
) t(span_id, start_time_unix_nano, end_time_unix_nano, duration)
""",
    doc="v3-native NANOSECOND OTLP traces (kills the reference's "
    "documented lossy ns->us truncation, traces.go:141-142 + "
    "README.md:430): the fixture spans flatten with ns_timestamps=True, "
    "commit into a v3 table whose span timestamps are timestamptz_ns "
    "(hour-partitioned over epoch-nanos), and read back through a "
    "SUB-MICROSECOND filter — the bound ...123456500 sits BETWEEN the "
    "us truncation (...123456000) and the true value (...123456789), so "
    "a us-precision engine returns the wrong row set. The aaaa span "
    "(whole-second start) is excluded by the same bound.",
)
def o14_ns_traces(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..schemas import TRACES_SCHEMA, ns_iceberg_types
    from ..streaming.pipeline import flatten_signal

    fixtures = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
    flat = flatten_signal(
        spark.read.text(os.path.join(fixtures, "otlp_traces.jsonl")),
        "traces",
        ns_timestamps=True,
    )["traces"].select("span_id", "start_time_unix_nano", "end_time_unix_nano", "duration")
    cat = FsCatalog(tempfile.mkdtemp(prefix="o14_ns_"))
    t = cat.create_table(
        "q",
        "tr",
        flat.schema,
        partition_source="start_time_unix_nano",
        granularity="hourly",
        properties={"format-version": "3"},
        iceberg_types=ns_iceberg_types(TRACES_SCHEMA),
    )
    t.append_dataframe(flat)
    return t.read(spark).where(
        F.col("start_time_unix_nano") > 1705314600123456500
    ).select("span_id", "start_time_unix_nano", "end_time_unix_nano", "duration")


@register(
    "o15_variant_attrs",
    oracle="""
WITH j AS (
  SELECT * FROM (VALUES
    ('0102030405060708',
     '{"http.method":"GET","http.status_code":200}',
     '{"env":"prod","service.name":"svc-a"}'),
    ('aaaa030405060708', '{}', '{"env":"prod","service.name":"svc-a"}'),
    ('cccc030405060708', '{}', '{"service.name":"svc-b"}')
  ) t(span_id, span_attrs, res_attrs)
)
SELECT span_id,
       CAST(json_extract(span_attrs, '$."http.status_code"') AS BIGINT)
         AS status_code,
       json_extract_string(span_attrs, '$."http.method"') AS http_method,
       json_extract_string(res_attrs, '$."service.name"') AS svc,
       json_extract_string(res_attrs, '$.env') AS env
FROM j
""",
    doc="v3 VARIANT attribute columns end to end (the exporter's "
    "variant_attrs mode, round-8 feature; replaces the reference's "
    "opaque JSON-string attributes, schema.go — queryable typed path "
    "extraction instead of per-query string parsing): the OTLP trace "
    "fixtures flatten, their attribute maps convert to VARIANT at plan "
    "level (parse_json), commit into a v3 Iceberg table as shredded "
    "parquet VARIANT, and read back through TYPED path extraction — "
    "try_variant_get at long vs string dtypes, dotted keys "
    "(http.status_code) via bracket paths, missing keys -> NULL. DuckDB "
    "reproduces every value from the same canonical JSON text with "
    "json_extract at the same dtypes — a mis-encoded variant, a lost "
    "type (200 as '200'), or a wrong NULL hash-fails.",
)
def o15_variant_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..streaming.pipeline import flatten_signal

    fixtures = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
    flat = flatten_signal(
        spark.read.text(os.path.join(fixtures, "otlp_traces.jsonl")),
        "traces",
        variant_attrs=True,
    )["traces"].select("span_id", "span_attributes", "resource_attributes")
    cat = FsCatalog(tempfile.mkdtemp(prefix="o15_va_"))
    t = cat.create_table(
        "q", "tr", flat.schema, properties={"format-version": "3"}
    )
    t.append_dataframe(flat)
    return t.read(spark).select(
        "span_id",
        F.try_variant_get(
            "span_attributes", "$['http.status_code']", "long"
        ).alias("status_code"),
        F.try_variant_get(
            "span_attributes", "$['http.method']", "string"
        ).alias("http_method"),
        F.try_variant_get(
            "resource_attributes", "$['service.name']", "string"
        ).alias("svc"),
        F.try_variant_get("resource_attributes", "$.env", "string").alias("env"),
    )
