"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced (count()) — not collected — so the measurement is
plan execution, not driver transfer.

Timing discipline: one cold pass (includes plan compile, comparable
round-over-round) and THREE steady passes reported as the per-query
MEDIAN — single-pass steady numbers on a shared sandbox swing ±15%
run-to-run, which is larger than most real plan regressions.

The `write_path` section benches the engine's actual production loop —
the reference is an *exporter* whose hot path is consume -> flatten ->
commit (writer.go:161-297, one commit per 512-record batch): N
micro-batch appends into an Iceberg table (commit-time manifest merging
ON, as a stream would run it), an upsert_equality stream, a changelog
drain, a deletion-vector delete (unprunable predicate — measures the DV
write pipeline), a TS-BOUNDED deletion-vector delete (the predicate-
pruned path: files_scanned/files_excluded show the metadata pruning),
and a rewrite_manifests pass, reported as sec/commit + rows/s so
commit-pipeline regressions are visible round-over-round. The same
section runs on BOTH transports: the fs catalog (`write_path`) and the
REST catalog against an in-process stub server (`write_path_rest`, the
reference's production catalog mode — includes the client's
requirement/ambiguity handling constants).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)

from opentelemetry_iceberg_exporter_spark.queries import load_all_queries
from opentelemetry_iceberg_exporter_spark.session import build_session

# headline set: one per operator family — star join, multi-agg, window
# top-k, pushdown scan, epoch-hour partition, as-of join, sessionize,
# exact dedup, minhash LSH, jaccard pairs, signatures, knn, LSH ANN,
# IVF ANN, doc features, top bigrams, streaming window
HEADLINE = [
    "q01_pricing_summary",
    "q03_revenue_by_nation",
    "q08_top_orders_per_priority",
    "q09_top10_filtered_lineitems",
    "e01_epoch_hour_partition",
    "e07_asof_join_last_order",
    "e09_sessionize",
    "d08_substr_spans",
    "d03_minhash_lsh_pairs",
    "d04_ngram_jaccard_pairs",
    "d02_signatures",
    "s01_knn_bruteforce",
    "s02_ann_lsh",
    "s03_ann_ivf",
    "t01_doc_features",
    "t05_top_bigrams",
    "st01_stream_tumbling_counts",
]

N_APPEND_BATCHES = 12
N_UPSERT_BATCHES = 4
N_STEADY_PASSES = 3
# the compact summary line's byte budget: the stdout tail a bench reader
# keeps is 2000 bytes
COMPACT_LINE_CAP = 1950


def run_write_path(spark, sf_dir: str, make_table) -> dict:
    """One full exporter-style write workload against a table created by
    `make_table(schema) -> table` (fs or REST transport — both expose
    the same operation surface)."""
    from pyspark.sql import functions as F

    from opentelemetry_iceberg_exporter_spark.sinks.avro_ocf import read_ocf
    from opentelemetry_iceberg_exporter_spark.sinks.iceberg_fs import (
        plan_dml_files,
    )
    from opentelemetry_iceberg_exporter_spark.sources.tables import load_table

    tmp = tempfile.mkdtemp(prefix="bench_write_")
    try:
        events = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        # pre-split once so append timings measure the COMMIT pipeline
        # (write + manifest tree + CAS), not a repeated source scan
        staged = os.path.join(tmp, "staged")
        events.withColumn(
            "b", F.pmod(F.col("event_id"), F.lit(N_APPEND_BATCHES)).cast("int")
        ).write.partitionBy("b").parquet(staged)

        t = make_table(events.schema)

        t0 = time.perf_counter()
        for b in range(N_APPEND_BATCHES):
            batch = spark.read.parquet(os.path.join(staged, f"b={b}")).select(
                *events.columns
            )
            t.append_dataframe(batch)
        append_sec = time.perf_counter() - t0
        append_rows = events.count()

        t0 = time.perf_counter()
        for b in range(N_UPSERT_BATCHES):
            batch = (
                spark.read.parquet(os.path.join(staged, f"b={b}"))
                .select(*events.columns)
                .withColumn("value", F.col("value") + F.lit(1.0))
            )
            t.upsert_equality(spark, batch, ["event_id"])
        upsert_sec = time.perf_counter() - t0
        upsert_rows = sum(
            spark.read.parquet(os.path.join(staged, f"b={b}")).count()
            for b in range(N_UPSERT_BATCHES)
        )

        t0 = time.perf_counter()
        changelog_rows = t.changelog_scan(spark).count()
        changelog_sec = time.perf_counter() - t0

        from datetime import timedelta

        bounds = events.agg(
            F.min("ts").alias("lo"), F.max("ts").alias("hi")
        ).first()
        day = (bounds["lo"] + timedelta(days=1)).date()

        # day-SCOPED changelog over the SAME window as the full drain
        # above: the CDC-consumer path with the field-507 manifest-
        # summary skip + exact row filter — one day of changes out of
        # the whole commit history
        t0 = time.perf_counter()
        scoped_changelog_rows = t.changelog_scan(
            spark,
            source_range=(
                "ts",
                f"{day} 00:00:00",
                f"{day + timedelta(days=1)} 00:00:00",
            ),
        ).count()
        scoped_changelog_sec = time.perf_counter() - t0

        # deletion-vector delete (~1% of rows), UNPRUNABLE predicate:
        # measures the v3 merge-on-read DV write pipeline end to end
        t0 = time.perf_counter()
        _, dv_deleted = t.delete_where(
            spark, "pmod(event_id, 100) = 7", mode="deletion-vectors"
        )
        dv_delete_sec = time.perf_counter() - t0

        # TS-BOUNDED deletion-vector delete: the predicate-PRUNED DML
        # path (one day of a daily-partitioned table) — the GDPR-purge
        # shape where plan_dml_files opens only the matching partition.
        # files_scanned/files_excluded make the pruning visible as a
        # number; the delete also FOLDS the prior DV vectors for that
        # day (v3 one-DV-per-file fold-on-write), so this line times
        # the full production sequence.
        pred = (
            f"ts >= TIMESTAMP '{day} 00:00:00' "
            f"AND ts < TIMESTAMP '{day + timedelta(days=1)} 00:00:00'"
        )
        md = t.metadata()
        scan, excluded, _ = plan_dml_files(md, md["current-snapshot-id"], pred)
        t0 = time.perf_counter()
        _, pruned_deleted = t.delete_where(spark, pred, mode="deletion-vectors")
        pruned_delete_sec = time.perf_counter() - t0

        def manifest_count() -> int:
            snap = t.current_snapshot()
            return len(read_ocf(snap["manifest-list"])[2])

        manifests_before = manifest_count()
        t0 = time.perf_counter()
        t.rewrite_manifests(min_count=2)
        rewrite_sec = time.perf_counter() - t0
        manifests_after = manifest_count()

        t0 = time.perf_counter()
        read_rows = t.read(spark).count()
        read_sec = time.perf_counter() - t0

        # v3 row-lineage read: upgrade (the table has only DV/equality
        # deletes, so the ceremony passes) and time the identity-
        # projecting scan — the broadcast file-map join's overhead over
        # the plain read is the number to watch round-over-round
        t.upgrade_format_version(3)
        t0 = time.perf_counter()
        lineage_rows = t.read(spark, with_lineage=True).count()
        lineage_read_sec = time.perf_counter() - t0

        return {
            "append_commits": N_APPEND_BATCHES,
            "append_rows": append_rows,
            "append_sec": round(append_sec, 3),
            "append_sec_per_commit": round(append_sec / N_APPEND_BATCHES, 3),
            "append_rows_per_sec": round(append_rows / append_sec, 1),
            "upsert_commits": N_UPSERT_BATCHES,
            "upsert_rows": upsert_rows,
            "upsert_sec": round(upsert_sec, 3),
            "upsert_sec_per_commit": round(upsert_sec / N_UPSERT_BATCHES, 3),
            "changelog_rows": changelog_rows,
            "changelog_sec": round(changelog_sec, 3),
            "changelog_rows_per_sec": round(changelog_rows / changelog_sec, 1),
            "dv_deleted_rows": dv_deleted,
            "dv_delete_sec": round(dv_delete_sec, 3),
            "pruned_dml_predicate_days": 1,
            "pruned_dml_files_scanned": len(scan),
            "pruned_dml_files_excluded": len(excluded),
            "pruned_dml_deleted_rows": pruned_deleted,
            "pruned_dml_delete_sec": round(pruned_delete_sec, 3),
            "scoped_changelog_rows": scoped_changelog_rows,
            "scoped_changelog_sec": round(scoped_changelog_sec, 3),
            "rewrite_manifests_sec": round(rewrite_sec, 3),
            "manifests_before_rewrite": manifests_before,
            "manifests_after_rewrite": manifests_after,
            "post_commit_read_rows": read_rows,
            "post_commit_read_sec": round(read_sec, 3),
            "lineage_read_rows": lineage_rows,
            "lineage_read_sec": round(lineage_read_sec, 3),
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def warmup_write_path(spark, sf_dir: str) -> None:
    """One tiny UNTIMED pass through every write-path code path (append,
    upsert, changelog, DV delete, manifest rewrite, post-commit read) so
    first-use costs — Python module import, roaring/Puffin codec setup,
    JVM codegen for the delete anti-joins — are paid before EITHER
    transport's timed section. Without this the fs section (which runs
    first) absorbs all of it and the fs-vs-REST comparison overstates
    fs cost (BENCH_r06: dv_delete 6.1s fs vs 2.5s REST on the same
    planner)."""
    from opentelemetry_iceberg_exporter_spark.sinks.iceberg_fs import FsCatalog
    from opentelemetry_iceberg_exporter_spark.sources.tables import load_table

    wh = tempfile.mkdtemp(prefix="bench_warm_")
    try:
        events = (
            load_table(spark, sf_dir, "events")
            .select("event_id", "ts", "user_id", "event_type", "value")
            .limit(4096)
        )
        cat = FsCatalog(wh)
        t = cat.create_table(
            "bench",
            "warm",
            events.schema,
            partition_source="ts",
            granularity="daily",
        )
        t.append_dataframe(events)
        t.upsert_equality(spark, events.limit(512), ["event_id"])
        t.changelog_scan(spark).count()
        t.delete_where(spark, "pmod(event_id, 97) = 3", mode="deletion-vectors")
        t.rewrite_manifests(min_count=1)
        t.read(spark).count()
    finally:
        shutil.rmtree(wh, ignore_errors=True)


def run_write_path_fs(spark, sf_dir: str) -> dict:
    from opentelemetry_iceberg_exporter_spark.sinks.iceberg_fs import FsCatalog

    wh = tempfile.mkdtemp(prefix="bench_wh_fs_")
    try:

        def make_table(schema):
            cat = FsCatalog(wh)
            return cat.create_table(
                "bench",
                "events_sink",
                schema,
                partition_source="ts",
                granularity="daily",
                # the streaming-exporter cadence: merge carried manifests
                # so planning stays O(files) across per-batch commits
                properties={"commit.manifest.min-count-to-merge": "8"},
            )

        return run_write_path(spark, sf_dir, make_table)
    finally:
        shutil.rmtree(wh, ignore_errors=True)


def run_write_path_rest(spark, sf_dir: str) -> dict:
    """Same workload against the in-process REST catalog stub: commit
    arbitration goes through HTTP CommitTable with requirement
    validation — the constant-factor cost of the reference's production
    catalog mode, visible round-over-round."""
    sys.path.insert(0, os.path.join(_REPO, "tests"))
    from rest_stub import make_server

    from opentelemetry_iceberg_exporter_spark.sinks.iceberg_rest import (
        RestCatalogClient,
    )

    wh = tempfile.mkdtemp(prefix="bench_wh_rest_")
    server, _, uri = make_server(wh)
    try:
        client = RestCatalogClient(uri, warehouse=wh)
        client.ensure_namespace("bench")

        def make_table(schema):
            return client.ensure_table(
                "bench",
                "events_sink",
                schema,
                partition_source="ts",
                granularity="daily",
                properties={"commit.manifest.min-count-to-merge": "8"},
            )

        return run_write_path(spark, sf_dir, make_table)
    finally:
        server.shutdown()
        shutil.rmtree(wh, ignore_errors=True)


def run_rest_plan_bench(spark) -> dict:
    """Round-over-round signal for REST server-side scan planning (the
    round-9 interop feature): one daily-partitioned 30-file table on
    the in-process stub, the SAME 10-day scoped plan computed locally
    (client manifest walk) and via the spec PlanTableScan roundtrip
    (expression JSON -> server planning -> ContentFile parse -> task
    grouping), then the server-planned scoped read. The stub is
    in-process, so the local-vs-server delta is protocol + codec cost,
    not network; the file counts are asserted equal so a pruning drift
    fails the bench instead of skewing it."""
    import statistics
    from datetime import datetime

    sys.path.insert(0, os.path.join(_REPO, "tests"))
    from pyspark.sql import functions as F
    from rest_stub import make_server

    from opentelemetry_iceberg_exporter_spark.sinks.iceberg_rest import (
        RestCatalogClient,
    )
    from opentelemetry_iceberg_exporter_spark.sinks.rest_scan import (
        scan_filter_json,
    )

    wh = tempfile.mkdtemp(prefix="bench_wh_plan_")
    server, _, uri = make_server(wh)
    try:
        client = RestCatalogClient(uri, warehouse=wh)
        client.ensure_namespace("bench")
        df = spark.range(60_000).select(
            F.col("id"),
            (
                F.to_timestamp(F.lit("2024-03-01 00:00:00"))
                + F.make_interval(days=(F.col("id") % 30).cast("int"))
            ).alias("ts"),
            F.concat(F.lit("evt-"), F.col("id")).alias("name"),
        )
        table = client.ensure_table(
            "bench", "plan_events", df.schema,
            partition_source="ts", granularity="daily",
        )
        table.append_dataframe(df)
        lo, hi = datetime(2024, 3, 5), datetime(2024, 3, 14, 23, 59)
        scope = ("ts", lo, hi)
        filter_json = scan_filter_json(table.metadata(), source_range=scope)
        local_times, server_times = [], []
        data = tasks = []
        for _ in range(3):
            t0 = time.perf_counter()
            data, _pruned = table.plan_files(source_range=scope)
            local_times.append(time.perf_counter() - t0)
        for _ in range(3):
            t0 = time.perf_counter()
            tasks = table.plan_files_server(filter_json=filter_json)
            server_times.append(time.perf_counter() - t0)
        if len(tasks) != len(data):
            raise AssertionError(
                f"server plan drift: {len(tasks)} tasks vs {len(data)} local files"
            )
        t0 = time.perf_counter()
        rows = table.read(spark, source_range=scope, server_planning=True).count()
        read_sec = time.perf_counter() - t0
        return {
            "rest_plan_files": len(tasks),
            "rest_plan_rows": rows,
            "rest_plan_local_sec": round(statistics.median(local_times), 4),
            "rest_plan_server_sec": round(statistics.median(server_times), 4),
            "rest_plan_read_sec": round(read_sec, 3),
        }
    finally:
        server.shutdown()
        shutil.rmtree(wh, ignore_errors=True)


def _synth_trace_payloads(spark, sf_dir: str, payload_dir: str, extra_attrs: int = 0):
    """Synthesize OTLP traces JSON from the events table (one span per
    event, REAL sub-microsecond timestamp digits via pmod(event_id,
    1000) — information a us engine would destroy; to_json drops the
    NULL oneof arms). `extra_attrs` appends that many deterministic
    string attributes per span: 0 keeps the original 2-key shape (the
    narrow twins, round-over-round continuity), 10 approximates a
    production span's attribute map (the wide twins, where the
    typed-vs-JSON-parse delta is measurable)."""
    from opentelemetry_iceberg_exporter_spark.sources.tables import load_table

    extra = "".join(
        ",\n          named_struct('key', 'attr.k%02d', 'value', "
        "named_struct('intValue', cast(null as string), 'stringValue', "
        "concat('value-%d-', cast(pmod(event_id, 97) as string), '-', "
        "event_type, '-', cast(user_id as string))))" % (i, i)
        for i in range(extra_attrs)
    )
    (
        load_table(spark, sf_dir, "events")
        .selectExpr(
            """to_json(named_struct(
  'resourceSpans', array(named_struct(
    'resource', named_struct('attributes', array(
      named_struct('key', 'service.name', 'value',
                   named_struct('stringValue',
                                concat('svc-', cast(pmod(user_id, 8) as string)))))),
    'scopeSpans', array(named_struct(
      'spans', array(named_struct(
        'traceId', lpad(hex(event_id), 32, '0'),
        'spanId', lpad(hex(xxhash64(event_id)), 16, '0'),
        'name', event_type,
        'kind', 2,
        'startTimeUnixNano', cast(ts_ns + pmod(event_id, 1000) as string),
        'endTimeUnixNano',
          cast(ts_ns + pmod(event_id, 1000) + 5000000 as string),
        'attributes', array(
          named_struct('key', 'http.status_code', 'value',
            named_struct(
              'intValue',
              cast(case when pmod(event_id, 50) = 0 then 500 else 200 end
                   as string),
              'stringValue', cast(null as string))),
          named_struct('key', 'http.method', 'value',
            named_struct(
              'intValue', cast(null as string),
              'stringValue',
              case when pmod(event_id, 3) = 0 then 'POST' else 'GET' end))"""
            + extra
            + """),
        'status', named_struct('code', 1, 'message', ''))))))))
) as value"""
        )
        .write.text(payload_dir)
    )


def run_v3_modes_bench(spark, sf_dir: str) -> dict:
    """Round-over-round perf signal for the round-8 exporter modes
    (round-8 verdict ask: they had none) plus the round-9 bloom-filter
    point lookup — one fs pass, all on the SAME v3 table so the line
    measures the composed production shape:

    * `v3_sink`: OTLP traces JSON (synthesized at sf scale from the
      events table, one span per event with REAL sub-microsecond
      timestamp information) -> parse -> 33-col flatten with
      ns_timestamps=True -> variant_attrs conversion -> ONE append into
      a v3 table that is hour-granularity-partitioned over the
      timestamptz_ns column, carries VARIANT attribute columns, and
      writes bloom filters on span_id — the full ns+variant exporter
      pipeline, parse to committed snapshot.
    * `ns_scoped_read`: a sub-microsecond ns-bound scan (1ns-sharp file
      bounds + row filter).
    * `variant_read`: typed-path extraction filter over the shredded
      VARIANT column — paired with `json_twin_read`, the SAME filter
      via get_json_object over a twin table committed in the default
      JSON-string attribute mode (same parsed spans, same partitioning)
      so the typed-vs-string-parsing delta is a tracked number. The
      narrow (2-key) pair shows parity BY CONSTRUCTION (see the wide
      section inline); `variant_wide_read`/`json_twin_wide_read` run
      the same filter over twins with a production-realistic 11-key
      attribute map, min-of-3 — that pair carries the typed-beats-
      parsing claim.
    * `bloom_lookup`: a span_id point lookup — every daily file spans
      the whole key space (min/max useless), so files_scanned == 1 is
      the bloom filters working; the excluded count regression-guards
      the pruning itself.
    """
    from pyspark.sql import functions as F

    from opentelemetry_iceberg_exporter_spark.schemas import (
        TRACES_SCHEMA,
        ns_iceberg_types,
    )
    from opentelemetry_iceberg_exporter_spark.sinks.iceberg_fs import (
        FsCatalog,
        plan_dml_files,
    )
    from opentelemetry_iceberg_exporter_spark.sources.tables import load_table
    from opentelemetry_iceberg_exporter_spark.streaming.pipeline import flatten_signal

    def flatten_ns(raw, variant_attrs=False):
        return flatten_signal(
            raw, "traces", ns_timestamps=True, variant_attrs=variant_attrs
        )["traces"]

    ns_trace_types = ns_iceberg_types(TRACES_SCHEMA)

    tmp = tempfile.mkdtemp(prefix="bench_v3_")
    try:
        # ---- untimed staging: synthesize OTLP traces JSON from events
        payload_dir = os.path.join(tmp, "payloads")
        _synth_trace_payloads(spark, sf_dir, payload_dir)

        cat = FsCatalog(os.path.join(tmp, "wh"))

        # ---- timed: the composed ns+variant exporter sink
        t0 = time.perf_counter()
        flat = flatten_ns(spark.read.text(payload_dir), variant_attrs=True)
        t = cat.create_table(
            "bench",
            "tr_v3",
            flat.schema,
            partition_source="start_time_unix_nano",
            granularity="daily",
            properties={
                "format-version": "3",
                "write.parquet.bloom-filter-enabled.column.span_id": "true",
            },
            iceberg_types=ns_trace_types,
        )
        t.append_dataframe(flat)
        sink_sec = time.perf_counter() - t0
        sink_rows = t.count_rows()

        # ---- timed: sub-us scoped ns read (the o14 shape at scale):
        # a bound with non-zero sub-us digits between two days
        md = t.metadata()
        mid = md  # readability: planning below re-reads metadata once
        bounds = t.read(spark).agg(
            F.min("start_time_unix_nano").alias("lo"),
            F.max("start_time_unix_nano").alias("hi"),
        ).first()
        cut = ((bounds["lo"] + bounds["hi"]) // 2) | 1  # mid, odd: sub-us sharp
        t0 = time.perf_counter()
        ns_rows = (
            t.read(spark, where=f"start_time_unix_nano > {cut}").count()
        )
        ns_scoped_read_sec = time.perf_counter() - t0

        # ---- timed: typed variant-path extraction filter
        t0 = time.perf_counter()
        variant_rows = (
            t.read(spark)
            .where(
                F.try_variant_get(
                    "span_attributes", "$['http.status_code']", "long"
                )
                >= 500
            )
            .count()
        )
        variant_read_sec = time.perf_counter() - t0

        # ---- the JSON-STRING TWIN (r9 verdict ask #2): the same
        # parsed spans committed in the default attribute mode (sorted
        # -key JSON strings) to their own table — untimed staging, then
        # the SAME status-code filter via get_json_object so the
        # central variant_attrs claim ("typed shredded access beats
        # per-query JSON string parsing") is a round-over-round number,
        # not prose. Row counts must agree between the twins.
        flat_json = flatten_ns(spark.read.text(payload_dir))
        tj = cat.create_table(
            "bench",
            "tr_json",
            flat_json.schema,
            partition_source="start_time_unix_nano",
            granularity="daily",
            properties={"format-version": "3"},
            iceberg_types=ns_trace_types,
        )
        tj.append_dataframe(flat_json)
        t0 = time.perf_counter()
        json_twin_rows = (
            tj.read(spark)
            .where(
                F.get_json_object(
                    "span_attributes", "$['http.status_code']"
                ).cast("long")
                >= 500
            )
            .count()
        )
        json_twin_read_sec = time.perf_counter() - t0

        # ---- the WIDE twins (r10 verdict ask #2, settled — honestly):
        # the typed plan is optimal (ReadSchema prunes to the single
        # shredded bigint leaf with the >= filter PUSHED into the
        # scan), yet measurement shows the typed and JSON reads are
        # WITHIN NOISE at sf0.1 in every configuration tried (narrow,
        # 11-key wide, and an 11-path projection): Spark's JSON path is
        # JsonTuple-optimized — one parse per row however many paths —
        # and the ~30-file task floor dominates both. The variant
        # mode's decisive measured advantage is the PRUNING pair below
        # (shredded footer stats exclude files; strings never can).
        # This pair keeps tracking the CPU comparison round-over-round
        # as MIN of 3 passes (single passes are host-noise-bound — the
        # r9/r10 same-host-A/B lesson).
        wide_dir = os.path.join(tmp, "payloads_wide")
        _synth_trace_payloads(spark, sf_dir, wide_dir, extra_attrs=10)
        raw_w = spark.read.text(wide_dir)
        flat_w = flatten_ns(raw_w, variant_attrs=True)
        tw = cat.create_table(
            "bench",
            "tr_v3_wide",
            flat_w.schema,
            partition_source="start_time_unix_nano",
            granularity="daily",
            properties={"format-version": "3"},
            iceberg_types=ns_trace_types,
        )
        tw.append_dataframe(flat_w)
        flat_wj = flatten_ns(raw_w)
        twj = cat.create_table(
            "bench",
            "tr_json_wide",
            flat_wj.schema,
            partition_source="start_time_unix_nano",
            granularity="daily",
            properties={"format-version": "3"},
            iceberg_types=ns_trace_types,
        )
        twj.append_dataframe(flat_wj)
        vq = tw.read(spark).where(
            F.try_variant_get(
                "span_attributes", "$['http.status_code']", "long"
            )
            >= 500
        )
        jq = twj.read(spark).where(
            F.get_json_object("span_attributes", "$['http.status_code']").cast(
                "long"
            )
            >= 500
        )
        wide_rows = vq.count()  # warm-up (plan compile) + row parity
        assert jq.count() == wide_rows

        def _min3(df) -> float:
            out = []
            for _ in range(3):
                t0 = time.perf_counter()
                df.count()
                out.append(time.perf_counter() - t0)
            return min(out)

        variant_wide_read_sec = _min3(vq)
        json_twin_wide_read_sec = _min3(jq)

        # ---- the PRUNING half of the variant claim: a no-match typed
        # predicate (status >= 1000 — the data caps at 500) is provably
        # matchless from shredded footer stats, so the variant read
        # plans ZERO files; the JSON twin has no typed stats and must
        # scan everything to find nothing. files-scanned counts make
        # the asymmetry a tracked number.
        no_match = (
            "try_variant_get(span_attributes, "
            "'$[''http.status_code'']', 'long') >= 1000"
        )
        v_scan, v_excl, _ = plan_dml_files(
            t.metadata(), t.metadata()["current-snapshot-id"], no_match
        )

        def _pruned() -> int:
            return t.read(spark, where=no_match).count()

        def _full() -> int:
            return (
                tj.read(spark)
                .where(
                    F.get_json_object(
                        "span_attributes", "$['http.status_code']"
                    ).cast("long")
                    >= 1000
                )
                .count()
            )

        # first run = plan compile (untimed, same discipline as the
        # headline steady passes); the timed pass is the steady cost
        assert _pruned() == 0 and _full() == 0
        t0 = time.perf_counter()
        _pruned()
        variant_pruned_read_sec = time.perf_counter() - t0
        t0 = time.perf_counter()
        _full()
        json_full_scan_sec = time.perf_counter() - t0

        # ---- timed: bloom point lookup on span_id. span_id is the HEX
        # OF A HASH of the (time-sequential) event id, so every daily
        # file's min/max spans the whole key space — bounds prune
        # nothing, only the bloom filters discriminate. Event 42 exists
        # at every sf; its span id is recomputed the way the synth did.
        span_id = spark.sql(
            "select lower(lpad(hex(xxhash64(cast(42 as bigint))), 16, '0')) v"
        ).first()["v"]  # flatten lowercases OTLP hex ids
        scan, excluded, _ = plan_dml_files(
            mid, mid["current-snapshot-id"], f"span_id = '{span_id}'"
        )
        t0 = time.perf_counter()
        bloom_rows = t.read(spark, where=f"span_id = '{span_id}'").count()
        bloom_lookup_sec = time.perf_counter() - t0

        # ---- the DISTRIBUTED probe itself (r9's flagged scale-killer,
        # moved executor-side in r10): same bloom verdict pass over the
        # candidate list, forced through the mapInPandas job vs driver
        # threads on the SAME files — the delta is pure orchestration
        # overhead at this file count; at O(100k) files the driver path
        # stops existing. Untimed warm-up first (job machinery).
        from functools import partial as _partial

        from opentelemetry_iceberg_exporter_spark.sinks.bloom_prune import (
            _file_provably_matchless,
            parse_bloom_conjuncts,
        )
        from opentelemetry_iceberg_exporter_spark.sinks.footer_probe import (
            probe_verdicts,
        )

        all_files, _ = t.plan_files()
        probes = parse_bloom_conjuncts(
            [f"span_id = '{span_id}'"], {"span_id": "string"}
        )
        probe_fn = _partial(_file_provably_matchless, probes=probes)
        paths = [f.file_path for f in all_files]
        probe_verdicts(paths, probe_fn, spark=spark, threshold=1)  # warm
        t0 = time.perf_counter()
        dist = probe_verdicts(paths, probe_fn, spark=spark, threshold=1)
        probe_distributed_sec = time.perf_counter() - t0
        t0 = time.perf_counter()
        local = probe_verdicts(paths, probe_fn, spark=None)
        probe_driver_sec = time.perf_counter() - t0
        assert dist == local  # identical verdicts either route

        # the ingest probe's driver-side hashing constant, tracked at
        # 1M fixed-width keys (r11 ask #2's "done" bar as a bench
        # number — sub-second; the per-key Python loop it replaced
        # took several seconds): pure numpy, no Spark in the section
        import hashlib

        import pyarrow as pa

        from opentelemetry_iceberg_exporter_spark.operators.index_probe import (
            batch_key_hashes,
        )

        key_arr = pa.array(
            hashlib.md5(str(i).encode()).hexdigest() for i in range(1_000_000)
        )
        t0 = time.perf_counter()
        hashed = batch_key_hashes(key_arr)
        probe_hash_1m_sec = time.perf_counter() - t0
        assert len(hashed) == 1_000_000

        return {
            "v3_sink_rows": sink_rows,
            "v3_sink_sec": round(sink_sec, 3),
            "v3_sink_rows_per_sec": round(sink_rows / sink_sec, 1),
            "ns_scoped_read_rows": ns_rows,
            "ns_scoped_read_sec": round(ns_scoped_read_sec, 3),
            "variant_read_rows": variant_rows,
            "variant_read_sec": round(variant_read_sec, 3),
            "json_twin_read_rows": json_twin_rows,
            "json_twin_read_sec": round(json_twin_read_sec, 3),
            "variant_wide_read_sec": round(variant_wide_read_sec, 3),
            "json_twin_wide_read_sec": round(json_twin_wide_read_sec, 3),
            "wide_read_rows": wide_rows,
            "variant_prune_files_scanned": len(v_scan),
            "variant_prune_files_excluded": len(v_excl),
            "variant_pruned_read_sec": round(variant_pruned_read_sec, 3),
            "json_full_scan_sec": round(json_full_scan_sec, 3),
            "bloom_lookup_rows": bloom_rows,
            "bloom_lookup_sec": round(bloom_lookup_sec, 3),
            "bloom_files_scanned": len(scan),
            "bloom_files_excluded": len(excluded),
            "probe_files": len(paths),
            "probe_distributed_sec": round(probe_distributed_sec, 3),
            "probe_driver_sec": round(probe_driver_sec, 3),
            "probe_hash_1m_sec": round(probe_hash_1m_sec, 3),
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run_llm_pipeline_bench(spark, sf_dir: str) -> dict:
    """Perf signal for the round-9 LLM-pipeline additions (r9 verdict
    ask #8 — they had none):

    * `semdedup`: the full SemDeDup pass over the embeddings table —
      k-means cell assignment, within-cell pair graph, connected
      components, canonical selection — reported as seconds plus the
      kept-document count (the dedup rate is data-dependent and pinned
      by tests; the TIME is what regresses).
    * `mix`: temperature-weighted corpus mixing over the documents
      table split by its `source` column (weights 1..n so alpha<1 has
      something to flatten), one plan execution, rows counted from the
      result."""
    from pyspark.sql import functions as F

    from opentelemetry_iceberg_exporter_spark.operators.sampling import mix_corpora
    from opentelemetry_iceberg_exporter_spark.operators.semdedup import semdedup
    from opentelemetry_iceberg_exporter_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    t0 = time.perf_counter()
    # sample-fit (r10 verdict ask #4): Lloyd's trains on a 25%
    # deterministic hash sample, the full corpus is assigned once —
    # same operator semantics, ~4x less per-iteration work
    kept = (
        semdedup(
            emb,
            "vec_id",
            "embedding",
            k=32,
            threshold=0.9,
            max_iter=4,
            fit_fraction=0.25,
        )
        .filter("is_canonical")
        .count()
    )
    semdedup_sec = time.perf_counter() - t0

    docs = load_table(spark, sf_dir, "documents")
    # sizes staged untimed via ONE aggregate — in production they come
    # from Iceberg snapshot summaries (O(1) metadata), so the timed
    # section is the mix itself: plan the per-source samples, union,
    # one execution
    counts = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    names = sorted(counts)
    sources = {n: docs.filter(F.col("source") == n) for n in names}
    weights = {n: float(i + 1) for i, n in enumerate(names)}
    t0 = time.perf_counter()
    mixed, _report = mix_corpora(
        sources, "doc_id", weights=weights, alpha=0.5, salt="bench", sizes=counts
    )
    mix_rows = mixed.count()
    mix_sec = time.perf_counter() - t0
    return {
        "semdedup_sec": round(semdedup_sec, 3),
        "semdedup_kept": kept,
        "mix_sec": round(mix_sec, 3),
        "mix_rows": mix_rows,
        "mix_sources": len(sources),
    }


def run_ingest_bench(spark, sf_dir: str) -> dict:
    """Growth-curve signal for the incremental exact-substring ingester
    (r10 verdict ask #6): ingest the documents table in 8 deterministic
    batches against one growing catalog-backed anchor index and report
    the FIRST and LAST batch's wall seconds plus what the last batch's
    index probe actually opened. With the batch-scoped bloom probe
    (operators/index_probe) the last batch must not cost a corpus-scan
    multiple of the first — that curve is the regression alarm for the
    per-batch index read."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from opentelemetry_iceberg_exporter_spark.operators.incremental_substr import (
        IncrementalSubstrDeduper,
        create_substr_index_table,
    )
    from opentelemetry_iceberg_exporter_spark.sinks.iceberg_fs import FsCatalog
    from opentelemetry_iceberg_exporter_spark.sources.tables import load_table

    base = load_table(spark, sf_dir, "documents")
    docs = base.select("doc_id", "text")
    n_batches = 8
    # per-batch source-size hint (~1/8 of the table): the ingesters'
    # fan_out then derives its data-derived width instead of the
    # no-hint fallback's full-parallelism spread
    batch_bytes = (getattr(base, "_graft_src_bytes", 0) or 0) // n_batches or None
    bucket = F.pmod(F.crc32(F.col("doc_id").cast("string")), F.lit(n_batches))
    tmp = tempfile.mkdtemp(prefix="bench_substr_idx_")
    try:
        cat = FsCatalog(tmp)
        table = create_substr_index_table(cat, "bench", "substr_idx")
        ing = IncrementalSubstrDeduper(table, k=50, stride=4)
        secs = []
        last = None
        for i in range(n_batches):
            batch = docs.filter(bucket == i)
            batch._graft_src_bytes = batch_bytes
            t0 = time.perf_counter()
            last = ing.ingest(spark, batch)
            last.output.count()  # materialize the trimmed output too
            secs.append(time.perf_counter() - t0)
        # discrimination check: the 8 real batches legitimately read
        # most files (the synthetic corpus duplicates grams everywhere —
        # true positives), so ALSO ingest one batch of genuinely NOVEL
        # content (md5-derived text shares no k-gram with the corpus):
        # its probe must prune nearly every index file
        novel = spark.range(200).selectExpr(
            "id + 1000000 as doc_id",
            "concat_ws('', transform(sequence(0, 9), "
            "i -> md5(concat(cast(id as string), '-', cast(i as string)))))"
            " as text",
        )
        t0 = time.perf_counter()
        nv = ing.ingest(spark, novel)
        nv.output.count()
        novel_sec = time.perf_counter() - t0

        out = {
            "substr_ingest_batches": n_batches,
            "substr_ingest_novel_sec": round(novel_sec, 3),
            "substr_ingest_novel_files_read": nv.index_files_read,
            "substr_ingest_first_sec": round(secs[0], 3),
            "substr_ingest_last_sec": round(secs[-1], 3),
            "substr_ingest_sec_all": [round(s, 3) for s in secs],
            "substr_ingest_index_files_total": last.index_files_total,
            "substr_ingest_index_files_read": last.index_files_read,
            "substr_ingest_index_mb_total": round(
                last.index_bytes_total / 1e6, 3
            ),
            "substr_ingest_index_mb_read": round(last.index_bytes_read / 1e6, 3),
        }

        # the LSH sibling: same growth curve over the band index (4
        # rows/doc instead of chars/stride grams, so the constant is
        # smaller; the curve is the signal either way)
        from opentelemetry_iceberg_exporter_spark.operators.incremental_dedup import (
            IncrementalDeduper,
            create_index_table,
        )

        cat2 = FsCatalog(os.path.join(tmp, "wh_lsh"))
        table2 = create_index_table(cat2, "bench", "band_idx")
        lsh = IncrementalDeduper(table2)
        dsecs = []
        dlast = None
        for i in range(n_batches):
            batch = docs.filter(bucket == i)
            batch._graft_src_bytes = batch_bytes
            t0 = time.perf_counter()
            dlast = lsh.ingest(spark, batch)
            dlast.decisions.count()
            dsecs.append(time.perf_counter() - t0)
        # discrimination check for the LSH sibling too (r11 verdict ask
        # #3): a batch of genuinely NOVEL content (md5-derived word
        # soup shares no shingles with the corpus, so its minhash band
        # keys are fresh) must bloom-prune essentially every index file
        dnovel = spark.range(300).selectExpr(
            "id + 2000000 as doc_id",
            "concat_ws(' ', transform(sequence(0, 39), "
            "i -> md5(concat('lsh-', cast(id as string), '-', "
            "cast(i as string)))))"
            " as text",
        )
        t0 = time.perf_counter()
        dnv = lsh.ingest(spark, dnovel)
        dnv.decisions.count()
        dnovel_sec = time.perf_counter() - t0
        out.update(
            {
                "dedup_ingest_first_sec": round(dsecs[0], 3),
                "dedup_ingest_last_sec": round(dsecs[-1], 3),
                "dedup_ingest_index_files_total": dlast.index_files_total,
                "dedup_ingest_index_files_read": dlast.index_files_read,
                "dedup_ingest_novel_sec": round(dnovel_sec, 3),
                "dedup_ingest_novel_files_read": dnv.index_files_read,
            }
        )
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run_corpus_build_bench(spark, sf_dir: str) -> dict:
    """The composed corpus-construction funnel — the product story —
    as ONE tracked number (r11 verdict ask #4): boilerplate paragraph
    removal -> benchmark decontamination -> exact dedup -> near dedup
    -> exact-substring excision -> packing over the full documents
    table, with the per-stage survivor counts in the record. The
    decontamination benchmark is a deterministic 1-in-97 sample of the
    corpus itself (every funnel stage then has real work to do). The
    timed section includes the stage-count actions — that IS the
    reported funnel shape (production runs set report_counts=False
    for one lazy plan)."""
    from pyspark.sql import functions as F

    from opentelemetry_iceberg_exporter_spark.operators.corpus_build import (
        build_corpus,
    )
    from opentelemetry_iceberg_exporter_spark.sources.tables import load_table

    base = load_table(spark, sf_dir, "documents")
    docs = base.select("doc_id", "text")
    # carry the source-size hint through the projection so the funnel's
    # data-derived fan-out width sees the real input bytes (load_table
    # stamps it on the scan; .select returns a fresh object)
    docs._graft_src_bytes = getattr(base, "_graft_src_bytes", None)
    benchmark = docs.filter(
        F.pmod(F.crc32(F.col("doc_id").cast("string")), F.lit(97)) == 0
    ).select("text")
    t0 = time.perf_counter()
    out, report = build_corpus(
        spark,
        docs,
        benchmark=benchmark,
        bench_text_col="text",
        substr_k=50,
        substr_stride=8,
        pack_budget=2048,
    )
    rows = out.count()
    sec = time.perf_counter() - t0
    return {
        "corpus_build_sec": round(sec, 3),
        "corpus_build_rows": rows,
        "corpus_build_stages": report.as_dict(),
    }


N_EXPIRE_SNAPSHOTS = 500


def run_expire_depth_bench() -> dict:
    """Retention planning AT DEPTH (round-8 verdict ask #7): the fuzz
    suite proves expire_plan's semantics; this measures its COST on the
    shape that matters at production cadence — a streaming table with
    ~500 commits of history and live refs (an audit branch with an
    ancestry-retention policy + a release tag). Pure metadata, no Spark:
    commit-time manifest merging is DISABLED so every snapshot keeps its
    own manifest (the worst-case planning surface — 500 manifest lists,
    500 distinct manifests). Reported: planning seconds plus how many
    manifest lists / manifest FILES the plan actually opened — the
    memoization contract is O(distinct manifests), not
    O(snapshots x manifests) ~ 125k opens, and a regression here shows
    as the opened-counts exploding rather than a noisy timing."""
    from pyspark.sql.types import LongType, StructField, StructType

    import opentelemetry_iceberg_exporter_spark.sinks.iceberg_fs as fsmod
    from opentelemetry_iceberg_exporter_spark.sinks.iceberg_fs import (
        DataFile,
        FsCatalog,
        expire_plan,
    )

    wh = tempfile.mkdtemp(prefix="bench_expire_")
    try:
        cat = FsCatalog(wh)
        schema = StructType([StructField("id", LongType(), True)])
        t = cat.create_table(
            "bench",
            "deep",
            schema,
            properties={"commit.manifest-merge.enabled": "false"},
        )
        t0 = time.perf_counter()
        heads = []
        for i in range(N_EXPIRE_SNAPSHOTS):
            heads.append(
                t.append_files(
                    [
                        DataFile(
                            f"{t.location}/data/f{i}.parquet",
                            1024,
                            10,
                            {},
                            raw_bounds=(None, None),
                        )
                    ]
                )
            )
        build_sec = time.perf_counter() - t0
        t.set_ref(
            "audit",
            heads[N_EXPIRE_SNAPSHOTS // 2],
            "branch",
            min_snapshots_to_keep=50,
        )
        t.set_ref("rel", heads[N_EXPIRE_SNAPSHOTS // 5], "tag")
        md = t.metadata()

        counts = {"lists": 0, "manifests": 0}
        real_read = fsmod.read_ocf

        def counting_read(path):
            key = "lists" if "/snap-" in path else "manifests"
            counts[key] += 1
            return real_read(path)

        fsmod.read_ocf = counting_read
        try:
            t0 = time.perf_counter()
            plan = expire_plan(md, keep_last=20)
            plan_sec = time.perf_counter() - t0
        finally:
            fsmod.read_ocf = real_read
        assert plan is not None
        return {
            "expire_history_snapshots": N_EXPIRE_SNAPSHOTS,
            "expire_history_build_sec": round(build_sec, 3),
            "expire_plan_sec": round(plan_sec, 3),
            "expire_expired_snapshots": len(plan["expired"]),
            "expire_retained_snapshots": len(plan["retained"]),
            "expire_manifest_lists_opened": counts["lists"],
            "expire_manifests_opened": counts["manifests"],
        }
    finally:
        shutil.rmtree(wh, ignore_errors=True)


def collect_group_metrics(spark, groups: list[str]) -> tuple[dict, dict]:
    """Sum executorRunTime / executorCpuTime (ms) per job group from the
    local UI REST API. Best-effort: any failure returns empty dicts —
    the timing record never depends on the UI being up."""
    import urllib.request

    task_ms: dict[str, int] = {}
    cpu_ms: dict[str, int] = {}
    try:
        app_id = spark.sparkContext.applicationId
        base = spark.sparkContext.uiWebUrl
        if not base:
            return task_ms, cpu_ms

        def rest(path):
            with urllib.request.urlopen(f"{base}/api/v1/{path}", timeout=10) as r:
                return json.loads(r.read())

        wanted = set(groups)
        stage_ids: dict[str, set] = {}
        for j in rest(f"applications/{app_id}/jobs?status=succeeded"):
            g = j.get("jobGroup")
            if g in wanted:
                stage_ids.setdefault(g, set()).update(j.get("stageIds", []))
        for g, sids in stage_ids.items():
            run = cpu = 0
            for sid in sids:
                try:
                    for att in rest(f"applications/{app_id}/stages/{sid}"):
                        run += att.get("executorRunTime", 0)
                        cpu += att.get("executorCpuTime", 0) // 1_000_000
                except Exception:
                    pass
            task_ms[g] = run
            cpu_ms[g] = cpu
    except Exception:
        return {}, {}
    return task_ms, cpu_ms


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # no console progress bars: they write \r-frames to stderr that can
    # interleave after the JSON line when the harness merges streams
    spark = build_session(
        app_name="bench", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    specs = load_all_queries()

    # warm the JVM + file metadata cache outside the measured section
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    # cold pass (includes first-run plan compile, comparable round-over-
    # round), then N_STEADY_PASSES more; the steady number is the
    # per-query MEDIAN so one sandbox hiccup cannot masquerade as a
    # plan regression.
    timings: dict[str, float] = {}
    for name in HEADLINE:
        # job labels (guide §1.5) are set OUTSIDE the timed region so
        # the UI is readable without touching the measured seconds
        spark.sparkContext.setJobDescription(f"headline cold: {name}")
        t0 = time.perf_counter()
        specs[name].fn(spark, sf_dir).count()
        timings[name] = round(time.perf_counter() - t0, 3)
    steady_runs: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for i in range(N_STEADY_PASSES):
        for name in HEADLINE:
            # job group (thread-local, set OUTSIDE the timed region)
            # attributes executor metrics to the query so the blob can
            # carry per-query taskTime/cpuTime — the host-noise
            # adjudicator: a plan regression moves taskTime, a slow
            # host phase moves wall while taskTime stays flat
            spark.sparkContext.setJobGroup(
                f"steady:{name}", f"headline steady {i}: {name}"
            )
            t0 = time.perf_counter()
            specs[name].fn(spark, sf_dir).count()
            steady_runs[name].append(time.perf_counter() - t0)
    spark.sparkContext.setJobGroup(None, None)
    steady = {
        name: round(statistics.median(runs), 3)
        for name, runs in steady_runs.items()
    }
    # pull per-query executor totals from the UI REST API NOW, before
    # later bench sections evict these jobs from the retained-job ring
    # (untimed; additions-only keys in the full blob). Streaming
    # queries' micro-batch jobs run on their own threads and do not
    # inherit the group, so st01's sums cover only its driver-side jobs.
    steady_task_ms, steady_cpu_ms = collect_group_metrics(
        spark, [f"steady:{n}" for n in HEADLINE]
    )
    queries_task_ms = {
        n: steady_task_ms.get(f"steady:{n}", 0) for n in HEADLINE
    }
    queries_cpu_ms = {n: steady_cpu_ms.get(f"steady:{n}", 0) for n in HEADLINE}

    warmup_write_path(spark, sf_dir)
    write_path = run_write_path_fs(spark, sf_dir)
    write_path_rest = run_write_path_rest(spark, sf_dir)
    v3_modes = run_v3_modes_bench(spark, sf_dir)
    rest_plan = run_rest_plan_bench(spark)
    llm_pipeline = run_llm_pipeline_bench(spark, sf_dir)
    ingest_bench = run_ingest_bench(spark, sf_dir)
    corpus_build = run_corpus_build_bench(spark, sf_dir)
    expire_depth = run_expire_depth_bench()

    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    full_line = json.dumps(
        {
            "metric": "headline_queries_total_runtime",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "value_steady": round(sum(steady.values()), 3),
            "queries_steady": steady,
            "queries_task_ms": queries_task_ms,
            "queries_cpu_ms": queries_cpu_ms,
            "steady_passes": N_STEADY_PASSES,
            "write_path": write_path,
            "write_path_rest": write_path_rest,
            "v3_modes": v3_modes,
            "rest_plan": rest_plan,
            "llm_pipeline": llm_pipeline,
            "ingest": ingest_bench,
            "corpus_build": corpus_build,
            "expire_depth": expire_depth,
            "sf": sf_val,
        }
    )
    # the full record above outgrew the driver's 2KB stdout-tail capture
    # (BENCH_r06.json landed with parsed:null and the cold headline cut
    # off), so the LAST line is a COMPACT summary that always fits: cold
    # + steady totals, per-query steady medians, and the write-path
    # scalars worth tracking round-over-round. The full blob stays on
    # the line before it for anyone reading the artifact by hand.
    compact_line = json.dumps(
        {
            "metric": "headline_queries_total_runtime",
            "value": total,
            "unit": "sec",
            "queries": steady,
            "value_steady": round(sum(steady.values()), 3),
            "sf": sf_val,
            "append_sec_per_commit_fs": write_path["append_sec_per_commit"],
            "append_sec_per_commit_rest": write_path_rest["append_sec_per_commit"],
            "dv_delete_sec_fs": write_path["dv_delete_sec"],
            "dv_delete_sec_rest": write_path_rest["dv_delete_sec"],
            "pruned_dml_delete_sec": write_path["pruned_dml_delete_sec"],
            "pruned_dml_files_scanned": write_path["pruned_dml_files_scanned"],
            "pruned_dml_files_excluded": write_path["pruned_dml_files_excluded"],
            "changelog_rows_per_sec": write_path["changelog_rows_per_sec"],
            "scoped_changelog_sec": write_path["scoped_changelog_sec"],
            "expire_plan_sec": expire_depth["expire_plan_sec"],
            "expire_manifests_opened": expire_depth["expire_manifests_opened"],
            "v3_sink_rows_per_sec": v3_modes["v3_sink_rows_per_sec"],
            "ns_scoped_read_sec": v3_modes["ns_scoped_read_sec"],
            "variant_read_sec": v3_modes["variant_read_sec"],
            "json_twin_read_sec": v3_modes["json_twin_read_sec"],
            "variant_wide_read_sec": v3_modes["variant_wide_read_sec"],
            "json_twin_wide_read_sec": v3_modes["json_twin_wide_read_sec"],
            "variant_prune_files_excluded": v3_modes[
                "variant_prune_files_excluded"
            ],
            "variant_pruned_read_sec": v3_modes["variant_pruned_read_sec"],
            "json_full_scan_sec": v3_modes["json_full_scan_sec"],
            "bloom_lookup_sec": v3_modes["bloom_lookup_sec"],
            "bloom_files_scanned": v3_modes["bloom_files_scanned"],
            "bloom_files_excluded": v3_modes["bloom_files_excluded"],
            "probe_distributed_sec": v3_modes["probe_distributed_sec"],
            "probe_driver_sec": v3_modes["probe_driver_sec"],
            "probe_hash_1m_sec": v3_modes["probe_hash_1m_sec"],
            "rest_plan_local_sec": rest_plan["rest_plan_local_sec"],
            "rest_plan_server_sec": rest_plan["rest_plan_server_sec"],
            "rest_plan_files": rest_plan["rest_plan_files"],
            "semdedup_sec": llm_pipeline["semdedup_sec"],
            "mix_sec": llm_pipeline["mix_sec"],
            "substr_ingest_first_sec": ingest_bench["substr_ingest_first_sec"],
            "substr_ingest_last_sec": ingest_bench["substr_ingest_last_sec"],
            "substr_ingest_novel_files_read": ingest_bench[
                "substr_ingest_novel_files_read"
            ],
            "dedup_ingest_first_sec": ingest_bench["dedup_ingest_first_sec"],
            "dedup_ingest_last_sec": ingest_bench["dedup_ingest_last_sec"],
            "dedup_ingest_novel_files_read": ingest_bench[
                "dedup_ingest_novel_files_read"
            ],
            "corpus_build_sec": corpus_build["corpus_build_sec"],
            "corpus_build_rows": corpus_build["corpus_build_rows"],
            "substr_ingest_index_files_read": ingest_bench[
                "substr_ingest_index_files_read"
            ],
            "substr_ingest_index_files_total": ingest_bench[
                "substr_ingest_index_files_total"
            ],
        }
    )
    # the compact line sits near COMPACT_LINE_CAP and grows a few keys
    # per round. If it crosses, shed DECIMALS, never keys: every
    # published key stays published
    # (an earlier guard dropped low-value keys, which a round-over-round
    # comparison would read as a removed bench number — this one is
    # non-lossy in the key set, and full-precision values remain in the
    # full blob on the previous line). Still over the cap at 1 decimal,
    # the run fails after printing the full record.
    def _round_floats(obj, ndigits):
        if isinstance(obj, float):
            return round(obj, ndigits)
        if isinstance(obj, dict):
            return {k: _round_floats(v, ndigits) for k, v in obj.items()}
        return obj

    for ndigits in (2, 1):
        if len(compact_line) <= COMPACT_LINE_CAP:
            break
        compact_line = json.dumps(_round_floats(json.loads(compact_line), ndigits))
    # teardown BEFORE printing: streaming availableNow queries already
    # self-terminated (run_to_memory stops + awaits them), but straggler
    # task-end events can still race session stop and log a DAGScheduler
    # accumulator ERROR — silence the logger and stop the session first
    # so the LAST line of output is always the pure JSON record
    for q in spark.streams.active:
        q.stop()
        q.awaitTermination()
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    print(full_line)
    if len(compact_line) > COMPACT_LINE_CAP:
        # every key stays published: fail loudly rather than shed one
        raise SystemExit(
            f"bench: the compact summary line is {len(compact_line)} bytes "
            f"even at 1 decimal, over the {COMPACT_LINE_CAP}-byte cap; the "
            "full record is the line above"
        )
    print(compact_line)


if __name__ == "__main__":
    main()
