"""stream_ingest: the reference collector's production shape.

Each op is one 512-record OTLP/JSON batch handed to the streaming
exporter's foreachBatch body, `make_batch_processor(kind, config)(df,
batch_id)`, committing to a REST catalog served from its own process.
A cycle is seven ops, traces:logs:metrics at the reference demo's
10:2:2 record ratio; the metrics stream carries all five point types,
though a given batch lacks some of them (`gen.make_metrics`).
After each cycle a dashboard read counts every table through the sql
surface (`register_warehouse_views` + `spark.sql`); those reads are the
query ops and the row-count check.

Ops that raise are counted as failed, never skipped or retried.
"""

from __future__ import annotations

import os
import random

from . import common, gen

BATCH = 512
CYCLE = ("traces", "traces", "logs", "traces", "metrics", "traces", "traces")
# one traces and one logs batch: the first op of each kind pays its code
# generation and creates its tables. The first append to an existing
# table (the first timed traces batch) is still ~35% slower than the ones
# after it, and the metrics batch is not warmed up at all: its first run
# takes ~5 s longer than later ones, and at this commit every metrics op
# fails anyway. A run has no time for more warm-up ops; the first timed
# metrics op pays its code generation, and the drift self-check shows
# the first traces append.
WARMUP = ("traces", "logs")
# count reads per table per dashboard: two, so each count kind is seen
# twice in a cycle and the drift self-check can judge the query times
DASHBOARD_ROUNDS = 2
NAMESPACE = "otel"
TABLES = ("traces", "logs", *gen.METRIC_TABLE.values())


def _payloads(rng: random.Random, kinds, hour: int, directory: str, sent: dict) -> list[dict]:
    """One payload file per batch, all in `hour`. `sent` counts the
    records each signal stream has sent so far."""
    batches = []
    for kind in kinds:
        if kind == "traces":
            body, truth = gen.make_spans(rng, BATCH, hour)
            rows = {"traces": len(truth)}
        elif kind == "logs":
            body, truth = gen.make_logs(rng, BATCH, hour)
            rows = {"logs": len(truth)}
        else:
            body, rows = gen.make_metrics(rng, sent.get(kind, 0), BATCH, hour)
        sent[kind] = sent.get(kind, 0) + BATCH
        path = os.path.join(directory, f"{hour:02d}-{len(batches)}-{kind}.json")
        nbytes = gen.write_payload(path, kind, [body])
        batches.append({"kind": kind, "path": path, "rows": rows, "bytes": nbytes})
    return batches


def run(spark, runner, args, clock, catalog) -> dict:
    from opentelemetry_iceberg_exporter_spark.config import (
        CatalogConfig,
        ExporterConfig,
        StorageConfig,
    )
    from opentelemetry_iceberg_exporter_spark.sinks.iceberg_rest import RestCatalogClient
    from opentelemetry_iceberg_exporter_spark.streaming.pipeline import make_batch_processor

    warehouse = catalog.warehouse
    rng = random.Random(args.seed)
    payloads = os.path.join(common.WORK, "payloads")
    config = ExporterConfig(
        storage=StorageConfig(bucket=warehouse),
        catalog=CatalogConfig(
            catalog_type="rest", uri=catalog.uri, warehouse=warehouse, namespace=NAMESPACE
        ),
    )
    config.validate()
    # one long-running foreachBatch body per signal stream
    bodies = {k: make_batch_processor(k, config) for k in ("traces", "logs", "metrics")}
    client = RestCatalogClient(catalog.uri, warehouse=warehouse)
    next_batch_id = {k: 0 for k in bodies}
    sent: dict[str, int] = {}
    tracer = None
    state = {"ok_rows": {t: 0 for t in TABLES}, "failed_rows": {t: 0 for t in TABLES},
             "ok_bytes": 0, "checks": []}

    def ingest(b: dict) -> None:
        call = _body_call(spark, bodies, b, next_batch_id, tracer)
        before = catalog.requests() if tracer is not None else 0
        ok, _ = runner.op(f"ingest_{b['kind']}", call, records=sum(b["rows"].values()))
        rec = runner.ops[-1]
        if tracer is not None:
            rec["counts"]["sinks.rest_requests"] = catalog.requests() - before
            md_bytes = common.tree_bytes(warehouse, only="metadata")
            rec["counts"]["sinks.metadata_bytes_written"] = md_bytes - state.get("md_bytes", 0)
            state["md_bytes"] = md_bytes
        _account(state, b, ok)

    def dashboard(rounds: int, tables=TABLES) -> None:
        """Count every table through the sql surface and check the
        counts against the rows the ops sent."""
        runner.op("views", lambda: client.register_warehouse_views(spark))
        for _ in range(rounds):
            for table in tables:
                view = f"{NAMESPACE}_otel_{table}"
                ok, rows = runner.op(
                    f"count_{table}",
                    lambda v=view: spark.sql(f"SELECT count(*) FROM {v}").collect(),
                    split_plan=True,
                )
                check = _check_rows(table, rows[0][0] if ok else None, state)
                runner.ops[-1]["check"] = check["pass"]
                state["checks"].append(check)

    # warm-up: batches one at a time, then one dashboard read of the
    # tables they created
    for b in _payloads(rng, WARMUP, 0, payloads, sent):
        ingest(b)
    dashboard(1, WARMUP)
    setup_s = clock.now()

    runner.start_timed()
    tracer = runner.tracer
    t_start = clock.now()
    cycles = 0
    while cycles == 0 or clock.now() - t_start < args.seconds:
        cycles += 1
        # inputs are generated between ops, outside every op's timing
        for b in _payloads(rng, CYCLE, cycles, payloads, sent):
            ingest(b)
        dashboard(DASHBOARD_ROUNDS)
    runner.phase = "teardown"

    replans = {}
    if tracer is not None:
        from opentelemetry_iceberg_exporter_spark.sinks.iceberg_fs import plan_scan_metadata
        from opentelemetry_iceberg_exporter_spark.sinks.iceberg_rest import RestTable

        from .layers import replan

        for table in TABLES:
            t = RestTable(client, NAMESPACE, f"otel_{table}")
            replans[table] = replan(lambda **kw: plan_scan_metadata(t.metadata(), **kw), {})

    ingest_ops = runner.timed([f"ingest_{k}" for k in bodies])
    write_s = sum(o["ms"] for o in ingest_ops) / 1000.0
    ok_records = sum(o["records"] for o in ingest_ops if o["ok"])
    return {
        "setup_s": setup_s,
        "cycles": cycles,
        "ingest_kinds": [f"ingest_{k}" for k in bodies],
        "query_kinds": [f"count_{t}" for t in TABLES],
        "delete_kinds": [],
        "records_per_s": ok_records / write_s,
        "stored_bytes": common.tree_bytes(warehouse),
        "input_bytes": state["ok_bytes"],
        "checks": state["checks"],
        "replans": replans,
        "rows": {"ok": state["ok_rows"], "failed_ops_sent": state["failed_rows"]},
    }


def _body_call(spark, bodies, b: dict, next_batch_id: dict, tracer):
    """The op: hand the batch's DataFrame to its stream's foreachBatch
    body with the stream's next batch id."""
    kind = b["kind"]
    bid = next_batch_id[kind]
    next_batch_id[kind] += 1

    def call():
        df = spark.read.text(b["path"])
        if tracer is None:
            return bodies[kind](df, bid)
        with tracer.span("streaming.body"):
            return bodies[kind](df, bid)

    return call


def _account(state: dict, b: dict, ok: bool) -> None:
    side = "ok_rows" if ok else "failed_rows"
    for table, n in b["rows"].items():
        state[side][table] += n
    if ok:
        state["ok_bytes"] += b["bytes"]


def _check_rows(table: str, visible, state) -> dict:
    """Visible rows must equal the rows successful ops sent, plus either
    none or all of the rows failed ops sent (a failing op may have
    committed some tables before it raised)."""
    ok_rows = state["ok_rows"][table]
    failed_rows = state["failed_rows"][table]
    committed_by_failed = None if visible is None else visible - ok_rows
    return {
        "table": table,
        "visible": visible,
        "sent_by_ok_ops": ok_rows,
        "committed_by_failed_ops": committed_by_failed,
        "pass": committed_by_failed in (0, failed_rows),
    }

