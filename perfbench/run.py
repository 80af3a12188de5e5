"""Benchmark entry point.

    python3 perfbench/run.py --workload stream_ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds its inputs from the seed under
.perfbench/work (emptied first), runs the named workload against the
engine in this checkout, checks the outputs, and prints a detail line
then the result line: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics (and the traced run's own
end-to-end numbers are in the detail line, so tracing overhead is the
difference from an untraced run with the same seed).
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()  # setup_s counts from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "opentelemetry_iceberg_exporter_spark")
WORKLOADS = ("stream_ingest", "warehouse_mix")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(PACKAGE, "__init__.py")):
        print(f"no engine package at {PACKAGE}: run from a checkout root", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    # the engine and Spark log to stdout; keep it for the result lines
    stdout, sys.stdout = sys.stdout, sys.stderr

    from perfbench import common
    from perfbench.runner import Runner

    clock = common.Clock(_T0)
    env = common.pin_environment()
    spark = catalog = runner = None
    try:
        spark = common.start_session(env)
        runner = Runner(spark, traced=bool(args.trace))
        if args.workload == "stream_ingest":
            from perfbench import stream_ingest as workload
            from perfbench.catalog_server import CatalogProcess

            warehouse = os.path.join(common.WORK, "warehouse")
            os.makedirs(warehouse)
            catalog = CatalogProcess(warehouse)
            res = workload.run(spark, runner, args, clock, catalog)
        else:
            from perfbench import warehouse_mix as workload

            res = workload.run(spark, runner, args, clock)
        e2e = end_to_end(runner, res)
        e2e["peak_rss_mb"] = common.peak_rss_mb(runner.jvm_pid) + common.peak_rss_mb(os.getpid())
    finally:
        if runner is not None and runner.tracer is not None:
            runner.tracer.restore()
        if catalog is not None:
            catalog.close()
        if spark is not None:
            common.stop_session(spark)

    timed = runner.timed()
    checks_failed = [c for c in res["checks"] if not c["pass"]]
    failed = sum(1 for o in timed if not o["ok"] or o.get("check") is False)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "environment": env,
        "cycles": res["cycles"],
        "ops": {k: sum(1 for o in timed if o["kind"] == k) for k in sorted({o["kind"] for o in timed})},
        "failed_frac": failed / len(timed),
        "corpus_build_ms": [o["ms"] for o in timed if o["kind"] == "corpus_build"],
        "failures": runner.failures(),
        "rows": res.get("rows"),
        "checks_failed": checks_failed,
        "checks_run": len(res["checks"]),
        "drift": common.drift(
            runner.timed(res["ingest_kinds"] + res["query_kinds"]),
            lambda kind: "batch_p50_ms" if kind in res["ingest_kinds"] else "query_p50_ms",
            bounds,
        ),
        "end_to_end": e2e,
    }
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if args.trace:
        values = per_layer(runner, res)
        detail["trace"] = trace_summary(runner)
        runner.tracer.write(
            os.path.join(common.OUT, f"spans-{args.workload}-{args.seed}.jsonl")
        )
    else:
        values = e2e
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    result = {
        "correct": not checks_failed,
        "attempted": len(timed),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in names},
    }
    full = {"ops": runner.ops, "checks": res["checks"]}
    common.emit(result, detail, full, f"{args.workload}-{args.seed}-trace{args.trace}", stdout)
    return 0


def end_to_end(runner, res) -> dict:
    from perfbench.common import failures_last, percentile

    ingest = failures_last(runner.timed(res["ingest_kinds"]))
    queries = failures_last(runner.timed(res["query_kinds"]))
    return {
        "setup_s": res["setup_s"],
        # the client's busy time for one pass over the workload's op mix
        "cycle_s": sum(o["ms"] for o in runner.timed()) / 1000.0 / res["cycles"],
        "batch_p50_ms": percentile(ingest, 0.5),
        "records_per_s": res["records_per_s"],
        "query_p50_ms": percentile(queries, 0.5),
        "query_p90_ms": percentile(queries, 0.9),
        "stored_bytes_per_input_byte": res["stored_bytes"] / res["input_bytes"],
    }


FUNNEL_STAGES = (
    "input", "paragraph_dedup", "decontaminated", "exact_dedup", "near_dedup", "substr_dedup", "packed",
)
SPARK_KEYS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_ms", "spark.cpu_ms",
    "spark.gc_ms", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
)


def per_layer(runner, res) -> dict:
    """Per-op means over the timed ops that engage each layer."""
    from perfbench.layers import OPERATOR_STAGES

    ingest = runner.timed(res["ingest_kinds"])
    queries = runner.timed(res["query_kinds"])
    deletes = runner.timed(res["delete_kinds"])
    funnels = runner.timed(["corpus_build"])

    def mean(ops, f) -> float:
        return sum(f(o) for o in ops) / len(ops) if ops else 0.0

    def self_ms(name):
        return lambda o: o["self_ms"].get(name, 0.0)

    def count(key):
        return lambda o: o["counts"].get(key, 0.0)

    out = {
        "otlp.flatten_ms": mean(ingest, self_ms("otlp.flatten")),
        "otlp.records": mean(ingest, lambda o: o["records"]),
        "streaming.body_self_ms": mean(ingest, self_ms("streaming.body")),
        "sinks.append_self_ms": mean(ingest, self_ms("sinks.append")),
        "sinks.write_ms": mean(ingest, self_ms("sinks.write")),
        "sinks.commit_ms": mean(ingest, self_ms("sinks.commit")),
        "sinks.delete_ms": mean(deletes, self_ms("sinks.delete")),
        "sources.plan_ms": mean(queries, self_ms("sources.plan")),
        "sources.register_ms": mean(runner.timed(["views"]), self_ms("sources.register")),
        "untraced_ms": mean(runner.timed(), self_ms("untraced")),
    }
    for key in (
        "streaming.frames_sunk", "streaming.empty_frames_sunk", "sinks.files_written",
        "sinks.bytes_written", "sinks.footer_reads", "sinks.commit_attempts",
        "sinks.rest_requests", "sinks.manifests_written", "sinks.metadata_bytes_written",
    ):
        out[key] = mean(ingest, count(key))
    for key in ("sinks.files_removed", "sinks.dv_bytes_written"):
        out[key] = mean(deletes, count(key))
    replans = list(res["replans"].values())
    for key in ("sources.manifests_read", "sources.files_total", "sources.files_kept",
                "sources.delete_files_applied", "sources.rows_read"):
        out[key] = mean(replans, lambda r, k=key: r[k])
    for key in SPARK_KEYS:
        out[key] = mean(ingest, lambda o, k=key: o["spark"][k])
    out["operators.run_ms"] = mean(funnels, lambda o: o["ms"])
    out["operators.docs_per_s"] = mean(funnels, lambda o: o["records"] / o["ms"] * 1000.0)
    out["operators.untraced_ms"] = mean(funnels, self_ms("untraced"))
    for name in (n for names in OPERATOR_STAGES.values() for n in names):
        out[f"operators.{name}.plan_ms"] = mean(funnels, self_ms(f"operators.{name}"))
    for stage in FUNNEL_STAGES:
        out[f"operators.{stage}.survivors"] = mean(
            funnels, lambda o, s=stage: (o.get("survivors") or {}).get(s, 0)
        )
    for key in ("spark.jobs", "spark.task_ms", "spark.shuffle_write_bytes"):
        out[f"operators.{key}"] = mean(funnels, lambda o, k=key: o["spark"][k])
    for key in ("proc.jvm_rss_mb", "proc.driver_py_rss_mb", "proc.worker_rss_mb"):
        out[key] = max(o["proc"][key] for o in runner.timed())
    return out


def trace_summary(runner) -> dict:
    """Per op kind: mean wall and mean self time per span name, with the
    op's own remainder as `untraced`; the largest gap between an op's
    wall time and the sum of its self times shows they add up."""
    by_kind: dict[str, list[dict]] = {}
    for o in runner.timed():
        by_kind.setdefault(o["kind"], []).append(o)
    out = {}
    for kind, ops in by_kind.items():
        names = sorted({n for o in ops for n in o["self_ms"]})
        out[kind] = {
            "n": len(ops),
            "wall_ms": sum(o["ms"] for o in ops) / len(ops),
            "self_ms": {n: sum(o["self_ms"].get(n, 0.0) for o in ops) / len(ops) for n in names},
            "spark": {k: sum(o["spark"][k] for o in ops) / len(ops) for k in SPARK_KEYS},
        }
    residual = max(abs(o["ms"] - sum(o["self_ms"].values())) for o in runner.timed())
    return {"by_kind": out, "max_wall_minus_self_sum_ms": residual}


if __name__ == "__main__":
    sys.exit(main())
