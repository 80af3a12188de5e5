"""Runs and records ops: one closed-loop client, one op at a time.

An op is timed from the call into the engine until it returns. An op
that raises is recorded as failed with its exception class and message;
the run goes on. In a traced run each op also gets a root span, a Spark
job group, the layer counters and Spark's job and stage metrics.
"""

from __future__ import annotations

import os
import time
import traceback
from collections import defaultdict

from . import common


class Runner:
    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.ops: list[dict] = []
        self.phase = "warmup"
        self.tracer = None
        self.spark_metrics = None
        self.jvm_pid = common.jvm_pid(spark)

    def start_timed(self) -> None:
        """End of set-up. Peak memory is measured from here on, and a
        traced run installs its wrappers here, so spans cover the timed
        ops only."""
        self.phase = "timed"
        for pid in (self.jvm_pid, os.getpid()):
            common.reset_peak_rss(pid)
        if self.traced:
            from .layers import instrument
            from .tracer import SparkMetrics, Tracer

            self.tracer = Tracer()
            self.spark_metrics = SparkMetrics(spark=self.spark)
            instrument(self.tracer)

    def op(self, kind: str, fn, records: int = 0, split_plan: bool = False):
        """Run fn() as one op. Returns (ok, result)."""
        rec = {"id": len(self.ops), "kind": kind, "phase": self.phase,
               "records": records, "ok": True}
        tr = self.tracer
        if tr is not None:
            tr.op = rec["id"]
            group = f"perfbench-op-{rec['id']}"
            self.spark.sparkContext.setJobGroup(group, kind)
            root = tr._open(kind, time.perf_counter())
        epoch0 = time.time()
        t0 = time.perf_counter()
        result = None
        try:
            result = fn()
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            _failed(rec, exc)
        t1 = time.perf_counter()
        rec["ms"] = (t1 - t0) * 1000.0
        if tr is not None:
            tr.spans[root]["start"] = t0
            tr._close(root)
            tr.spans[root]["end"] = t1
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            sm = self.spark_metrics.collect(group)
            submit = sm.pop("first_job_submit")
            if split_plan:
                # planning = call -> first job submission (the iceberg_fs
                # reader plans inside a Python worker the Spark driver cannot wrap)
                cut = t1 if submit is None else min(max(t0 + submit - epoch0, t0), t1)
                tr.add_span("sources.plan", t0, cut, root)
                tr.add_span("spark.query", cut, t1, root)
            rec["self_ms"] = tr.self_times(root)
            rec["counts"] = dict(tr.counts)
            tr.counts.clear()
            rec["spark"] = sm
            rec["proc"] = {
                "proc.jvm_rss_mb": common.rss_mb(self.jvm_pid),
                "proc.driver_py_rss_mb": common.rss_mb(os.getpid()),
                "proc.worker_rss_mb": common.worker_rss_mb(self.jvm_pid),
            }
        self.ops.append(rec)
        return rec["ok"], result

    def timed(self, kinds=None) -> list[dict]:
        return [o for o in self.ops if o["phase"] == "timed" and (kinds is None or o["kind"] in kinds)]

    def failures(self) -> dict:
        """Failed ops per op type and exception class, with one message."""
        out: dict = defaultdict(dict)
        for o in self.ops:
            if o["ok"]:
                continue
            slot = out[o["kind"]].setdefault(
                o["error"], {"count": 0, "message": o["message"], "raised_in": o["where"]}
            )
            slot["count"] += 1
        return dict(out)


def _failed(rec: dict, exc: Exception) -> None:
    rec["ok"] = False
    rec["error"] = type(exc).__name__
    rec["message"] = (str(exc).strip().splitlines() or [""])[0][:300]
    rec["where"] = traceback.extract_tb(exc.__traceback__)[-1].name
