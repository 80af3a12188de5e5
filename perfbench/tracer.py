"""The traced run's instruments: in-memory spans around calls into the
engine's public functions, per-op counters, and Spark's own job and
stage metrics read from the status tracker and the UI REST API.

Nothing here is imported by an untraced run.
"""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime, timezone


class Tracer:
    """Spans (name, start, end, parent, op) and counters, kept in memory
    and written as JSON lines when the run ends."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None
        self.counts: dict[str, float] = defaultdict(float)
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------
    def _open(self, name: str, start: float) -> int:
        sid = len(self.spans)
        self.spans.append(
            {
                "id": sid,
                "name": name,
                "op": self.op,
                "parent": self._stack[-1] if self._stack else None,
                "start": start,
                "end": None,
            }
        )
        self._stack.append(sid)
        return sid

    def _close(self, sid: int) -> None:
        self.spans[sid]["end"] = time.perf_counter()
        self._stack.pop()

    @contextmanager
    def span(self, name: str):
        sid = self._open(name, time.perf_counter())
        try:
            yield sid
        finally:
            self._close(sid)

    def inside(self, name: str) -> bool:
        """True while a span called `name` is open."""
        return any(self.spans[i]["name"] == name for i in self._stack)

    def add_span(self, name: str, start: float, end: float, parent: int) -> None:
        """A span reconstructed after the fact (from Spark's job times)."""
        self.spans.append(
            {"id": len(self.spans), "name": name, "op": self.op,
             "parent": parent, "start": start, "end": end}
        )

    # -- wrappers ------------------------------------------------------------
    def _patch(self, owner, attr: str, make) -> None:
        original = getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, make(original))

    def wrap(self, targets, name: str, on_result=None) -> None:
        """Open span `name` around every call of owner.attr, for each
        (owner, attr) in targets; on_result(tracer, result) may count."""

        def make(original):
            def wrapper(*args, **kwargs):
                with self.span(name):
                    result = original(*args, **kwargs)
                if on_result is not None:
                    on_result(self, result)
                return result

            return wrapper

        for owner, attr in targets:
            self._patch(owner, attr, make)

    def count(self, targets, key: str) -> None:
        def make(original):
            def wrapper(*args, **kwargs):
                self.counts[key] += 1
                return original(*args, **kwargs)

            return wrapper

        for owner, attr in targets:
            self._patch(owner, attr, make)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # -- per-op accounting -----------------------------------------------------
    def self_times(self, root: int) -> dict[str, float]:
        """Self time (ms) per span name under `root`; the root's own self
        time is reported as `untraced`. They add up to the root's wall."""
        children: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans[root + 1:]:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)

        def visit(s: dict, name: str) -> None:
            dur = s["end"] - s["start"]
            kids = children.get(s["id"], [])
            out[name] += (dur - sum(k["end"] - k["start"] for k in kids)) * 1000.0
            for k in kids:
                visit(k, k["name"])

        visit(self.spans[root], "untraced")
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _parse_ui_time(text: str) -> float:
    """'2026-10-17T07:50:01.123GMT' -> epoch seconds."""
    dt = datetime.strptime(text[:23], "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


STAGE_FIELDS = {
    "spark.tasks": "numCompleteTasks",
    "spark.task_ms": "executorRunTime",
    "spark.gc_ms": "jvmGcTime",
    "spark.shuffle_read_bytes": "shuffleReadBytes",
    "spark.shuffle_write_bytes": "shuffleWriteBytes",
}


class SparkMetrics:
    """Job and stage metrics per job group. Task metrics come from the
    LATEST attempt of each stage only, so a retried stage counts once.
    An unreachable UI REST API raises instead of returning nothing."""

    def __init__(self, spark, timeout_s: float = 30.0):
        self.sc = spark.sparkContext
        self.base = self.sc.uiWebUrl
        self.app = self.sc.applicationId
        self.timeout_s = timeout_s
        self._seen: set[int] = set()  # a stage reused by a later job counts once
        if not self.base:
            raise RuntimeError("the traced run needs the Spark UI (spark.ui.enabled)")
        self._get("")  # fail now, loudly, if the REST API is unreachable

    def _get(self, path: str):
        url = f"{self.base}/api/v1/applications/{self.app}/{path}".rstrip("/")
        try:
            with urllib.request.urlopen(url, timeout=10) as r:
                return json.loads(r.read())
        except (urllib.error.URLError, OSError) as exc:
            raise RuntimeError(f"Spark UI REST API unreachable at {url}: {exc}") from exc

    def collect(self, group: str) -> dict:
        """Totals over every job of `group`, plus the first job's
        submission time (epoch s) for planning-time splits."""
        tracker = self.sc.statusTracker()
        job_ids = sorted(tracker.getJobIdsForGroup(group))
        out = {k: 0.0 for k in ("spark.jobs", "spark.stages", "spark.cpu_ms",
                                "spark.spill_bytes", *STAGE_FIELDS)}
        out["spark.jobs"] = float(len(job_ids))
        first_submit = None
        deadline = time.monotonic() + self.timeout_s
        for jid in job_ids:
            job = self._wait(f"jobs/{jid}", deadline, lambda j: j["status"] != "RUNNING")
            if job.get("submissionTime"):
                t = _parse_ui_time(job["submissionTime"])
                first_submit = t if first_submit is None else min(first_submit, t)
            for sid in job["stageIds"]:
                if sid in self._seen:
                    continue
                self._seen.add(sid)
                attempts = self._wait(
                    f"stages/{sid}", deadline,
                    lambda a: max(a, key=lambda x: x["attemptId"])["status"]
                    not in ("ACTIVE", "PENDING"),
                )
                latest = max(attempts, key=lambda x: x["attemptId"])
                if latest["status"] == "SKIPPED":
                    continue
                out["spark.stages"] += 1
                for key, field in STAGE_FIELDS.items():
                    out[key] += latest.get(field, 0)
                out["spark.cpu_ms"] += latest.get("executorCpuTime", 0) / 1e6
                out["spark.spill_bytes"] += latest.get("memoryBytesSpilled", 0) + latest.get(
                    "diskBytesSpilled", 0
                )
        out["first_job_submit"] = first_submit
        return out

    def _wait(self, path: str, deadline: float, done):
        while True:
            data = self._get(path)
            if done(data):
                return data
            if time.monotonic() > deadline:
                raise RuntimeError(f"Spark UI REST {path} did not settle")
            time.sleep(0.05)
