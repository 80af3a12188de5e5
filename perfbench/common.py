"""Shared benchmark plumbing: the pinned environment, the Spark session,
process memory, order statistics, the drift self-check and the result
line."""

from __future__ import annotations

import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
WORK = os.path.join(STATE, "work")
OUT = os.path.join(STATE, "out")

DRIVER_MEMORY = "1g"


def pin_environment() -> dict:
    """Fix every setting the numbers depend on and return them for the
    output. The work directory is emptied first: inputs are regenerated
    every run and nothing carries over from an earlier one."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("spark-local", "tmp", "warehouse-sql"):
        os.makedirs(os.path.join(WORK, d))
    os.makedirs(OUT, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    env = {
        "master": f"local[{cores}]",
        "spark.sql.shuffle.partitions": str(cores),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
        # the iceberg_fs reader runs inside Python workers, which must
        # import the package from this checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": os.path.join(WORK, "tmp"),
    }
    for k in ("SPARK_DRIVER_MEMORY", "SPARK_LOCAL_DIRS", "PYTHONPATH", "PYSPARK_PYTHON", "TMPDIR"):
        os.environ[k] = env[k]
    os.environ.pop("SPARK_GRAFT_CPUS", None)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return env


def start_session(env: dict):
    from opentelemetry_iceberg_exporter_spark.session import build_session

    tmp = env["TMPDIR"]
    spark = build_session(
        app_name="perfbench",
        master=env["master"],
        shuffle_partitions=int(env["spark.sql.shuffle.partitions"]),
        extra_conf={
            "spark.ui.showConsoleProgress": env["spark.ui.showConsoleProgress"],
            "spark.local.dir": env["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse-sql"),
            # a fixed-size heap: the Spark driver's resident memory then follows
            # what the run touches, not the collector's resizing decisions;
            # no hsperfdata file, which the JVM would put in /tmp
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData "
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
            ),
            "spark.executorEnv.PYTHONPATH": env["PYTHONPATH"],
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def stop_session(spark, timeout: float = 20.0) -> None:
    """Stop Spark and wait until its JVM and every process under it (the
    Python worker daemon and its workers) have ended. `spark.stop()`
    alone leaves the JVM running until this process exits and its stdin
    pipe closes, so the JVM would outlive the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    tree = _descendants(jvm_pid(spark))
    try:
        spark.stop()
    finally:
        _end_jvm(gateway, tree, timeout)


def _end_jvm(gateway, tree: set, timeout: float) -> None:
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        tree |= _descendants(proc.pid)
        # the gateway JVM exits when its stdin reaches end of file
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout
    while True:
        alive = {p for p in tree if _alive(*p)}
        if not alive:
            return
        if time.monotonic() > deadline:
            for pid, _ in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.05)


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name: state, ppid,
    ... (field 22 of the file, the start time, is index 19)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def _alive(pid: int, start: str) -> bool:
    """The process that had this pid and start time still runs (a zombie
    has ended)."""
    st = _stat(pid)
    return st is not None and st[19] == start and st[0] != "Z"


def _children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    return children


def _descendants(root: int) -> set[tuple[int, str]]:
    """(pid, start time) of `root` and every process under it."""
    children = _children()
    out, todo = set(), [root]
    while todo:
        pid = todo.pop()
        st = _stat(pid)
        if st is not None:
            out.add((pid, st[19]))
        todo.extend(children.get(pid, []))
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pid: int) -> float:
    return _status_kb(pid, "VmHWM") / 1024.0


def reset_peak_rss(pid: int) -> None:
    """Set the process's peak resident memory (VmHWM) back to its
    current resident memory (Linux clear_refs, value 5)."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def rss_mb(pid: int) -> float:
    return _status_kb(pid, "VmRSS") / 1024.0


def worker_rss_mb(root: int) -> float:
    """Resident memory of every process descended from `root` (the JVM's
    Python worker daemon and the workers it forks)."""
    children = _children()
    total, todo = 0.0, list(children.get(root, []))
    while todo:
        pid = todo.pop()
        total += rss_mb(pid)
        todo.extend(children.get(pid, []))
    return total


def percentile(ordered: list[float], q: float) -> float:
    """Linear interpolation between closest ranks of an already ordered
    list (numpy's default method)."""
    if not ordered:
        return float("nan")
    pos = (len(ordered) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(ordered) - 1)
    return ordered[lo] + (ordered[hi] - ordered[lo]) * (pos - lo)


def failures_last(ops: list[dict]) -> list[float]:
    """Latencies ordered with every failed op ranked above every success."""
    ok = sorted(o["ms"] for o in ops if o["ok"])
    bad = sorted(o["ms"] for o in ops if not o["ok"])
    return ok + bad


def drift(ops: list[dict], metric_of, bounds: dict[str, float]) -> dict:
    """Trend self-check over the timed window. Each op's latency is
    divided by the median of its own kind (kinds seen only once carry no
    trend and are left out); per end-to-end metric, the median of the
    first half of those ratios, in the order the ops ran, is compared
    with the second half's, and a change beyond the metric's bound is
    flagged. Fewer than four ratios are reported but not judged."""
    by_kind: dict[str, list[float]] = {}
    for o in ops:
        by_kind.setdefault(o["kind"], []).append(o["ms"])
    series: dict[str, list[float]] = {}
    for o in ops:
        same = by_kind[o["kind"]]
        if len(same) > 1:
            series.setdefault(metric_of(o["kind"]), []).append(o["ms"] / statistics.median(same))
    out = {}
    for metric in sorted({metric_of(o["kind"]) for o in ops}):
        xs = series.get(metric, [])
        half = len(xs) // 2
        if len(xs) < 4:
            out[metric] = {"n": len(xs), "judged": False}
            continue
        first, second = statistics.median(xs[:half]), statistics.median(xs[half:])
        change = second / first - 1.0
        out[metric] = {
            "n": len(xs),
            "judged": True,
            "first_half": round(first, 4),
            "second_half": round(second, 4),
            "change": round(change, 4),
            "flag": abs(change) > bounds[metric],
        }
    return out


def tree_bytes(root: str, only: str | None = None) -> int:
    """Bytes of every file under root (only in directories named `only`)."""
    total = 0
    for d, _, files in os.walk(root):
        if only is None or os.path.basename(d) == only:
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class Clock:
    """Elapsed seconds since `t0` (the benchmark process's start)."""

    def __init__(self, t0: float):
        self.t0 = t0

    def now(self) -> float:
        return time.perf_counter() - self.t0


def emit(result: dict, detail: dict, full: dict, name: str, stdout) -> None:
    """Write the full report (every op and check included) under
    .perfbench/out, then print the detail line and, last, the
    result line."""
    path = os.path.join(OUT, f"{name}.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump({"result": result, "detail": detail, **full}, f, indent=1, default=str)
    print(json.dumps({"detail": detail}, default=str, separators=(",", ":")), file=stdout)
    print(json.dumps(result, separators=(",", ":")), file=stdout, flush=True)
