"""Interleaved same-host A/B: run the full bench alternately from two
trees (fresh process each) and report each key's best of N runs (the
minimum where lower is better, else the maximum).

Usage: python tools/ab_bench.py <treeA> <treeB> [rounds]
Writes raw outputs to /tmp/ab_<label>_<i>.json lines.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys


# keys only the full result record carries (the compact summary line
# printed after it drops them); main() reads all of them
FULL_RECORD_KEYS = ("queries_steady", "write_path", "corpus_build")


def run_bench(tree: str, label: str, i: int) -> dict:
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    env.setdefault("SPARK_GRAFT_CPUS", "32")
    out = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=tree,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    if out.returncode != 0:
        tail = "\n".join(out.stderr.strip().splitlines()[-20:])
        raise RuntimeError(
            f"bench.py in {tree} exited {out.returncode}; stderr tail:\n{tail}"
        )
    for line in reversed(out.stdout.splitlines()):
        if not line.startswith("{"):
            continue
        record = json.loads(line)
        if all(k in record for k in FULL_RECORD_KEYS):
            break
    else:
        raise RuntimeError(
            f"bench.py in {tree} printed no full result record "
            f"(a JSON line with {', '.join(FULL_RECORD_KEYS)})"
        )
    with open(f"/tmp/ab_{label}_{i}.json", "w") as f:
        f.write(line)
    return record


def main() -> None:
    tree_a, tree_b = sys.argv[1], sys.argv[2]
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    results = {"A": [], "B": []}
    for i in range(rounds):
        for label, tree in (("A", tree_a), ("B", tree_b)):
            full = run_bench(tree, label, i)
            results[label].append(full)
            print(
                f"run {i} {label}: steady={full['value_steady']} "
                f"corpus={full['corpus_build']['corpus_build_sec']}",
                flush=True,
            )

    def best(vals, lower_better=True):
        return (min if lower_better else max)(vals)

    def scalar(full, path):
        cur = full
        for p in path:
            cur = cur[p]
        return cur

    keys = [
        (("value_steady",), True),
        (("corpus_build", "corpus_build_sec"), True),
        (("write_path", "dv_delete_sec"), True),
        (("write_path", "pruned_dml_delete_sec"), True),
        (("write_path", "changelog_rows_per_sec"), False),
        (("write_path", "append_sec_per_commit"), True),
        (("expire_depth", "expire_plan_sec"), True),
        (("v3_modes", "v3_sink_rows_per_sec"), False),
        (("llm_pipeline", "semdedup_sec"), True),
        (("llm_pipeline", "mix_sec"), True),
        (("ingest", "dedup_ingest_last_sec"), True),
        (("ingest", "substr_ingest_last_sec"), True),
        (("ingest", "dedup_ingest_novel_sec"), True),
    ]
    print(f"\n{'key':<42} {'A best':>10} {'B best':>10} {'delta%':>8}")
    for path, lower in keys:
        va = best([scalar(f, path) for f in results["A"]], lower)
        vb = best([scalar(f, path) for f in results["B"]], lower)
        d = (vb - va) / va * 100 if va else 0
        print(f"{'.'.join(path):<42} {va:>10} {vb:>10} {d:>7.1f}%")
    # per-query steady best-of
    print(f"\n{'query':<34} {'A':>8} {'B':>8} {'delta%':>8}")
    qa = {}
    qb = {}
    for f in results["A"]:
        for k, v in f["queries_steady"].items():
            qa.setdefault(k, []).append(v)
    for f in results["B"]:
        for k, v in f["queries_steady"].items():
            qb.setdefault(k, []).append(v)
    ta = tb = 0.0
    for k in qa:
        va, vb = min(qa[k]), min(qb.get(k, [float("nan")]))
        ta += va
        tb += vb
        print(f"{k:<34} {va:>8.3f} {vb:>8.3f} {(vb - va) / va * 100:>7.1f}%")
    print(f"{'TOTAL (best-of)':<34} {ta:>8.3f} {tb:>8.3f} "
          f"{(tb - ta) / ta * 100:>7.1f}%")


if __name__ == "__main__":
    main()
