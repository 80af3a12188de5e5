"""Property fuzz for the DV fold / snapshot-expiry interaction (verdict
ask): under randomized interleavings of DV deletes (each folds prior
vectors), fold-to-data rewrites, compactions, and expiries, the table
must never
  * orphan a LIVE deletion vector (a live DV entry whose Puffin blob
    file expiry already deleted), nor
  * retain a DEAD Puffin file (one no retained snapshot references —
    expiry's commit-then-delete must reclaim it), and reads must match
    an independent row model throughout."""

from __future__ import annotations

import glob
import os
import random

import pytest
from pyspark.sql import functions as F

from opentelemetry_iceberg_exporter_spark.sinks.iceberg_fs import (

    FsCatalog,
    live_files,
    snapshot_file_tree,
)

# depth/property tier: full-coverage fuzz — slow tier (SPARK_GRAFT_FULL_TESTS=1)
pytestmark = pytest.mark.slow


def _df(spark, ids):
    return (
        spark.createDataFrame([(int(i),) for i in ids], "id long")
        .withColumn("ts", F.to_timestamp(F.lit("2024-03-01 00:00:00")))
        .withColumn("v", F.lit("x"))
    )


def _puffins_on_disk(location: str) -> set[str]:
    return set(glob.glob(os.path.join(location, "**", "*.puffin"), recursive=True))


def _assert_invariants(t, spark, expected_ids: set[int]):
    md = t.metadata()
    # 1. every live DV's blob file exists
    _, deletes = live_files(md, md["current-snapshot-id"])
    for f in deletes:
        if f.is_deletion_vector:
            assert os.path.exists(f.file_path), f"live DV orphaned: {f.file_path}"
    # 2. no dead Puffin retained: disk set == union of retained trees
    referenced: set[str] = set()
    for s in md["snapshots"]:
        files, _ = snapshot_file_tree(s)
        referenced |= files
    stats_files = {
        e["statistics-path"]
        for key in ("statistics", "partition-statistics")
        for e in md.get(key, [])
    }
    disk = _puffins_on_disk(md["location"])
    dead = disk - {p for p in referenced} - stats_files
    assert not dead, f"dead Puffin retained after expiry: {sorted(dead)}"
    # 3. reads match the model
    got = {r["id"] for r in t.read(spark).select("id").collect()}
    assert got == expected_ids


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_randomized_fold_expire_interleavings(spark, tmp_path, seed):
    rng = random.Random(seed)
    cat = FsCatalog(str(tmp_path / f"wh{seed}"))
    t = cat.create_table(
        "otel", "fz", _df(spark, [0]).schema, partition_source="ts"
    )
    live: set[int] = set()
    next_id = 0

    def append(n):
        nonlocal next_id
        ids = list(range(next_id, next_id + n))
        next_id += n
        t.append_dataframe(_df(spark, ids))
        live.update(ids)

    append(30)
    ops = ["dv_delete", "dv_delete", "fold", "expire", "compact"]
    for step in range(10):
        op = rng.choice(ops)
        if op == "dv_delete":
            candidates = sorted(live)
            if not candidates:
                append(10)
                continue
            victims = rng.sample(candidates, k=min(len(candidates), rng.randint(1, 4)))
            _, n = t.delete_where(
                spark,
                f"id IN ({', '.join(map(str, victims))})",
                mode="deletion-vectors",
            )
            assert n == len(victims)
            live.difference_update(victims)
        elif op == "fold":
            # fold DVs INTO the data files (rewrite), then sometimes add
            # more rows so later deletes have fresh targets
            t.rewrite_position_deletes(spark)
            if rng.random() < 0.5:
                append(rng.randint(3, 8))
        elif op == "compact":
            t.rewrite_data_files(spark, target_bytes=1 << 30, min_files=2)
        else:
            t.expire_snapshots(keep_last=rng.randint(1, 3))
        _assert_invariants(t, spark, live)

    # terminal: expire everything expirable, invariants must still hold
    t.expire_snapshots(keep_last=1)
    _assert_invariants(t, spark, live)
    assert len(t.snapshots()) >= 1
