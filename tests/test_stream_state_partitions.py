"""state_partitions_for: the streaming harness sizes the state-store
partition count from SOURCE BYTES (one per ~32 MB, floor 2), capped at
the session's configured shuffle parallelism, with an env override —
checkpoint fan-out is per-partition per-micro-batch, so tiny state must
not inherit a cluster-width partition count (guide §2: scale-adaptive
partitioning, not a constant)."""

from __future__ import annotations

import os

import pytest

from opentelemetry_iceberg_exporter_spark.queries.streaming import (
    _STATE_PARTITION_BYTES,
    state_partitions_for,
)


def test_small_input_gets_floor(spark, sf_dir, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", raising=False)
    n = state_partitions_for(spark, f"{sf_dir}/events.parquet")
    assert n == 2  # sf0.001 events is far under 32 MB -> floor


@pytest.fixture()
def eight_shuffle_partitions(spark):
    """The shared session's shuffle width is whatever earlier tests left
    (some size it to the host's cores); pin a known value >= 5 so the
    5-partition case is not capped, and restore it afterwards."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    spark.conf.set(key, "8")
    yield
    spark.conf.set(key, before)


def test_scales_with_bytes_capped_at_configured(
    spark, tmp_path, monkeypatch, eight_shuffle_partitions
):
    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", raising=False)
    big = tmp_path / "big.bin"
    big.write_bytes(b"\0")
    os.truncate(big, 5 * _STATE_PARTITION_BYTES)  # sparse, no real I/O
    assert state_partitions_for(spark, str(big)) == 5
    os.truncate(big, 1000 * _STATE_PARTITION_BYTES)
    configured = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert state_partitions_for(spark, str(big)) == configured


def test_env_override_wins(spark, sf_dir, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "17")
    assert state_partitions_for(spark, f"{sf_dir}/events.parquet") == 17


def test_directory_input_sums_files(spark, tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", raising=False)
    for i in range(3):
        f = tmp_path / f"part{i}.bin"
        f.write_bytes(b"\0")
        os.truncate(f, _STATE_PARTITION_BYTES)
    assert state_partitions_for(spark, str(tmp_path)) == 3


def test_session_conf_restored_after_run(spark, sf_dir):
    from opentelemetry_iceberg_exporter_spark.queries.streaming import (
        run_to_memory,
        stream_events,
    )
    from opentelemetry_iceberg_exporter_spark.streaming.stateful import (
        windowed_counts,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    ev = stream_events(spark, sf_dir)
    out = windowed_counts(
        ev, "ts", window="1 hour", watermark="2 hours", group_cols=["event_type"]
    )
    got = run_to_memory(out, "stparts", "complete", state_partitions=3)
    assert got.count() > 0
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_nested_directory_input_sums_recursively(spark, tmp_path, monkeypatch):
    """A partitioned/nested parquet source keeps data in
    subdirectories; sizing must walk them instead of counting ~0 bytes
    at the top level (which would silently floor a large source at 2)."""
    from opentelemetry_iceberg_exporter_spark.queries.streaming import (
        _STATE_PARTITION_BYTES,
        state_partitions_for,
    )

    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", raising=False)
    sub = tmp_path / "day=2031-01-01"
    sub.mkdir()
    (sub / "part-0").write_bytes(b"x" * (3 * _STATE_PARTITION_BYTES))
    assert state_partitions_for(spark, str(tmp_path)) == 3


def test_malformed_env_override_names_the_var(spark, sf_dir, monkeypatch):
    import pytest

    from opentelemetry_iceberg_exporter_spark.queries.streaming import (
        state_partitions_for,
    )

    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "lots")
    with pytest.raises(ValueError, match="SPARK_GRAFT_STREAM_STATE_PARTITIONS"):
        state_partitions_for(spark, f"{sf_dir}/events.parquet")
