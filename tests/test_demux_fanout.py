"""The exporter's append path: the flatten emits each table's declared
schema, so conform stacks no Project on it; a metrics micro-batch skips
the write job of every empty point type but still ensures its table;
a catalog sink's other frames are sunk concurrently, each with its own
error handling and its own vended storage keys, while a custom sink and
every dead letter stay on the calling thread; and the sink threads'
jobs stay in the caller's job group.
"""

from __future__ import annotations

import json
import os
import threading
import time

import pytest
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from opentelemetry_iceberg_exporter_spark import schemas as S
from opentelemetry_iceberg_exporter_spark.config import (
    CatalogConfig,
    ExporterConfig,
    StorageConfig,
)
from opentelemetry_iceberg_exporter_spark.sinks import iceberg_fs
from opentelemetry_iceberg_exporter_spark.sinks.iceberg_fs import FsCatalog
from opentelemetry_iceberg_exporter_spark.sinks.iceberg_sink import FsIcebergSink
from opentelemetry_iceberg_exporter_spark.streaming import flatten_signal, make_batch_processor
from opentelemetry_iceberg_exporter_spark.threads import map_concurrently

from rest_stub import make_server
from test_catalog_sink_commits import METRIC_TABLES
from test_otlp_flatten import GAUGE_DP, T0_NS, _metrics_payload


def _typed(schema) -> list:
    return [(f.name, f.dataType) for f in schema.fields]


def _flattened(spark, ns: bool) -> dict:
    """Every signal's raw flatten output (before any conform)."""
    df = spark.createDataFrame([("{}",)], "value string")
    out = {}
    for kind in ("traces", "logs", "metrics"):
        out.update(flatten_signal(df, kind, ns_timestamps=ns))
    return out


@pytest.mark.parametrize("ns", [False, True], ids=["us", "ns"])
def test_flatten_emits_declared_schema(spark, ns):
    flat = _flattened(spark, ns)
    assert sorted(flat) == sorted(S.ALL_SIGNALS)
    for signal, df in flat.items():
        assert _typed(df.schema) == _typed(S.schema_for(signal, ns)), signal


class TestConform:
    def test_conformed_input_is_returned_unchanged(self, spark):
        flat = _flattened(spark, False)[S.SIGNAL_TRACES]
        assert S.conform(flat, S.TRACES_SCHEMA) is flat

    def test_other_types_still_cast(self, spark):
        df = spark.createDataFrame([(1, [1])], "b int, a array<int>")
        schema = StructType(
            [
                StructField("a", ArrayType(LongType(), True), True),
                StructField("b", LongType(), True),
            ]
        )
        out = S.conform(df, schema)
        assert out is not df
        assert _typed(out.schema) == _typed(schema)

    def test_element_nullability_alone_still_casts(self, spark):
        df = spark.sql("SELECT array(1L) AS a")  # containsNull=false
        schema = StructType([StructField("a", ArrayType(LongType(), True))])
        out = S.conform(df, schema)
        assert out is not df
        assert _typed(out.schema) == _typed(schema)


def _gauge_sum_histogram() -> dict:
    """A metrics batch with no exponential histogram and no summary."""
    dp = {"attributes": [], "timeUnixNano": str(T0_NS), "count": "3", "sum": 6.0}
    return _metrics_payload(
        [
            {"name": "g", "gauge": {"dataPoints": [GAUGE_DP, GAUGE_DP]}},
            {
                "name": "s",
                "sum": {
                    "dataPoints": [GAUGE_DP],
                    "aggregationTemporality": 2,
                    "isMonotonic": True,
                },
            },
            {
                "name": "h",
                "histogram": {
                    "dataPoints": [{**dp, "bucketCounts": ["1"], "explicitBounds": []}],
                    "aggregationTemporality": 2,
                },
            },
            # a summary metric WITHOUT points: its frame is empty too
            {"name": "q", "summary": {"dataPoints": []}},
        ]
    )


EMPTY = {S.SIGNAL_METRICS_EXP_HISTOGRAM, S.SIGNAL_METRICS_SUMMARY}


@pytest.fixture()
def fs_config(tmp_path):
    return ExporterConfig(
        storage=StorageConfig(provider="filesystem", bucket=str(tmp_path)),
        catalog=CatalogConfig(catalog_type="fs", warehouse=str(tmp_path / "wh")),
    )


def _batch(spark, payload):
    return spark.createDataFrame([(json.dumps(payload),)], "value string")


def _tables(config) -> dict:
    catalog = FsCatalog(config.catalog.warehouse)
    ns = config.catalog.namespace
    return {
        sig: catalog.load_table(ns, S.table_name(sig))
        for sig in METRIC_TABLES
        if catalog.table_exists(ns, S.table_name(sig))
    }


def test_empty_point_types_ensure_tables_without_a_write(spark, fs_config, monkeypatch):
    written = []
    original = iceberg_fs.write_partitioned_batch

    def spy(df, location, md, fanout=None):
        written.append(location.rstrip("/").rsplit("/", 1)[-1])
        return original(df, location, md, fanout)

    monkeypatch.setattr(iceberg_fs, "write_partitioned_batch", spy)
    make_batch_processor("metrics", fs_config)(_batch(spark, _gauge_sum_histogram()), 0)
    tables = _tables(fs_config)
    assert set(tables) == set(METRIC_TABLES)  # every table exists
    for sig, table in tables.items():
        assert len(table.snapshots()) == (0 if sig in EMPTY else 1), sig
    assert sorted(written) == sorted(
        S.table_name(sig) for sig in METRIC_TABLES if sig not in EMPTY
    )
    assert tables[S.SIGNAL_METRICS_GAUGE].read(spark).count() == 2


def _failing_append(monkeypatch, failing: str, message: str) -> None:
    original = FsIcebergSink.append

    def append(self, df, signal, record_count=None):
        if signal == failing:
            raise RuntimeError(message)
        return original(self, df, signal, record_count)

    monkeypatch.setattr(FsIcebergSink, "append", append)


def test_transient_failure_reraises_after_other_frames_commit(
    spark, fs_config, monkeypatch
):
    _failing_append(monkeypatch, S.SIGNAL_METRICS_GAUGE, "connection reset by peer")
    process = make_batch_processor("metrics", fs_config)
    with pytest.raises(RuntimeError, match="connection reset"):
        process(_batch(spark, _gauge_sum_histogram()), 0)
    tables = _tables(fs_config)
    assert S.SIGNAL_METRICS_GAUGE not in tables  # its append raised first
    for sig in (S.SIGNAL_METRICS_SUM, S.SIGNAL_METRICS_HISTOGRAM):
        assert len(tables[sig].snapshots()) == 1, sig


def test_permanent_failure_dead_letters_only_its_frame(spark, fs_config, monkeypatch):
    _failing_append(monkeypatch, S.SIGNAL_METRICS_SUM, "403 Forbidden: access denied")
    dead = []

    def dead_letter(df, sig):
        dead.append((sig, df.count(), threading.get_ident()))

    process = make_batch_processor("metrics", fs_config, dead_letter=dead_letter)
    process(_batch(spark, _gauge_sum_histogram()), 0)  # swallowed (X2)
    assert dead == [(S.SIGNAL_METRICS_SUM, 1, threading.get_ident())]
    tables = _tables(fs_config)
    assert S.SIGNAL_METRICS_SUM not in tables
    for sig in (S.SIGNAL_METRICS_GAUGE, S.SIGNAL_METRICS_HISTOGRAM):
        assert len(tables[sig].snapshots()) == 1, sig


def test_custom_sink_and_dead_letter_run_one_frame_after_another(spark, fs_config):
    """A custom sink was written for sequential calls: it gets every
    frame, the empty ones too, on the calling thread, never two at once."""
    caller = threading.get_ident()
    calls, dead = [], []
    busy = threading.Lock()

    def sink(df, signal):
        assert busy.acquire(blocking=False), "two frames sunk at once"
        try:
            calls.append((signal, df.count(), threading.get_ident()))
            if signal == S.SIGNAL_METRICS_SUM:
                raise RuntimeError("403 Forbidden: access denied")
        finally:
            busy.release()

    process = make_batch_processor(
        "metrics",
        fs_config,
        sink=sink,
        dead_letter=lambda df, sig: dead.append((sig, threading.get_ident())),
    )
    process(_batch(spark, _gauge_sum_histogram()), 0)
    assert sorted(sig for sig, _, _ in calls) == sorted(METRIC_TABLES)
    assert {sig for sig, n, _ in calls if not n} == EMPTY
    assert {ident for _, _, ident in calls} == {caller}
    assert dead == [(S.SIGNAL_METRICS_SUM, caller)]
    assert _tables(fs_config) == {}  # nothing reached the catalog


S3A_KEY = "fs.s3a.bucket.shared-bkt.access.key"


def test_concurrent_writes_keep_their_own_vended_keys(spark, tmp_path, monkeypatch):
    """Every metric table vends its own key for one shared bucket. Vended
    keys live in the SparkContext's one Hadoop conf, so each frame's
    write job must see its own table's key from start to end while the
    other frames write on other threads."""
    warehouse = str(tmp_path / "rwh")
    os.makedirs(warehouse)
    server, state, uri = make_server(warehouse)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    try:
        config = ExporterConfig(
            storage=StorageConfig(bucket=warehouse),
            catalog=CatalogConfig(catalog_type="rest", uri=uri, warehouse=warehouse),
        )
        for sig in METRIC_TABLES:
            name = S.table_name(sig)
            state.storage_credentials[(config.catalog.namespace, name)] = [
                {
                    "prefix": "s3://shared-bkt/wh",
                    "config": {
                        "s3.access-key-id": "AK-" + name,
                        "s3.secret-access-key": "SK-" + name,
                    },
                }
            ]
        seen = {}
        original = iceberg_fs.write_partitioned_batch

        def spy(df, location, md, fanout=None):
            start = hconf.get(S3A_KEY)
            time.sleep(0.3)  # the other frames' threads run meanwhile
            files = original(df, location, md, fanout)
            seen[location.rstrip("/").rsplit("/", 1)[-1]] = (start, hconf.get(S3A_KEY))
            return files

        monkeypatch.setattr(iceberg_fs, "write_partitioned_batch", spy)
        make_batch_processor("metrics", config)(_batch(spark, _gauge_sum_histogram()), 0)
    finally:
        server.shutdown()
        for suffix in ("access.key", "secret.key"):
            hconf.unset("fs.s3a.bucket.shared-bkt." + suffix)
    written = [S.table_name(sig) for sig in METRIC_TABLES if sig not in EMPTY]
    assert seen == {name: ("AK-" + name, "AK-" + name) for name in written}


def test_namespace_ensured_once_per_sink(spark, tmp_path, monkeypatch):
    """The metric frames append on concurrent threads, and each append
    ensures the namespace first: the sink still asks the catalog once."""
    from opentelemetry_iceberg_exporter_spark.sinks.iceberg_rest import (
        RestCatalogClient,
    )

    warehouse = str(tmp_path / "rwh")
    os.makedirs(warehouse)
    server, _, uri = make_server(warehouse)
    calls = []
    original = RestCatalogClient.ensure_namespace

    def spy(self, namespace):
        calls.append(namespace)
        time.sleep(0.2)  # the other frames' threads reach the check meanwhile
        return original(self, namespace)

    monkeypatch.setattr(RestCatalogClient, "ensure_namespace", spy)
    try:
        config = ExporterConfig(
            storage=StorageConfig(bucket=warehouse),
            catalog=CatalogConfig(catalog_type="rest", uri=uri, warehouse=warehouse),
        )
        make_batch_processor("metrics", config)(_batch(spark, _gauge_sum_histogram()), 0)
    finally:
        server.shutdown()
    assert calls == [config.catalog.namespace]


def test_pool_threads_inherit_the_job_group(spark):
    sc = spark.sparkContext
    group = "demux-fanout-test"
    sc.setJobGroup(group, "fan-out")
    try:

        def job(i):
            spark.range(i + 1).count()
            return sc.getLocalProperty("spark.jobGroup.id")

        groups = map_concurrently(spark, job, range(3))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert groups == [group] * 3
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 3


def test_fan_out_waits_for_every_item_then_raises_the_first(spark):
    done = []

    def work(i):
        if i == 1:
            raise ValueError("item 1")
        spark.range(5).count()
        done.append(i)
        return i

    with pytest.raises(ValueError, match="item 1"):
        map_concurrently(spark, work, range(4))
    assert sorted(done) == [0, 2, 3]


def test_fan_out_keeps_item_order_under_thread_switching(spark):
    """More items than cores, with the interpreter switching threads as
    often as it can: every item runs once and results keep item order."""
    import sys
    import threading

    seen = []
    lock = threading.Lock()

    def work(i):
        with lock:
            seen.append(i)
        return i * i

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        out = map_concurrently(spark, work, range(64))
    finally:
        sys.setswitchinterval(interval)
    assert out == [i * i for i in range(64)]
    assert sorted(seen) == list(range(64))
