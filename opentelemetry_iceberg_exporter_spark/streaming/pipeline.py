"""Streaming export pipeline — the Spark-native exporter.

Reference lifecycle (SURVEY §3 entry point 1):
  OTLP receiver -> queue (10 consumers, retry/backoff)   factory.go:90-100
    -> consume{Traces,Logs,Metrics}                       exporter.go:101-200
    -> flatten -> write (catalog | fileio)                writer.go:161-297

Spark-native shape: `readStream` over OTLP/JSON lines ->
`foreachBatch(flatten + demux + sink append)` with checkpointing.
The exporterhelper queue/retry/timeout envelope (X3) maps onto
Structured Streaming semantics directly:
* queue + at-least-once retry  -> micro-batch replay from the checkpoint
* persistent (file-backed) queue -> replayable source + checkpoint dir
* 10 consumers                  -> executor parallelism
* exactly-once upgrade          -> Iceberg atomic commits + checkpoint
  (the reference is at-least-once; Spark+Iceberg is exactly-once per
  micro-batch — SURVEY §7 risk 5)

Error policy (X2, writer.go:266-290): permanent errors are logged and the
batch routed to a dead-letter location (reference swallows them — we keep
the data); transient errors re-raise so the engine retries the batch.

Late data needs no watermark: every row lands in the partition derived
from its own event timestamp, so arbitrarily late rows just land in old
partitions (partition.go:84-98 semantics, SURVEY §2.10 streaming row).
"""

from __future__ import annotations

import logging
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas as S
from ..config import ExporterConfig, SourceConfig
from ..otlp.logs import flatten_logs, parse_logs_json
from ..otlp.metrics import flatten_metrics, metric_point_counts, parse_metrics_json
from ..otlp.traces import flatten_traces, parse_traces_json
from ..sinks import PERMANENT, classify_error, write_raw_parquet
from ..threads import map_concurrently

log = logging.getLogger(__name__)

SinkFn = Callable[[DataFrame, str], None]


def flatten_signal(
    df: DataFrame,
    signal_kind: str,
    depth: int | None = None,
    ns_timestamps: bool = False,
    variant_attrs: bool = False,
) -> dict[str, DataFrame]:
    """Parse+flatten a DataFrame of OTLP/JSON lines (column `value`) into
    {signal: conformed DataFrame}. signal_kind in {traces, logs, metrics}.
    `ns_timestamps=True` keeps every OTLP time column at full epoch-nanos
    precision (v3 `timestamptz_ns` tables) instead of the reference's
    lossy ns->us truncation.

    For metrics the 5 projections share one un-cached exploded plan; use
    flatten_signal_cached inside foreachBatch to persist the shared
    explode for the batch's lifetime (and unpersist it afterwards)."""
    dfs, _ = flatten_signal_cached(
        df,
        signal_kind,
        cache=False,
        depth=depth,
        ns_timestamps=ns_timestamps,
        variant_attrs=variant_attrs,
    )
    return dfs


def flatten_signal_cached(
    df: DataFrame,
    signal_kind: str,
    cache: bool = True,
    depth: int | None = None,
    ns_timestamps: bool = False,
    variant_attrs: bool = False,
) -> tuple[dict[str, DataFrame], DataFrame | None]:
    """Like flatten_signal, but returns the persisted shared intermediate
    (or None) so the caller can unpersist it when done — the fix for the
    per-micro-batch CacheManager leak: an inner .cache() with no handle
    accumulates one InMemoryRelation per batch on a long-running
    metrics stream."""
    from ..otlp.model import ATTR_DEPTH

    depth = ATTR_DEPTH if depth is None else depth
    ns, va = ns_timestamps, variant_attrs

    def _finish(sig: str, flat: DataFrame) -> DataFrame:
        if va:
            flat = S.to_variant_attrs(flat, sig)
        return S.conform(flat, S.schema_for(sig, ns, va))

    if signal_kind == "traces":
        flat = flatten_traces(parse_traces_json(df, depth=depth), depth, ns)
        return {S.SIGNAL_TRACES: _finish(S.SIGNAL_TRACES, flat)}, None
    if signal_kind == "logs":
        flat = flatten_logs(parse_logs_json(df, depth=depth), depth, ns)
        return {S.SIGNAL_LOGS: _finish(S.SIGNAL_LOGS, flat)}, None
    if signal_kind == "metrics":
        from ..otlp.metrics import _explode_to_metric, flatten_metrics_from_metric

        metric = _explode_to_metric(parse_metrics_json(df, depth=depth))
        handle: DataFrame | None = None
        if cache:
            metric = metric.persist()
            handle = metric
        dfs = flatten_metrics_from_metric(metric, depth, ns)
        return {sig: _finish(sig, d) for sig, d in dfs.items()}, handle
    raise ValueError(f"unknown signal kind {signal_kind!r}")


def default_sink(config: ExporterConfig) -> SinkFn:
    """K1 dispatch: catalog_type routes each conformed batch to the
    raw-Parquet Hive sink (none), or through a CatalogSink to the
    pure-Python REST (rest) or filesystem (fs) Iceberg catalog."""
    if config.catalog.catalog_type in ("fs", "rest"):
        return CatalogSink(config)

    def sink(df: DataFrame, signal: str) -> None:
        write_raw_parquet(df, signal, config)

    return sink


class CatalogSink:
    """The SinkFn of the pure-Python catalogs: one FsIcebergSink or
    RestIcebergSink, built on first use and kept for the stream's life
    (its table and namespace caches with it). Safe to call from several
    threads at once, which is what lets the metric demux sink its frames
    concurrently. `ensure` creates a signal's table without writing: the
    empty-frame path of that demux. `append_all` is catalog.atomic_batch's
    one-transaction commit of a batch's frames (REST only)."""

    def __init__(self, config: ExporterConfig):
        self.config = config
        self._sink = None
        self._lock = threading.Lock()

    def _catalog_sink(self, spark: SparkSession):
        with self._lock:  # concurrent first calls share one sink
            if self._sink is None:
                from ..sinks.iceberg_sink import FsIcebergSink, RestIcebergSink

                fs = self.config.catalog.catalog_type == "fs"
                self._sink = (FsIcebergSink if fs else RestIcebergSink)(
                    spark, self.config
                )
            return self._sink

    def __call__(self, df: DataFrame, signal: str) -> None:
        self._catalog_sink(df.sparkSession).append(df, signal)

    def ensure(self, spark: SparkSession, signal: str) -> None:
        self._catalog_sink(spark).ensure_table(signal)

    def append_all(self, spark: SparkSession, frames: dict[str, DataFrame]) -> None:
        self._catalog_sink(spark).append_all(frames)


def make_batch_processor(
    signal_kind: str,
    config: ExporterConfig,
    sink: SinkFn | None = None,
    dead_letter: SinkFn | None = None,
) -> Callable[[DataFrame, int], None]:
    """The foreachBatch body: flatten, demux, empty-skip (F1), append,
    classify errors (X2). With catalog.atomic_batch (REST), the demuxed
    signals commit in ONE multi-table CommitTransaction instead of
    per-signal appends.

    A custom `sink` gets every demuxed frame, the empty ones too, one
    after another; a transient error stops the batch at that frame. The
    catalog sinks (default_sink for fs/rest, a CatalogSink) go further.
    One aggregate over the persisted metric explode counts each type's
    rows; a type with no rows runs no Spark job and only has its table
    ensured. The other frames are written and committed concurrently,
    on at most defaultParallelism threads (threads.map_concurrently).
    Either way each frame keeps its own error handling, and `dead_letter`
    runs on the calling thread, in frame order: a permanent error is
    logged and the frame dead-lettered; a transient one re-raises (for
    catalog sinks, once every frame has finished), so frames that
    committed stay committed and the replayed batch appends them again
    (at-least-once per table; atomic_batch is the all-or-nothing form)."""
    atomic = (
        sink is None
        and config.catalog.catalog_type == "rest"
        and config.catalog.atomic_batch
    )
    sink = sink or default_sink(config)

    def atomic_commit(
        spark: SparkSession, flattened: dict[str, DataFrame], batch_id: int
    ) -> None:
        try:
            sink.append_all(spark, flattened)
        except Exception as exc:  # noqa: BLE001 — classified below
            if classify_error(exc) == PERMANENT:
                log.error("permanent error on batch %s (atomic): %s", batch_id, exc)
                if dead_letter is not None:
                    for signal, df in flattened.items():
                        dead_letter(df, signal)
                return  # swallowed: collector semantics (X2)
            raise  # transient: streaming engine retries the WHOLE batch

    def dead(batch_id: int, signal: str, df: DataFrame, exc: Exception) -> None:
        """A frame's permanent error: logged, the frame dead-lettered and
        the error swallowed (collector semantics, X2)."""
        log.error("permanent error on batch %s signal %s: %s", batch_id, signal, exc)
        if dead_letter is not None:
            dead_letter(df, signal)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():  # F1 empty-batch short-circuit
            return
        # 5-way metric demux persists the exploded source once (§4) and
        # releases it in the finally block — the handle-less inner cache
        # of r1 leaked one InMemoryRelation per micro-batch.
        flattened, cached = flatten_signal_cached(
            batch_df,
            signal_kind,
            depth=config.attr_depth,
            ns_timestamps=config.ns_timestamps,
            variant_attrs=config.variant_attrs,
        )
        try:
            if atomic:
                atomic_commit(batch_df.sparkSession, flattened, batch_id)
                return
            if not isinstance(sink, CatalogSink):
                for signal, df in flattened.items():
                    try:
                        sink(df, signal)
                    except Exception as exc:  # noqa: BLE001 — classified below
                        if classify_error(exc) != PERMANENT:
                            raise  # transient: streaming engine retries the batch
                        dead(batch_id, signal, df, exc)
                return
            spark = batch_df.sparkSession
            empty: set[str] = set()
            if cached is not None:
                rows = metric_point_counts(cached)
                empty = {sig for sig in flattened if not rows[sig]}

            def sink_frame(item: tuple[str, DataFrame]) -> Exception | None:
                signal, df = item
                try:
                    if signal in empty:
                        sink.ensure(spark, signal)  # F1: its table, no write job
                    else:
                        sink(df, signal)
                except Exception as exc:  # noqa: BLE001 — classified below
                    return exc
                return None

            frames = list(flattened.items())
            failures = map_concurrently(spark, sink_frame, frames)
            transient = None
            for (signal, df), exc in zip(frames, failures):
                if exc is None:
                    continue
                if classify_error(exc) == PERMANENT:
                    dead(batch_id, signal, df, exc)
                elif transient is None:
                    transient = exc
            if transient is not None:
                raise transient  # the streaming engine retries the batch
        finally:
            if cached is not None:
                cached.unpersist()

    return process


def kafka_available(spark: SparkSession) -> bool:
    """True when the spark-sql-kafka connector is on the classpath: the
    engine degrades to the file source with a clear error instead of an
    opaque ClassNotFound at stream start."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:  # noqa: BLE001 — any JVM lookup failure means absent
        return False


def open_source_stream(
    spark: SparkSession, source: SourceConfig, signal_kind: str
) -> DataFrame:
    """S1: the raw streaming DataFrame of OTLP payloads (one column,
    `value`) declared by a SourceConfig — Kafka topic or file drop-box.

    The reference sits behind the collector's persistent queue
    (factory.go:90-100); both replayable Spark sources give the same
    at-least-once replay from the checkpoint. Payloads are OTLP/JSON
    text or serialized protobuf Export*ServiceRequest (one request per
    Kafka record / per file), decoded by otlp/protobuf.py into the same
    flatten plan (exporter.go:101-200 consumes both through one path)."""
    source.validate()
    if source.kind == "kafka":
        if not kafka_available(spark):
            raise RuntimeError(
                "kafka source requested but the spark-sql-kafka connector is "
                "not on the classpath; submit with --packages "
                "org.apache.spark:spark-sql-kafka-0-10_2.13:<spark version>"
            )
        reader = spark.readStream.format("kafka")
        for k, v in source.kafka_options().items():
            reader = reader.option(k, v)
        raw = reader.load()  # value: binary
        if source.wire_format == "protobuf":
            from ..otlp.protobuf import protobuf_to_json_lines

            return protobuf_to_json_lines(raw.select("value"), signal_kind)
        return raw.select(F.col("value").cast("string").alias("value"))
    if source.wire_format == "protobuf":
        from ..otlp.protobuf import protobuf_to_json_lines

        # Streaming binaryFile sources require the schema spelled out
        # (batch mode infers this same fixed schema).
        reader = spark.readStream.format("binaryFile").schema(
            "path STRING, modificationTime TIMESTAMP, length LONG, content BINARY"
        )
        if source.max_per_trigger:
            reader = reader.option("maxFilesPerTrigger", str(source.max_per_trigger))
        for k, v in source.options.items():
            reader = reader.option(k, v)
        raw = reader.load(source.path).select(F.col("content").alias("value"))
        return protobuf_to_json_lines(raw, signal_kind)
    reader = spark.readStream.format("text")
    if source.max_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(source.max_per_trigger))
    for k, v in source.options.items():
        reader = reader.option(k, v)
    return reader.load(source.path).select(F.col("value"))


def start_export_stream(
    spark: SparkSession,
    input_path: str,
    signal_kind: str,
    config: ExporterConfig,
    checkpoint_dir: str,
    *,
    sink: SinkFn | None = None,
    dead_letter: SinkFn | None = None,
    max_files_per_trigger: int | None = None,
    trigger_once: bool = False,
    wire_format: str = "json",
    source: SourceConfig | None = None,
):
    """OTLP stream -> flattened signal tables.

    By default streams OTLP files from `input_path` with the given
    `wire_format` ('json' = JSON lines via the text source; 'protobuf' =
    one serialized Export*ServiceRequest per file via binaryFile). Pass
    `source=SourceConfig(kind='kafka', ...)` to consume a Kafka topic
    instead (requires the spark-sql-kafka connector on the classpath —
    see open_source_stream).

    `max_files_per_trigger` is the batch-size control (the reference's
    512-record batch processor, otel-config.yaml:26-29, maps to source
    admission control)."""
    if source is None:
        source = SourceConfig(
            kind="file",
            path=input_path,
            wire_format=wire_format,
            max_per_trigger=max_files_per_trigger,
        )
    stream = open_source_stream(spark, source, signal_kind)

    writer = stream.writeStream.foreachBatch(
        make_batch_processor(signal_kind, config, sink=sink, dead_letter=dead_letter)
    ).option("checkpointLocation", checkpoint_dir)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def export_batch(
    spark: SparkSession,
    input_path: str,
    signal_kind: str,
    config: ExporterConfig,
    *,
    sink: SinkFn | None = None,
    wire_format: str = "json",
) -> dict[str, int]:
    """Batch-mode replay of the same pipeline (reference replay path);
    returns per-signal appended row counts."""
    if wire_format == "protobuf":
        from ..otlp.protobuf import protobuf_to_json_lines

        binary = spark.read.format("binaryFile").load(input_path).select(
            F.col("content").alias("value")
        )
        raw = protobuf_to_json_lines(binary, signal_kind)
    else:
        raw = spark.read.text(input_path)
    flattened, cached = flatten_signal_cached(
        raw,
        signal_kind,
        depth=config.attr_depth,
        ns_timestamps=config.ns_timestamps,
        variant_attrs=config.variant_attrs,
    )
    atomic = (
        sink is None
        and config.catalog.catalog_type == "rest"
        and config.catalog.atomic_batch
    )
    sink = sink or default_sink(config)
    counts: dict[str, int] = {}
    try:
        if atomic:
            frames: dict[str, DataFrame] = {}
            for signal, df in flattened.items():
                df = df.persist()
                counts[signal] = df.count()
                if counts[signal]:  # F1
                    frames[signal] = df
                else:
                    df.unpersist()
            if frames:
                # every signal of the batch advances in ONE transaction
                sink.append_all(spark, frames)
            for df in frames.values():
                df.unpersist()
        else:
            for signal, df in flattened.items():
                df = df.persist()
                n = df.count()
                counts[signal] = n
                if n:  # F1
                    sink(df, signal)
                df.unpersist()
    finally:
        if cached is not None:
            cached.unpersist()
    return counts
