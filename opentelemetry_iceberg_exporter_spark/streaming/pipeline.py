"""Streaming export pipeline — the Spark-native exporter.

Reference lifecycle (SURVEY §3 entry point 1):
  OTLP receiver -> queue (10 consumers, retry/backoff)   factory.go:90-100
    -> consume{Traces,Logs,Metrics}                       exporter.go:101-200
    -> flatten -> write (catalog | fileio)                writer.go:161-297

Spark-native shape: `readStream` over OTLP payloads ->
`foreachBatch(collect + Arrow flatten on the driver + demux + sink
append)` with checkpointing; the flatten is the reference's in-process
append loop (otlp/flatten.py), the Parquet writes run on the executors.
The exporterhelper queue/retry/timeout envelope (X3) maps onto
Structured Streaming semantics directly:
* queue + at-least-once retry  -> micro-batch replay from the checkpoint
* persistent (file-backed) queue -> replayable source + checkpoint dir
* 10 consumers                  -> executor parallelism (writes)
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
from functools import partial

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas as S
from ..config import ExporterConfig, SourceConfig
from ..otlp.flatten import (
    SIGNALS,
    arrow_batches,
    decode_payloads,
    frame_schema,
    otlp_to_arrow,
)
from ..sinks import PERMANENT, classify_error, write_raw_parquet
from ..threads import map_concurrently

log = logging.getLogger(__name__)

SinkFn = Callable[[DataFrame, str], None]


def _attrs(df: DataFrame, signal: str, variant_attrs: bool) -> DataFrame:
    """The v3 `variant_attrs` form: attribute JSON parsed to VARIANT in
    Spark (parse_json), the flatten itself always emits JSON text."""
    return S.to_variant_attrs(df, signal) if variant_attrs else df


def flatten_signal(
    df: DataFrame,
    signal_kind: str,
    ns_timestamps: bool = False,
    variant_attrs: bool = False,
) -> dict[str, DataFrame]:
    """OTLP payloads (column `value`: OTLP/JSON lines as strings, or
    serialized Export*ServiceRequests as binary) -> {signal: DataFrame}
    of the declared names and types. signal_kind in {traces, logs,
    metrics}. `ns_timestamps=True` keeps every OTLP time column at full
    epoch-nanos precision (v3 `timestamptz_ns` tables) instead of the
    reference's lossy ns->us truncation.

    Each output table is one `mapInArrow` over the source running the
    Arrow flatten per Arrow batch on the executors, so the plan is
    source -> MapInArrow and no payload reaches the driver; it works on
    streaming sources too."""
    if signal_kind not in SIGNALS:
        raise ValueError(f"unknown signal kind {signal_kind!r}")
    source = df.select("value")
    return {
        sig: _attrs(
            source.mapInArrow(
                partial(
                    arrow_batches,
                    signal_kind=signal_kind,
                    signal=sig,
                    ns_timestamps=ns_timestamps,
                ),
                frame_schema(sig, ns_timestamps),
            ),
            sig,
            variant_attrs,
        )
        for sig in SIGNALS[signal_kind]
    }


def flatten_signal_cached(
    batch_df: DataFrame, signal_kind: str, ns_timestamps: bool = False
) -> dict[str, pa.Table]:
    """The foreachBatch flatten: collect the micro-batch's `value` column
    in one job and flatten it on the driver. Returns {signal: pa.Table}
    for every table the kind feeds, the empty ones included, or {} for
    an empty micro-batch. The whole micro-batch is in driver memory
    here, so sources bound it (max_per_trigger / maxOffsetsPerTrigger)."""
    values = [row[0] for row in batch_df.select("value").collect()]
    if not values:
        return {}
    return otlp_to_arrow(decode_payloads(values, signal_kind), signal_kind, ns_timestamps)


def _frame(
    spark: SparkSession, table: pa.Table, signal: str, config: ExporterConfig
) -> DataFrame:
    """A driver-flattened table as a local DataFrame of its declared schema."""
    df = spark.createDataFrame(table, frame_schema(signal, config.ns_timestamps))
    return _attrs(df, signal, config.variant_attrs)


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
    """The foreachBatch body: flatten on the driver, demux, empty-skip
    (F1), append, classify errors (X2). With catalog.atomic_batch
    (REST), the demuxed signals commit in ONE multi-table
    CommitTransaction instead of per-signal appends.

    The micro-batch's payloads are collected in one job and flattened
    in-process (flatten_signal_cached); each frame the sink gets is a
    local DataFrame over its Arrow table. A custom `sink` gets every
    demuxed frame, the empty ones too, one after another; a transient
    error stops the batch at that frame. The catalog sinks (default_sink
    for fs/rest, a CatalogSink) go further: a frame with no rows runs no
    Spark job and only has its table ensured, and the other frames are
    written and committed concurrently, on at most defaultParallelism
    threads (threads.map_concurrently). Either way each frame keeps its
    own error handling, and `dead_letter` runs on the calling thread, in
    frame order: a permanent error is logged and the frame
    dead-lettered; a transient one re-raises (for catalog sinks, once
    every frame has finished), so frames that committed stay committed
    and the replayed batch appends them again (at-least-once per table;
    atomic_batch is the all-or-nothing form)."""
    atomic = (
        sink is None
        and config.catalog.catalog_type == "rest"
        and config.catalog.atomic_batch
    )
    sink = sink or default_sink(config)

    def atomic_commit(
        spark: SparkSession, tables: dict[str, pa.Table], batch_id: int
    ) -> None:
        frames = {sig: _frame(spark, t, sig, config) for sig, t in tables.items()}
        try:
            sink.append_all(spark, frames)
        except Exception as exc:  # noqa: BLE001 — classified below
            if classify_error(exc) == PERMANENT:
                log.error("permanent error on batch %s (atomic): %s", batch_id, exc)
                if dead_letter is not None:
                    for signal, df in frames.items():
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
        tables = flatten_signal_cached(batch_df, signal_kind, config.ns_timestamps)
        if not tables:  # F1 empty-batch short-circuit
            return
        spark = batch_df.sparkSession
        if atomic:
            atomic_commit(spark, tables, batch_id)
            return
        if not isinstance(sink, CatalogSink):
            for signal, table in tables.items():
                df = _frame(spark, table, signal, config)
                try:
                    sink(df, signal)
                except Exception as exc:  # noqa: BLE001 — classified below
                    if classify_error(exc) != PERMANENT:
                        raise  # transient: streaming engine retries the batch
                    dead(batch_id, signal, df, exc)
            return
        made: dict[str, DataFrame] = {}

        def sink_frame(item: tuple[str, pa.Table]) -> Exception | None:
            signal, table = item
            try:
                if not table.num_rows:
                    sink.ensure(spark, signal)  # F1: its table, no write job
                else:
                    made[signal] = _frame(spark, table, signal, config)
                    sink(made[signal], signal)
            except Exception as exc:  # noqa: BLE001 — classified below
                return exc
            return None

        items = list(tables.items())
        failures = map_concurrently(spark, sink_frame, items)
        transient = None
        for (signal, table), exc in zip(items, failures):
            if exc is None:
                continue
            if classify_error(exc) == PERMANENT:
                df = made[signal] if signal in made else _frame(spark, table, signal, config)
                dead(batch_id, signal, df, exc)
            elif transient is None:
                transient = exc
        if transient is not None:
            raise transient  # the streaming engine retries the batch

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
    text (a string `value`) or serialized protobuf Export*ServiceRequests
    (a binary `value`, one request per Kafka record / per file), which
    the flatten decodes with otlp/protobuf.py in its own pass
    (exporter.go:101-200 consumes both through one path). The
    foreachBatch body flattens each micro-batch on the driver, so bound
    it: `max_per_trigger` (files) or the Kafka `maxOffsetsPerTrigger`
    option."""
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
            return raw.select("value")
        return raw.select(F.col("value").cast("string").alias("value"))
    if source.wire_format == "protobuf":
        # Streaming binaryFile sources require the schema spelled out
        # (batch mode infers this same fixed schema).
        reader = spark.readStream.format("binaryFile").schema(
            "path STRING, modificationTime TIMESTAMP, length LONG, content BINARY"
        )
        if source.max_per_trigger:
            reader = reader.option("maxFilesPerTrigger", str(source.max_per_trigger))
        for k, v in source.options.items():
            reader = reader.option(k, v)
        return reader.load(source.path).select(F.col("content").alias("value"))
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
    returns per-signal appended row counts. The flatten runs on the
    executors (flatten_signal's mapInArrow), so a replay of any size
    never lands on the driver."""
    if wire_format == "protobuf":
        raw = spark.read.format("binaryFile").load(input_path).select(
            F.col("content").alias("value")
        )
    else:
        raw = spark.read.text(input_path)
    flattened = flatten_signal(raw, signal_kind, config.ns_timestamps, config.variant_attrs)
    atomic = (
        sink is None
        and config.catalog.catalog_type == "rest"
        and config.catalog.atomic_batch
    )
    sink = sink or default_sink(config)
    counts: dict[str, int] = {}
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
    return counts
