"""Where the traced run puts its spans: the public functions of the
engine's otlp, streaming, sinks, sources and operators layers, wrapped
from outside for the length of the traced run only.
"""

from __future__ import annotations


# the public stage functions `build_corpus` calls, by module. Each call
# builds its stage's plan; dedup_groups (label propagation) and
# pack_concat_chunks (sequence offsets) also run Spark jobs inside the
# call, while the funnel's survivor counts run outside every stage span
OPERATOR_STAGES = {
    "corpus_build": ("dedup_paragraphs", "flag_contamination", "exact_dedup",
                     "minhash_signatures", "minhash_lsh_pairs", "dedup_groups"),
    "substring_dedup": ("strip_duplicated_substrings",),
    "packing": ("pack_concat_chunks",),
}


def instrument(tracer) -> None:
    import importlib

    from opentelemetry_iceberg_exporter_spark.sinks import (
        avro_ocf,
        iceberg_fs,
        iceberg_rest,
        iceberg_sink,
    )
    from opentelemetry_iceberg_exporter_spark.sources import iceberg_source
    from opentelemetry_iceberg_exporter_spark.streaming import pipeline

    # streaming: the bulk replay entry (its per-signal persist and count);
    # stream_ingest opens this span around the foreachBatch body itself
    tracer.wrap([(pipeline, "export_batch")], "streaming.body")

    # otlp: driver-side parse + flatten plan build
    tracer.wrap([(pipeline, "flatten_signal_cached")], "otlp.flatten")

    # sinks: the per-signal append, its data-plane write and its commit
    tracer.wrap(
        [(iceberg_sink.FsIcebergSink, "append"), (iceberg_sink.RestIcebergSink, "append")],
        "sinks.append",
        on_result=lambda t, _r: t.counts.__setitem__(
            "streaming.frames_sunk", t.counts["streaming.frames_sunk"] + 1
        ),
    )

    def written(t, files):
        t.counts["sinks.files_written"] += len(files)
        t.counts["sinks.bytes_written"] += sum(f.file_size_in_bytes for f in files)
        if not files and t.inside("sinks.append"):
            t.counts["streaming.empty_frames_sunk"] += 1

    tracer.wrap(
        [(iceberg_fs, "write_partitioned_batch"), (iceberg_rest, "write_partitioned_batch")],
        "sinks.write",
        on_result=written,
    )
    tracer.wrap(
        [(iceberg_fs.FsTable, "append_files"), (iceberg_rest.RestTable, "append_files")],
        "sinks.commit",
    )
    tracer.wrap(
        [(iceberg_fs.FsTable, "delete_where"), (iceberg_rest.RestTable, "delete_where")],
        "sinks.delete",
    )
    tracer.count(
        [(iceberg_fs.FsTable, "_commit_snapshot"),
         (iceberg_rest.RestCatalogClient, "commit_table")],
        "sinks.commit_attempts",
    )
    # each data file's footer is opened once for its row count and once
    # for its column bounds
    tracer.count(
        [(iceberg_fs, "_parquet_row_count"), (iceberg_fs, "file_column_bounds")],
        "sinks.footer_reads",
    )

    def ocf_written(original):
        def wrapper(path, *args, **kwargs):
            if not path.rsplit("/", 1)[-1].startswith("snap-"):
                tracer.counts["sinks.manifests_written"] += 1
            return original(path, *args, **kwargs)

        return wrapper

    for owner in (iceberg_fs, avro_ocf):
        tracer._patch(owner, "write_ocf", ocf_written)

    # operators: one span per stage function of the corpus funnel
    for module, names in OPERATOR_STAGES.items():
        owner = importlib.import_module(f"opentelemetry_iceberg_exporter_spark.operators.{module}")
        for name in names:
            tracer.wrap([(owner, name)], f"operators.{name}")

    # sources: view registration for the sql surface
    tracer.wrap(
        [(iceberg_source, "register_table_views"),
         (iceberg_rest.RestCatalogClient, "register_warehouse_views")],
        "sources.register",
    )


def replan(plan, kwargs: dict) -> dict:
    """Pruning counts for one query shape from the public planner,
    re-run outside any timed op: manifests opened, files before and
    after pruning, delete files applied and rows the kept files hold.
    `plan(**kwargs)` returns (data files, delete files, ...)."""
    from opentelemetry_iceberg_exporter_spark.sinks import iceberg_fs

    opened = []
    original = iceberg_fs.read_ocf

    def counting(path, *a, **k):
        opened.append(path)
        return original(path, *a, **k)

    iceberg_fs.read_ocf = counting
    try:
        everything = plan()[0]
        opened.clear()
        kept, deletes = plan(**kwargs)[:2]
    finally:
        iceberg_fs.read_ocf = original
    return {
        "sources.manifests_read": len(opened),
        "sources.files_total": len(everything),
        "sources.files_kept": len(kept),
        "sources.delete_files_applied": len(deletes),
        "sources.rows_read": sum(f.record_count for f in kept),
    }
