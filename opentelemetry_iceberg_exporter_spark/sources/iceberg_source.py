"""Catalog tables as Spark temp views: every table of a warehouse, on
either catalog transport, registered as ``<namespace>_<table>`` over
`Table`'s library scan (`plan_scan_metadata` → `scan_with_deletes`), so
plain ``spark.sql`` — the `sql` CLI, catalog VIEW SQL, the exporter's
dashboards — queries the whole warehouse with merge-on-read deletes,
field-id column resolution and name mapping applied.

A view is planned when it is registered, so it is pinned to the
snapshot that was current then. Callers re-register before they read:
the sql CLI per invocation, view convergence and catalog-view reads per
call, a dashboard per round.
"""

from __future__ import annotations

BROADCAST_BYTE_THRESHOLD = 64 * 1024 * 1024


def register_catalog_tables(
    spark,
    catalog,
    namespace: str | None = None,
    broadcast_threshold: int = BROADCAST_BYTE_THRESHOLD,
) -> dict[str, str]:
    """Register every table of `catalog` (an FsCatalog or a
    RestCatalogClient; one namespace or all) as a temp view named
    ``<namespace>_<table>``. Returns {view_name: table_location}.

    Per table: one metadata load, the table's vended storage
    credentials applied, one local plan over that metadata — REST
    registration never asks the server to plan — and a broadcast hint
    when the table's on-disk bytes fit under `broadcast_threshold`, so
    star joins written in plain SQL broadcast their dimensions. The
    size is the snapshot summary's running `total-files-size` (delete
    files count too — a conservative bias), else the planned files'
    sizes. The threshold is bytes like Spark's own
    autoBroadcastJoinThreshold, and conservative: decompressed rows
    outgrow their Parquet bytes. It decides both ways: a table over it
    that Spark's own size statistics would still broadcast gets a MERGE
    hint instead."""
    from ..sinks.iceberg_fs import scan_with_deletes

    spark_threshold = (
        spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    )
    views: dict[str, str] = {}
    namespaces = [namespace] if namespace else catalog.list_namespaces()
    for ns in namespaces:
        for name in catalog.list_tables(ns):
            t = catalog.table(ns, name)
            md = t.metadata()
            t.apply_storage_credentials(spark, md["location"])
            data, deletes, _ = t.plan_scan(md=md)
            sid = md.get("current-snapshot-id", -1)
            summary = next(
                (s["summary"] for s in md["snapshots"] if s["snapshot-id"] == sid), {}
            )
            if "total-files-size" in summary:
                n_bytes = int(summary["total-files-size"])
            else:
                n_bytes = sum(f.file_size_in_bytes for f in data)
            df = scan_with_deletes(spark, md, data, deletes)
            if n_bytes <= broadcast_threshold:
                df = df.hint("broadcast")
            elif n_bytes <= spark_threshold:
                df = df.hint("merge")
            view = f"{ns}_{name}"
            df.createOrReplaceTempView(view)
            views[view] = md["location"]
    return views


def register_table_views(
    spark,
    warehouse: str,
    namespace: str | None = None,
    broadcast_threshold: int = BROADCAST_BYTE_THRESHOLD,
) -> dict[str, str]:
    """register_catalog_tables over the filesystem catalog at
    `warehouse`."""
    from ..sinks.iceberg_fs import FsCatalog

    return register_catalog_tables(
        spark, FsCatalog(warehouse), namespace, broadcast_threshold
    )
