"""Incremental corpus deduplication: near-dup-filter each NEW batch of
documents against an ever-growing corpus WITHOUT rescanning corpus text.

This glues the two halves of the engine together: the MinHash-LSH math
from operators/dedup.py provides the candidate test, and an Iceberg
table (either catalog transport) persists the LSH **band index** — one
(doc_id, band_idx, band_key) row per accepted document per band. The
corpus text itself is never re-read; per ingested batch the cost is

  * O(batch) map-side signature math (zero shuffle — the d02 shape),
  * a BATCH-SCOPED index read: the index table carries a parquet
    bloom filter on band_key, and the batch's distinct band keys are
    probed against every index file's blooms (operators/index_probe —
    filter bytes only, executor-distributed at 64+ files), so the scan
    opens ONLY files that might share a band with the batch. Index
    bytes read — and the join's shuffle — scale with the BATCH, not
    the corpus (full-scan worst case ≈ n_bands rows × ~50 bytes per
    corpus doc: at a billion docs ~200 GB of joinable state vs ~100 TB
    of text; the bloom probe cuts the routine micro-batch far below
    even that),
  * ONE equi-join of the batch's band rows against those candidate
    index rows on (band_idx, band_key) — uniform md5 keys, so no skew,
  * a connected-components pass over the WITHIN-BATCH candidate graph
    only (operators/dedup.py dedup_groups — candidate nodes only,
    O(log diameter) rounds),
  * one O(accepted-batch) atomic index append.

Because the index lives in an Iceberg table, ingestion inherits the
commit protocol's guarantees: the append is one atomic snapshot, a
crashed ingest retried later sees its own earlier rows and classifies
those docs as `already` (no duplicate index rows, no flip-flopped
decisions), and the index is time-travelable — `read_index(snapshot_id)`
reproduces any historical dedup decision. Driving ingestion from
streaming/iceberg_tail.py's checkpointed tailer (see dedup_tail) yields
an end-to-end exactly-once continuous-dedup pipeline over a documents
table that other writers keep appending to.

Statuses emitted per batch document:

  * ``accepted``   — novel; its band rows were appended to the index.
  * ``duplicate``  — shares an LSH band (directly, or transitively
                     through other batch members) with an indexed doc or
                     with a smaller-id batch doc; ``match_id`` names the
                     canonical representative.
  * ``already``    — the index already holds THIS doc_id's band rows
                     (replay of a committed batch); skipped, not
                     re-appended.
  * ``unbandable`` — empty shingle set (shorter than the shingle width):
                     MinHash is undefined, so the doc is accepted but NOT
                     indexed. This deliberately diverges from the batch
                     operator d03 (where all empty-shingle docs collide
                     on md5("")): indexing the degenerate key would grow
                     one unbounded skew bucket at corpus scale, and
                     near-dup semantics on sub-shingle docs are
                     meaningless — route them through exact dedup (d01).

The reference has no incremental counterpart (its recovery reconciler,
internal/recovery/reconciler.go, is the closest set-algebra analog);
this is part of the LLM-pipeline extension surface.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from ..sources.tables import fan_out
from .dedup import band_pairs, band_rows, dedup_groups, minhash_signatures
from .index_probe import (
    collect_probe_keys,
    index_table_properties,
    read_index_rows,
)

# one row per (accepted doc, LSH band)
INDEX_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("band_idx", IntegerType(), False),
        StructField("band_key", StringType(), False),
    ]
)

# bucket the index on band_key: bounded write fan-out per append (≤ N
# files per batch regardless of batch size) and hidden-partition point
# lookups for debugging single keys. The dedup join itself is a full
# shuffle equi-join — correct at scale because band keys are uniform.
INDEX_PARTITION_BY = [("band_key", "bucket[8]")]


def create_index_table(catalog, namespace: str, name: str):
    """Create-if-absent the LSH band index table on either catalog
    transport (FsCatalog, or RestCatalogClient via its EnsureTable
    race ladder). The parquet bloom filter on band_key is what makes
    each ingest's index read batch-scoped (operators/index_probe); an
    index created without it still works — the probe conservatively
    reads every file."""
    props = index_table_properties("band_key")
    catalog.ensure_namespace(namespace)
    return catalog.ensure_table(
        namespace,
        name,
        INDEX_SCHEMA,
        partition_by=INDEX_PARTITION_BY,
        properties=props,
    )


@dataclass
class IngestResult:
    """Outcome of one batch ingest."""

    decisions: DataFrame  # (doc_id, status, match_id)
    snapshot_id: int | None  # index snapshot committed (None: nothing new)
    accepted: int
    duplicates: int
    already: int
    unbandable: int
    # what the batch-scoped index probe touched (the scale signal:
    # files/bytes read must track the batch, not the corpus)
    index_files_total: int = 0
    index_files_read: int = 0
    index_bytes_total: int = 0
    index_bytes_read: int = 0

    @property
    def total(self) -> int:
        return self.accepted + self.duplicates + self.already + self.unbandable


class IncrementalDeduper:
    """Stateful near-dup filter over a catalog-backed LSH band index.

    ``table`` is an FsTable or RestTable whose schema is INDEX_SCHEMA
    (see create_index_table). One instance per logical corpus; safe to
    recreate at any time — all state is in the table.
    """

    def __init__(self, table, id_col: str = "doc_id", text_col: str = "text"):
        self.table = table
        self.id_col = id_col
        self.text_col = text_col

    def read_index(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        """The band index as a DataFrame (time-travelable: pass a
        snapshot id to reproduce a historical dedup decision)."""
        return self.table.read(spark, snapshot_id=snapshot_id)

    def ingest(
        self,
        spark: SparkSession,
        batch: DataFrame,
        snapshot_properties: dict[str, str] | None = None,
    ) -> IngestResult:
        """Dedup one batch against the index + itself, append the
        accepted docs' band rows atomically, and return per-doc
        decisions. ``batch`` must carry unique ids in ``id_col``.

        Decision order (deterministic): replayed docs are `already`;
        any member of a within-batch candidate component that touches
        the corpus makes the WHOLE component `duplicate` (near-dup is
        transitive through the candidate graph, matching d07's group
        semantics); otherwise one canonical member (min id) of each
        component is `accepted` and the rest are `duplicate` against it.
        """
        id_col = self.id_col
        # the index stores STRING ids (INDEX_SCHEMA); normalize here so
        # long-id corpora don't write type-mismatched index rows — all
        # decision/match ids are therefore strings
        batch = batch.withColumn(id_col, F.col(id_col).cast("string"))
        # an ingest batch often arrives as ONE scan split (a filter of a
        # small table, a single file), which would serialize the
        # CPU-heavy signature folds onto one core; fan_out re-spreads it
        # and is a no-op for already-parallel batches (production scale)
        batch = fan_out(batch, spark)
        sigs = minhash_signatures(batch, id_col, self.text_col).localCheckpoint(
            eager=False
        )
        # sig0 is NULL iff the shingle set was empty (array_min of [])
        bandable = sigs.filter(F.col("sig0").isNotNull())
        rows = band_rows(bandable, id_col).localCheckpoint(eager=False)

        # batch-scoped index read: the batch's distinct band keys probe
        # every index file's bloom filter; only candidate files are
        # opened, so index bytes read scale with the BATCH (a
        # backlog-sized batch beyond MAX_PROBE_KEYS skips the probe
        # and reads the full index — bounded driver memory)
        batch_keys = collect_probe_keys(rows, "band_key")
        idx, scan_stats = read_index_rows(spark, self.table, "band_key", batch_keys)
        # one equi-join against the index: per doc, did we hit our own
        # rows (replay) and what is the smallest OTHER indexed doc hit?
        hits = (
            rows.join(
                idx,
                (rows["band_idx"] == idx["band_idx"])
                & (rows["band_key"] == idx["band_key"]),
            )
            .select(
                rows[id_col],
                idx["doc_id"].alias("hit_id"),
            )
            .groupBy(id_col)
            .agg(
                F.max(F.col("hit_id") == F.col(id_col)).alias("already"),
                F.min(F.when(F.col("hit_id") != F.col(id_col), F.col("hit_id"))).alias(
                    "corpus_match"
                ),
            )
        )

        # within-batch candidate components (candidate-graph-only CC)
        pairs = band_pairs(rows, id_col)
        groups = dedup_groups(bandable.select(id_col), pairs, id_col)

        per_doc = (
            groups.join(hits, id_col, "left")
            .withColumn("already", F.coalesce("already", F.lit(False)))
        )
        # a replayed member's id is itself "in the corpus" for the rest
        # of its component; min() keeps the choice deterministic
        group_hit = per_doc.groupBy("group_id").agg(
            F.min(
                F.coalesce(
                    "corpus_match", F.when(F.col("already"), F.col(id_col))
                )
            ).alias("group_corpus_match")
        )
        decided = per_doc.join(group_hit, "group_id").select(
            F.col(id_col),
            F.when(F.col("already"), F.lit("already"))
            .when(F.col("group_corpus_match").isNotNull(), F.lit("duplicate"))
            .when(~F.col("is_canonical"), F.lit("duplicate"))
            .otherwise(F.lit("accepted"))
            .alias("status"),
            F.when(F.col("already"), F.lit(None).cast("string"))
            .when(F.col("group_corpus_match").isNotNull(), F.col("group_corpus_match"))
            .when(~F.col("is_canonical"), F.col("group_id"))
            .alias("match_id"),
        )
        unbandable = (
            sigs.filter(F.col("sig0").isNull())
            .select(
                F.col(id_col),
                F.lit("unbandable").alias("status"),
                F.lit(None).cast("string").alias("match_id"),
            )
        )
        decisions = decided.unionByName(unbandable).localCheckpoint(eager=False)

        accepted_rows = rows.join(
            decisions.filter(F.col("status") == "accepted").select(id_col),
            id_col,
        ).select(
            F.col(id_col).alias("doc_id"),
            F.col("band_idx").cast("int").alias("band_idx"),
            F.col("band_key"),
        )
        snapshot_id = self.table.append_dataframe(
            accepted_rows, snapshot_properties=snapshot_properties
        )

        counts = {
            r["status"]: r["n"]
            for r in decisions.groupBy("status").agg(F.count("*").alias("n")).collect()
        }
        return IngestResult(
            decisions=decisions,
            snapshot_id=snapshot_id,
            accepted=counts.get("accepted", 0),
            duplicates=counts.get("duplicate", 0),
            already=counts.get("already", 0),
            unbandable=counts.get("unbandable", 0),
            index_files_total=scan_stats.files_total,
            index_files_read=scan_stats.files_read,
            index_bytes_total=scan_stats.bytes_total,
            index_bytes_read=scan_stats.bytes_read,
        )


def dedup_tail(
    spark: SparkSession,
    source_table,
    deduper: IncrementalDeduper,
    checkpoint_path: str,
    on_batch=None,
    max_files_per_batch: int | None = None,
) -> list[IngestResult]:
    """Continuous-dedup loop: drain everything currently committed to
    ``source_table`` (a documents table other writers append to) through
    the deduper, one ingest per tailed micro-batch.

    Exactly-once composition: the tailer commits its cursor only AFTER
    ingest returns, and a replayed ingest (crash between index append
    and cursor commit) classifies the batch's docs as `already` —
    at-least-once delivery + idempotent processing. ``on_batch(df,
    result)`` (optional) receives each batch's rows and decisions, e.g.
    to append accepted docs to a clean-corpus table.
    """
    from ..streaming.iceberg_tail import IcebergTailer

    tailer = IcebergTailer(
        source_table, checkpoint_path, max_files_per_batch=max_files_per_batch
    )
    results: list[IngestResult] = []

    def handle(df: DataFrame, batch) -> None:
        res = deduper.ingest(
            spark,
            df,
            snapshot_properties={
                "dedup-source-snapshot": str(batch.end_snapshot_id)
            },
        )
        results.append(res)
        if on_batch is not None:
            on_batch(df, res)

    tailer.process_available(spark, handle)
    return results
