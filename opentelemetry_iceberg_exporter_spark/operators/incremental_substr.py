"""Incremental exact-substring deduplication: excise every >= k-char
substring of a NEW batch that already exists in the ingested corpus —
without re-reading corpus text — plus the within-batch ExactSubstr
pass, keeping one canonical copy of every duplicated region across the
corpus's whole history.

The incremental sibling of operators/substring_dedup.py, built the way
incremental_dedup.py builds on dedup.py: an Iceberg table (either
catalog transport) persists the corpus's K-GRAM ANCHOR INDEX — one row
per distinct (content-sampled) k-gram hash with its canonical
occurrence (doc_id, pos). Per ingested batch the cost is

  * O(batch chars / stride) map-side gram math (the one-shot
    operator's plan, batch-only),
  * a BATCH-SCOPED index read: the index table carries a parquet bloom
    filter on the gram hash, and the batch's distinct hashes are probed
    against every index file's blooms (operators/index_probe — filter
    bytes only; executor-distributed at 64+ files), so the scan opens
    ONLY the files that might hold a batch hash. Each hash lives in at
    most a handful of files, so index bytes read — and the join's
    shuffle — scale with the BATCH, not the corpus,
  * ONE equi-join of the batch's grams against those candidate index
    rows on the gram hash — uniform md5 keys, no skew, output LINEAR
    in batch grams (the index holds one row per hash: single-writer
    contract, see below),
  * the within-batch duplicate aggregate over index-miss grams only,
  * one O(new grams) atomic index append.

State is the honest price of incremental exact-substring memory: any
scheme that can answer "has this substring appeared before?" must
remember O(corpus content / stride) anchors — `stride` is the
storage/recall knob (content-sampled like the one-shot operator, so
copies anchor identically; at stride 64 a petabyte-scale corpus keeps
~chars/64 index rows). The index inherits the commit protocol:
appends are atomic snapshots, a crashed ingest REPLAYED later finds
its canonical grams already indexed under its own (doc_id, pos) and
re-emits byte-identical output while appending nothing (exactly-once
effect), and `read_index(snapshot_id)` reproduces any historical
excision decision. Single-writer per corpus is the CONTRACT (same as
the LSH index): the index holds one row per hash. A racing
double-insert violates the contract; the ingest join is nonetheless
RACE-TOLERANT — it min-folds the bloom-pruned candidate rows per hash
(O(batch-relevant) rows, never the corpus) so a duplicated hash
resolves to the same min-(doc_id, pos) canonical that
`fold_duplicate_anchors`, the compaction-time repair op, would keep —
over-excision is impossible and replays stay byte-identical across a
fold.

Anchors whose k-char window overlaps a span excised from their OWN
text are never indexed: their content does not survive intact in the
output corpus, so indexing them would make later batches excise
against a canonical that no longer exists. The cost of the exemption
is bounded duplication (a later copy of that substring keeps its own
text and becomes the new canonical), never lost content.

The reference has no incremental counterpart; this is LLM-pipeline
extension surface (Lee et al. 2022, arXiv:2107.06499 — ExactSubstr).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..sources.tables import fan_out
from .index_probe import (
    collect_probe_keys,
    index_table_properties,
    read_index_rows,
)
from .substring_dedup import (
    DEFAULT_K,
    apply_span_strip,
    kgram_occurrences,
    merge_positions_to_spans,
)

# one row per distinct (content-sampled) k-gram: its canonical owner
INDEX_SCHEMA = StructType(
    [
        StructField("h", StringType(), False),
        StructField("doc_id", StringType(), False),
        StructField("pos", LongType(), False),
    ]
)

# bucket the index on the hash: bounded write fan-out per append and
# point-lookup debuggability; the ingest join is a full shuffle
# equi-join — correct at scale because md5 keys are uniform
INDEX_PARTITION_BY = [("h", "bucket[8]")]


def create_substr_index_table(catalog, namespace: str, name: str):
    """Create-if-absent the k-gram anchor index on either transport.
    The parquet bloom filter on `h` is what makes each ingest's index
    read batch-scoped (operators/index_probe); an index created
    without it still works — the probe conservatively reads every
    file."""
    props = index_table_properties("h")
    catalog.ensure_namespace(namespace)
    return catalog.ensure_table(
        namespace,
        name,
        INDEX_SCHEMA,
        partition_by=INDEX_PARTITION_BY,
        properties=props,
    )


@dataclass
class SubstrIngestResult:
    """Outcome of one batch ingest."""

    output: DataFrame  # batch + text_deduped, spans_removed, chars_removed
    snapshot_id: int | None  # index snapshot committed (None: no new grams)
    docs: int
    trimmed_docs: int  # docs that lost at least one span
    new_grams: int  # index rows appended
    # what the batch-scoped index probe touched (the scale signal:
    # files/bytes read must track the batch, not the corpus)
    index_files_total: int = 0
    index_files_read: int = 0
    index_bytes_total: int = 0
    index_bytes_read: int = 0


class IncrementalSubstrDeduper:
    """Stateful exact-substring filter over a catalog-backed k-gram
    anchor index. ``table`` is an FsTable or RestTable with
    INDEX_SCHEMA (see create_substr_index_table). All state lives in
    the table; instances are disposable."""

    def __init__(
        self,
        table,
        id_col: str = "doc_id",
        text_col: str = "text",
        k: int = DEFAULT_K,
        stride: int = 1,
    ):
        self.table = table
        self.id_col = id_col
        self.text_col = text_col
        self.k = k
        self.stride = stride

    def read_index(
        self, spark: SparkSession, snapshot_id: int | None = None
    ) -> DataFrame:
        """The anchor index (time-travelable — reproduce a historical
        excision decision by pinning the snapshot)."""
        return self.table.read(spark, snapshot_id=snapshot_id)

    def ingest(
        self,
        spark: SparkSession,
        batch: DataFrame,
        snapshot_properties: dict[str, str] | None = None,
    ) -> SubstrIngestResult:
        """One batch: excise corpus-known substrings (canonical owner
        elsewhere), run within-batch ExactSubstr on the rest, append
        the batch's new canonical grams atomically, return the batch
        with `text_deduped` + per-doc trim stats. ``batch`` must carry
        unique ids — CAST TO STRING on output (the index schema
        type, same contract as IncrementalDeduper). Replays are
        byte-identical no-ops on the index."""
        id_col, text_col = self.id_col, self.text_col
        batch = batch.withColumn(id_col, F.col(id_col).cast("string"))
        # a batch arriving as ONE scan split would serialize the char
        # k-gram md5 explode (the ingester's dominant compute) onto one
        # core; fan_out re-spreads it, no-op for already-parallel input
        batch = fan_out(batch, spark)
        grams = kgram_occurrences(
            batch, id_col, text_col, self.k, self.stride
        ).localCheckpoint(eager=False)

        # batch-scoped index read: the batch's distinct gram hashes
        # probe every index file's bloom filter; only candidate files
        # are opened, so index bytes read scale with the BATCH (a
        # backlog-sized batch beyond MAX_PROBE_KEYS skips the probe
        # and reads the full index — bounded driver memory)
        batch_hashes = collect_probe_keys(grams, "h")
        idx_rows, scan_stats = read_index_rows(spark, self.table, "h", batch_hashes)
        # single-writer contract says one index row per hash — but keep
        # a DEFENSIVE min-struct fold over the candidate rows anyway
        # (advisor, r11): under a violated contract (racing
        # double-insert, before fold_duplicate_anchors runs) a bare
        # join would fan every occurrence of a duplicated hash out to a
        # non-self canonical row and excise ALL copies including the
        # canonical — corpus-wide content loss. The fold restores the
        # old read's race tolerance at bounded cost: candidate rows are
        # bloom-pruned, so this aggregates O(batch-relevant) rows, not
        # the corpus (the full-index groupBy r11 removed), and its
        # min-(doc_id, pos) choice matches fold_duplicate_anchors'
        # repair exactly (replays stay byte-identical across a fold).
        idx = idx_rows.groupBy("h").agg(
            F.min(F.struct("doc_id", "pos")).alias("__canon")
        )
        g = grams.join(idx, "h", "left").localCheckpoint(eager=False)

        # corpus-known grams whose canonical is NOT this occurrence:
        # excise (a replayed doc hits its OWN canonical -> untouched)
        excise_corpus = g.filter(
            F.col("__canon").isNotNull()
            & ~(
                (F.col("__canon.doc_id") == F.col("doc_id"))
                & (F.col("__canon.pos") == F.col("pos"))
            )
        ).select("doc_id", "pos")

        # index-miss grams: the within-batch ExactSubstr aggregate
        fresh = g.filter(F.col("__canon").isNull()).select("doc_id", "pos", "h")
        batch_canon = fresh.groupBy("h").agg(
            F.count(F.lit(1)).alias("__n"),
            F.min(F.struct("doc_id", "pos")).alias("__bc"),
        ).localCheckpoint(eager=False)
        excise_batch = (
            fresh.join(batch_canon.filter(F.col("__n") >= 2), "h")
            .filter(
                ~(
                    (F.col("__bc.doc_id") == F.col("doc_id"))
                    & (F.col("__bc.pos") == F.col("pos"))
                )
            )
            .select("doc_id", "pos")
        )

        spans = merge_positions_to_spans(
            excise_corpus.unionByName(excise_batch), self.k
        ).localCheckpoint(eager=False)
        # with_stats derives spans_removed/chars_removed from the SAME
        # collected span array the strip stitches over — one aggregation
        # + one join per batch instead of two of each (the standalone
        # stats groupBy + join-back this replaces computed identical
        # values from a second pass over `spans`)
        output = apply_span_strip(
            batch, id_col, text_col, spans, "text_deduped", with_stats=True
        )

        # every index-miss gram enters the index under its BATCH
        # canonical (new docs own their regions; replays miss nothing)
        # — EXCEPT anchors whose k-char window overlaps a span excised
        # from their own doc: their content does not survive intact in
        # the output corpus, so indexing them would point later batches
        # at a canonical that no longer exists (content loss). Skipping
        # them trades bounded duplication for never losing content, and
        # keeps replays byte-identical (a replay recomputes the same
        # spans and exempts the same anchors).
        new_rows = batch_canon.select(
            "h",
            F.col("__bc.doc_id").alias("doc_id"),
            F.col("__bc.pos").alias("pos"),
        )
        sp = spans.select(
            F.col("doc_id").alias("__sp_doc"),
            F.col("span_start").alias("__sp_start"),
            F.col("span_end").alias("__sp_end"),
        )
        new_rows = new_rows.join(
            sp,
            (new_rows["doc_id"] == sp["__sp_doc"])
            & (new_rows["pos"] < sp["__sp_end"])
            & (new_rows["pos"] + F.lit(self.k) > sp["__sp_start"]),
            "left_anti",
        )
        props = {"operation-detail": "substr-index-ingest"}
        props.update(snapshot_properties or {})
        snapshot_id = self.table.append_dataframe(new_rows, props)
        new_grams = (
            0
            if snapshot_id is None
            else int(
                next(
                    s
                    for s in self.table.metadata()["snapshots"]
                    if s["snapshot-id"] == snapshot_id
                )["summary"]["added-records"]
            )
        )
        return SubstrIngestResult(
            output=output,
            snapshot_id=snapshot_id,
            docs=batch.count(),
            trimmed_docs=spans.select("doc_id").distinct().count(),
            new_grams=new_grams,
            index_files_total=scan_stats.files_total,
            index_files_read=scan_stats.files_read,
            index_bytes_total=scan_stats.bytes_total,
            index_bytes_read=scan_stats.bytes_read,
        )

    def fold_duplicate_anchors(self, spark: SparkSession) -> int:
        """Repair a violated single-writer contract: collapse hashes
        that racing writers double-inserted down to their min-(doc_id,
        pos) canonical, rewriting the index in one overwrite snapshot
        (the compaction-time fold the ingest join relies on for its
        one-row-per-hash invariant). Returns the number of duplicate
        rows folded away; 0 means the contract held and NOTHING was
        committed."""
        idx = self.read_index(spark)
        total = idx.count()
        folded = (
            idx.groupBy("h")
            .agg(F.min(F.struct("doc_id", "pos")).alias("c"))
            .select(
                "h",
                F.col("c.doc_id").alias("doc_id"),
                F.col("c.pos").alias("pos"),
            )
        )
        dupes = total - folded.count()
        if dupes == 0:
            return 0
        self.table.overwrite_partitions(
            folded,
            snapshot_properties={"operation-detail": "substr-index-fold"},
        )
        return dupes


def substr_tail(
    spark: SparkSession,
    source_table,
    deduper: IncrementalSubstrDeduper,
    checkpoint_path: str,
    on_batch=None,
    max_files_per_batch: int | None = None,
) -> list[SubstrIngestResult]:
    """Continuous exact-substring dedup: drain everything currently
    committed to ``source_table`` (a documents table other writers
    append to) through the ingester, one ingest per tailed micro-batch
    — the substring sibling of incremental_dedup.dedup_tail.

    Exactly-once composition: the tailer commits its cursor only AFTER
    ingest returns; a replayed ingest (crash between index append and
    cursor commit) finds its anchors already indexed and re-emits
    byte-identical output while appending nothing. ``on_batch(df,
    result)`` (optional) receives each batch's rows + trimmed output,
    e.g. to append the cleaned text to a curated-corpus table.
    """
    from ..streaming.iceberg_tail import IcebergTailer

    tailer = IcebergTailer(
        source_table, checkpoint_path, max_files_per_batch=max_files_per_batch
    )
    results: list[SubstrIngestResult] = []

    def handle(df: DataFrame, batch) -> None:
        res = deduper.ingest(
            spark,
            df,
            snapshot_properties={
                "substr-source-snapshot": str(batch.end_snapshot_id)
            },
        )
        results.append(res)
        if on_batch is not None:
            on_batch(df, res)

    tailer.process_available(spark, handle)
    return results
