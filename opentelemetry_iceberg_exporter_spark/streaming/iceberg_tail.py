"""Checkpointed micro-batch tailing of an Iceberg table — the CONSUMER
side of the exporter's commits, equivalent to Spark's
``spark.readStream.format("iceberg")`` (SparkMicroBatchStream) without
the runtime jar.

The exporter appends one snapshot per sink micro-batch; a downstream
job (feature backfill, index build, replication) wants those rows as a
resumable stream. `IcebergTailer` turns the table's snapshot ancestry
into micro-batches with a durable cursor:

* The cursor is ``(last fully consumed snapshot, files consumed within
  the next one)`` — the same mid-snapshot offset Iceberg's Spark
  streaming source checkpoints, so one huge snapshot does NOT force one
  huge micro-batch: `max_files_per_batch` bounds every batch and the
  cursor advances file-by-file through the snapshot.
* Batch planning is pure metadata (ancestry walk + manifest reads of
  the NEW snapshots only, O(new files)); the Spark job reads exactly
  the batch's Parquet files under the table's CURRENT schema, through
  the same library scan as `Table.read_changes` (initial defaults,
  name mapping, vended storage credentials).
* Delivery is at-least-once with commit-after-process: `poll()` plans
  and reads, the caller processes, `commit()` persists the cursor
  atomically (tmp + rename). A crash between the two re-delivers the
  same batch — pair with an idempotent sink for exactly-once, which is
  precisely the reference's own sink-side retry contract
  (writer.go:256-297 retries whole batches on commit failure).
* `replace` (compaction) snapshots rewrite physical layout without
  changing logical data and are skipped; any other non-append
  operation raises, mirroring Iceberg's incremental-scan contract —
  consumers that must observe row deletes subscribe to
  `FsTable.changelog_scan` instead.

Works against any catalog table exposing ``metadata()`` and
``apply_storage_credentials()`` — both `FsTable` and `RestTable`
qualify (the tail never writes, so catalog transport is irrelevant).
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..sinks.iceberg_fs import (
    DataFile,
    _added_files,
    _ancestry_window,
    data_files_in_range,
    read_changelog,
    read_schema_for,
    source_range_scope,
    table_file_scan,
)


@dataclass(frozen=True)
class TailBatch:
    """One planned micro-batch: the files to read plus the cursor to
    commit AFTER processing them."""

    files: list[DataFile]
    end_snapshot_id: int  # snapshot the cursor lands in
    end_file_offset: int  # files of end_snapshot consumed after this batch
    end_is_complete: bool  # cursor landed on a snapshot boundary

    @property
    def record_count(self) -> int:
        return sum(f.record_count for f in self.files)


class IcebergTailer:
    def __init__(
        self,
        table,
        checkpoint_path: str,
        max_files_per_batch: int | None = None,
        source_range=None,
    ):
        """`source_range=(col, lo, hi)` (or a list — conjuncts) scopes
        the tail: manifests whose field-507 summaries prove no overlap
        are skipped unopened, out-of-range files are dropped from
        batches, and read_batch applies the range to rows exactly. The
        cursor counts files of the SCOPED plan, so a checkpoint is only
        valid under the same scope — use a fresh checkpoint when the
        scope changes."""
        self.table = table
        self.checkpoint_path = checkpoint_path
        self.max_files_per_batch = max_files_per_batch
        self.source_range = source_range

    @staticmethod
    def _planned_files(snapshot: dict, scope) -> list[DataFile]:
        """The data files one append snapshot added, in `scope` (this
        plan's source_range_scope), sorted by path: the cursor counts
        files in this order, so it survives any future manifest
        regrouping. Out-of-scope manifests are skipped UNOPENED via their
        field-507 partition summaries and out-of-scope files dropped by
        their partition values — a time-scoped tail over the exporter's
        micro-batch history opens O(in-scope) manifests per snapshot."""
        range_parts, excluder, _ = scope
        added, _ = _added_files(snapshot, manifest_excluded=excluder)
        return sorted(
            data_files_in_range(added, range_parts), key=lambda f: f.file_path
        )

    # -- durable cursor ----------------------------------------------------
    def position(self) -> tuple[int | None, int]:
        """(last snapshot the cursor points into, files consumed within
        it). (None, 0) = never ran."""
        if not os.path.exists(self.checkpoint_path):
            return None, 0
        with open(self.checkpoint_path, encoding="utf-8") as f:
            ck = json.load(f)
        return ck["snapshot_id"], ck.get("file_offset", 0)

    def seed_to_current(self) -> int | None:
        """Start the tail at the table's CURRENT snapshot (latest-only
        consumption) instead of replaying history. Returns the seeded
        snapshot id (None on an empty table, where the next poll starts
        from the first commit anyway)."""
        sid = self.table.metadata().get("current-snapshot-id", -1)
        if sid == -1:
            return None
        self._store(sid, 0)
        return sid

    def _store(self, snapshot_id: int, file_offset: int) -> None:
        tmp = f"{self.checkpoint_path}.tmp.{uuid.uuid4().hex}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump({"snapshot_id": snapshot_id, "file_offset": file_offset}, f)
        os.replace(tmp, self.checkpoint_path)  # atomic: old or new, never torn

    # -- planning ----------------------------------------------------------
    def plan_batch(self) -> TailBatch | None:
        """Next micro-batch from the durable cursor, or None when caught
        up. Pure metadata."""
        md = self.table.metadata()
        # rebuilt per plan: spec evolution can change the mapping
        scope = source_range_scope(md, self.source_range)
        ck_snapshot, ck_offset = self.position()
        by_id = {s["snapshot-id"]: s for s in md["snapshots"]}

        pending: list[dict] = []
        if ck_snapshot is not None and ck_snapshot in by_id:
            snap = by_id[ck_snapshot]
            if ck_offset > 0 and ck_offset < len(self._planned_files(snap, scope)):
                pending.append(snap)  # partially consumed snapshot first
            window, _ = _ancestry_window(md, ck_snapshot, None)
        elif ck_snapshot is not None:
            raise ValueError(
                f"checkpointed snapshot {ck_snapshot} no longer exists "
                "(expired?) — the tail cannot prove continuity; restart "
                "from a full read or an explicit snapshot"
            )
        else:
            window, _ = _ancestry_window(md, None, None)
        pending.extend(window)

        batch_files: list[DataFile] = []
        end_id, end_offset, end_complete = ck_snapshot, ck_offset, ck_offset == 0
        for snap in pending:
            if (
                self.max_files_per_batch is not None
                and len(batch_files) >= self.max_files_per_batch
            ):
                break  # never move the cursor into a snapshot we take nothing from
            op = snap["summary"].get("operation")
            if op == "replace":
                # compaction: physical rewrite, no logical change
                end_id, end_offset, end_complete = snap["snapshot-id"], 0, True
                continue
            if op != "append":
                raise ValueError(
                    f"tail window contains a {op!r} snapshot "
                    f"({snap['snapshot-id']}); append tails cannot represent "
                    "its effects — use changelog_scan for row-level deletes"
                )
            files = self._planned_files(snap, scope)
            start = ck_offset if snap["snapshot-id"] == ck_snapshot else 0
            take = len(files) - start
            if self.max_files_per_batch is not None:
                take = min(take, self.max_files_per_batch - len(batch_files))
            batch_files.extend(files[start : start + take])
            consumed = start + take
            end_id, end_offset = snap["snapshot-id"], consumed
            end_complete = consumed >= len(files)
        if not batch_files:
            return None
        return TailBatch(
            files=batch_files,
            end_snapshot_id=end_id,
            end_file_offset=0 if end_complete else end_offset,
            end_is_complete=end_complete,
        )

    # -- consumption -------------------------------------------------------
    def read_batch(self, spark: SparkSession, batch: TailBatch) -> DataFrame:
        """The batch's rows under the table's current schema, read through
        the library scan (initial defaults, name-mapped id-less files)
        with the table's vended storage credentials applied; a scoped
        tail filters rows to the range exactly."""
        md = self.table.metadata()
        self.table.apply_storage_credentials(spark, md["location"])
        schema = read_schema_for(spark, md)
        df = table_file_scan(spark, md, schema, [f.file_path for f in batch.files])
        _, _, row_filter = source_range_scope(
            md, self.source_range, schema.fieldNames()
        )
        return df if row_filter is None else df.where(row_filter)

    def commit(self, batch: TailBatch) -> None:
        self._store(batch.end_snapshot_id, batch.end_file_offset)

    def poll(self, spark: SparkSession) -> tuple[DataFrame, TailBatch] | None:
        """Plan + read the next micro-batch; the caller processes the
        DataFrame then calls commit(batch). None = caught up."""
        batch = self.plan_batch()
        if batch is None:
            return None
        return self.read_batch(spark, batch), batch

    def process_available(self, spark: SparkSession, fn) -> int:
        """Drain everything currently committed: fn(df, batch) per
        micro-batch, cursor committed AFTER each fn returns
        (at-least-once; idempotent fn => exactly-once). Returns the
        number of batches processed."""
        n = 0
        while True:
            polled = self.poll(spark)
            if polled is None:
                return n
            df, batch = polled
            fn(df, batch)
            self.commit(batch)
            n += 1


class ChangelogTailer:
    """Checkpointed CDC consumption: the row-level counterpart of
    `IcebergTailer` for tables that also DELETE (merge-on-read position
    or equality deletes, upserts). Each micro-batch is a
    `read_changelog` window — `insert` rows, full-pre-image `delete`
    rows, key-only `delete_key` rows, `_commit_sequence_number` as the
    global change order — and the durable cursor is the last snapshot
    covered (snapshot-granular: a delete's row set only exists relative
    to its whole commit, so there is no meaningful mid-snapshot file
    offset here). `max_snapshots_per_batch` bounds a batch; compaction
    is skipped inside read_changelog; copy-on-write overwrites raise
    there, same contract as Iceberg's changelog scan."""

    def __init__(
        self,
        table,
        checkpoint_path: str,
        max_snapshots_per_batch: int | None = None,
        source_range=None,
        with_lineage: bool = False,
        full_pre_images: bool | None = None,
    ):
        self.table = table
        self.checkpoint_path = checkpoint_path
        self.max_snapshots_per_batch = max_snapshots_per_batch
        self.source_range = source_range  # scopes read_changelog
        self.with_lineage = with_lineage  # v3 row identity per change row
        self.full_pre_images = full_pre_images  # eq-delete pre-images (None: track lineage)

    def position(self) -> int | None:
        if not os.path.exists(self.checkpoint_path):
            return None
        with open(self.checkpoint_path, encoding="utf-8") as f:
            return json.load(f)["snapshot_id"]

    def _store(self, snapshot_id: int) -> None:
        tmp = f"{self.checkpoint_path}.tmp.{uuid.uuid4().hex}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump({"snapshot_id": snapshot_id}, f)
        os.replace(tmp, self.checkpoint_path)

    def poll(self, spark: SparkSession) -> tuple[DataFrame, int] | None:
        """(changelog rows, end snapshot to commit after processing), or
        None when caught up."""
        md = self.table.metadata()
        ck = self.position()
        if ck is not None and all(s["snapshot-id"] != ck for s in md["snapshots"]):
            raise ValueError(
                f"checkpointed snapshot {ck} no longer exists (expired?) — "
                "the changelog tail cannot prove continuity"
            )
        window, _ = _ancestry_window(md, ck, None)
        if not window:
            return None
        if self.max_snapshots_per_batch is not None:
            window = window[: self.max_snapshots_per_batch]
        end = window[-1]["snapshot-id"]
        return (
            read_changelog(
                spark,
                md,
                from_snapshot_id=ck,
                to_snapshot_id=end,
                source_range=self.source_range,
                with_lineage=self.with_lineage,
                full_pre_images=self.full_pre_images,
            ),
            end,
        )

    def commit(self, end_snapshot_id: int) -> None:
        self._store(end_snapshot_id)

    def process_available(self, spark: SparkSession, fn) -> int:
        """fn(df, end_snapshot_id) per batch, cursor committed after
        each fn returns (at-least-once). Returns batches processed."""
        n = 0
        while True:
            polled = self.poll(spark)
            if polled is None:
                return n
            df, end = polled
            fn(df, end)
            self.commit(end)
            n += 1
