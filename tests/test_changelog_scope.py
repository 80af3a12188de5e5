"""Scoped (time-bounded) incremental reads: `source_range` on
read_changelog / changelog_scan and on the streaming tailers.

At the exporter's micro-batch commit cadence a year of history is
thousands of manifests; a consumer that only wants one day must not
open them all. The scope applies at three levels — manifest (field-507
partition-summary skip, manifests opened O(in-scope)), file (partition
transform values through monotone transforms), row (the range applied
exactly) — and the changelog's position-delete branch reads ONLY the
files the delete tuples reference (DV targets from metadata, parquet
tuple file sets from the small delete files), never the parent's whole
live set.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from opentelemetry_iceberg_exporter_spark.sinks.iceberg_fs import FsCatalog
from opentelemetry_iceberg_exporter_spark.streaming.iceberg_tail import (
    ChangelogTailer,
    IcebergTailer,
)


def _df(spark, ids, tag="a"):
    return spark.createDataFrame(
        [(i, tag) for i in ids], "id long, tag string"
    ).select(
        "id",
        F.to_timestamp(
            F.lit("2024-03-01 00:00:00").cast("timestamp")
            + F.make_interval(days=(F.col("id") / 100).cast("int"))
        ).alias("ts"),
        "tag",
    )


N_DAYS = 6
DAY1 = ("ts", "2024-03-02 00:00:00", "2024-03-02 23:59:59")


@pytest.fixture()
def table(spark, tmp_path):
    """One daily-partitioned append per day — one data manifest each,
    the exporter's micro-batch shape."""
    cat = FsCatalog(str(tmp_path / "wh"))
    t = cat.create_table(
        "otel", "ev", _df(spark, [0]).schema, partition_source="ts",
        granularity="daily",
    )
    for day in range(N_DAYS):
        t.append_dataframe(_df(spark, range(day * 100, day * 100 + 100)))
    return t


def _manifest_reads(monkeypatch, module):
    """Count manifest-FILE read_ocf calls (not the manifest list)."""
    reads: list[str] = []
    real = module.read_ocf

    def counting(path, *a, **k):
        if path.endswith(".avro") and not os.path.basename(path).startswith(
            "snap-"
        ):
            reads.append(path)
        return real(path, *a, **k)

    monkeypatch.setattr(module, "read_ocf", counting)
    return reads


class TestScopedChangelog:
    def test_day_scope_opens_o_day_manifests(self, spark, table, monkeypatch):
        from opentelemetry_iceberg_exporter_spark.sinks import iceberg_fs as mod

        reads = _manifest_reads(monkeypatch, mod)
        out = table.changelog_scan(spark, source_range=DAY1)
        rows = out.collect()
        # exactly the in-scope day's manifest was opened — not one per
        # commit in the window
        assert len(reads) == 1
        assert len(rows) == 100
        assert all(r["_change_type"] == "insert" for r in rows)
        assert {r["id"] for r in rows} == set(range(100, 200))

    def test_scoped_equals_filtered_unscoped(self, spark, table):
        scoped = table.changelog_scan(spark, source_range=DAY1)
        unscoped = table.changelog_scan(spark).where(
            F.col("ts").between(F.lit(DAY1[1]), F.lit(DAY1[2]))
        )
        assert sorted(r["id"] for r in scoped.collect()) == sorted(
            r["id"] for r in unscoped.collect()
        )

    def test_row_exactness_on_partial_overlap(self, spark, table):
        # half-day range: the whole day's FILE is in scope by partition,
        # but rows outside the range must not leak through
        out = table.changelog_scan(
            spark, source_range=("id", 120, 149)
        )
        # id is not a partition source: manifest/file pruning can't
        # apply, the row filter must still make the result exact
        assert {r["id"] for r in out.collect()} == set(range(120, 150))

    def test_scoped_dv_delete_rows(self, spark, table):
        table.delete_where(
            spark,
            "id IN (105, 110, 305)",
            mode="deletion-vectors",
        )
        out = table.changelog_scan(spark, source_range=DAY1)
        dels = [r for r in out.collect() if r["_change_type"] == "delete"]
        assert {r["id"] for r in dels} == {105, 110}  # 305 out of scope

    def test_delete_key_conservatively_kept(self, spark, table):
        # equality delete keyed on id; scope on ts (NOT a key column):
        # the delete_key row cannot be evaluated and must be kept
        table.delete_where_equality(spark, _df(spark, [305]).select("id"), ["id"])
        out = table.changelog_scan(spark, source_range=DAY1)
        kinds = {r["_change_type"] for r in out.collect()}
        assert "delete_key" in kinds
        # ...but a scope on the KEY column filters exactly
        out2 = table.changelog_scan(spark, source_range=("id", 0, 200))
        keys = [
            r["id"] for r in out2.collect() if r["_change_type"] == "delete_key"
        ]
        assert keys == []

    def test_delete_branch_reads_only_referenced_files(
        self, spark, table, monkeypatch
    ):
        """The position-delete branch must not walk the parent's data
        manifests: DV targets come from metadata, so the only manifest
        opens in a pure-DV window are the window's own."""
        table.delete_where(spark, "id = 105", mode="deletion-vectors")
        from opentelemetry_iceberg_exporter_spark.sinks import iceberg_fs as mod

        head = table.current_snapshot()["snapshot-id"]
        reads = _manifest_reads(monkeypatch, mod)
        parent = table.metadata()["snapshots"][-2]["snapshot-id"]
        out = table.changelog_scan(
            spark, from_snapshot_id=parent, to_snapshot_id=head
        )
        rows = out.collect()
        assert [r["id"] for r in rows] == [105]
        # opened: the delete snapshot's own manifests only — never one
        # per data manifest of the parent (no fold here, so no parent
        # delete-manifest walk either)
        assert len(reads) <= 2


class TestScopedTail:
    def test_tail_scope_prunes_batches_and_rows(
        self, spark, table, tmp_path, monkeypatch
    ):
        from opentelemetry_iceberg_exporter_spark.sinks import iceberg_fs as mod

        # tail planning walks iceberg_fs._added_files: its reads count there
        reads = _manifest_reads(monkeypatch, mod)
        tail = IcebergTailer(
            table, str(tmp_path / "ck.json"), source_range=DAY1
        )
        polled = tail.poll(spark)
        assert polled is not None
        df, batch = polled
        assert len(batch.files) == 1  # one in-scope day, one file
        rows = df.collect()
        assert {r["id"] for r in rows} == set(range(100, 200))
        # planning opened only the IN-SCOPE manifests across the whole
        # ancestry walk (cursor probe + batch planning), not one per
        # commit in the window
        assert len(reads) <= 2
        tail.commit(batch)
        assert tail.poll(spark) is None  # caught up within scope

    def test_tail_plan_opens_only_in_scope_manifests(
        self, spark, table, tmp_path, monkeypatch
    ):
        """Tail planning walks iceberg_fs._added_files, so its manifest
        reads are counted there: a day-scoped first plan opens exactly
        the in-scope day's manifest, not one per commit."""
        from opentelemetry_iceberg_exporter_spark.sinks import iceberg_fs as mod

        reads = _manifest_reads(monkeypatch, mod)
        tail = IcebergTailer(
            table, str(tmp_path / "ck.json"), source_range=DAY1
        )
        batch = tail.plan_batch()
        assert batch is not None and len(batch.files) == 1
        assert len(reads) == 1

    def test_scoped_tail_equals_filtered_full_tail(self, spark, table, tmp_path):
        full = IcebergTailer(table, str(tmp_path / "a.json"))
        scoped = IcebergTailer(
            table, str(tmp_path / "b.json"), source_range=DAY1
        )
        got_full: list[int] = []
        got_scoped: list[int] = []
        full.process_available(
            spark,
            lambda df, b: got_full.extend(
                r["id"]
                for r in df.where(
                    F.col("ts").between(F.lit(DAY1[1]), F.lit(DAY1[2]))
                ).collect()
            ),
        )
        scoped.process_available(
            spark,
            lambda df, b: got_scoped.extend(r["id"] for r in df.collect()),
        )
        assert sorted(got_full) == sorted(got_scoped)

    def test_changelog_tailer_scope_passthrough(self, spark, table, tmp_path):
        tailer = ChangelogTailer(
            table, str(tmp_path / "c.json"), source_range=DAY1
        )
        got: list[tuple[str, int]] = []
        n = tailer.process_available(
            spark,
            lambda df, end: got.extend(
                (r["_change_type"], r["id"]) for r in df.collect()
            ),
        )
        assert n >= 1
        assert {i for _, i in got} == set(range(100, 200))


class TestScopedIncrementalFiles:
    def test_incremental_files_scope(self, spark, table, monkeypatch):
        """The plain append-diff path gets the same manifest-summary
        skip: a day-scoped incremental file plan opens only in-scope
        manifests and returns only in-scope files."""
        from opentelemetry_iceberg_exporter_spark.sinks import iceberg_fs as mod

        reads = _manifest_reads(monkeypatch, mod)
        files = table.incremental_files(source_range=DAY1)
        assert len(reads) == 1
        assert len(files) == 1
        assert files[0].partition  # in-scope day's file only
        full = table.incremental_files()
        assert len(full) == N_DAYS


class TestChangelogTailerLineage:
    def test_tailer_emits_row_identity(self, spark, tmp_path):
        from opentelemetry_iceberg_exporter_spark.streaming.iceberg_tail import (
            ChangelogTailer,
        )

        cat = FsCatalog(str(tmp_path / "whl"))
        t = cat.create_table(
            "otel", "evl", _df(spark, [0]).schema, partition_source="ts",
            granularity="daily",
        )
        t.upgrade_format_version(3)
        t.append_dataframe(_df(spark, range(100)))
        tailer = ChangelogTailer(
            t, str(tmp_path / "ckl.json"), with_lineage=True
        )
        got: list[tuple] = []
        tailer.process_available(
            spark,
            lambda df, end: got.extend(
                (r["id"], r["_row_id"]) for r in df.collect()
            ),
        )
        assert len(got) == 100
        assert len({rid for _, rid in got}) == 100


class TestEqualityPreImages:
    def test_full_pre_images_replace_delete_key(self, spark, table):
        # equality-delete two ids; by default the changelog gives
        # key-only rows, with full_pre_images it reads the rows back
        table.delete_where_equality(
            spark, _df(spark, [105, 310]).select("id"), ["id"]
        )
        head = table.current_snapshot()["snapshot-id"]
        parent = table.metadata()["snapshots"][-2]["snapshot-id"]
        keyed = table.changelog_scan(
            spark, from_snapshot_id=parent, to_snapshot_id=head
        ).collect()
        assert {r["_change_type"] for r in keyed} == {"delete_key"}
        assert all(r["ts"] is None for r in keyed)  # non-key cols null
        full = table.changelog_scan(
            spark,
            from_snapshot_id=parent,
            to_snapshot_id=head,
            full_pre_images=True,
        ).collect()
        assert {(r["_change_type"], r["id"]) for r in full} == {
            ("delete", 105),
            ("delete", 310),
        }
        assert all(r["ts"] is not None and r["tag"] == "a" for r in full)

    def test_pre_image_read_prunes_by_key_bounds(self, spark, table, monkeypatch):
        """The key set's min/max reach the parent scan through manifest
        column bounds: deleting two nearby ids must not read every
        file."""
        table.delete_where_equality(
            spark, _df(spark, [105, 110]).select("id"), ["id"]
        )
        from opentelemetry_iceberg_exporter_spark.sinks import iceberg_fs as mod

        scanned: list[str] = []
        real = mod.table_file_scan

        def spy(spark_, md_, schema_, paths, *a, **k):
            scanned.extend(paths)
            return real(spark_, md_, schema_, paths, *a, **k)

        monkeypatch.setattr(mod, "table_file_scan", spy)
        head = table.current_snapshot()["snapshot-id"]
        parent = table.metadata()["snapshots"][-2]["snapshot-id"]
        out = table.changelog_scan(
            spark,
            from_snapshot_id=parent,
            to_snapshot_id=head,
            full_pre_images=True,
        ).collect()
        assert {r["id"] for r in out} == {105, 110}
        # both keys live in day-1's single file; the other days' files
        # are excluded by manifest id-bounds before any data read
        assert len(set(scanned)) == 1

    def test_upsert_pre_images_roundtrip(self, spark, table):
        """An upsert commit with full pre-images: apply delete-then-
        insert reproduces the post-upsert table exactly."""
        src_rows = _df(spark, [105, 9000], tag="new")
        table.upsert_equality(spark, src_rows, ["id"])
        head = table.current_snapshot()["snapshot-id"]
        parent = table.metadata()["snapshots"][-2]["snapshot-id"]
        out = table.changelog_scan(
            spark,
            from_snapshot_id=parent,
            to_snapshot_id=head,
            full_pre_images=True,
        ).collect()
        dels = {(r["id"], r["tag"]) for r in out if r["_change_type"] == "delete"}
        ins = {(r["id"], r["tag"]) for r in out if r["_change_type"] == "insert"}
        assert dels == {(105, "a")}  # 9000 did not exist: no pre-image
        assert ins == {(105, "new"), (9000, "new")}
