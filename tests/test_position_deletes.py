"""Iceberg v2 merge-on-read position deletes, on both catalog
transports.

The copy-on-write DML family (delete_where / merge_rows) rewrites every
file containing a match; at 100 TB a sparse purge (GDPR/opt-out, a few
rows per file) would rewrite most of the table. Position-delete files
(spec: "Position Delete Files", reserved field ids 2147483546/
2147483545) invert the cost: the delete commit writes only the matching
(file_path, pos) tuples, reads subtract them with a metadata-decided
anti-join, and rewrite_position_deletes folds them in later. These
tests pin the semantics, the byte-level file format, the interplay with
copy-on-write DML / compaction / expiry / recovery, and the read-plan
shape.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from opentelemetry_iceberg_exporter_spark.plans.inspect import (
    join_strategies,
    physical_plan,
)
from opentelemetry_iceberg_exporter_spark.sinks.avro_ocf import read_ocf
from opentelemetry_iceberg_exporter_spark.sinks.iceberg_fs import (
    POS_DELETE_FILE_PATH_ID,
    POS_DELETE_POS_ID,
    FsCatalog,
    live_row_scan,
)

from rest_stub import make_server


def _df(spark, n=200, hours=4):
    return (
        spark.range(n)
        .withColumn(
            "ts",
            F.to_timestamp(
                F.lit("2024-03-01 00:00:00").cast("timestamp")
                + F.make_interval(hours=(F.col("id") % hours).cast("int"))
            ),
        )
        .withColumn("v", F.col("id") * 10)
    )


@pytest.fixture()
def fs_table(spark, tmp_path):
    cat = FsCatalog(str(tmp_path / "wh"))
    t = cat.create_table("otel", "events", _df(spark).schema, partition_source="ts")
    t.append_dataframe(_df(spark))
    return t


class TestMergeOnReadDelete:
    def test_data_files_untouched_and_rows_subtracted(self, spark, fs_table):
        t = fs_table
        pre = t.current_snapshot()["snapshot-id"]
        before = sorted(f.file_path for f in t.plan_files()[0])
        sid, n = t.delete_where(spark, "id % 10 = 3", mode="merge-on-read")
        assert n == 20
        assert sorted(f.file_path for f in t.plan_files()[0]) == before
        assert t.current_snapshot()["summary"]["operation"] == "delete"
        assert t.read(spark).count() == 180
        assert t.read(spark).filter("id % 10 = 3").count() == 0
        # time travel still sees the rows
        assert t.read(spark, snapshot_id=pre).count() == 200

    def test_snapshot_summary_counts_deletes(self, spark, fs_table):
        t = fs_table
        t.delete_where(spark, "id < 7", mode="merge-on-read")
        s = t.current_snapshot()["summary"]
        assert s["added-delete-files"] == "1"
        assert s["added-position-deletes"] == "7"
        assert s["deleted-records"] == "7"
        assert s["added-data-files"] == "0"

    def test_no_match_commits_nothing(self, spark, fs_table):
        t = fs_table
        pre = t.current_snapshot()["snapshot-id"]
        sid, n = t.delete_where(spark, "id = -1", mode="merge-on-read")
        assert sid is None and n == 0
        assert t.current_snapshot()["snapshot-id"] == pre

    def test_second_delete_skips_already_deleted_rows(self, spark, fs_table):
        t = fs_table
        t.delete_where(spark, "id % 10 = 3", mode="merge-on-read")
        _, n2 = t.delete_where(
            spark, "id % 10 = 3 or id % 10 = 4", mode="merge-on-read"
        )
        assert n2 == 20  # the %10=3 rows are not re-recorded
        assert t.read(spark).count() == 160
        # total delete rows across files == logically deleted rows
        _, dels, _ = t.plan_scan()
        assert sum(f.record_count for f in dels) == 40

    def test_bad_mode_rejected(self, spark, fs_table):
        with pytest.raises(ValueError, match="mode"):
            fs_table.delete_where(spark, "id = 1", mode="nonsense")

    def test_merge_on_read_commits_like_append_over_concurrent_append(
        self, spark, fs_table, tmp_path
    ):
        """A MoR delete only ADDS a delete file, so unlike copy-on-write
        it must not raise ReplaceConflictError when another writer
        appends between planning and commit — the retry merges."""
        from opentelemetry_iceberg_exporter_spark.sinks.iceberg_fs import FsTable

        t = fs_table
        other = FsTable(t.location)
        # interleave: plan the delete against the current snapshot, then
        # land a concurrent append before the delete commits
        import opentelemetry_iceberg_exporter_spark.sinks.iceberg_fs as mod

        real_plan = mod.plan_position_delete
        extra = _df(spark, n=10).withColumn("id", F.col("id") + 1000)

        def racing_plan(*args, **kwargs):
            out = real_plan(*args, **kwargs)
            other.append_dataframe(extra)  # concurrent writer wins the CAS
            return out

        mod.plan_position_delete = racing_plan
        try:
            sid, n = t.delete_where(spark, "id % 10 = 3", mode="merge-on-read")
        finally:
            mod.plan_position_delete = real_plan
        assert n == 20
        # both the append and the delete landed
        assert t.read(spark).count() == 200 - 20 + 10


class TestDeleteFileFormat:
    def test_sorted_field_ids_and_manifest_content(self, spark, fs_table):
        t = fs_table
        t.delete_where(spark, "id % 3 = 0", mode="merge-on-read")
        _, dels, _ = t.plan_scan()
        assert len(dels) == 1 and dels[0].content == 1
        path = dels[0].file_path

        import pyarrow.parquet as pq

        pf = pq.ParquetFile(path)
        # spec: rows sorted by (file_path, pos)
        rows = pf.read().to_pylist()
        assert rows == sorted(rows, key=lambda r: (r["file_path"], r["pos"]))
        # spec: reserved parquet field ids survive the Spark write
        schema = pf.schema_arrow
        fid = lambda name: schema.field(name).metadata.get(b"PARQUET:field_id")
        assert fid("file_path") == str(POS_DELETE_FILE_PATH_ID).encode()
        assert fid("pos") == str(POS_DELETE_POS_ID).encode()
        # delete rows reference the manifest-recorded data-file paths
        data_paths = {f.file_path for f in t.plan_files()[0]}
        assert {r["file_path"] for r in rows} <= data_paths

        # the delete manifest is content=1 in the manifest list and
        # tagged content=deletes in its OCF metadata
        snapshot = t.current_snapshot()
        _, _, manifests = read_ocf(snapshot["manifest-list"])
        delete_manifests = [m for m in manifests if m["content"] == 1]
        assert len(delete_manifests) == 1
        _, meta, entries = read_ocf(delete_manifests[0]["manifest_path"])
        assert meta["content"] == "deletes"
        assert all(e["data_file"]["content"] == 1 for e in entries)
        assert delete_manifests[0]["added_rows_count"] == sum(
            e["data_file"]["record_count"] for e in entries
        )

    def test_metadata_tables_surface_delete_files(self, spark, fs_table):
        t = fs_table
        t.delete_where(spark, "id < 5", mode="merge-on-read")
        files = t.metadata_table(spark, "files")
        assert files.filter("content = 1").count() == 1
        manifests = t.metadata_table(spark, "manifests")
        assert manifests.filter("content = 1").count() == 1


class TestInterplayWithCopyOnWrite:
    def test_cow_delete_preserves_pending_deletes(self, spark, fs_table):
        t = fs_table
        t.delete_where(spark, "id % 10 = 3", mode="merge-on-read")
        sid, n = t.delete_where(spark, "id < 10")  # copy-on-write
        assert n == 9  # id 3 is already gone from 0..9
        assert t.read(spark).count() == 200 - 20 - 9
        # MoR rows referencing SURVIVING files must stay deleted
        assert t.read(spark).filter("id % 10 = 3").count() == 0

    def test_merge_treats_deleted_rows_as_absent(self, spark, fs_table):
        t = fs_table
        t.delete_where(spark, "id >= 190", mode="merge-on-read")
        src = _df(spark).filter("id >= 195").withColumn("v", F.lit(-1).cast("long"))
        sid, upd, ins = t.merge_rows(spark, src, ["id"])
        assert (upd, ins) == (0, 5)  # deleted keys cannot "update"
        out = t.read(spark)
        assert out.count() == 195
        assert out.filter("v = -1").count() == 5

    def test_compaction_materializes_deletes_and_keeps_survivor_deletes(
        self, spark, fs_table
    ):
        t = fs_table
        # a second append gives each hour partition 2 small files so the
        # compactor has something to merge
        t.append_dataframe(_df(spark).withColumn("id", F.col("id") + 1000))
        t.delete_where(spark, "id % 10 = 3", mode="merge-on-read")
        sid = t.rewrite_data_files(spark, target_bytes=1 << 30, min_files=2)
        assert sid is not None
        # deletes carried forward (stale for compacted files, live for any
        # survivors); the logical table is unchanged
        assert t.current_snapshot()["summary"]["operation"] == "replace"
        assert t.read(spark).count() == 360
        assert t.read(spark).filter("id % 10 = 3").count() == 0


class TestRewritePositionDeletes:
    def test_folds_deletes_and_drops_delete_files(self, spark, fs_table):
        t = fs_table
        t.delete_where(spark, "id % 10 = 3", mode="merge-on-read")
        t.delete_where(spark, "id % 10 = 4", mode="merge-on-read")
        sid = t.rewrite_position_deletes(spark)
        assert sid is not None
        assert t.current_snapshot()["summary"]["operation"] == "replace"
        data, dels, _ = t.plan_scan()
        assert dels == []
        assert t.read(spark).count() == 160
        assert t.read(spark).filter("id % 10 in (3, 4)").count() == 0
        # data-file record counts reflect the folded deletes
        assert sum(f.record_count for f in data) == 160

    def test_noop_without_deletes(self, spark, fs_table):
        assert fs_table.rewrite_position_deletes(spark) is None

    def test_incremental_scan_skips_fold_but_refuses_delete_snapshots(
        self, spark, fs_table
    ):
        t = fs_table
        start = t.current_snapshot()["snapshot-id"]
        t.delete_where(spark, "id < 5", mode="merge-on-read")
        # a delete snapshot in the window: incremental append scans
        # cannot represent it — must raise, not silently skip
        with pytest.raises(ValueError, match="delete"):
            t.incremental_files(from_snapshot_id=start)
        # after folding, the replace snapshot is skipped as usual, and the
        # window ending BEFORE the delete still works
        files, end = t.incremental_scan(from_snapshot_id=start, to_snapshot_id=start)
        assert files == [] and end == start


class TestReclamationAndRecovery:
    def test_orphan_sweep_never_touches_referenced_delete_files(self, spark, fs_table):
        t = fs_table
        t.delete_where(spark, "id < 5", mode="merge-on-read")
        _, dels, _ = t.plan_scan()
        assert dels
        # age everything well past the cutoff; referenced files must stay
        for root, _, names in os.walk(os.path.join(t.location, "data")):
            for nm in names:
                p = os.path.join(root, nm)
                os.utime(p, (1, 1))
        deleted = t.remove_orphan_files(older_than_seconds=60)
        assert all("deletes-" not in p for p in deleted)
        assert all(os.path.exists(f.file_path) for f in dels)
        assert t.read(spark).count() == 195

    def test_expire_snapshots_reclaims_unreferenced_delete_files(self, spark, fs_table):
        t = fs_table
        t.delete_where(spark, "id < 5", mode="merge-on-read")
        _, dels, _ = t.plan_scan()
        delete_paths = [f.file_path for f in dels]
        t.rewrite_position_deletes(spark)  # current snapshot: no delete files
        removed = t.expire_snapshots(keep_last=1)
        assert set(delete_paths) <= set(removed)
        assert not any(os.path.exists(p) for p in delete_paths)
        assert t.read(spark).count() == 195


class TestReadPlanShape:
    def test_small_delete_sets_broadcast_anti_join(self, spark, fs_table):
        t = fs_table
        t.delete_where(spark, "id < 5", mode="merge-on-read")
        df = t.read(spark)
        js = join_strategies(df)
        assert js == ["BroadcastHashJoin"], js
        assert "LeftAnti" in physical_plan(df)

    def test_large_delete_sets_shuffle(self, spark, fs_table, monkeypatch):
        """Above the metadata threshold no broadcast HINT is planted —
        the static plan shuffles (AQE may still down-convert to
        broadcast from runtime stats, which is the desired behavior; so
        assert with AQE off)."""
        import opentelemetry_iceberg_exporter_spark.sinks.iceberg_fs as mod

        t = fs_table
        t.delete_where(spark, "id < 5", mode="merge-on-read")
        # isolate OUR choice: kill Spark's own size-based auto-broadcast
        # and AQE so only an explicit hint could produce a broadcast
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            hinted = join_strategies(t.read(spark))
            monkeypatch.setattr(mod, "BROADCAST_DELETE_ROWS", 0)
            unhinted = join_strategies(t.read(spark))
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        # below the threshold the hint forces broadcast even with stats
        # unavailable; above it the static plan shuffles
        assert hinted == ["BroadcastHashJoin"], hinted
        assert unhinted and "Broadcast" not in unhinted[0], unhinted

    def test_no_deletes_means_no_join_at_all(self, spark, fs_table):
        assert join_strategies(fs_table.read(spark)) == []


class TestRestTransport:
    @pytest.fixture()
    def rest_table(self, spark, tmp_path):
        warehouse = str(tmp_path / "warehouse")
        os.makedirs(warehouse)
        server, state, uri = make_server(warehouse)
        from opentelemetry_iceberg_exporter_spark.sinks.iceberg_rest import (
            RestCatalogClient,
        )

        client = RestCatalogClient(uri, warehouse=warehouse)
        client.ensure_namespace("otel")
        t = client.ensure_table("otel", "events", _df(spark).schema, partition_source="ts")
        t.append_dataframe(_df(spark))
        yield t
        server.shutdown()

    def test_mor_delete_and_fold_over_rest(self, spark, rest_table):
        t = rest_table
        before = sorted(f.file_path for f in t._live_files(t.metadata(), t.current_snapshot()["snapshot-id"])[0])
        sid, n = t.delete_where(spark, "id % 10 = 3", mode="merge-on-read")
        assert n == 20
        md = t.metadata()
        assert t.current_snapshot()["summary"]["operation"] == "delete"
        data, dels = t._live_files(md, md["current-snapshot-id"])
        assert sorted(f.file_path for f in data) == before
        assert len(dels) == 1 and dels[0].content == 1
        assert t.read(spark).count() == 180

        sid2 = t.rewrite_position_deletes(spark)
        assert sid2 is not None
        md = t.metadata()
        data, dels = t._live_files(md, md["current-snapshot-id"])
        assert dels == []
        assert t.read(spark).count() == 180
        assert t.read(spark).filter("id % 10 = 3").count() == 0

    def test_cow_delete_carries_pending_deletes_over_rest(self, spark, rest_table):
        t = rest_table
        t.delete_where(spark, "id % 10 = 3", mode="merge-on-read")
        sid, n = t.delete_where(spark, "id < 10")  # copy-on-write
        assert n == 9
        assert t.read(spark).count() == 171
        assert t.read(spark).filter("id % 10 = 3").count() == 0


class TestCli:
    def test_delete_mode_and_fold_deletes(self, spark, fs_table, capsys):
        import json

        from opentelemetry_iceberg_exporter_spark.__main__ import main

        wh = os.path.dirname(os.path.dirname(fs_table.location))
        rc = main(
            [
                "delete",
                "--warehouse", wh,
                "--table", "events",
                "--where", "id % 10 = 3",
                "--mode", "merge-on-read",
            ]
        )
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rc == 0
        assert out["deleted_rows"] == 20 and out["mode"] == "merge-on-read"

        rc = main(
            [
                "maintain",
                "--warehouse", wh,
                "--table", "events",
                "--fold-deletes",
                "--min-files", "99",  # leave compaction out of this test
            ]
        )
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rc == 0 and out["fold_deletes_snapshot"] is not None
        assert fs_table.plan_scan()[1] == []
        assert fs_table.read(spark).count() == 180


class TestApplyPositionDeletesUnit:
    def test_delete_rows_for_unknown_files_match_nothing(self, spark, fs_table):
        t = fs_table
        t.delete_where(spark, "id < 5", mode="merge-on-read")
        _, dels, _ = t.plan_scan()
        # a scan over a DIFFERENT parquet tree with the same deletes
        # applied is untouched (paths never match)
        other = _df(spark, n=30)
        import tempfile

        d = tempfile.mkdtemp()
        other.write.parquet(d + "/o")
        paths = glob.glob(d + "/o/*.parquet")
        assert live_row_scan(spark, t.metadata(), [], dels, paths=paths).count() == 30
