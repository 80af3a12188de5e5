"""Deletion vectors (Iceberg v3 "Deletion Vectors" as a v2 engine
extension): roaring-bitmap position deletes in Puffin blobs.

Layers under test:

* the roaring codec (RoaringFormatSpec portable, 32- and 64-bit) —
  round-trips over every container type plus an INDEPENDENT
  hand-assembled byte pin (the same second-encoder discipline as
  tests/golden/);
* the DV blob framing (length BE + magic D1 D3 3D 34 + vector + CRC);
* the engine integration: delete_where(mode="deletion-vectors") writes
  per-file vectors co-located in one Puffin, manifests carry the
  locator fields (spec ids 143-145), reads subtract through the same
  read_position_deletes abstraction (vectors expand on executors),
  changelogs reconstruct full-content delete rows, folding restores
  the vector-free state, and the REST transport commits the same way.
"""

from __future__ import annotations

import os
import struct
import zlib

import numpy as np
import pytest

from pyspark.sql import functions as F

from opentelemetry_iceberg_exporter_spark.sinks.avro_ocf import read_ocf
from opentelemetry_iceberg_exporter_spark.sinks.iceberg_fs import (
    FsCatalog,
)
from opentelemetry_iceberg_exporter_spark.sinks.puffin import (
    DV_MAGIC,
    decode_deletion_vector,
    encode_deletion_vector,
    read_puffin,
)
from opentelemetry_iceberg_exporter_spark.sinks.roaring import (
    SERIAL_COOKIE,
    SERIAL_COOKIE_NO_RUNCONTAINER,
    deserialize_32,
    deserialize_64,
    serialize_32,
    serialize_64,
)


class TestRoaringCodec:
    def test_container_types_roundtrip(self):
        import random

        rng = random.Random(11)
        cases = [
            np.array([], dtype=np.uint32),
            np.array([0], dtype=np.uint32),
            np.array([0, 1, 2, 3, 4, 5], dtype=np.uint32),  # run
            np.arange(70000, dtype=np.uint32),  # runs spanning containers
            np.array(
                sorted(rng.sample(range(1 << 32), 5000)), dtype=np.uint32
            ),  # sparse arrays over many containers
            np.array(
                sorted(rng.sample(range(1 << 20), 300000)), dtype=np.uint32
            ),  # dense bitset containers
            np.array([0xFFFFFFFF], dtype=np.uint32),  # max value
        ]
        for i, v in enumerate(cases):
            data = serialize_32(v)
            back, used = deserialize_32(data)
            assert used == len(data), i
            assert np.array_equal(back, v), i

    def test_64bit_roundtrip_across_buckets(self):
        import random

        rng = random.Random(12)
        for _ in range(5):
            n = rng.randint(0, 30000)
            v = np.array(
                sorted(rng.sample(range(1 << 40), n)), dtype=np.uint64
            )
            assert np.array_equal(deserialize_64(serialize_64(v)), v)

    def test_independent_byte_pin_array_container(self):
        """{1, 2, 3, 7}: array container (2*4=8 bytes beats run 2+4*2=10).
        Bytes assembled HERE from the RoaringFormatSpec, not from the
        codec: no-run cookie, count, descriptive header, offset header,
        u16le values."""
        expected = b"".join(
            [
                struct.pack("<I", SERIAL_COOKIE_NO_RUNCONTAINER),
                struct.pack("<I", 1),  # container count
                struct.pack("<HH", 0, 3),  # key 0, cardinality-1
                struct.pack("<I", 16),  # offset of container payload
                struct.pack("<4H", 1, 2, 3, 7),
            ]
        )
        got = serialize_32(np.array([1, 2, 3, 7], dtype=np.uint32))
        assert got == expected

    def test_independent_byte_pin_run_container(self):
        """{10..19}: one run (2+4=6 bytes beats array 20). Run cookie
        carries (count-1)<<16 and a run bitset; <4 containers = no
        offset header."""
        expected = b"".join(
            [
                struct.pack("<I", SERIAL_COOKIE | (0 << 16)),
                b"\x01",  # run bitset: container 0 is a run
                struct.pack("<HH", 0, 9),  # key 0, cardinality-1
                struct.pack("<H", 1),  # 1 run
                struct.pack("<HH", 10, 9),  # start 10, length-1
            ]
        )
        got = serialize_32(np.arange(10, 20, dtype=np.uint32))
        assert got == expected

    def test_independent_byte_pin_64bit_wrapper(self):
        """Positions straddling the 32-bit boundary: u64le bucket count,
        then (u32le high, 32-bit portable) per bucket in key order."""
        positions = np.array([5, (1 << 32) + 7], dtype=np.uint64)
        low = serialize_32(np.array([5], dtype=np.uint32))
        high = serialize_32(np.array([7], dtype=np.uint32))
        expected = (
            struct.pack("<Q", 2)
            + struct.pack("<I", 0)
            + low
            + struct.pack("<I", 1)
            + high
        )
        assert serialize_64(positions) == expected


class TestRoaringProperty:
    def test_roundtrip_property(self):
        from hypothesis import given, settings
        from hypothesis import strategies as hst

        @settings(max_examples=60, deadline=None)
        @given(
            hst.sets(
                hst.one_of(
                    hst.integers(min_value=0, max_value=(1 << 16) - 1),
                    hst.integers(min_value=0, max_value=(1 << 33)),
                    hst.integers(min_value=0, max_value=(1 << 48) - 1),
                ),
                max_size=1500,
            )
        )
        def check(xs):
            v = np.array(sorted(xs), dtype=np.uint64)
            assert np.array_equal(deserialize_64(serialize_64(v)), v)
            payload = encode_deletion_vector(v)
            assert np.array_equal(decode_deletion_vector(payload), v)

        check()

    def test_run_heavy_property(self):
        """Run-container stress: unions of random intervals (the shape
        real deletion vectors take — contiguous row ranges from
        predicate deletes) round-trip across container boundaries."""
        from hypothesis import given, settings
        from hypothesis import strategies as hst

        @settings(max_examples=40, deadline=None)
        @given(
            hst.lists(
                hst.tuples(
                    hst.integers(min_value=0, max_value=(1 << 18)),
                    hst.integers(min_value=1, max_value=5000),
                ),
                max_size=20,
            )
        )
        def check(intervals):
            parts = [
                np.arange(s, s + ln, dtype=np.uint64) for s, ln in intervals
            ]
            v = (
                np.unique(np.concatenate(parts))
                if parts
                else np.empty(0, dtype=np.uint64)
            )
            data = serialize_64(v)
            assert np.array_equal(deserialize_64(data), v)
            # run encodings must actually compress contiguous ranges
            if len(v) > 10000:
                assert len(data) < 2 * len(v)  # far below array encoding

        check()


class TestDvBlob:
    def test_frame_roundtrip_and_independent_pin(self):
        positions = np.array([0, 1, 2, 3, 1000], dtype=np.uint64)
        payload = encode_deletion_vector(positions)
        # independent frame assembly: len BE, magic, vector, CRC BE
        vec = serialize_64(positions)
        body = DV_MAGIC + vec
        expected = (
            struct.pack(">i", len(body)) + body + struct.pack(">I", zlib.crc32(body))
        )
        assert payload == expected
        assert np.array_equal(decode_deletion_vector(payload), positions)

    def test_corruption_detected(self):
        payload = bytearray(encode_deletion_vector(np.array([1, 5], dtype=np.uint64)))
        payload[10] ^= 0xFF
        with pytest.raises(ValueError, match="CRC|magic"):
            decode_deletion_vector(bytes(payload))


def _df(spark, n=40, tag="a"):
    return spark.range(n).select(
        F.col("id"),
        F.to_timestamp(
            F.lit("2024-03-01 00:00:00").cast("timestamp")
            + F.make_interval(hours=(F.col("id") % 4).cast("int"))
        ).alias("ts"),
        F.lit(tag).alias("tag"),
    )


@pytest.fixture()
def fs_table(spark, tmp_path):
    cat = FsCatalog(str(tmp_path / "wh"))
    t = cat.create_table("otel", "events", _df(spark).schema, partition_source="ts")
    t.append_dataframe(_df(spark))
    return t


class TestDeletionVectorDeletes:
    def test_dv_delete_end_to_end(self, spark, fs_table):
        t = fs_table
        pre = t.current_snapshot()["snapshot-id"]
        sid, n = t.delete_where(spark, "id >= 30", mode="deletion-vectors")
        assert n == 10 and sid is not None
        snap = t.current_snapshot()
        assert snap["summary"]["operation"] == "delete"
        assert snap["summary"]["added-dvs"] >= "1"
        got = t.read(spark)
        assert got.count() == 30
        assert got.agg(F.max("id")).first()[0] == 29
        # time travel still sees the deleted rows
        assert t.read(spark, snapshot_id=pre).count() == 40

    def test_manifest_carries_locator_fields(self, spark, fs_table):
        t = fs_table
        t.delete_where(spark, "id = 7", mode="deletion-vectors")
        _, _, manifests = read_ocf(t.current_snapshot()["manifest-list"])
        dv_manifest = next(
            m
            for m in manifests
            if m["content"] == 1
            and m["added_snapshot_id"] == t.current_snapshot()["snapshot-id"]
        )
        _, meta, entries = read_ocf(dv_manifest["manifest_path"])
        e = entries[0]["data_file"]
        assert e["file_format"] == "PUFFIN"
        assert e["file_path"].endswith(".puffin")
        assert e["referenced_data_file"] is not None
        assert e["content_offset"] is not None
        assert e["content_size_in_bytes"] > 0
        assert e["record_count"] == 1  # cardinality
        # the blob is readable via the Puffin footer too, and agrees
        meta_j, payloads = read_puffin(e["file_path"])
        blob = next(
            (b, p)
            for b, p in zip(meta_j["blobs"], payloads)
            if b["properties"]["referenced-data-file"] == e["referenced_data_file"]
        )
        assert blob[0]["type"] == "deletion-vector-v1"
        assert len(decode_deletion_vector(blob[1])) == 1

    def test_vectors_stack_and_union(self, spark, fs_table):
        t = fs_table
        t.delete_where(spark, "id >= 35", mode="deletion-vectors")
        t.delete_where(spark, "id < 5", mode="deletion-vectors")
        got = t.read(spark)
        assert got.count() == 30
        ids = {r["id"] for r in got.select("id").collect()}
        assert ids == set(range(5, 35))
        # re-deleting already-vector-deleted rows records nothing new
        sid, n = t.delete_where(spark, "id >= 35", mode="deletion-vectors")
        assert sid is None and n == 0

    def test_mixed_with_parquet_position_and_equality_deletes(
        self, spark, fs_table
    ):
        t = fs_table
        t.delete_where(spark, "id between 0 and 3", mode="merge-on-read")
        t.delete_where_equality(
            spark, _df(spark).filter("id between 4 and 7").select("id"), ["id"]
        )
        t.delete_where(spark, "id between 8 and 11", mode="deletion-vectors")
        got = t.read(spark)
        assert got.count() == 28
        assert got.agg(F.min("id")).first()[0] == 12

    def test_changelog_reconstructs_dv_deleted_rows(self, spark, fs_table):
        t = fs_table
        first = t.current_snapshot()["snapshot-id"]
        t.delete_where(spark, "id >= 38", mode="deletion-vectors")
        chg = t.changelog_scan(spark, from_snapshot_id=first)
        rows = chg.collect()
        assert {r["_change_type"] for r in rows} == {"delete"}
        assert sorted(r["id"] for r in rows) == [38, 39]
        assert all(r["tag"] == "a" for r in rows)  # FULL row content

    def test_fold_restores_vector_free_state(self, spark, fs_table):
        t = fs_table
        t.delete_where(spark, "id >= 20", mode="deletion-vectors")
        sid = t.rewrite_position_deletes(spark)
        assert sid is not None
        data, deletes, _ = t.plan_scan()
        assert deletes == []  # vectors folded into the data files
        assert t.read(spark).count() == 20
        assert t.count_rows() == 20  # metadata-only again after the fold

    def test_update_where_dv_mode(self, spark, fs_table):
        """UPDATE as a row-delta whose delete half is a deletion vector:
        old versions shadowed by the DV, updated copies appended, one
        atomic overwrite snapshot."""
        t = fs_table
        sid, n = t.update_where(
            spark, "id < 4", {"tag": "'updated'"}, mode="deletion-vectors"
        )
        assert n == 4 and sid is not None
        got = t.read(spark)
        assert got.count() == 40  # no net row change
        assert got.filter("tag = 'updated'").count() == 4
        assert got.filter("id < 4 and tag = 'a'").count() == 0
        assert any(f.is_deletion_vector for f in t.plan_scan()[1])
        # changelog over the row-delta: delete pre-images + inserts
        chg = t.changelog_scan(
            spark, from_snapshot_id=t.snapshots()[0]["snapshot-id"]
        )
        by_type = {
            r["_change_type"]: r["n"]
            for r in chg.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
        }
        assert by_type == {"delete": 4, "insert": 4}

    def test_dv_only_read_plan_has_no_join(self, spark, fs_table):
        """Deletion vectors subtract as an executor-side MASK: the read
        plan contains no join at all, where an equally large parquet
        delete set beyond the broadcast threshold would shuffle the
        whole table through a sort-merge anti-join."""
        t = fs_table
        t.delete_where(spark, "id >= 30", mode="deletion-vectors")
        plan = (
            t.read(spark)._jdf.queryExecution().executedPlan().toString()
        )
        assert "Join" not in plan  # no anti-join — the vector mask only
        assert t.read(spark).count() == 30

    def test_cow_delete_over_pending_vectors(self, spark, fs_table):
        t = fs_table
        t.delete_where(spark, "id >= 30", mode="deletion-vectors")
        sid, n = t.delete_where(spark, "id < 10", mode="copy-on-write")
        assert n == 10
        got = t.read(spark)
        assert got.count() == 20
        assert got.agg(F.min("id")).first()[0] == 10
        assert got.agg(F.max("id")).first()[0] == 29

    def test_expire_reclaims_folded_dv_puffin(self, spark, fs_table):
        """After folding and snapshot expiry nothing references the DV
        Puffin — expire's delete phase reclaims it like any data file."""
        t = fs_table
        t.delete_where(spark, "id >= 30", mode="deletion-vectors")
        dv_path = next(
            f.file_path for f in t.plan_scan()[1] if f.is_deletion_vector
        )
        assert os.path.exists(dv_path)
        t.rewrite_position_deletes(spark)
        expired = t.expire_snapshots(keep_last=1)
        assert dv_path in expired
        assert not os.path.exists(dv_path)
        assert t.read(spark).count() == 30

    def test_orphaned_dv_puffin_swept(self, spark, tmp_path, fs_table):
        import time as time_mod

        t = fs_table
        stray = os.path.join(t.location, "data", "dv-deadbeef.puffin")
        with open(stray, "wb") as f:
            f.write(b"PFA1notreallyPFA1")
        old = time_mod.time() - 10
        os.utime(stray, (old, old))
        deleted = t.remove_orphan_files(older_than_seconds=5)
        assert stray in deleted
        # a REFERENCED dv survives the sweep
        t.delete_where(spark, "id = 1", mode="deletion-vectors")
        dv_path = next(
            f.file_path for f in t.plan_scan()[1] if f.is_deletion_vector
        )
        os.utime(dv_path, (old, old))
        assert dv_path not in t.remove_orphan_files(older_than_seconds=5)
        assert t.read(spark).count() == 39


@pytest.mark.slow
class TestDvLifecycleAtScale:
    def test_multi_file_many_rows_full_lifecycle(self, spark, tmp_path):
        """Thousands of rows over many files and hours: interleaved DV
        deletes, an upsert, a second stacking DV delete, metadata-only
        counting after folding, and time travel — the sequence a
        production table would actually see."""
        cat = FsCatalog(str(tmp_path / "wh"))
        df = spark.range(5000).select(
            F.col("id"),
            F.to_timestamp(
                F.lit("2024-03-01 00:00:00").cast("timestamp")
                + F.make_interval(hours=(F.col("id") % 24).cast("int"))
            ).alias("ts"),
            (F.col("id") % 7).alias("bucket"),
        )
        t = cat.create_table("otel", "big", df.schema, partition_source="ts")
        t.append_dataframe(df)
        assert len(t.plan_scan()[0]) >= 24  # one file per hour at least

        sid, n = t.delete_where(spark, "pmod(id, 10) = 3", mode="deletion-vectors")
        assert n == 500
        dv = [f for f in t.plan_scan()[1] if f.is_deletion_vector]
        assert len({f.file_path for f in dv}) == 1  # ONE puffin, many blobs
        # ids ≡ 3 (mod 10) land in 12 of the 24 hour files (lcm(10,24))
        assert len(dv) == 12  # one vector per touched file
        assert t.read(spark).count() == 4500

        # upsert shadows some survivors via equality deletes
        t.upsert_equality(
            spark, df.filter("pmod(id, 10) = 4").withColumn("bucket", F.lit(99)),
            ["id"],
        )
        assert t.read(spark).count() == 4500
        assert t.read(spark).filter("bucket = 99").count() == 500

        # a second DV delete stacks more vectors
        _, n2 = t.delete_where(spark, "pmod(id, 10) = 5", mode="deletion-vectors")
        assert n2 == 500
        got = t.read(spark)
        assert got.count() == 4000
        assert got.filter("pmod(id, 10) in (3, 5)").count() == 0
        assert got.filter("bucket = 99").count() == 500

        # fold everything; metadata-only count returns
        t.rewrite_position_deletes(spark)
        t.rewrite_equality_deletes(spark)
        assert t.plan_scan()[1] == []
        assert t.count_rows() == 4000
        # time travel to the first delete still resolves through the DVs
        assert t.read(spark, snapshot_id=sid).count() == 4500


@pytest.mark.slow
class TestRandomizedDmlModel:
    def test_random_delete_interleavings_match_model(self, spark, tmp_path):
        """Model-based randomized DML: arbitrary interleavings of
        appends, DV deletes, parquet MoR deletes, CoW deletes, and folds
        must always read back exactly the model's live id set."""
        import random

        rng = random.Random(7)
        cat = FsCatalog(str(tmp_path / "wh"))
        schema = _df(spark).schema
        t = cat.create_table("otel", "model", schema, partition_source="ts")
        live: set[int] = set()
        next_id = 0

        def mk(ids):
            return spark.createDataFrame(
                [(i, None, "x") for i in ids], "id long, ts timestamp, tag string"
            ).withColumn("ts", F.to_timestamp(F.lit("2024-03-01 00:00:00")))

        for step in range(14):
            r = rng.random()
            if r < 0.4 or not live:
                n = rng.randint(3, 8)
                ids = list(range(next_id, next_id + n))
                next_id += n
                t.append_dataframe(mk(ids))
                live |= set(ids)
            elif r < 0.85:
                lo = rng.randrange(max(next_id, 1))
                hi = lo + rng.randint(0, 6)
                mode = rng.choice(
                    ["deletion-vectors", "merge-on-read", "copy-on-write"]
                )
                _, n = t.delete_where(
                    spark, f"id between {lo} and {hi}", mode=mode
                )
                expect_gone = {i for i in live if lo <= i <= hi}
                assert n == len(expect_gone), (step, mode)
                live -= expect_gone
            else:
                t.rewrite_position_deletes(spark)
            got = {r_["id"] for r_ in t.read(spark).select("id").collect()}
            assert got == live, f"step {step}"
        t.rewrite_position_deletes(spark)
        assert t.count_rows() == len(live)


class TestDvManifestMerge:
    def test_commit_time_merge_mixes_dv_and_plain_manifests(self, spark, tmp_path):
        cat = FsCatalog(str(tmp_path / "wh"))
        t = cat.create_table(
            "otel",
            "ev",
            _df(spark).schema,
            partition_source="ts",
            properties={"commit.manifest.min-count-to-merge": "2"},
        )
        t.append_dataframe(_df(spark))
        t.delete_where(spark, "id = 0", mode="merge-on-read")  # parquet deletes
        t.delete_where(spark, "id = 1", mode="deletion-vectors")  # DV
        t.append_dataframe(_df(spark, n=45, tag="b").filter("id >= 40"))
        # the aggressive merge setting has folded carried manifests —
        # including a DV + plain delete mix — and reads stay exact
        got = t.read(spark)
        assert got.count() == 43  # 40 - 2 deleted + 5 appended
        assert {r["id"] for r in got.select("id").collect()} == set(range(2, 45))
        _, _, manifests = read_ocf(t.current_snapshot()["manifest-list"])
        assert any(m["existing_files_count"] > 0 for m in manifests)

    def test_rewrite_manifests_preserves_dv_entries(self, spark, tmp_path):
        cat = FsCatalog(str(tmp_path / "wh"))
        t = cat.create_table(
            "otel",
            "ev",
            _df(spark).schema,
            partition_source="ts",
            properties={"commit.manifest-merge.enabled": "false"},
        )
        t.append_dataframe(_df(spark))
        t.delete_where(spark, "id < 3", mode="deletion-vectors")
        t.delete_where(spark, "id = 5", mode="merge-on-read")
        rid = t.rewrite_manifests(min_count=2)
        assert rid is not None
        got = t.read(spark)
        assert got.count() == 36
        deletes = t.plan_scan()[1]
        dv = [f for f in deletes if f.is_deletion_vector]
        assert dv and all(f.content_offset is not None for f in dv)


class TestDvMetadataTables:
    def test_files_view_shows_one_row_per_vector(self, spark, fs_table):
        t = fs_table
        t.delete_where(spark, "id >= 20", mode="deletion-vectors")
        files = t.metadata_table(spark, "files")
        dv_rows = files.filter("referenced_data_file is not null").collect()
        assert dv_rows  # one row PER referenced file, not per puffin path
        assert all(r["content"] == 1 for r in dv_rows)
        assert all(r["file_format"] == "PUFFIN" for r in dv_rows)
        assert all(r["content_size_in_bytes"] > 0 for r in dv_rows)
        assert len({r["referenced_data_file"] for r in dv_rows}) == len(dv_rows)
        assert files.filter("content = 0").count() > 0


class TestDvDataSource:
    def test_iceberg_fs_source_masks_dv_rows(self, spark, tmp_path, fs_table):
        """A registered table view applies deletion vectors and
        position deletes (mixed forms) through the library scan."""
        from opentelemetry_iceberg_exporter_spark.sources.iceberg_source import (
            register_table_views,
        )

        t = fs_table
        t.delete_where(spark, "id >= 30", mode="deletion-vectors")
        t.delete_where(spark, "id < 2", mode="merge-on-read")  # mixed forms
        register_table_views(spark, str(tmp_path / "wh"))
        got = spark.table("otel_events")
        assert got.count() == 28
        assert got.agg(F.min("id")).first()[0] == 2
        assert got.agg(F.max("id")).first()[0] == 29


class TestDvCli:
    def test_delete_cli_dv_mode(self, spark, tmp_path, capsys):
        import json

        from opentelemetry_iceberg_exporter_spark.__main__ import main

        wh = str(tmp_path / "wh")
        cat = FsCatalog(wh)
        t = cat.create_table(
            "otel", "events", _df(spark).schema, partition_source="ts"
        )
        t.append_dataframe(_df(spark))
        rc = main(
            [
                "delete",
                "--warehouse", wh,
                "--table", "events",
                "--where", "id >= 35",
                "--mode", "deletion-vectors",
            ]
        )
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rc == 0
        assert out["deleted_rows"] == 5 and out["mode"] == "deletion-vectors"
        assert t.read(spark).count() == 35


class TestDvOverRest:
    def test_rest_dv_delete_parity(self, spark, tmp_path):
        from opentelemetry_iceberg_exporter_spark.sinks.iceberg_rest import (
            RestCatalogClient,
        )
        from rest_stub import make_server

        warehouse = str(tmp_path / "warehouse")
        os.makedirs(warehouse)
        server, state, uri = make_server(warehouse)
        try:
            client = RestCatalogClient(uri, warehouse=warehouse)
            client.ensure_namespace("otel")
            t = client.ensure_table(
                "otel", "ev", _df(spark).schema, partition_source="ts"
            )
            t.append_dataframe(_df(spark))
            sid, n = t.delete_where(spark, "id >= 30", mode="deletion-vectors")
            assert n == 10
            assert t.read(spark).count() == 30
            snap = next(
                s for s in t.snapshots() if s["snapshot-id"] == sid
            )
            assert snap["summary"]["added-dvs"] >= "1"
            folded = t.rewrite_position_deletes(spark)
            assert folded is not None
            assert t.read(spark).count() == 30
        finally:
            server.shutdown()
