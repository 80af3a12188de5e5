"""REST vended storage credentials (spec LoadTableResult `config` +
`storage-credentials`, the optional GET .../credentials refresh route)
— the catalog half of running an engine fleet against a
policy-enforcing catalog: short-lived, path-scoped credentials arrive
with every table load, must be selected by longest prefix, applied as
container-scoped Hadoop conf, and REFRESHED when expired (endpoint
first, table re-load fallback). The stub server's vend surface is
independent state the client can only reach over the wire."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from opentelemetry_iceberg_exporter_spark.sinks.iceberg_rest import (
    RestCatalogClient,
    RestError,
)
from opentelemetry_iceberg_exporter_spark.sinks.vended_credentials import (
    StorageCredential,
    VendedCredentialSet,
    credential_for_path,
    parse_storage_credentials,
    scoped_hadoop_conf,
)

from rest_stub import make_server

SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("v", StringType(), True),
    ]
)

NOW_MS = int(time.time() * 1000)
PAST = str(NOW_MS - 60_000)
FUTURE = str(NOW_MS + 3_600_000)


class TestParsingAndSelection:
    def test_absent_and_empty_lists(self):
        assert parse_storage_credentials({}) == []
        assert parse_storage_credentials({"storage-credentials": []}) == []

    def test_prefixless_entry_refused(self):
        with pytest.raises(ValueError, match="without a prefix"):
            parse_storage_credentials(
                {"storage-credentials": [{"config": {"k": "v"}}]}
            )

    def test_longest_prefix_wins(self):
        broad = StorageCredential("s3://bkt/", {"s3.access-key-id": "broad"})
        narrow = StorageCredential(
            "s3://bkt/wh/table1", {"s3.access-key-id": "narrow"}
        )
        creds = [broad, narrow]
        assert credential_for_path(creds, "s3://bkt/wh/table1/data/f.parquet") is narrow
        assert credential_for_path(creds, "s3://bkt/other/f.parquet") is broad
        assert credential_for_path(creds, "gs://elsewhere/f") is None

    def test_expiry_rules(self):
        no_exp = StorageCredential("s3://b/", {"s3.access-key-id": "k"})
        assert not no_exp.expired(NOW_MS)
        past = StorageCredential(
            "s3://b/", {"s3.session-token-expires-at-ms": PAST}
        )
        assert past.expired(NOW_MS)
        fut = StorageCredential(
            "s3://b/", {"s3.session-token-expires-at-ms": FUTURE}
        )
        assert not fut.expired(NOW_MS)
        garbled = StorageCredential(
            "s3://b/", {"s3.session-token-expires-at-ms": "soon"}
        )
        assert garbled.expired(NOW_MS)  # unparseable = expired, never reused

    def test_scoped_conf_s3_per_bucket(self):
        c = StorageCredential(
            "s3://bkt/wh",
            {
                "s3.access-key-id": "AK",
                "s3.secret-access-key": "SK",
                "s3.session-token": "ST",
                "s3.endpoint": "https://s3.example",
                "unrelated": "x",
            },
        )
        conf = scoped_hadoop_conf(c)
        assert conf == {
            "fs.s3a.bucket.bkt.access.key": "AK",
            "fs.s3a.bucket.bkt.secret.key": "SK",
            "fs.s3a.bucket.bkt.session.token": "ST",
            "fs.s3a.bucket.bkt.endpoint": "https://s3.example",
        }

    def test_scoped_conf_local_is_empty(self):
        assert scoped_hadoop_conf(StorageCredential("/wh/t", {"k": "v"})) == {}
        assert (
            scoped_hadoop_conf(StorageCredential("file:///wh/t", {"k": "v"}))
            == {}
        )

    def test_set_captures_table_config(self):
        vs = VendedCredentialSet.from_load_result(
            {
                "storage-credentials": [
                    {"prefix": "s3://b/", "config": {"s3.access-key-id": "k"}}
                ],
                "config": {"io-impl": "rest-vended"},
            }
        )
        assert vs.table_config == {"io-impl": "rest-vended"}
        assert not vs.needs_refresh("s3://b/x", NOW_MS)
        assert vs.needs_refresh("s3://b/x", NOW_MS) is False
        assert vs.conf_for_path("/local/path") == {}


@pytest.fixture()
def catalog(tmp_path):
    warehouse = str(tmp_path / "warehouse")
    os.makedirs(warehouse)
    server, state, uri = make_server(warehouse)
    client = RestCatalogClient(uri, warehouse=warehouse)
    yield client, state
    server.shutdown()


def _table(client, spark, state, creds, ns="otel", name="t"):
    client.ensure_namespace(ns)
    t = client.ensure_table(ns, name, SCHEMA)
    t.append_dataframe(spark.range(20).selectExpr("id", "cast(id as string) v"))
    state.storage_credentials[(ns, name)] = creds
    return t


class TestStubRoundtrips:
    def test_read_captures_vend_and_stays_correct(self, spark, catalog):
        client, state = catalog
        creds = [
            {
                "prefix": "s3://bkt/wh",
                "config": {
                    "s3.access-key-id": "AK1",
                    "s3.session-token-expires-at-ms": FUTURE,
                },
            }
        ]
        t = _table(client, spark, state, creds)
        assert t.read(spark).count() == 20  # local files: conf no-op
        assert t._vended is not None
        assert t._vended.creds[0].config["s3.access-key-id"] == "AK1"

    def test_apply_sets_scoped_conf_on_session(self, spark, catalog):
        client, state = catalog
        creds = [
            {
                "prefix": "s3://vendbkt/wh",
                "config": {
                    "s3.access-key-id": "AK-apply",
                    "s3.secret-access-key": "SK-apply",
                },
            }
        ]
        t = _table(client, spark, state, creds, name="t_apply")
        t.metadata()  # captures the vend
        applied = t.apply_storage_credentials(
            spark, "s3://vendbkt/wh/t_apply/data/f.parquet"
        )
        assert applied["fs.s3a.bucket.vendbkt.access.key"] == "AK-apply"
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        assert hconf.get("fs.s3a.bucket.vendbkt.access.key") == "AK-apply"
        assert hconf.get("fs.s3a.bucket.vendbkt.secret.key") == "SK-apply"

    def test_expired_vend_refreshes_via_endpoint(self, spark, catalog):
        client, state = catalog
        key = ("otel", "t_ref")
        expired = [
            {
                "prefix": "s3://bkt/wh",
                "config": {
                    "s3.access-key-id": "STALE",
                    "s3.session-token-expires-at-ms": PAST,
                },
            }
        ]
        t = _table(client, spark, state, expired, name="t_ref")
        t.metadata()  # vend captured (expired)
        # the server has rotated the credential since the load
        state.storage_credentials[key] = [
            {
                "prefix": "s3://bkt/wh",
                "config": {
                    "s3.access-key-id": "FRESH",
                    "s3.session-token-expires-at-ms": FUTURE,
                },
            }
        ]
        applied = t.apply_storage_credentials(spark, "s3://bkt/wh/t_ref/d.parquet")
        assert applied["fs.s3a.bucket.bkt.access.key"] == "FRESH"
        assert state.credential_fetches == 1  # the dedicated route

    def test_refresh_falls_back_to_table_reload(self, spark, catalog):
        client, state = catalog
        key = ("otel", "t_fb")
        expired = [
            {
                "prefix": "s3://bkt/wh",
                "config": {
                    "s3.access-key-id": "STALE",
                    "s3.session-token-expires-at-ms": PAST,
                },
            }
        ]
        t = _table(client, spark, state, expired, name="t_fb")
        t.metadata()
        state.credentials_endpoint = False  # spec: the route is optional
        state.storage_credentials[key] = [
            {
                "prefix": "s3://bkt/wh",
                "config": {
                    "s3.access-key-id": "FRESH2",
                    "s3.session-token-expires-at-ms": FUTURE,
                },
            }
        ]
        before = len(state.requests)
        applied = t.apply_storage_credentials(spark, "s3://bkt/wh/t_fb/d.parquet")
        assert applied["fs.s3a.bucket.bkt.access.key"] == "FRESH2"
        assert state.credential_fetches == 0
        # fallback = one /credentials 404 probe + one table re-load
        paths = [p for m, p in state.requests[before:] if m == "GET"]
        assert any(p.endswith("/credentials") for p in paths)
        assert any(p.endswith("/tables/t_fb") for p in paths)

    def test_server_revending_expired_raises(self, spark, catalog):
        client, state = catalog
        expired = [
            {
                "prefix": "s3://bkt/wh",
                "config": {
                    "s3.access-key-id": "STALE",
                    "s3.session-token-expires-at-ms": PAST,
                },
            }
        ]
        t = _table(client, spark, state, expired, name="t_bad")
        t.metadata()
        # server keeps vending the same expired credential
        with pytest.raises(RestError, match="still expired"):
            t.apply_storage_credentials(spark, "s3://bkt/wh/t_bad/d.parquet")

    def test_append_path_refreshes_expired_vend(self, spark, catalog):
        """The WRITE path threads credentials too: an expired vend
        covering the table location forces a refresh before the
        partitioned write plans."""
        client, state = catalog
        key = ("otel", "t_wr")
        t = _table(client, spark, state, [], name="t_wr")
        location = t.metadata()["location"]
        # table loads keep vending a credential that is already expired
        # (short-TTL vend + clock skew); the refresh ENDPOINT serves the
        # rotated one — so the write path must hit it
        state.storage_credentials[key] = [
            {"prefix": location, "config": {"expires-at-ms": PAST}}
        ]
        state.endpoint_credentials[key] = [
            {"prefix": location, "config": {"expires-at-ms": FUTURE}}
        ]
        before = state.credential_fetches
        t.append_dataframe(
            spark.range(5).selectExpr("id + 100 as id", "cast(id as string) v")
        )
        assert state.credential_fetches == before + 1
        assert t.read(spark).count() == 25

    def test_no_vend_is_zero_overhead(self, spark, catalog):
        client, state = catalog
        t = _table(client, spark, state, [], name="t_plain")
        del state.storage_credentials[("otel", "t_plain")]
        t.metadata()
        assert t._vended is None
        assert t.apply_storage_credentials(spark, "s3://any/p") == {}

class TestMultiVend:
    def test_all_unexpired_vends_applied(self, spark, catalog):
        """Multi-vend tables (write.data.path / shared data under a
        second prefix) get EVERY unexpired vend's scoped conf in one
        apply — previously only the longest-prefix vend covering the
        table location applied, so files under the other prefix read
        with ambient identity (r10 advisory)."""
        client, state = catalog
        creds = [
            {
                "prefix": "s3://mainbkt/wh",
                "config": {"s3.access-key-id": "AK-main"},
            },
            {
                "prefix": "s3://sharedbkt/data",
                "config": {"s3.access-key-id": "AK-shared"},
            },
        ]
        t = _table(client, spark, state, creds, name="t_multi")
        t.metadata()
        applied = t.apply_storage_credentials(
            spark, "s3://mainbkt/wh/t_multi/data/f.parquet"
        )
        # BOTH buckets' scoped conf applied — neither clobbers the other
        assert applied["fs.s3a.bucket.mainbkt.access.key"] == "AK-main"
        assert applied["fs.s3a.bucket.sharedbkt.access.key"] == "AK-shared"
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        assert hconf.get("fs.s3a.bucket.sharedbkt.access.key") == "AK-shared"

    def test_same_bucket_longest_prefix_precedence(self, spark, catalog):
        """Two vends scoping the SAME bucket: the more specific
        (longer) prefix wins per key — the spec's scoping rule survives
        the merged apply."""
        client, state = catalog
        creds = [
            {
                "prefix": "s3://onebkt/",
                "config": {"s3.access-key-id": "AK-broad"},
            },
            {
                "prefix": "s3://onebkt/wh/t_same",
                "config": {"s3.access-key-id": "AK-narrow"},
            },
        ]
        t = _table(client, spark, state, creds, name="t_same")
        t.metadata()
        applied = t.apply_storage_credentials(spark, "s3://onebkt/wh/t_same/d.parquet")
        assert applied["fs.s3a.bucket.onebkt.access.key"] == "AK-narrow"

    def test_expired_secondary_vend_triggers_refresh(self, spark, catalog):
        """An expired NON-target vend still forces a refresh (the
        whole set re-vends); the refreshed secondary applies."""
        client, state = catalog
        key = ("otel", "t_sec")
        creds = [
            {
                "prefix": "s3://mainbkt/wh",
                "config": {
                    "s3.access-key-id": "AK-main",
                    "s3.session-token-expires-at-ms": FUTURE,
                },
            },
            {
                "prefix": "s3://sharedbkt/data",
                "config": {
                    "s3.access-key-id": "AK-stale",
                    "s3.session-token-expires-at-ms": PAST,
                },
            },
        ]
        t = _table(client, spark, state, creds, name="t_sec")
        t.metadata()
        state.storage_credentials[key] = [
            creds[0],
            {
                "prefix": "s3://sharedbkt/data",
                "config": {
                    "s3.access-key-id": "AK-rotated",
                    "s3.session-token-expires-at-ms": FUTURE,
                },
            },
        ]
        applied = t.apply_storage_credentials(
            spark, "s3://mainbkt/wh/t_sec/d.parquet"
        )
        assert applied["fs.s3a.bucket.sharedbkt.access.key"] == "AK-rotated"
        assert applied["fs.s3a.bucket.mainbkt.access.key"] == "AK-main"


class TestRecoveryRegistration:
    def test_add_files_recovery_applies_vended_conf(self, spark, catalog):
        """r10 verdict ask #7: orphan re-registration through the
        recovery reconciler against a VENDING catalog threads the
        table's scoped credentials into the session before the
        add_files commit — registration runs under the vend, not
        ambient identity."""
        import shutil

        from opentelemetry_iceberg_exporter_spark.recovery.rest_adapter import (
            recover_rest_warehouse,
        )

        client, state = catalog
        ns = "otel"
        client.ensure_namespace(ns)
        t = client.ensure_table(ns, "ev", SCHEMA, partition_source=None)
        t.append_dataframe(
            spark.range(10).selectExpr("id", "cast(id as string) v")
        )
        state.storage_credentials[(ns, "ev")] = [
            {
                "prefix": "s3://recbkt/wh",
                "config": {
                    "s3.access-key-id": "AK-recovery",
                    "s3.session-token-expires-at-ms": FUTURE,
                },
            }
        ]
        # manufacture an orphan: copy a registered data file to a new
        # name the manifests don't know
        files = t.all_files()
        orphan = files[0].rsplit("/", 1)[0] + "/orphan-copy.parquet"
        shutil.copyfile(files[0], orphan)
        res = recover_rest_warehouse(
            spark, client, ns, ["ev"], client.warehouse
        )
        assert res.recovered >= 1
        assert orphan in t.all_files()
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        assert hconf.get("fs.s3a.bucket.recbkt.access.key") == "AK-recovery"


class TestMultiVendTargetPrecedence:
    def test_gs_target_vend_overlays_longer_prefix(self, spark, catalog):
        """Advisor finding (r11): GCS token conf is GLOBAL (no
        per-bucket form), so with two gs vends the conf_for_all merge
        alone would leave the LONGER-prefix vend's token in the
        session even when the access target is covered by the other
        vend. apply_storage_credentials must overlay the target's vend
        last, so the token actually authorized for the target wins."""
        client, state = catalog
        creds = [
            {
                "prefix": "gs://bkt/wh/t_gs/data/deep/nested",
                "config": {
                    "gcs.oauth2.token": "TOK-DEEP",
                    "gcs.oauth2.token-expires-at": FUTURE,
                },
            },
            {
                "prefix": "gs://bkt/wh/t_gs",
                "config": {
                    "gcs.oauth2.token": "TOK-TABLE",
                    "gcs.oauth2.token-expires-at": FUTURE,
                },
            },
        ]
        t = _table(client, spark, state, creds, name="t_gs")
        t.metadata()
        # target under the SHORTER prefix only: its vend must win the
        # global gs token slot despite the longer-prefix vend merging
        # later in ascending-prefix-length order
        applied = t.apply_storage_credentials(
            spark, "gs://bkt/wh/t_gs/metadata/snap.avro"
        )
        assert applied["fs.gs.auth.access.token"] == "TOK-TABLE"
        # and a target under the deep prefix gets the deep token
        applied = t.apply_storage_credentials(
            spark, "gs://bkt/wh/t_gs/data/deep/nested/f.parquet"
        )
        assert applied["fs.gs.auth.access.token"] == "TOK-DEEP"

    def test_index_probe_scan_applies_vend(self, spark, catalog):
        """Advisor finding (r11): read_index_rows must thread the
        vended credentials BEFORE returning the lazy scan — a caller
        acting on the DataFrame without a later append would otherwise
        scan under ambient identity."""
        from opentelemetry_iceberg_exporter_spark.operators.index_probe import (
            read_index_rows,
        )

        client, state = catalog
        creds = [
            {
                "prefix": "s3://probebkt/wh",
                "config": {
                    "s3.access-key-id": "AK-probe",
                    "s3.session-token-expires-at-ms": FUTURE,
                },
            }
        ]
        t = _table(client, spark, state, creds, name="t_probe")
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        hconf.unset("fs.s3a.bucket.probebkt.access.key")
        df, stats = read_index_rows(spark, t, "v", keys=None)
        # conf applied at scan-build time, before any action on df
        assert hconf.get("fs.s3a.bucket.probebkt.access.key") == "AK-probe"
        assert df.count() == 20 and stats.files_read == stats.files_total


SHARED_KEY = "fs.s3a.bucket.shared-bkt.access.key"


class TestSinkWritesUseTheirTablesVend:
    """Every table vends its own key for one shared bucket, so the keys
    share one Hadoop conf slot: each exporter write job must run under
    its own table's key, on every sink write path."""

    @staticmethod
    def _vend_per_table(state, namespace, signals):
        from opentelemetry_iceberg_exporter_spark import schemas as S

        for sig in signals:
            name = S.table_name(sig)
            state.storage_credentials[(namespace, name)] = [
                {
                    "prefix": "s3://shared-bkt/wh",
                    "config": {
                        "s3.access-key-id": "AK-" + name,
                        "s3.secret-access-key": "SK-" + name,
                    },
                }
            ]

    @staticmethod
    def _spy(monkeypatch, hconf, owner, attr, seen, table_of):
        original = getattr(owner, attr)

        def spy(*args, **kwargs):
            start = hconf.get(SHARED_KEY)
            out = original(*args, **kwargs)
            seen.append((table_of(*args), start, hconf.get(SHARED_KEY)))
            return out

        monkeypatch.setattr(owner, attr, spy)

    @staticmethod
    def _table_of_location(df, location, *rest):
        return location.rstrip("/").rsplit("/", 1)[-1]

    @pytest.fixture()
    def rest_config(self, tmp_path, spark):
        from opentelemetry_iceberg_exporter_spark.config import (
            CatalogConfig,
            ExporterConfig,
            StorageConfig,
        )

        warehouse = str(tmp_path / "rwh")
        os.makedirs(warehouse)
        server, state, uri = make_server(warehouse)
        hconf = spark.sparkContext._jsc.hadoopConfiguration()

        def config(**catalog):
            return ExporterConfig(
                storage=StorageConfig(bucket=warehouse),
                catalog=CatalogConfig(
                    catalog_type="rest", uri=uri, warehouse=warehouse, **catalog
                ),
            )

        hconf.set(SHARED_KEY, "AK-stale")  # an earlier write's key
        yield config, state, hconf
        server.shutdown()
        for suffix in ("access.key", "secret.key"):
            hconf.unset("fs.s3a.bucket.shared-bkt." + suffix)

    def test_atomic_batch_writes(self, spark, rest_config, monkeypatch):
        from opentelemetry_iceberg_exporter_spark import schemas as S
        from opentelemetry_iceberg_exporter_spark.sinks import iceberg_fs
        from opentelemetry_iceberg_exporter_spark.streaming import (
            make_batch_processor,
        )

        from test_catalog_sink_commits import METRIC_TABLES
        from test_demux_fanout import _batch, _gauge_sum_histogram

        make_config, state, hconf = rest_config
        config = make_config(atomic_batch=True)
        self._vend_per_table(state, config.catalog.namespace, METRIC_TABLES)
        seen = []
        self._spy(
            monkeypatch, hconf, iceberg_fs, "write_partitioned_batch", seen,
            self._table_of_location,
        )
        make_batch_processor("metrics", config)(_batch(spark, _gauge_sum_histogram()), 0)
        assert sorted(t for t, _, _ in seen) == sorted(
            S.table_name(sig) for sig in METRIC_TABLES
        )
        assert all(start == end == "AK-" + t for t, start, end in seen), seen

    def test_upsert_keys_writes(self, spark, rest_config, monkeypatch):
        """The upsert's data files and its equality-delete file are both
        written under the table's key."""
        from opentelemetry_iceberg_exporter_spark import schemas as S
        from opentelemetry_iceberg_exporter_spark.sinks import iceberg_fs
        from opentelemetry_iceberg_exporter_spark.streaming import (
            make_batch_processor,
        )

        from test_otlp_flatten import _span, _traces_payload

        make_config, state, hconf = rest_config
        config = make_config(upsert_keys={S.SIGNAL_TRACES: ["trace_id", "span_id"]})
        self._vend_per_table(
            state, config.catalog.namespace, (S.SIGNAL_TRACES, S.SIGNAL_LOGS)
        )
        seen = []
        self._spy(
            monkeypatch, hconf, iceberg_fs, "write_partitioned_batch", seen,
            self._table_of_location,
        )
        self._spy(
            monkeypatch, hconf, iceberg_fs, "plan_equality_delete", seen,
            lambda spark_, md, *rest: md["location"].rstrip("/").rsplit("/", 1)[-1],
        )
        batch = spark.createDataFrame(
            [(json.dumps(_traces_payload([_span()])),)], "value string"
        )
        make_batch_processor("traces", config)(batch, 0)
        traces = S.table_name(S.SIGNAL_TRACES)
        key = "AK-" + traces
        assert seen == [(traces, key, key), (traces, key, key)]

    @pytest.fixture()
    def dml_tables(self, spark, rest_config):
        """Tables `a` and `b`, each vending its own key for the shared
        bucket and holding two files; the Hadoop conf then holds a stale
        key, as after another table's job."""
        make_config, state, hconf = rest_config
        client = RestCatalogClient(make_config().catalog.uri, warehouse=state.warehouse)
        client.ensure_namespace("dml")
        tables = {}
        for name in ("a", "b"):
            state.storage_credentials[("dml", name)] = [
                {
                    "prefix": "s3://shared-bkt/wh",
                    "config": {
                        "s3.access-key-id": "AK-" + name,
                        "s3.secret-access-key": "SK-" + name,
                    },
                }
            ]
            t = client.ensure_table("dml", name, SCHEMA)
            for lo in (0, 10):
                t.append_dataframe(
                    spark.range(lo, lo + 10).selectExpr("id", "cast(id as string) v")
                )
            tables[name] = t
        hconf.set(SHARED_KEY, "AK-stale")
        return client, tables, hconf

    def _spy_plan(self, monkeypatch, hconf, attr):
        from opentelemetry_iceberg_exporter_spark.sinks import iceberg_fs

        seen = []
        self._spy(
            monkeypatch, hconf, iceberg_fs, attr, seen,
            lambda spark_, md, *rest, **kw: md["location"].rstrip("/").rsplit("/", 1)[-1],
        )
        return seen

    @pytest.mark.parametrize(
        "mode, planner",
        [
            ("copy-on-write", "plan_delete"),
            ("merge-on-read", "plan_position_delete"),
            ("deletion-vectors", "plan_deletion_vectors"),
        ],
    )
    def test_delete_where_writes(self, spark, dml_tables, monkeypatch, mode, planner):
        _, tables, hconf = dml_tables
        if mode == "deletion-vectors":
            tables["a"].upgrade_format_version(3)
        seen = self._spy_plan(monkeypatch, hconf, planner)
        assert tables["a"].delete_where(spark, "id < 3", mode=mode)[1] == 3
        assert seen == [("a", "AK-a", "AK-a")]

    def test_delete_where_equality_writes(self, spark, dml_tables, monkeypatch):
        _, tables, hconf = dml_tables
        seen = self._spy_plan(monkeypatch, hconf, "plan_equality_delete")
        keys = spark.range(2).selectExpr("id")
        assert tables["a"].delete_where_equality(spark, keys, ["id"])[1] == 2
        assert seen == [("a", "AK-a", "AK-a")]

    def test_update_where_writes(self, spark, dml_tables, monkeypatch):
        _, tables, hconf = dml_tables
        seen = self._spy_plan(monkeypatch, hconf, "plan_update")
        assert tables["a"].update_where(spark, "id = 4", {"v": "'x'"})[1] == 1
        assert seen == [("a", "AK-a", "AK-a")]

    def test_merge_rows_writes(self, spark, dml_tables, monkeypatch):
        _, tables, hconf = dml_tables
        seen = self._spy_plan(monkeypatch, hconf, "plan_merge")
        source = spark.range(18, 22).selectExpr("id", "'m' v")
        assert tables["a"].merge_rows(spark, source, ["id"])[1:] == (2, 2)
        assert seen == [("a", "AK-a", "AK-a")]

    def test_rewrite_data_files_writes(self, spark, dml_tables, monkeypatch):
        _, tables, hconf = dml_tables
        seen = self._spy_plan(monkeypatch, hconf, "plan_rewrite")
        assert tables["a"].rewrite_data_files(spark) is not None
        assert seen == [("a", "AK-a", "AK-a")]

    def test_view_registration(self, spark, dml_tables, monkeypatch):
        """Each table's view is planned under that table's key."""
        client, _, hconf = dml_tables
        seen = self._spy_plan(monkeypatch, hconf, "scan_with_deletes")
        assert set(client.register_warehouse_views(spark)) == {"dml_a", "dml_b"}
        assert seen == [("a", "AK-a", "AK-a"), ("b", "AK-b", "AK-b")]
