"""Pure-Python Iceberg REST catalog client — the reference's production
catalog mode, executed without jars.

Reference parity: internal/iceberg/catalog_rest.go —
  :86-126  catalog construction + /v1/config handshake + connection test
  :129-165 EnsureNamespace (load, create, re-load on create race)
  :168-240 EnsureTable (client cache, load-create-load race tolerance)
  :243-303 AppendRecords (load fresh, append atomically with snapshot props)
  :306-367 AppendDataFiles (register existing files in one transaction)
  :370-467 ListDataFiles (ALL snapshots' manifests, deduped)
The reference delegates the wire protocol to iceberg-go's REST client;
this module speaks the same public Iceberg REST Catalog OpenAPI directly
(config / namespaces / tables / CommitTable with requirements+updates).

Division of labor is identical to the fs catalog (`iceberg_fs.py`):
EXECUTORS write Parquet data files and the client writes Avro manifests
to shared storage; the REST server arbitrates ONLY the metadata pointer
swap. A commit POSTs `assert-ref-snapshot-id` (the optimistic-concurrency
requirement) plus `add-snapshot`/`set-snapshot-ref` updates; a 409
CommitFailedException means another writer won, and the client reloads
and retries — appends never logically conflict. Commit payloads are
O(new files), so the protocol is unchanged at 100 TB.

Error classification (X2): HTTP failures raise RestError whose text
embeds the server's error type + message, so `sinks/errors.py`
classify_error applies the same permanent/transient matrix as
errors.go:43-115 (401/403/400 permanent; 409 CommitFailed, 429, 5xx
transient).
"""

from __future__ import annotations

import json
import os
import time
import urllib.error
import urllib.parse
import urllib.request
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .iceberg_fs import (
    CommitConflictError,
    HADOOP_CONF_LOCK,
    DataFile,
    NoSuchTableError,
    RequirementFailedError,
    Table,
    _require_where_alone,
    iceberg_schema,
    partition_fields_for,
    spark_read_schema,
    spark_session_timezone,
    write_partitioned_batch,  # noqa: F401 — the data-plane writer, addressable through either transport module
)


class RestError(RuntimeError):
    """An Iceberg REST catalog error response. str() embeds the server
    error type + message so classify_error's substring matrix applies."""

    def __init__(self, status: int, error_type: str, message: str):
        self.status = status
        self.error_type = error_type
        self.message = message
        super().__init__(f"{error_type or 'HTTP ' + str(status)}: {message} (status {status})")


class RestCommitConflictError(RestError, RequirementFailedError):
    """409 CommitFailedException — a commit requirement failed against
    the server's current state (another writer won); reload the table
    state and retry the commit."""


class RestNoSuchTableError(RestError, NoSuchTableError):
    """404 on a table route: the table does not exist."""


class RestPlanUnsupportedError(RestError):
    """The scan-planning ROUTE itself is not implemented (a
    not-implemented status on the initial plan submit). Distinct from
    every other planning failure so auto-mode fallback only disables
    server planning for servers that genuinely lack it — a 404 for an
    expired plan-id mid-poll, or a dropped table, must surface, not
    silently flip the client to local planning forever."""


class RestCommitStateUnknownError(RestError):
    """A commit request failed AMBIGUOUSLY (lost response / 5xx after
    the server may have applied it) AND the landed-check reload also
    failed — the caller cannot know whether the snapshot committed.
    Mirrors Iceberg's CommitStateUnknownException; errors.go punts on
    this case entirely. Do NOT blindly re-commit on this error: the
    snapshot may be live."""


def _is_missing(err: RestError) -> bool:
    return err.status == 404


def _is_ambiguous(err: RestError) -> bool:
    """Failures where the server MAY have applied the commit before the
    response was lost: transport-level errors (status 0), 5xx, and 2xx
    with an undecodable body (the request was accepted — only the
    response payload is byzantine). 4xx are definite rejections."""
    return err.status == 0 or err.status >= 500 or 200 <= err.status < 300


class RestCatalogClient:
    """Minimal Iceberg REST Catalog API client (stdlib urllib only).

    Speaks: GET /v1/config, GET/POST namespaces, GET/POST tables,
    POST tables/{table} (CommitTable). Bearer-token auth like the
    reference's rest.WithOAuthToken (catalog_rest.go:69-76).
    """

    def __init__(
        self,
        uri: str,
        *,
        warehouse: str = "",
        token: str = "",
        credential: str = "",
        oauth2_server_uri: str = "",
        scope: str = "catalog",
        timeout: float = 30.0,
    ):
        self.uri = uri.rstrip("/")
        self.warehouse = warehouse
        self.token = token
        self.timeout = timeout
        # OAuth2 client-credentials (the spec's /v1/oauth/tokens shape):
        # `credential` is "client_id:client_secret"; the client fetches
        # a bearer token BEFORE the /v1/config handshake, tracks
        # expires_in, refreshes proactively at expiry and reactively on
        # a 401 (once per request — a second 401 is a real denial)
        self._credential = credential
        self._oauth_uri = oauth2_server_uri or (self.uri + "/v1/oauth/tokens")
        self._scope = scope
        self._token_expires_at: float | None = None
        if credential and token:
            raise ValueError(
                "pass either a static bearer `token` or an OAuth2 "
                "`credential`, not both (the static token would mask "
                "the refresh behavior)"
            )
        if credential:
            self._fetch_oauth_token()
        self._table_cache: set[str] = set()  # catalog_rest.go:34-36 tableCache
        # /v1/config handshake: server defaults are overridden by client
        # settings, which are overridden by server overrides (spec order)
        query = {"warehouse": warehouse} if warehouse else None
        cfg = self._request("GET", "/v1/config", query=query)
        merged = dict(cfg.get("defaults", {}))
        merged.update(cfg.get("overrides", {}))
        self.prefix = merged.get("prefix", "")
        if not self.warehouse:
            self.warehouse = merged.get("warehouse", "")
        # ConfigResponse `endpoints` (spec): the capability list this
        # server advertises, as "VERB /v1/{prefix}/..." template
        # strings. None = the server predates the field — assume only
        # the baseline surface (no server-side scan planning).
        eps = cfg.get("endpoints")
        self.endpoints: frozenset[str] | None = (
            frozenset(str(e) for e in eps) if eps is not None else None
        )
        # flipped when a server that ADVERTISES planning answers the
        # plan route with a not-implemented status — remembered so auto
        # mode stops re-probing per read
        self._plan_unsupported = False

    # -- transport ---------------------------------------------------------
    def _fetch_oauth_token(self) -> None:
        """RFC 6749 client_credentials grant against the spec's token
        endpoint (form-encoded request, OAuthTokenResponse body). OAuth
        errors arrive in the RFC shape {"error": "...",
        "error_description": "..."} — distinct from the catalog's error
        envelope — and surface as RestError with the OAuth code."""
        cid, _, secret = self._credential.partition(":")
        form = urllib.parse.urlencode(
            {
                "grant_type": "client_credentials",
                "client_id": cid,
                "client_secret": secret,
                "scope": self._scope,
            }
        ).encode()
        req = urllib.request.Request(self._oauth_uri, data=form, method="POST")
        req.add_header("Content-Type", "application/x-www-form-urlencoded")
        req.add_header("Accept", "application/json")
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                res = json.loads(resp.read())
        except urllib.error.HTTPError as exc:
            raw = exc.read()
            try:
                err = json.loads(raw)
                etype = str(err.get("error", ""))
                msg = str(err.get("error_description", ""))
            except ValueError:
                etype, msg = "", raw.decode(errors="replace")[:200]
            raise RestError(exc.code, etype or "OAuthError", msg) from exc
        except urllib.error.URLError as exc:
            raise RestError(0, "ConnectionError", str(exc.reason)) from exc
        tok = res.get("access_token")
        if not tok:
            raise RestError(
                0, "OAuthError", "token response without access_token"
            )
        self.token = tok
        expires_in = res.get("expires_in")
        # 30s safety margin so a token never expires mid-flight
        self._token_expires_at = (
            time.monotonic() + max(float(expires_in) - 30.0, 1.0)
            if expires_in is not None
            else None
        )

    def _request(
        self,
        method: str,
        path: str,
        body: dict | None = None,
        query: dict | None = None,
        _oauth_retry: bool = False,
    ) -> dict:
        url = self.uri + path
        if query:
            url += "?" + urllib.parse.urlencode(query)
        if (
            self._credential
            and self._token_expires_at is not None
            and time.monotonic() >= self._token_expires_at
        ):
            self._fetch_oauth_token()  # proactive refresh at expiry
        data = json.dumps(body).encode() if body is not None else None
        req = urllib.request.Request(url, data=data, method=method)
        req.add_header("Accept", "application/json")
        if data is not None:
            req.add_header("Content-Type", "application/json")
        if self.token:
            req.add_header("Authorization", f"Bearer {self.token}")
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                raw = resp.read()
                if not raw:
                    return {}
                try:
                    return json.loads(raw)
                except ValueError as exc:
                    # byzantine 2xx: truncated/garbage body from a proxy
                    # or a mid-write crash — surface a classifiable
                    # RestError instead of a bare JSONDecodeError (and
                    # let commit paths resolve it via the landed check)
                    raise RestError(
                        resp.status,
                        "InvalidResponseException",
                        f"undecodable response body: {raw[:120]!r}",
                    ) from exc
        except urllib.error.HTTPError as exc:
            raw = exc.read()
            if exc.code == 401 and self._credential and not _oauth_retry:
                # the server revoked/expired the token early: one
                # refresh + one replay. 401 means the request was
                # REJECTED before processing, so replaying any method
                # is safe; a second 401 is a real denial.
                self._fetch_oauth_token()
                return self._request(
                    method, path, body=body, query=query, _oauth_retry=True
                )
            try:
                err = json.loads(raw)["error"]
                etype, msg = err.get("type", ""), err.get("message", "")
            except Exception:  # noqa: BLE001 — non-JSON error body
                etype, msg = "", raw.decode(errors="replace")[:200]
            cls = (
                RestCommitConflictError
                if exc.code == 409 and "commitfailed" in etype.lower()
                else RestError
            )
            raise cls(exc.code, etype, msg) from exc
        except urllib.error.URLError as exc:
            # connection refused / DNS / timeout — transient by the
            # errors.go matrix; surface the reason text for classify_error
            raise RestError(0, "ConnectionError", str(exc.reason)) from exc

    def _table_path(self, namespace: str, name: str = "") -> str:
        base = f"/v1/{self.prefix}" if self.prefix else "/v1"
        ns = urllib.parse.quote(namespace, safe="")
        path = f"{base}/namespaces/{ns}/tables"
        return f"{path}/{urllib.parse.quote(name, safe='')}" if name else path

    def _ns_path(self, namespace: str = "") -> str:
        base = f"/v1/{self.prefix}" if self.prefix else "/v1"
        if namespace:
            return f"{base}/namespaces/{urllib.parse.quote(namespace, safe='')}"
        return f"{base}/namespaces"

    # -- namespaces (catalog_rest.go:129-165) ------------------------------
    # -- server-side scan planning (spec PlanTableScan family) --------------
    _PLAN_ENDPOINT = "POST /v1/{prefix}/namespaces/{namespace}/tables/{table}/plan"

    def supports_scan_planning(self) -> bool:
        """True when the /v1/config handshake advertised the plan
        endpoint and no later response proved it unimplemented."""
        return (
            not self._plan_unsupported
            and self.endpoints is not None
            and self._PLAN_ENDPOINT in self.endpoints
        )

    def plan_table_scan(self, namespace: str, name: str, body: dict) -> dict:
        """POST .../plan — submit a PlanTableScanRequest; the result is
        either the completed plan or a plan-id to poll."""
        return self._request(
            "POST", self._table_path(namespace, name) + "/plan", body
        )

    def fetch_planning_result(self, namespace: str, name: str, plan_id: str) -> dict:
        path = self._table_path(namespace, name) + "/plan/" + urllib.parse.quote(
            plan_id, safe=""
        )
        return self._request("GET", path)

    def cancel_planning(self, namespace: str, name: str, plan_id: str) -> None:
        path = self._table_path(namespace, name) + "/plan/" + urllib.parse.quote(
            plan_id, safe=""
        )
        self._request("DELETE", path)

    def fetch_scan_tasks(self, namespace: str, name: str, plan_task: str) -> dict:
        """POST .../tasks — exchange one opaque plan-task token for a
        FetchScanTasksResult page."""
        return self._request(
            "POST",
            self._table_path(namespace, name) + "/tasks",
            {"plan-task": plan_task},
        )

    def _list_paged(self, path: str, key: str) -> list:
        """The spec's list-endpoint pagination: follow `next-page-token`
        (opaque — echoed back verbatim as `pageToken`) until the server
        omits it. Servers that don't paginate return everything with no
        token, so the loop runs once. Bounded like plan-task pagination:
        a byzantine token cycle terminates with an error."""
        out: list = []
        token: str | None = None
        seen: set[str] = set()
        for _ in range(10_000):
            res = self._request(
                "GET", path, query={"pageToken": token} if token else None
            )
            out.extend(res.get(key) or [])
            token = res.get("next-page-token")
            if not token:
                return out
            if token in seen:
                # a cyclic token would otherwise stall the listing for
                # its full page budget — fail on the FIRST repeat
                raise RestError(
                    0,
                    "InvalidResponseException",
                    f"list pagination of {path} repeated page token "
                    f"{token!r} — refusing to loop",
                )
            seen.add(token)
        raise RestError(
            0,
            "InvalidResponseException",
            f"list pagination of {path} exceeded 10000 pages — refusing to loop",
        )

    def list_namespaces(self) -> list[str]:
        return [
            ".".join(ns) for ns in self._list_paged(self._ns_path(), "namespaces")
        ]

    def namespace_exists(self, namespace: str) -> bool:
        try:
            self._request("GET", self._ns_path(namespace))
            return True
        except RestError as exc:
            if _is_missing(exc):
                return False
            raise

    def create_namespace(self, namespace: str, properties: dict[str, str] | None = None) -> None:
        props = dict(properties or {})
        # warehouse with a URL scheme → explicit location, else let the
        # server resolve (catalog_rest.go:138-142)
        if self.warehouse and "://" in self.warehouse and "location" not in props:
            props["location"] = f"{self.warehouse}/{namespace}"
        self._request(
            "POST", self._ns_path(), {"namespace": namespace.split("."), "properties": props}
        )

    def ensure_namespace(self, namespace: str) -> None:
        """Load-else-create with create-race tolerance: a concurrent
        creator's AlreadyExists resolves to success iff the namespace
        now loads (catalog_rest.go:144-161)."""
        if self.namespace_exists(namespace):
            return
        try:
            self.create_namespace(namespace)
        except RestError:
            if self.namespace_exists(namespace):
                return
            raise

    # -- tables (catalog_rest.go:168-240) ----------------------------------
    def load_table(self, namespace: str, name: str) -> dict:
        """LoadTableResult: {'metadata-location': ..., 'metadata': {...},
        and optionally the spec's 'config' overrides +
        'storage-credentials' vends (RestTable captures those)."""
        return self._request("GET", self._table_path(namespace, name))

    def table(self, namespace: str, name: str) -> "RestTable":
        """A handle that sends nothing until used (its first metadata()
        is the LoadTable GET)."""
        return RestTable(self, namespace, name)

    _NOT_IMPLEMENTED_STATUSES = frozenset({404, 405, 406, 501})

    def load_credentials(self, namespace: str, name: str):
        """The spec's dedicated credential endpoint
        (`GET .../tables/{table}/credentials`, LoadCredentialsResponse)
        — the cheap refresh path for expired vends. Returns the parsed
        credential list, or None when the server does not implement the
        route (callers re-vend via load_table instead; the spec marks
        the endpoint optional). NoSuchTable stays an error even at 404."""
        from .vended_credentials import parse_storage_credentials

        try:
            res = self._request(
                "GET", self._table_path(namespace, name) + "/credentials"
            )
        except RestError as exc:
            if (
                exc.status in self._NOT_IMPLEMENTED_STATUSES
                and "nosuchtable" not in exc.error_type.lower()
            ):
                return None
            raise
        return parse_storage_credentials(res)

    def table_exists(self, namespace: str, name: str) -> bool:
        try:
            self.load_table(namespace, name)
            return True
        except RestError as exc:
            if _is_missing(exc):
                return False
            raise

    def drop_table(self, namespace: str, name: str, purge: bool = False) -> bool:
        """DropTable (REST spec `DELETE /tables/{table}`): deregister
        the table; with purge the server also reclaims its files
        (`purgeRequested=true`). Returns whether the table existed."""
        self._table_cache.discard(f"{namespace}.{name}")
        try:
            self._request(
                "DELETE",
                self._table_path(namespace, name),
                query={"purgeRequested": "true"} if purge else None,
            )
            return True
        except RestError as exc:
            if _is_missing(exc):
                return False
            raise

    def rename_table(
        self, namespace: str, name: str, new_namespace: str, new_name: str
    ) -> None:
        """RenameTable (REST spec `POST /tables/rename`): the registry
        re-keys the table under its new identifier; the table LOCATION
        (and every absolute path inside its metadata) is untouched —
        which is exactly why rename exists here and not on the
        filesystem catalog."""
        self._table_cache.discard(f"{namespace}.{name}")
        base = f"/v1/{self.prefix}" if self.prefix else "/v1"
        self._request(
            "POST",
            f"{base}/tables/rename",
            {
                "source": {"namespace": namespace.split("."), "name": name},
                "destination": {
                    "namespace": new_namespace.split("."),
                    "name": new_name,
                },
            },
        )

    def list_tables(self, namespace: str) -> list[str]:
        """ListTables (GET .../tables, paginated): the namespace's
        table names."""
        return sorted(
            i["name"]
            for i in self._list_paged(self._table_path(namespace), "identifiers")
        )

    # -- views (Iceberg view spec v1 over the REST /views routes) ----------
    def _view_path(self, namespace: str, name: str = "") -> str:
        base = f"/v1/{self.prefix}" if self.prefix else "/v1"
        ns = urllib.parse.quote(namespace, safe="")
        path = f"{base}/namespaces/{ns}/views"
        return f"{path}/{urllib.parse.quote(name, safe='')}" if name else path

    def list_views(self, namespace: str) -> list[str]:
        return sorted(
            i["name"]
            for i in self._list_paged(self._view_path(namespace), "identifiers")
        )

    def view_exists(self, namespace: str, name: str) -> bool:
        try:
            self._request("GET", self._view_path(namespace, name))
            return True
        except RestError as exc:
            if _is_missing(exc):
                return False
            raise

    def load_view(self, namespace: str, name: str) -> "RestView":
        self._request("GET", self._view_path(namespace, name))  # 404 -> raise
        return RestView(self, namespace, name)

    def register_warehouse_views(self, spark: SparkSession) -> dict[str, str]:
        """Transport-neutral registration hook (see
        FsCatalog.register_warehouse_views): every table AND every
        catalog view as a `<ns>_<name>` temp view (views resolved to a
        fixpoint so views-over-views register too)."""
        from .iceberg_views import register_warehouse

        return register_warehouse(spark, self)[0]

    def create_view(
        self,
        spark: SparkSession,
        namespace: str,
        name: str,
        sql: str,
        properties: dict[str, str] | None = None,
        register_tables: bool = True,
    ) -> "RestView":
        """CreateViewRequest (spec): the client sends the SQL's analyzed
        output schema + the version-1 ViewVersion; the SERVER assigns
        view-uuid, ids, and the metadata location. Table references in
        the SQL resolve as `<ns>_<table>` (the sql CLI convention) —
        registered from this catalog before analysis unless the caller
        already registered (register_tables=False)."""
        from .iceberg_fs import iceberg_schema
        from .iceberg_views import (
            build_view_version,
            infer_view_schema,
            strip_schema_internal,
        )

        self.ensure_namespace(namespace)
        if register_tables:
            self.register_warehouse_views(spark)
        schema = strip_schema_internal(
            {**iceberg_schema(infer_view_schema(spark, sql)), "schema-id": 0}
        )
        body = {
            "name": name,
            "schema": schema,
            "view-version": build_view_version(
                1, 0, sql, namespace, int(time.time() * 1000)
            ),
            "properties": dict(properties or {}),
        }
        self._request("POST", self._view_path(namespace), body)
        return RestView(self, namespace, name)

    def commit_view(self, namespace: str, name: str, body: dict) -> dict:
        """CommitViewRequest: requirements (assert-view-uuid) +
        updates (add-schema / add-view-version / set-current-view-version
        / set-properties...)."""
        return self._request("POST", self._view_path(namespace, name), body)

    def drop_view(self, namespace: str, name: str) -> bool:
        try:
            self._request("DELETE", self._view_path(namespace, name))
            return True
        except RestError as exc:
            if _is_missing(exc):
                return False
            raise

    def rename_view(
        self, namespace: str, name: str, new_namespace: str, new_name: str
    ) -> None:
        base = f"/v1/{self.prefix}" if self.prefix else "/v1"
        self._request(
            "POST",
            f"{base}/views/rename",
            {
                "source": {"namespace": namespace.split("."), "name": name},
                "destination": {
                    "namespace": new_namespace.split("."),
                    "name": new_name,
                },
            },
        )

    def create_table(
        self,
        namespace: str,
        name: str,
        spark_schema: StructType,
        partition_source: str | None = None,
        granularity: str = "hourly",
        properties: dict[str, str] | None = None,
        location: str | None = None,
        partition_by: list[tuple[str, str]] | None = None,
        sort_by: list[str] | None = None,
        iceberg_types: dict[str, str] | None = None,
    ) -> dict:
        schema = iceberg_schema(spark_schema)
        schema.pop("_last_column_id")
        from .iceberg_fs import (
            apply_iceberg_type_overrides,
            require_v3_for_types,
        )

        # v3-only column types (ns timestamps, variant, unknown) require
        # a v3 table; the reserved `format-version` create PROPERTY is
        # the Iceberg convention — the server honors it (real REST
        # catalogs do the same)
        apply_iceberg_type_overrides(schema, iceberg_types)
        require_v3_for_types(
            schema, int((properties or {}).get("format-version", 2))
        )
        if partition_by is not None:
            from .iceberg_fs import spec_fields_from_partition_by

            spec_fields = spec_fields_from_partition_by(schema, partition_by)
        else:
            spec_fields = partition_fields_for(schema, partition_source, granularity)
        body: dict[str, Any] = {
            "name": name,
            "schema": schema,
            "partition-spec": {"spec-id": 0, "fields": spec_fields},
            "properties": dict(properties or {}),
            "stage-create": False,
        }
        if sort_by:
            from .iceberg_fs import sort_fields_from

            # CreateTableRequest.write-order (REST spec)
            body["write-order"] = {
                "order-id": 1,
                "fields": sort_fields_from(schema, sort_by),
            }
        if location:
            body["location"] = location
        return self._request("POST", self._table_path(namespace), body)

    def ensure_table(
        self,
        namespace: str,
        name: str,
        spark_schema: StructType,
        partition_source: str | None = None,
        granularity: str = "hourly",
        properties: dict[str, str] | None = None,
        sort_by: list[str] | None = None,
        partition_by: list[tuple[str, str]] | None = None,
        iceberg_types: dict[str, str] | None = None,
    ) -> "RestTable":
        """Cache → load → create → re-load-on-race, exactly the
        EnsureTable ladder of catalog_rest.go:168-240."""
        cache_key = f"{namespace}.{name}"
        if cache_key in self._table_cache:
            return RestTable(self, namespace, name)
        try:
            self.load_table(namespace, name)
            self._table_cache.add(cache_key)
            return RestTable(self, namespace, name)
        except RestError as exc:
            if not _is_missing(exc):
                raise
        try:
            self.create_table(
                namespace,
                name,
                spark_schema,
                partition_source,
                granularity,
                properties,
                sort_by=sort_by,
                partition_by=partition_by,
                iceberg_types=iceberg_types,
            )
        except RestError:
            # AlreadyExists race: success iff it loads now (go:214-219)
            try:
                self.load_table(namespace, name)
            except RestError as check_exc:
                raise check_exc from None
        self._table_cache.add(cache_key)
        return RestTable(self, namespace, name)

    def commit_table(
        self, namespace: str, name: str, requirements: list[dict], updates: list[dict]
    ) -> dict:
        """CommitTable: the server validates requirements against its
        current state atomically and applies updates — the REST analog
        of the fs catalog's version-file CAS."""
        return self._request(
            "POST",
            self._table_path(namespace, name),
            {
                "identifier": {"namespace": namespace.split("."), "name": name},
                "requirements": requirements,
                "updates": updates,
            },
        )

    def commit_transaction(
        self, table_changes: list[tuple[str, str, list[dict], list[dict]]]
    ) -> None:
        """CommitTransaction (REST spec `/v1/{prefix}/transactions/
        commit`): N per-table (requirements, updates) applied
        ALL-OR-NOTHING by the server — the multi-table atomic commit
        single-table CommitTable cannot express. Any failed requirement
        (or any error) leaves every table untouched."""
        base = f"/v1/{self.prefix}" if self.prefix else "/v1"
        self._request(
            "POST",
            f"{base}/transactions/commit",
            {
                "table-changes": [
                    {
                        "identifier": {"namespace": ns.split("."), "name": name},
                        "requirements": reqs,
                        "updates": upds,
                    }
                    for ns, name, reqs, upds in table_changes
                ]
            },
        )


def commit_append_transaction(
    client: RestCatalogClient,
    parts: list[tuple["RestTable", list, dict | None]],
) -> dict[tuple[str, str], int]:
    """Commit one append snapshot on EACH table in a single atomic
    CommitTransaction — either every table advances or none does (the
    exporter uses this so a crash can never persist a traces batch
    whose logs/metrics halves are missing). `parts` is
    [(table, data files, snapshot properties)]; empty file lists are
    skipped. Returns {(namespace, name): snapshot_id}.

    Same optimistic retry as single-table appends: on 409 every
    manifest tree is rebuilt against the new bases (losers' abandoned
    trees are unreferenced and reclaimed by remove_orphan_files).
    Every attempt's snapshot ids are remembered across the retry loop
    and landed-checked at loop top — the single-table commit loop's
    guard, lifted to transactions: a timed-out attempt whose
    landed-check ran BEFORE the server finished applying it would
    otherwise be invisible to the rebuilt retry, which would then
    append every table's rows a second time."""
    parts = [(t, files, props) for t, files, props in parts if files]
    if not parts:
        return {}
    keys = [(t.namespace, t.name) for t, _, _ in parts]
    if len(set(keys)) != len(keys):
        raise ValueError("a table may appear at most once per transaction")

    by_key = {(t.namespace, t.name): t for t, _, _ in parts}

    def _landed_attempt(
        mds: dict, attempted: list[dict[tuple[str, str], int]]
    ) -> dict[tuple[str, str], int] | None:
        """An earlier attempt found fully applied in `mds` (its
        snapshot id present on EVERY table) is THIS transaction landing
        late — return its sids. A partially-present view gets ONE
        re-read of the absent tables first: the per-table GETs are
        sequential, so an atomic transaction applying BETWEEN them
        looks partial without being so. Only a partial view that
        survives the re-read means the server broke all-or-nothing:
        surface loudly."""
        for past in attempted:
            present = {
                key: any(
                    s["snapshot-id"] == past[key]
                    for s in mds[key].get("snapshots", [])
                )
                for key in keys
            }
            if all(present.values()):
                return past
            if any(present.values()):
                reread_failed = False
                for key in keys:
                    if not present[key]:
                        try:
                            fresh = by_key[key].metadata()
                        except RestError:
                            reread_failed = True
                            continue  # re-check the REST of the tables
                        present[key] = any(
                            s["snapshot-id"] == past[key]
                            for s in fresh.get("snapshots", [])
                        )
                if all(present.values()):
                    return past
                if reread_failed:
                    # a table could not be re-verified: the state is
                    # genuinely UNKNOWN — do not accuse the server of
                    # breaking atomicity on a reload blip
                    raise RestCommitStateUnknownError(
                        500,
                        "CommitStateUnknownException",
                        "transaction may have landed after a lost "
                        "response, but re-verifying the absent tables "
                        "failed — state unknown: "
                        + ", ".join(
                            f"{ns}.{name}={'landed' if ok else 'unverified'}"
                            for (ns, name), ok in present.items()
                        ),
                    )
                raise RestCommitStateUnknownError(
                    500,
                    "CommitStateUnknownException",
                    "transaction landed PARTIALLY after a lost response — "
                    "the server violated all-or-nothing semantics: "
                    + ", ".join(
                        f"{ns}.{name}={'landed' if ok else 'absent'}"
                        for (ns, name), ok in present.items()
                    ),
                )
        return None

    from .iceberg_fs import commit_attempts_for

    attempts = None  # resolved from participants' table properties
    attempt = -1
    attempted: list[dict[tuple[str, str], int]] = []
    while True:
        attempt += 1
        mds = {(t.namespace, t.name): t.metadata() for t, _, _ in parts}
        if attempts is None:
            # the transaction commits all tables atomically: honor the
            # LARGEST per-table retry budget so one contended table's
            # raised commit.retry.num-retries is not defeated here
            attempts = max(commit_attempts_for(md) for md in mds.values())
        # a PRIOR attempt may have landed after its landed-check ran:
        # any attempted snapshot-id set found on reload IS this
        # transaction — return it instead of appending twice
        prior = _landed_attempt(mds, attempted)
        if prior is not None:
            return prior
        changes: list[tuple[str, str, list[dict], list[dict]]] = []
        sids: dict[tuple[str, str], int] = {}
        for t, files, props in parts:
            md = mds[(t.namespace, t.name)]
            reqs, upds, sid = t._build_append(md, files, "append", props or {})
            changes.append((t.namespace, t.name, reqs, upds))
            sids[(t.namespace, t.name)] = sid
        attempted.append(sids)
        try:
            client.commit_transaction(changes)
            return sids
        except RestCommitConflictError:
            # a 409 can be an earlier timed-out attempt of THIS
            # transaction landing late; on the final attempt, check
            # before surfacing (non-final attempts recheck at loop top)
            if attempt + 1 == attempts:
                try:
                    prior = _landed_attempt(
                        {
                            (t.namespace, t.name): t.metadata()
                            for t, _, _ in parts
                        },
                        attempted,
                    )
                except RestError:
                    prior = None
                if prior is not None:
                    return prior
                raise
            time.sleep(0.05 * (attempt + 1))
        except RestError as exc:
            # commit ambiguity over the whole transaction: the server
            # applies table-changes ALL-OR-NOTHING, so landed-checking
            # each table must agree — all present = idempotent success,
            # none = verified absent at reload time (rebuild + retry;
            # the loop-top recheck still covers a later-than-reload
            # landing), a mix means the server broke transaction
            # atomicity (surface loudly)
            if not _is_ambiguous(exc):
                raise
            landed = [
                t._resolve_ambiguous_commit(exc, sids[(t.namespace, t.name)])
                for t, _, _ in parts
            ]
            if all(landed):
                return sids
            if any(landed):
                raise RestCommitStateUnknownError(
                    exc.status,
                    "CommitStateUnknownException",
                    "transaction landed PARTIALLY after a lost response — "
                    "the server violated all-or-nothing semantics: "
                    + ", ".join(
                        f"{t.namespace}.{t.name}={'landed' if ok else 'absent'}"
                        for (t, _, _), ok in zip(parts, landed)
                    ),
                ) from exc
            if attempt + 1 == attempts:
                raise
            time.sleep(0.05 * (attempt + 1))


class RestTable(Table):
    """Table bound to a REST catalog: metadata loads via LoadTable and
    commits POST CommitTable, so the server arbitrates every commit.
    REST-only extras live here: vended storage credentials,
    server-side scan planning, commit-ambiguity resolution, and
    `_build_append` for multi-table transactions
    (commit_append_transaction)."""

    def __init__(self, client: RestCatalogClient, namespace: str, name: str):
        self.client = client
        self.namespace = namespace
        self.name = name
        # latest storage-credential vend from LoadTableResult (None =
        # the server never vended — local fs / engine-managed creds)
        self._vended = None

    # -- transport seam (always fresh: catalog_rest.go:259-263 loads the
    # table before every append so commits see the latest state) --------
    def _load(self) -> dict:
        try:
            result = self.client.load_table(self.namespace, self.name)
        except RestError as exc:
            if _is_missing(exc):
                raise RestNoSuchTableError(exc.status, exc.error_type, exc.message) from exc
            raise
        if result.get("storage-credentials"):
            from .vended_credentials import VendedCredentialSet

            self._vended = VendedCredentialSet.from_load_result(result)
        return result["metadata"]

    def _commit(self, md: dict, requirements: list[dict], updates: list[dict]) -> None:
        """POST CommitTable; the server validates `requirements` against
        its current state atomically (a failure is the 409
        RestCommitConflictError). A failure after which the server MAY
        have applied the commit (lost response, 5xx) is resolved by a
        reload when the commit adds a snapshot: found = success, absent
        = a conflict the commit loop retries. A definite rejection (4xx,
        the 409 included) re-raises as is."""
        try:
            self.client.commit_table(self.namespace, self.name, requirements, updates)
        except RestError as exc:
            sid = next(
                (u["snapshot"]["snapshot-id"] for u in updates if u["action"] == "add-snapshot"),
                None,
            )
            if sid is None:
                raise
            if not self._resolve_ambiguous_commit(exc, sid):
                raise CommitConflictError(
                    f"{exc}; snapshot {sid} verified absent after the lost response"
                ) from exc

    def _resolve_ambiguous_commit(self, exc: RestError, snapshot_id: int) -> bool:
        """The commit-ambiguity case errors.go punts on: the server may
        have applied a commit whose response was lost (5xx / connection
        drop). The snapshot id was generated CLIENT-side
        (write_snapshot_tree), so a reload answers definitively — True
        means the snapshot IS in the table (idempotent success; callers
        must not re-commit), False means it was absent at reload time
        (safe to rebuild and retry). Definite 4xx rejections re-raise
        `exc`; a failed reload raises RestCommitStateUnknownError (the
        only genuinely unresolved outcome)."""
        if not _is_ambiguous(exc):
            raise exc
        try:
            md = self.metadata()
        except RestError as reload_exc:
            raise RestCommitStateUnknownError(
                exc.status,
                "CommitStateUnknownException",
                f"commit response lost ({exc.error_type or exc.status}) and "
                f"the landed-check reload failed ({reload_exc.error_type}); "
                f"snapshot {snapshot_id} may or may not be committed",
            ) from exc
        return any(s["snapshot-id"] == snapshot_id for s in md["snapshots"])

    def _build_append(
        self,
        md: dict,
        files: list[DataFile],
        operation: str,
        extra_summary: dict[str, str],
    ) -> tuple[list[dict], list[dict], int]:
        """One append commit against `md`, built but not sent — the part
        of a multi-table CommitTransaction this table contributes."""
        return self._snapshot_commit(
            md,
            files,
            operation=operation,
            carry_forward=True,
            extra_summary=extra_summary,
        )

    def location(self) -> str:
        return self.metadata()["location"]

    def apply_storage_credentials(
        self, spark: SparkSession, path: str | None = None, now_ms: int | None = None
    ) -> dict[str, str]:
        """Thread the latest storage-credential vend into the engine:
        apply the container-scoped Hadoop conf of EVERY unexpired vend
        in the set (per-bucket s3a keys etc. — multi-vend tables keep
        files under more than one prefix, e.g. write.data.path or
        shared data, and scoping makes applying all of them
        clobber-free), REFRESHING first when any vend expired — via
        the spec credentials endpoint, falling back to a table re-load
        when the server doesn't implement the route — so executor file
        access uses the vended, not ambient, identity. Returns the
        applied conf; {} for local/uncredentialed paths. Called by
        read()/append_dataframe; safe to call directly before custom
        scans. Raises when the server re-vends an already-expired
        credential for `path` (default: the table location; retrying
        would loop); a non-target vend still expired after refresh is
        skipped, not applied."""
        if self._vended is None:
            return {}
        from .vended_credentials import VendedCredentialSet

        target = path if path is not None else self.location()
        if self._vended.needs_refresh(target, now_ms) or self._vended.any_expired(
            now_ms
        ):
            fresh = self.client.load_credentials(self.namespace, self.name)
            if fresh is not None:
                self._vended = VendedCredentialSet(
                    fresh, self._vended.table_config
                )
            else:
                result = self.client.load_table(self.namespace, self.name)
                self._vended = VendedCredentialSet.from_load_result(result)
            if self._vended.needs_refresh(target, now_ms):
                raise RestError(
                    0,
                    "CredentialExpiredException",
                    f"refreshed storage credential for {target} is still "
                    "expired — server vends are not advancing",
                )
        conf = self._vended.conf_for_all(now_ms)
        # overlay the TARGET path's vend last: conf_for_all's merge is
        # clobber-free only for per-bucket-scoped keys (s3a) — GCS
        # tokens are global conf (`fs.gs.auth.access.token`), so with
        # two gs vends the longer-prefix one would otherwise overwrite
        # the vend that actually covers `target` (advisor finding,
        # r11). Longest-prefix-for-the-target always wins this way.
        conf.update(self._vended.conf_for_path(target))
        if conf:
            hconf = spark.sparkContext._jsc.hadoopConfiguration()
            with HADOOP_CONF_LOCK:  # never mid-way through another's write
                for k, v in conf.items():
                    hconf.set(k, v)
        return conf

    # -- server-side scan planning ----------------------------------------
    # statuses that mean "this server does not implement the plan
    # route" (despite advertising it) — auto mode falls back to local
    # planning and remembers; anything else is a real failure
    _PLAN_NOT_IMPLEMENTED = frozenset({404, 405, 406, 501})

    def plan_files_server(
        self,
        snapshot_id: int | None = None,
        filter_json: dict | None = None,
        select: list[str] | None = None,
        poll_interval: float = 0.2,
        deadline: float = 60.0,
        md: dict | None = None,
    ) -> list[tuple["DataFile", list["DataFile"]]]:
        """Server-side scan planning (REST spec PlanTableScan): submit
        the plan, poll `submitted` results until the server completes
        (cancelling server-side work at `deadline`), drain every
        plan-task page, and return [(data file, applicable delete
        files)] scan tasks. Raises RestError on failed/cancelled plans
        and on byzantine results (unknown status, runaway pagination).
        `md` lets a caller that already loaded table metadata skip the
        re-fetch (and pins the plan to THAT metadata's snapshot instead
        of a newer commit's — read() passes it).
        """
        from .rest_scan import MAX_PLAN_TASK_FETCHES, parse_scan_tasks

        if md is None:
            md = self.metadata()
        sid = md["current-snapshot-id"] if snapshot_id is None else snapshot_id
        if sid in (-1, None):
            return []
        body: dict[str, Any] = {"snapshot-id": sid, "case-sensitive": True}
        if filter_json is not None:
            body["filter"] = filter_json
        if select is not None:
            body["select"] = list(select)
        try:
            res = self.client.plan_table_scan(self.namespace, self.name, body)
        except RestError as exc:
            # only the INITIAL submit can prove the route unimplemented;
            # NoSuchTableException is a real error even at 404
            if (
                exc.status in self._PLAN_NOT_IMPLEMENTED
                and "nosuchtable" not in exc.error_type.lower()
            ):
                raise RestPlanUnsupportedError(
                    exc.status, exc.error_type, exc.message
                ) from exc
            raise
        plan_id = res.get("plan-id")
        t0 = time.monotonic()
        while res.get("status") == "submitted":
            plan_id = res.get("plan-id", plan_id)
            if plan_id is None:
                raise RestError(
                    0, "InvalidResponseException", "submitted plan without plan-id"
                )
            if time.monotonic() - t0 > deadline:
                try:
                    self.client.cancel_planning(self.namespace, self.name, plan_id)
                except RestError:
                    pass  # best-effort: the timeout is the error to surface
                raise RestError(
                    0,
                    "PlanningTimeoutException",
                    f"scan planning exceeded {deadline}s (plan {plan_id} cancelled)",
                )
            time.sleep(poll_interval)
            res = self.client.fetch_planning_result(
                self.namespace, self.name, plan_id
            )
        status = res.get("status")
        if status in ("failed", "cancelled"):
            err = res.get("error") or {}
            raise RestError(
                0,
                err.get("type", "PlanFailedException"),
                err.get("message", f"server-side scan planning {status}"),
            )
        if status != "completed":
            raise RestError(
                0, "InvalidResponseException", f"unknown plan status {status!r}"
            )
        tasks, pending = parse_scan_tasks(res, md)
        fetched = 0
        while pending:
            token = pending.pop()
            fetched += 1
            if fetched > MAX_PLAN_TASK_FETCHES:
                raise RestError(
                    0,
                    "InvalidResponseException",
                    "plan-task pagination exceeded "
                    f"{MAX_PLAN_TASK_FETCHES} fetches — refusing to loop",
                )
            page = self.client.fetch_scan_tasks(self.namespace, self.name, token)
            page_tasks, more = parse_scan_tasks(page, md)
            tasks.extend(page_tasks)
            pending.extend(more)
        return tasks

    def read(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        partition_range: tuple[int, int] | None = None,
        column_range: tuple[str, Any, Any] | None = None,
        source_predicate: tuple[str, Any] | None = None,
        source_range: tuple[str, Any, Any] | None = None,
        where: str | None = None,
        with_lineage: bool = False,
        server_planning: bool | None = None,
    ) -> DataFrame:
        """Table.read, optionally planned on the catalog server.

        `server_planning`: None (default) = plan on the SERVER when the
        /v1/config handshake advertised the spec's PlanTableScan
        endpoints (falling back to local planning on not-implemented
        answers, and always for `with_lineage` — the spec's ContentFile
        JSON carries no data sequence number, so _last_updated cannot
        be reconstructed from a server plan); True = require it
        (ValueError on lineage reads, RestError when unsupported);
        False = always plan locally. Either way the rows are identical:
        the server prunes by manifest metadata, the client applies the
        residual row filter — and on `where` predicates the client
        still runs its footer pruning pass (shredded-variant stats,
        bloom probes) over the returned candidates, so server planning
        never widens the scan."""
        md = self.metadata()
        self.apply_storage_credentials(spark, md["location"])
        sid = md["current-snapshot-id"] if snapshot_id is None else snapshot_id
        if sid in (-1, None):
            return spark.createDataFrame(spark.sparkContext.emptyRDD(), spark_read_schema(md))
        _require_where_alone(where, partition_range, column_range, source_predicate, source_range)
        if server_planning and with_lineage:
            raise ValueError(
                "with_lineage reads cannot use server-side planning: the "
                "REST spec's ContentFile JSON has first-row-id but no data "
                "sequence number, so _last_updated_sequence_number cannot "
                "be reconstructed — use server_planning=None/False"
            )
        use_server = (
            server_planning
            if server_planning is not None
            else self.client.supports_scan_planning() and not with_lineage
        )
        if use_server and not with_lineage:
            df = self._read_server_planned(
                spark,
                md,
                sid,
                partition_range,
                column_range,
                source_predicate,
                source_range,
                where,
                required=server_planning is True,
            )
            if df is not None:
                return df
        return self._read_local(
            spark,
            md,
            snapshot_id,
            partition_range,
            column_range,
            source_predicate,
            source_range,
            where,
            with_lineage,
        )

    def _read_server_planned(
        self,
        spark: SparkSession,
        md: dict,
        sid: int,
        partition_range,
        column_range,
        source_predicate,
        source_range,
        where: str | None,
        required: bool,
    ) -> DataFrame | None:
        """The server-planning read path: serialize the pruning surface
        to the spec's expression JSON, plan on the catalog, footer-prune
        the returned candidates (variant stats / bloom probes — the
        server only sees manifests), and execute the scan tasks. Returns
        None when a non-required attempt hits a not-implemented answer —
        read() then falls back to local planning (and the client
        remembers, so the probe is paid once per process)."""
        from .iceberg_fs import extract_prune_ranges, predicate_footer_prune
        from .rest_scan import scan_filter_json, scan_planned_tasks

        if where is not None:
            ranges = extract_prune_ranges(where, md, spark_session_timezone(spark))
            filter_json = scan_filter_json(md, **ranges)
        else:
            filter_json = scan_filter_json(
                md, partition_range, column_range, source_predicate, source_range
            )
        try:
            tasks = self.plan_files_server(sid, filter_json, md=md)
        except RestPlanUnsupportedError:
            if not required:
                self.client._plan_unsupported = True
                return None
            raise
        if where is not None and tasks:
            kept, _ = predicate_footer_prune(
                md, [df for df, _ in tasks], where, spark=spark
            )
            kept_paths = {f.file_path for f in kept}
            tasks = [(df, refs) for df, refs in tasks if df.file_path in kept_paths]
        df = scan_planned_tasks(spark, md, tasks)
        return df.filter(where) if where is not None else df


class RestView:
    """A catalog VIEW over REST (view spec v1): load/replace/read via
    the spec's /views routes. Replace is an optimistic commit — the
    assert-view-uuid requirement pins the object identity and the
    server linearizes version assignment, so racing replacers both
    land (distinct version-ids) unless the view was dropped/recreated
    under them."""

    def __init__(self, client: RestCatalogClient, namespace: str, name: str):
        self.client = client
        self.namespace = namespace
        self.name = name

    def metadata(self) -> dict:
        res = self.client._request(
            "GET", self.client._view_path(self.namespace, self.name)
        )
        return res["metadata"]

    def versions(self) -> list[dict]:
        return self.metadata()["versions"]

    def replace(
        self, spark: SparkSession, sql: str, register_tables: bool = True
    ) -> int:
        """Spec REPLACE as one CommitViewRequest: add-schema +
        add-view-version (schema-id -1 = the schema just added) +
        set-current-view-version (-1 = the version just added)."""
        from .iceberg_fs import iceberg_schema
        from .iceberg_views import (
            build_view_version,
            infer_view_schema,
            strip_schema_internal,
        )

        if register_tables:
            self.client.register_warehouse_views(spark)
        md = self.metadata()
        schema = strip_schema_internal(
            {**iceberg_schema(infer_view_schema(spark, sql)), "schema-id": -1}
        )
        version = build_view_version(
            -1, -1, sql, self.namespace, int(time.time() * 1000), "replace"
        )
        res = self.client.commit_view(
            self.namespace,
            self.name,
            {
                "requirements": [
                    {"type": "assert-view-uuid", "uuid": md["view-uuid"]}
                ],
                "updates": [
                    {"action": "add-schema", "schema": schema},
                    {"action": "add-view-version", "view-version": version},
                    {"action": "set-current-view-version", "view-version-id": -1},
                ],
            },
        )
        return res["metadata"]["current-version-id"]

    def read(self, spark: SparkSession, version_id: int | None = None) -> DataFrame:
        from .iceberg_views import execute_view

        self.client.register_warehouse_views(spark)
        return execute_view(spark, self.metadata(), version_id)
