"""Pure-Python Iceberg v2 filesystem catalog — executes C1/C2/K3/K4/R4.

The engine needs no Iceberg Spark runtime: this module implements the
Iceberg **table format v2 metadata layer** itself (table-metadata JSON,
Avro manifests, Avro manifest lists, hadoop-catalog `version-hint.text`
commit protocol), so the catalog semantics the reference is built
around run end to end on plain Spark:

* EnsureNamespace / EnsureTable  (catalog_rest.go:129-165, :168-240)
* atomic snapshot append with snapshot properties (writer.go:256-297,
  catalog_rest.go:243-303)
* add_files: register existing Hive-layout Parquet without copying
  (catalog_rest.go:306-367)
* hidden time partitioning via hours/days/months transforms
  (catalog_rest.go:494-542), used for manifest-level partition pruning
* snapshot isolation + time travel (read any committed snapshot)

Division of labor matches both Iceberg and the reference: EXECUTORS
write the Parquet data files (Spark job), the DRIVER commits pure
metadata (a few KB per snapshot). Commit cost is O(new files), never
O(table), so the protocol is identical at 100 TB — that is the entire
point of Iceberg's metadata tree.

`Table` holds every table operation once for both catalog transports:
`FsTable` (this module's version-hint CAS) and `RestTable`
(iceberg_rest.py, CommitTable) only load metadata and commit updates.

`FsCatalog` and `RestCatalogClient` share one ensure surface
(`ensure_namespace` / `ensure_table`), which the exporter sink
(`iceberg_sink.py`) and the catalog-backed operators call on either
transport. The byte format follows the public Iceberg spec
(format-version 2); conformance is pinned byte-for-byte against
independently spec-encoded golden fixtures (tests/golden/make_golden.py
imports nothing from this package) in tests/test_golden_format.py, plus
round-trip tests.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import struct
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

try:  # Spark 4: the engine representation of Iceberg v3 `variant`
    from pyspark.sql.types import VariantType
except ImportError:  # pragma: no cover - Spark < 4
    VariantType = None

from .avro_ocf import read_ocf, write_ocf
from .transforms import (
    bucket_column,
    bucket_value,
    parse_transform,
    transform_result_type,
    truncate_column,
    truncate_value,
)

# manifest-entry status (spec: 0=existing, 1=added, 2=deleted)
STATUS_EXISTING = 0
STATUS_ADDED = 1
STATUS_DELETED = 2

# commit-time manifest merging (Iceberg table properties, same names and
# defaults as the spec'd `commit.manifest*` group): a streaming exporter
# commits one snapshot per micro-batch, and every append carries all prior
# manifests forward — without merging, scan planning is O(commits). When a
# carried group exceeds `min-count-to-merge`, small manifests are rewritten
# into ~target-size bins of EXISTING entries (original adding snapshot ids
# and data sequence numbers preserved verbatim).
MANIFEST_MERGE_ENABLED_PROP = "commit.manifest-merge.enabled"
MANIFEST_MIN_COUNT_TO_MERGE_PROP = "commit.manifest.min-count-to-merge"
MANIFEST_TARGET_SIZE_PROP = "commit.manifest.target-size-bytes"
DEFAULT_MANIFEST_MIN_COUNT_TO_MERGE = 100
DEFAULT_MANIFEST_TARGET_SIZE = 8 * 1024 * 1024
# optimistic-commit retry budget (Iceberg's commit.retry.num-retries,
# same default): N retries AFTER the first attempt. Contended streaming
# tables (many writers, commit-time merging making losers slower) can
# raise it per table.
COMMIT_NUM_RETRIES_PROP = "commit.retry.num-retries"
DEFAULT_COMMIT_NUM_RETRIES = 4


def commit_attempts_for(md: dict) -> int:
    """Total commit attempts (first + retries) for a table's metadata."""
    try:
        retries = int(
            md.get("properties", {}).get(
                COMMIT_NUM_RETRIES_PROP, DEFAULT_COMMIT_NUM_RETRIES
            )
        )
    except (TypeError, ValueError):
        retries = DEFAULT_COMMIT_NUM_RETRIES
    return max(1, retries + 1)

_TRANSFORM_FOR_GRANULARITY = {"hourly": "hours", "daily": "days", "monthly": "months"}
_SECONDS_PER = {"hours": 3600, "days": 86400}

# Iceberg v3 nanosecond timestamps. Spark has NO nanosecond temporal
# type (TimestampType is microseconds), so these columns surface as
# LongType nanoseconds-since-epoch on both read and write — full ns
# precision with exact integer arithmetic, no truncation anywhere.
# OTel span/log timestamps ARE nanoseconds; on a v3 table this kills
# the reference's documented lossy ns->us truncation
# (internal/arrow/traces.go:141-142, README.md:430).
NS_TIMESTAMP_TYPES = {"timestamp_ns", "timestamptz_ns"}
_NS_PER_SECOND = 1_000_000_000

# Iceberg v3 geospatial types: `geometry(C)` (planar/linear edges) and
# `geography(C, A)` (spherical edges, interpolated by algorithm A).
# Spark has no native geo type, so both surface as BinaryType carrying
# WKB — the spec's binary single-value representation — and the engine
# treats them as opaque: no bounds (the spec's geo bounds are a special
# bounding-box encoding this engine does not record — always optional),
# no partition/sort source, no defaults. Defaults per spec: CRS
# OGC:CRS84; geography edge algorithm `spherical`.
GEOGRAPHY_ALGORITHMS = {"spherical", "vincenty", "thomas", "andoyer", "karney"}
_GEO_RE = re.compile(r"^(geometry|geography)(?:\((.*)\))?$")


def parse_geo_type(t: Any) -> tuple[str, str, str | None] | None:
    """(kind, crs, algorithm|None) for an Iceberg geo type string —
    'geometry', 'geometry(srid:3857)', 'geography(OGC:CRS84, karney)' —
    or None when `t` is not a geo type. Malformed parameter lists raise
    (a geo-looking string that is not a valid type must never be
    written into table metadata)."""
    if not isinstance(t, str):
        return None
    m = _GEO_RE.match(t)
    if not m:
        return None
    kind, params = m.groups()
    crs, alg = "OGC:CRS84", None
    if params is not None:
        parts = [p.strip() for p in params.split(",")]
        if not parts[0] or len(parts) > (1 if kind == "geometry" else 2) or any(
            not p for p in parts
        ):
            raise ValueError(f"malformed {kind} type parameters: {t!r}")
        crs = parts[0]
        if len(parts) == 2:
            alg = parts[1]
            if alg not in GEOGRAPHY_ALGORITHMS:
                raise ValueError(
                    f"unknown geography edge algorithm {alg!r} — one of "
                    f"{sorted(GEOGRAPHY_ALGORITHMS)}"
                )
    if kind == "geography" and alg is None:
        alg = "spherical"
    return kind, crs, alg


def _unorderable_type(t: Any) -> bool:
    """v3 types with no defined ordering: never a partition source,
    sort column, or bound carrier."""
    return isinstance(t, str) and (
        t in ("variant", "unknown") or parse_geo_type(t) is not None
    )


class CommitConflictError(RuntimeError):
    """Another writer committed first: the base a commit was built on is
    stale. The commit loop reloads, rebuilds and retries."""


class RequirementFailedError(CommitConflictError):
    """The catalog checked a commit's requirements against its current
    state and one no longer held (the REST spec's 409)."""


class UnpublishedCommitError(CommitConflictError):
    """A metadata version exists that its writer never published (the
    version hint never advanced to it): a writer crashed mid-commit, and
    no retry can get past it."""


class NoSuchTableError(FileNotFoundError):
    """No table exists at the identifier or location."""


class ReplaceConflictError(RuntimeError):
    """The table advanced past the snapshot a replace (rewrite) was
    planned against; replaces cannot merge with concurrent appends and
    must be re-planned."""


# --------------------------------------------------------------------------
# Spark schema -> Iceberg schema JSON (with field IDs)
# --------------------------------------------------------------------------


def _iceberg_type(dt: DataType, next_id: list[int]) -> Any:
    if isinstance(dt, LongType):
        return "long"
    if isinstance(dt, (IntegerType, ShortType)):
        return "int"
    if isinstance(dt, StringType):
        return "string"
    if isinstance(dt, DoubleType):
        return "double"
    if isinstance(dt, FloatType):
        return "float"
    if isinstance(dt, BooleanType):
        return "boolean"
    if isinstance(dt, BinaryType):
        return "binary"
    if isinstance(dt, TimestampType):
        return "timestamptz"
    if isinstance(dt, DateType):
        return "date"
    if isinstance(dt, DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    if isinstance(dt, ArrayType):
        eid = next_id[0]
        next_id[0] += 1
        return {
            "type": "list",
            "element-id": eid,
            "element": _iceberg_type(dt.elementType, next_id),
            "element-required": not dt.containsNull,
        }
    if isinstance(dt, MapType):
        kid, vid = next_id[0], next_id[0] + 1
        next_id[0] += 2
        return {
            "type": "map",
            "key-id": kid,
            "key": _iceberg_type(dt.keyType, next_id),
            "value-id": vid,
            "value": _iceberg_type(dt.valueType, next_id),
            "value-required": not dt.valueContainsNull,
        }
    if VariantType is not None and isinstance(dt, VariantType):
        # Iceberg v3 semi-structured type; Spark 4 VariantType writes the
        # parquet VARIANT logical type, SHREDDED by default (an inferred
        # per-file schema puts typed paths in real stat-bearing columns
        # — see sinks/variant_prune.py) with the metadata+value pair as
        # the fallback encoding
        return "variant"
    if isinstance(dt, StructType):
        fields = []
        for f_ in dt.fields:
            fid = next_id[0]
            next_id[0] += 1
            fields.append(
                {
                    "id": fid,
                    "name": f_.name,
                    "required": not f_.nullable,
                    "type": _iceberg_type(f_.dataType, next_id),
                }
            )
        return {"type": "struct", "fields": fields}
    raise ValueError(f"no Iceberg mapping for Spark type {dt!r}")


def current_schema(md: dict) -> dict:
    """Resolve the current schema BY ID (not list position) — evolution
    appends schema versions and ids must stay authoritative."""
    sid = md["current-schema-id"]
    return next(s for s in md["schemas"] if s.get("schema-id", 0) == sid)


def _spark_type(t: Any) -> DataType:
    """Inverse of _iceberg_type: Iceberg schema JSON type -> Spark type."""
    if isinstance(t, str):
        if t.startswith("decimal("):
            p, s = t[8:-1].split(",")
            return DecimalType(int(p), int(s))
        simple = {
            "long": LongType(),
            "int": IntegerType(),
            "string": StringType(),
            "double": DoubleType(),
            "float": FloatType(),
            "boolean": BooleanType(),
            "binary": BinaryType(),
            "timestamptz": TimestampType(),
            "date": DateType(),
            # v3 ns timestamps: Spark has no ns temporal type, so they
            # surface as LongType epoch-nanos (exact; see NS_TIMESTAMP_TYPES)
            "timestamp_ns": LongType(),
            "timestamptz_ns": LongType(),
            # v3 `unknown`: a column whose type is not yet decided —
            # always optional, never written to data files, ALWAYS reads
            # null. Surfaced as a string column that no file carries, so
            # every scan null-fills it (the spec's required behavior)
            # regardless of name- or id-based resolution.
            "unknown": StringType(),
        }
        if t in simple:
            return simple[t]
        if t == "variant":
            if VariantType is None:
                raise ValueError(
                    "this table has a v3 `variant` column; reading it "
                    "needs Spark 4's VariantType"
                )
            return VariantType()
        if parse_geo_type(t) is not None:
            # v3 geometry/geography: WKB bytes (Spark has no geo type)
            return BinaryType()
        raise ValueError(f"no Spark mapping for Iceberg type {t!r}")
    if t["type"] == "list":
        return ArrayType(_spark_type(t["element"]), not t.get("element-required", False))
    if t["type"] == "map":
        return MapType(
            _spark_type(t["key"]),
            _spark_type(t["value"]),
            not t.get("value-required", False),
        )
    if t["type"] == "struct":
        return StructType(
            [
                # StructField imported at module top
                StructField(f_["name"], _spark_type(f_["type"]), not f_["required"])
                for f_ in t["fields"]
            ]
        )
    raise ValueError(f"no Spark mapping for Iceberg type {t!r}")


def spark_read_schema(md: dict, field_ids: bool = False) -> StructType:
    """The CURRENT Iceberg schema as a Spark StructType — applied
    explicitly on reads so files written under OLDER schemas surface
    added columns as nulls (Iceberg schema-evolution read semantics)
    and empty tables keep exact types. With field_ids=True each
    top-level field carries its Iceberg id as `parquet.field.id`
    metadata, enabling Spark's id-based column resolution."""
    schema = current_schema(md)
    return StructType(
        [
            StructField(
                f_["name"],
                _spark_type(f_["type"]),
                not f_["required"],
                {"parquet.field.id": f_["id"]} if field_ids else None,
            )
            for f_ in schema["fields"]
        ]
    )


def schema_requires_id_read(md: dict) -> bool:
    """True when name-based column resolution is no longer sound for
    this table: some field id has carried different names across the
    schema history (a rename), or some name has been bound to different
    ids (dropped then re-added). Reads must then resolve columns by
    parquet field id — which every engine-written data file carries."""
    names_by_id: dict[int, set[str]] = {}
    ids_by_name: dict[str, set[int]] = {}
    for s in md["schemas"]:
        for f_ in s["fields"]:
            names_by_id.setdefault(f_["id"], set()).add(f_["name"])
            ids_by_name.setdefault(f_["name"], set()).add(f_["id"])
    return any(len(v) > 1 for v in names_by_id.values()) or any(
        len(v) > 1 for v in ids_by_name.values()
    )


def read_schema_for(spark: SparkSession, md: dict) -> StructType:
    """Read schema for a table scan; flips the session to parquet
    field-id resolution when the schema history demands it (rename /
    drop-and-readd). fieldId.read.enabled is safe to leave on: schemas
    WITHOUT id metadata still resolve by name (only id-carrying
    requested schemas use ids)."""
    if schema_requires_id_read(md):
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        return spark_read_schema(md, field_ids=True)
    return spark_read_schema(md)


def with_field_ids(df: DataFrame, md: dict) -> DataFrame:
    """Alias each top-level table column with its Iceberg field id as
    `parquet.field.id` metadata so the written Parquet is
    self-describing for id-based resolution (Spark writes the ids;
    fieldId.write is on by default). Columns not in the table schema
    (e.g. the hidden partition value) pass through untouched."""
    ids = _write_field_ids(md)
    return df.select(*[_id_aliased(_quoted_col(c), c, ids) for c in df.columns])


def _write_field_ids(md: dict) -> dict[str, int]:
    """Column name -> the Parquet field id a data file stores it under."""
    ids = {f_["name"]: f_["id"] for f_ in current_schema(md)["fields"]}
    # materialized v3 lineage columns carry the spec's reserved ids
    ids.setdefault(ROW_ID_COL, 2147483540)
    ids.setdefault(LAST_UPDATED_COL, 2147483539)
    return ids


def _quoted_col(name: str):
    # backtick-quoted: a dotted top-level name (the summary table's
    # `quantile_values.quantile`) must not resolve as a struct path
    return F.col("`" + name.replace("`", "``") + "`")


def _id_aliased(col, name: str, ids: dict[str, int]):
    if name in ids:
        return col.alias(name, metadata={"parquet.field.id": ids[name]})
    return col.alias(name)


def field_idless_files(paths: list[str]) -> list[str]:
    """The subset of `paths` whose Parquet footer lacks field ids on at
    least one column (engine-written files carry them; files registered
    via add_files may not). Pure footer-metadata reads; unreadable files
    count as id-less (the read would fail anyway)."""
    import pyarrow.parquet as pq

    missing = []
    for p in paths:
        try:
            schema = pq.read_schema(p)
        except Exception:  # noqa: BLE001 — unreadable: the read would fail anyway
            missing.append(p)
            continue
        for f_ in schema:
            if not f_.metadata or b"PARQUET:field_id" not in f_.metadata:
                missing.append(p)
                break
    return missing


def require_field_ids(paths: list[str]) -> None:
    """Guard for rename / drop-and-readd evolution: every live data file
    must carry parquet field ids. Raises with the offending paths —
    without ids, id-based resolution would surface those files as
    all-null."""
    missing = field_idless_files(paths)
    if missing:
        raise ValueError(
            "column rename/re-add requires parquet field ids on every live "
            f"data file, but {len(missing)} file(s) lack them (registered "
            f"via add_files?): {missing[:3]}... Rewrite them through the "
            "engine first (e.g. rewrite_data_files)."
        )


# -- name mapping (Iceberg spec: schema.name-mapping.default) --------------
#
# Files registered via add_files carry no parquet field ids, so after a
# rename (which flips reads to id-based resolution) they would surface
# as all-null. The spec's answer is a NAME MAPPING: a table property
# holding [{"field-id": N, "names": [...]}] that assigns ids to columns
# of id-less files by footer name. add_files maintains the property
# automatically; reads resolve id-less files through it; rename/drop
# stay refused only for id-less files the mapping does not cover.

NAME_MAPPING_PROP = "schema.name-mapping.default"


def parse_name_mapping(md: dict) -> dict[str, int] | None:
    """The table's name mapping as {column name -> field id}, or None
    when the property is absent. Spec names are unique across entries,
    so the flat dict is lossless for this engine's flat schemas."""
    raw = md.get("properties", {}).get(NAME_MAPPING_PROP)
    if raw is None:
        return None
    out: dict[str, int] = {}
    for entry in json.loads(raw):
        for n in entry["names"]:
            out[n] = entry["field-id"]
    return out


def merged_name_mapping(md: dict) -> str:
    """The serialized mapping AFTER folding the current schema into any
    existing mapping: every current field's name is appended to its
    field-id entry (so files registered after a rename resolve by the
    new name too). A current name already bound to a DIFFERENT id
    (drop-then-readd) raises — id-less files cannot distinguish old
    bytes from new, so registration must refuse rather than resurrect."""
    entries: dict[int, list[str]] = {}
    existing = parse_name_mapping(md) or {}
    for n, fid in existing.items():
        entries.setdefault(fid, []).append(n)
    for f_ in current_schema(md)["fields"]:
        bound = existing.get(f_["name"])
        if bound is not None and bound != f_["id"]:
            raise ValueError(
                f"name mapping conflict: column {f_['name']!r} was "
                f"previously bound to field id {bound} (dropped and "
                f"re-added?) — id-less files cannot be registered against "
                "a re-added column"
            )
        if bound is None:
            entries.setdefault(f_["id"], []).append(f_["name"])
    return json.dumps(
        [
            {"field-id": fid, "names": names}
            for fid, names in sorted(entries.items())
        ],
        sort_keys=True,
    )


def require_id_resolvable(paths: list[str], md: dict) -> None:
    """Rename/drop guard, name-mapping-aware: id-less live files are
    acceptable when the table's name mapping covers every column in
    their footer (reads then resolve them through the mapping); without
    coverage the evolution refuses, as before."""
    import pyarrow.parquet as pq

    idless = field_idless_files(paths)
    if not idless:
        return
    mapping = parse_name_mapping(md)
    if mapping is None:
        require_field_ids(idless)  # raises with the standard message
    bad = []
    for p in idless:
        try:
            names = pq.read_schema(p).names
        except Exception:  # noqa: BLE001
            bad.append(p)
            continue
        if any(n not in mapping for n in names):
            bad.append(p)
    if bad:
        raise ValueError(
            "column rename/re-add requires every id-less live data file "
            f"to be covered by {NAME_MAPPING_PROP}, but {len(bad)} "
            f"file(s) have unmapped columns: {bad[:3]}... Rewrite them "
            "through the engine first (e.g. rewrite_data_files)."
        )


def parse_iso_ns(text: str) -> int:
    """ISO-8601 timestamp with up to 9 fractional digits -> epoch-nanos
    (the spec's JSON single-value form for timestamp_ns/timestamptz_ns;
    Python datetimes stop at µs, so the sub-µs digits are split off and
    recombined exactly)."""
    t = text.replace(" ", "T", 1)
    frac_ns = 0
    if "." in t:
        head, rest = t.split(".", 1)
        digits = ""
        while rest and rest[0].isdigit():
            digits, rest = digits + rest[0], rest[1:]
        if len(digits) > 9:
            raise ValueError(f"more than 9 fractional digits in {text!r}")
        frac_ns = int(digits.ljust(9, "0"))
        t = head + rest
    dt = datetime.fromisoformat(t)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    td = dt - datetime(1970, 1, 1, tzinfo=timezone.utc)
    return (td.days * 86400 + td.seconds) * _NS_PER_SECOND + frac_ns


def default_literal(ftype: Any, value: Any) -> Any:
    """The stored default's Python literal for F.lit(): ns-timestamp
    defaults may ride as the spec's ISO single-value string and must
    become epoch-nanos (the columns' Spark representation); everything
    else passes through."""
    if isinstance(ftype, str) and ftype in NS_TIMESTAMP_TYPES and isinstance(value, str):
        return parse_iso_ns(value)
    return value


def schema_initial_defaults(md: dict | None) -> dict[str, Any]:
    """{column name: initial-default} of the current schema (v3 default
    values) — empty on tables that use none, keeping the scan hot path
    untouched for them. Values are resolved to Spark-ready literals
    (ISO ns strings -> epoch-nanos)."""
    if md is None:
        return {}
    return {
        f_["name"]: default_literal(f_["type"], f_["initial-default"])
        for f_ in current_schema(md)["fields"]
        if "initial-default" in f_
    }


def _default_filled_scan(
    spark: SparkSession,
    schema: StructType,
    paths: list[str],
    defaults: dict[str, Any],
    tags,
) -> DataFrame:
    """Scan under `schema` with v3 initial-defaults applied: files whose
    footer physically LACKS a defaulted column surface the default;
    files that have it read stored values (including genuine nulls) —
    the spec's file-presence rule, which a blanket coalesce would get
    wrong. One footer-metadata read per file, paid ONLY on tables whose
    schema declares defaults."""
    import pyarrow.parquet as pq

    by_missing: dict[frozenset, list[str]] = {}
    for p in paths:
        try:
            names = set(pq.read_schema(p).names)
        except Exception:
            # footers pyarrow rejects (unknown logical types — VARIANT):
            # the engine's own footer walker reads the top-level names
            from .parquet_footer import footer_column_names

            names = footer_column_names(p)
        missing = frozenset(n for n in defaults if n not in names)
        by_missing.setdefault(missing, []).append(p)
    parts: list[DataFrame] = []
    for missing, group in sorted(
        by_missing.items(), key=lambda kv: sorted(kv[0])
    ):
        scan = spark.read.schema(schema).parquet(*group)
        sel = [
            F.lit(defaults[f_.name]).cast(f_.dataType).alias(f_.name)
            if f_.name in missing
            else F.col(f_.name)
            for f_ in schema.fields
        ]
        parts.append(scan.select(*sel, *tags()))
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out


def apply_write_defaults(df: DataFrame, md: dict) -> DataFrame:
    """Fill columns the writer OMITTED with their write-default (v3
    default values) — appended rows then physically store the default,
    so later reads (and default changes) never reinterpret them."""
    defaults = _write_default_cols(md, set(df.columns))
    return df.withColumns(defaults) if defaults else df


def _write_default_cols(md: dict, present) -> dict:
    """Column name -> its write-default Column, for every field of the
    current schema that `present` lacks and that declares one."""
    return {
        f_["name"]: F.lit(default_literal(f_["type"], f_["write-default"])).cast(
            _spark_type(f_["type"])
        )
        for f_ in current_schema(md)["fields"]
        if f_["name"] not in present and "write-default" in f_
    }


def table_file_scan(
    spark: SparkSession,
    md: dict | None,
    schema: StructType,
    paths: list[str],
    tag_cols: tuple[tuple[str, str], ...] = (),
) -> DataFrame:
    """Scan table data files under the read schema, resolving files
    WITHOUT parquet field ids through the table's name mapping whenever
    id-based resolution is active (rename / drop-readd history) — the
    Iceberg read path for add_files-registered files. `tag_cols` adds
    metadata-derived columns ((alias, "path"|"pos")) INSIDE each scan
    branch, where `_metadata` is still resolvable (it is not after a
    union). Id-less-file detection is one footer-metadata read per file,
    only on tables whose schema history demands id reads — the same
    cost the rename guard already paid."""

    def tags():
        return [
            _norm_meta_path().alias(a)
            if kind == "path"
            else F.col("_metadata.row_index").alias(a)
            for a, kind in tag_cols
        ]

    defaults = {
        n: v
        for n, v in schema_initial_defaults(md).items()
        if any(f_.name == n for f_ in schema.fields)
    }
    mapping = parse_name_mapping(md) if md is not None else None
    if mapping is None or not schema_requires_id_read(md):
        if defaults:
            return _default_filled_scan(spark, schema, paths, defaults, tags)
        scan = spark.read.schema(schema).parquet(*paths)
        return scan.select("*", *tags()) if tag_cols else scan
    import pyarrow.parquet as pq

    idless = set(field_idless_files(paths))
    with_ids = [p for p in paths if p not in idless]
    cur_by_id = {f_["id"]: f_ for f_ in current_schema(md)["fields"]}
    parts: list[DataFrame] = []
    if with_ids:
        if defaults:
            parts.append(
                _default_filled_scan(spark, schema, with_ids, defaults, tags)
            )
        else:
            scan = spark.read.schema(schema).parquet(*with_ids)
            parts.append(
                scan.select(*[f_.name for f_ in schema.fields], *tags())
            )
    # group id-less files by footer column signature; each group reads
    # name-based under the FILE's names, aliased to current names via
    # the mapping (unmapped or since-dropped columns are ignored;
    # columns the file predates null-fill)
    by_sig: dict[tuple[str, ...], list[str]] = {}
    for p in sorted(idless):
        by_sig.setdefault(tuple(pq.read_schema(p).names), []).append(p)
    for names, group in by_sig.items():
        file_name_for: dict[str, str] = {}  # current name -> file column
        read_fields = []
        for n in names:
            fid = mapping.get(n)
            cur = cur_by_id.get(fid) if fid is not None else None
            if cur is None:
                continue  # unmapped, or column dropped from the schema
            file_name_for[cur["name"]] = n
            read_fields.append(StructField(n, _spark_type(cur["type"]), True))
        scan = spark.read.schema(StructType(read_fields)).parquet(*group)
        sel = [
            F.col(file_name_for[f_.name]).alias(f_.name)
            if f_.name in file_name_for
            else F.lit(defaults.get(f_.name)).cast(f_.dataType).alias(f_.name)
            for f_ in schema.fields
        ]
        parts.append(scan.select(*sel, *tags()))
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out


def iceberg_schema(spark_schema: StructType, schema_id: int = 0) -> dict:
    """Assign field IDs depth-first (top-level fields first, like the
    Spark-Iceberg converter) and emit Iceberg schema JSON."""
    next_id = [1 + len(spark_schema.fields)]  # nested ids start after top-level
    fields = []
    for i, f_ in enumerate(spark_schema.fields, start=1):
        fields.append(
            {
                "id": i,
                "name": f_.name,
                "required": not f_.nullable,
                "type": _iceberg_type(f_.dataType, next_id),
            }
        )
    return {
        "type": "struct",
        "schema-id": schema_id,
        "fields": fields,
        "_last_column_id": next_id[0] - 1,  # stripped before serialization
    }


# --------------------------------------------------------------------------
# data files and partition transforms
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class DataFile:
    """One Parquet file as recorded in a manifest: a data file
    (content=0), a position-delete file (content=1), or an
    equality-delete file (content=2) — Iceberg v2 merge-on-read."""

    file_path: str
    file_size_in_bytes: int
    record_count: int
    # transform-value per partition field name (e.g. hours since epoch,
    # bucket ordinal, or a truncate prefix — ints for time/bucket
    # transforms, str for truncate[string]); None = null source value
    # (file is never partition-pruned)
    partition: dict[str, int | str | None] = field(default_factory=dict)
    # Iceberg file content: 0 = data, 1 = position deletes, 2 = equality
    content: int = 0
    # content=2 only: schema field ids of the equality columns
    equality_ids: tuple[int, ...] | None = None
    # data sequence number as recorded in the manifest entry. 0 = "not
    # yet committed" — write_snapshot_tree assigns the commit's sequence
    # number; a nonzero value (files read back from manifests) is
    # PRESERVED on re-commit, so replace/overwrite snapshots keep each
    # surviving file's original sequence number and pending equality
    # deletes (which apply only to seq strictly below theirs) keep
    # applying to exactly the rows they did before.
    sequence_number: int = 0
    # deletion vector (Iceberg v3 "Deletion Vectors", implemented as a
    # v2 engine extension): content=1 entry whose file_path names a
    # PUFFIN file; these three locate the roaring-bitmap blob and the
    # single data file it deletes from (spec manifest fields 143-145).
    referenced_data_file: str | None = None
    content_offset: int | None = None
    content_size_in_bytes: int | None = None
    # manifest-recorded (lower_bounds, upper_bounds) in avro map form,
    # set when a file is read BACK from manifests: re-committing it
    # (copy-on-write survivors, pruned-away files) reuses these instead
    # of re-reading the Parquet footer — without this, a ts-bounded
    # purge on a huge table would still pay O(all live files) storage
    # round-trips at commit time. None = fresh file, bounds come from
    # its footer. Excluded from equality/repr (a cache, not identity).
    raw_bounds: Any = field(default=None, compare=False, repr=False)
    # the partition spec the file's manifest was written under, set
    # when read back from manifests: spec evolution means a live file's
    # partition tuple may be shaped by an OLDER spec than the table's
    # default — partition-identity operations (dynamic overwrite) must
    # see that. None = fresh file (current spec) or unknown.
    spec_id: int | None = field(default=None, compare=False, repr=False)
    # v3 row lineage (manifest field 142): id of the file's first row.
    # Assigned ONCE from the table's next-row-id when the file first
    # commits to a v3 table; PRESERVED verbatim when the file is
    # re-committed (CoW survivors, pruned-away files, metadata moves) —
    # like sequence_number, re-stamping it would silently change every
    # surviving row's _row_id. None = v2 file or fresh file awaiting
    # assignment.
    first_row_id: int | None = field(default=None, compare=False, repr=False)

    @property
    def is_deletion_vector(self) -> bool:
        return self.content == 1 and self.referenced_data_file is not None


def transform_value(ts: datetime, transform: str) -> int:
    """Partition transform applied driver-side (add_files path)."""
    ts = ts.astimezone(timezone.utc) if ts.tzinfo else ts.replace(tzinfo=timezone.utc)
    epoch = int(ts.timestamp())
    if transform in _SECONDS_PER:
        return epoch // _SECONDS_PER[transform]
    if transform == "months":
        return (ts.year - 1970) * 12 + (ts.month - 1)
    if transform == "years":
        # spec: years since 1970 (the exporter's config stops at monthly
        # — factory.go:22-25 — but tables written by other Iceberg
        # writers may carry a year spec)
        return ts.year - 1970
    raise ValueError(f"unsupported transform {transform!r}")


def transform_value_ns(ns: int, transform: str) -> int:
    """Time transform of an epoch-nanosecond long (v3 ns timestamps):
    pure integer floor division for hours/days; months/years go through
    the µs-floored calendar datetime (month boundaries sit on whole
    seconds, so flooring ns->µs never crosses one)."""
    if transform in _SECONDS_PER:
        return ns // (_SECONDS_PER[transform] * _NS_PER_SECOND)
    if transform in ("months", "years"):
        from datetime import timedelta

        dt = datetime(1970, 1, 1, tzinfo=timezone.utc) + timedelta(
            microseconds=ns // 1000
        )
        return transform_value(dt, transform)
    raise ValueError(f"unsupported transform {transform!r}")


def apply_transform_value(value: Any, transform: str, source_type: str) -> Any:
    """Driver-side evaluation of ANY supported transform on one value —
    the scan planner uses this to turn an equality predicate on a source
    column into the partition value to prune against."""
    if value is None:
        return None
    base, param = parse_transform(transform)
    if base == "bucket":
        return bucket_value(value, param, source_type)
    if base == "truncate":
        return truncate_value(value, param, source_type)
    if source_type in NS_TIMESTAMP_TYPES:
        # ns columns ride as epoch-nanos longs; a datetime bound (e.g.
        # an ISO string from the scoped-read surface) converts exactly
        if isinstance(value, datetime):
            v = value if value.tzinfo else value.replace(tzinfo=timezone.utc)
            td = v - datetime(1970, 1, 1, tzinfo=timezone.utc)
            value = ((td.days * 86400 + td.seconds) * 1_000_000 + td.microseconds) * 1000
        return transform_value_ns(int(value), transform)
    if not isinstance(value, datetime):
        raise ValueError(f"time transform {transform!r} needs a datetime, got {value!r}")
    return transform_value(value, transform)


def transform_column(col: str, transform: str, source_type: str = "timestamptz"):
    """The same transform as a Catalyst expression (append path) —
    executors derive the partition value, the driver never sees rows.

    FLOOR division, not Spark's `div` (which truncates toward zero):
    pre-1970 timestamps must land in hour -1, not hour 0, to match
    transform_value's Python `//` and the Iceberg spec. Double division
    is exact here — epoch SECONDS (~2^31) are far below 2^53.

    bucket[N] / truncate[W] dispatch to transforms.py: truncate is pure
    Catalyst; bucket's murmur3 is an Arrow-batched numpy kernel."""
    base, param = parse_transform(transform)
    if base == "bucket":
        return bucket_column(col, param, source_type)
    if base == "truncate":
        return truncate_column(col, param, source_type)
    if source_type in NS_TIMESTAMP_TYPES:
        # epoch-ns longs need EXACT floor division: double division is
        # lossy at 1.7e18 (> 2^53), and plain decimal division ROUNDS
        # at the result scale before floor (1/3600e9 is non-terminating
        # — a value 1ns below an hour boundary would round UP into the
        # wrong hour). So subtract pmod first (exact long arithmetic,
        # floor multiple for negatives too), then divide the exact
        # multiple in decimal — an integral quotient is representable
        # at any scale, so the division is exact.
        c = F.col(col).cast("long")

        def _floor_div(d: int):
            exact = c - F.pmod(c, F.lit(d))
            return (exact.cast("decimal(25,0)") / F.lit(d)).cast("bigint")

        if transform in _SECONDS_PER:
            return _floor_div(_SECONDS_PER[transform] * _NS_PER_SECOND)
        if transform in ("months", "years"):
            ts = F.timestamp_micros(_floor_div(1000))
            if transform == "months":
                return (F.year(ts) - F.lit(1970)) * 12 + F.month(ts) - F.lit(1)
            return F.year(ts) - F.lit(1970)
        raise ValueError(f"unsupported transform {transform!r}")
    if transform in _SECONDS_PER:
        s = _SECONDS_PER[transform]
        return F.floor(F.col(col).cast("long") / F.lit(s)).cast("bigint")
    if transform == "months":
        return (F.year(col) - F.lit(1970)) * 12 + F.month(col) - F.lit(1)
    if transform == "years":
        return F.year(col) - F.lit(1970)
    raise ValueError(f"unsupported transform {transform!r}")


# --------------------------------------------------------------------------
# Avro schemas for manifests / manifest lists (Iceberg spec, v2 subset:
# required fields + field-ids; optional column-stats fields omitted)
# --------------------------------------------------------------------------


def _bounds_field(name: str, field_id: int, key_id: int, value_id: int) -> dict:
    """lower_bounds / upper_bounds: Iceberg's map<int, binary> of
    column-id -> single-value-serialized bound, rendered in Avro as the
    spec's array-of-key/value-records map form."""
    return {
        "name": name,
        "type": [
            "null",
            {
                "type": "array",
                "logicalType": "map",
                "items": {
                    "type": "record",
                    "name": f"k{key_id}_v{value_id}",
                    "fields": [
                        {"name": "key", "type": "int", "field-id": key_id},
                        {"name": "value", "type": "bytes", "field-id": value_id},
                    ],
                },
            },
        ],
        "default": None,
        "field-id": field_id,
    }


_PARTITION_AVRO_TYPE = {"int": "int", "long": "long", "string": "string"}


def partition_avro_type(pf: dict, schema: dict | None) -> str:
    """Avro type of one partition field in the manifest's r102 record:
    int for time/bucket transforms (schema-independent — golden-fixture
    tables never consult the schema), the source's type for truncate."""
    base, _ = parse_transform(pf["transform"])
    if base != "truncate" or schema is None:
        return "int"
    source_type = next(
        f_["type"] for f_ in schema["fields"] if f_["id"] == pf["source-id"]
    )
    return _PARTITION_AVRO_TYPE.get(source_type, "int") if isinstance(source_type, str) else "int"


def manifest_avro_schema(
    partition_fields: list[dict],
    schema: dict | None = None,
    with_dv: bool = False,
    with_lineage: bool = False,
) -> dict:
    partition_record = {
        "type": "record",
        "name": "r102",
        "fields": [
            {
                "name": pf["name"],
                "type": ["null", partition_avro_type(pf, schema)],
                "default": None,
                "field-id": pf["field-id"],
            }
            for pf in partition_fields
        ],
    }
    data_file_fields = [
        {"name": "content", "type": "int", "field-id": 134},
        {"name": "file_path", "type": "string", "field-id": 100},
        {"name": "file_format", "type": "string", "field-id": 101},
        {"name": "partition", "type": partition_record, "field-id": 102},
        {"name": "record_count", "type": "long", "field-id": 103},
        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
        _bounds_field("lower_bounds", 125, 126, 127),
        _bounds_field("upper_bounds", 128, 129, 130),
        {
            "name": "equality_ids",
            "type": ["null", {"type": "array", "items": "int", "element-id": 136}],
            "default": None,
            "field-id": 135,
        },
    ]
    if with_dv:
        # Iceberg v3 deletion-vector locator fields (spec ids 143-145).
        # Only emitted in manifests that actually carry a DV entry, so
        # every pre-DV manifest stays byte-identical to the v2 golden
        # fixtures.
        data_file_fields += [
            {
                "name": "referenced_data_file",
                "type": ["null", "string"],
                "default": None,
                "field-id": 143,
            },
            {
                "name": "content_offset",
                "type": ["null", "long"],
                "default": None,
                "field-id": 144,
            },
            {
                "name": "content_size_in_bytes",
                "type": ["null", "long"],
                "default": None,
                "field-id": 145,
            },
        ]
    if with_lineage:
        # Iceberg v3 row lineage (spec field 142): the file's first row
        # id. Only emitted in data manifests of v3 tables, so every
        # pre-v3 manifest stays byte-identical to the golden fixtures.
        data_file_fields.append(
            {
                "name": "first_row_id",
                "type": ["null", "long"],
                "default": None,
                "field-id": 142,
            }
        )
    data_file = {
        "type": "record",
        "name": "r2",
        "fields": data_file_fields,
    }
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"], "default": None, "field-id": 1},
            {"name": "sequence_number", "type": ["null", "long"], "default": None, "field-id": 3},
            {
                "name": "file_sequence_number",
                "type": ["null", "long"],
                "default": None,
                "field-id": 4,
            },
            {"name": "data_file", "type": data_file, "field-id": 2},
        ],
    }


# -- column-bound stats (Iceberg single-value serialization, binary) -------


def encode_bound(value: Any, iceberg_type: str) -> bytes | None:
    """Iceberg single-value binary serialization for bound values
    (spec appendix D): little-endian fixed-width numerics, UTF-8
    strings, epoch-micros timestamps, epoch-days dates."""
    import struct as _struct

    if value is None:
        return None
    if iceberg_type == "long":
        return _struct.pack("<q", int(value))
    if iceberg_type == "int":
        return _struct.pack("<i", int(value))
    if iceberg_type == "double":
        return _struct.pack("<d", float(value))
    if iceberg_type == "float":
        return _struct.pack("<f", float(value))
    if iceberg_type == "boolean":
        return b"\x01" if value else b"\x00"
    if iceberg_type == "string":
        return str(value).encode("utf-8")
    if iceberg_type == "timestamptz":
        if isinstance(value, datetime):
            v = value if value.tzinfo else value.replace(tzinfo=timezone.utc)
            micros = int(v.timestamp()) * 1_000_000 + v.microsecond
        else:
            micros = int(value)
        return _struct.pack("<q", micros)
    if iceberg_type in NS_TIMESTAMP_TYPES:
        # epoch-nanos long (v3 single-value serialization: 8-byte LE)
        return _struct.pack("<q", int(value))
    if iceberg_type == "date":
        days = (value - type(value)(1970, 1, 1)).days if not isinstance(value, int) else value
        return _struct.pack("<i", days)
    return None  # unsupported types carry no bounds


def decode_bound(data: bytes, iceberg_type: str) -> Any:
    import struct as _struct

    if iceberg_type == "long":
        return _struct.unpack("<q", data)[0]
    if iceberg_type == "int":
        return _struct.unpack("<i", data)[0]
    if iceberg_type == "double":
        return _struct.unpack("<d", data)[0]
    if iceberg_type == "float":
        return _struct.unpack("<f", data)[0]
    if iceberg_type == "boolean":
        return data == b"\x01"
    if iceberg_type == "string":
        return data.decode("utf-8")
    if iceberg_type == "timestamptz":
        micros = _struct.unpack("<q", data)[0]
        return datetime.fromtimestamp(micros / 1_000_000, tz=timezone.utc)
    if iceberg_type in NS_TIMESTAMP_TYPES:
        return _struct.unpack("<q", data)[0]  # epoch-nanos long
    if iceberg_type == "date":
        from datetime import date, timedelta

        return date(1970, 1, 1) + timedelta(days=_struct.unpack("<i", data)[0])
    raise ValueError(f"no bound decoding for {iceberg_type!r}")


def _primitive_fields_by_name(md: dict) -> dict[str, tuple[int, str]]:
    return {
        f_["name"]: (f_["id"], f_["type"])
        for f_ in current_schema(md)["fields"]
        if isinstance(f_["type"], str)
    }


def _encode_bound_maps(
    lows: dict[int, Any], highs: dict[int, Any], types: dict[int, str]
) -> tuple[dict[int, bytes], dict[int, bytes]]:
    lower = {
        fid: enc for fid, v in lows.items() if (enc := encode_bound(v, types[fid])) is not None
    }
    upper = {
        fid: enc for fid, v in highs.items() if (enc := encode_bound(v, types[fid])) is not None
    }
    return lower, upper


def file_column_bounds(path: str, md: dict) -> tuple[dict[int, bytes], dict[int, bytes]]:
    """Per-column (field-id keyed) min/max bounds from the Parquet
    footer, for the table's top-level primitive columns. Pure footer
    metadata — no data pages are read. Missing files / missing stats
    yield empty maps (bounds are optional in manifests).

    When pyarrow refuses the footer outright (it cannot PARSE footers
    carrying logical types it does not know — e.g. the VARIANT type
    Spark 4 writes, see parquet_footer.py), the engine's own thrift
    walker decodes the row-group statistics instead, so variant-bearing
    files keep min/max pruning on all their OTHER columns. A column
    missing exact stats in ANY row group carries no bound (a partial
    aggregate is not a valid file bound)."""
    import pyarrow.parquet as pq

    try:
        meta = pq.ParquetFile(path).metadata
    except FileNotFoundError:  # missing file: no bounds
        return {}, {}
    except Exception:  # noqa: BLE001 — pyarrow can't parse (VARIANT et al.;
        # raised as ArrowIOError==OSError). The walker refuses true
        # garbage with ValueError, caught below — still no bounds.
        return _file_column_bounds_footer(path, md)
    by_name = _primitive_fields_by_name(md)
    lows: dict[int, Any] = {}
    highs: dict[int, Any] = {}
    missing: set[int] = set()  # stats absent in >=1 row group: no bound
    for rg in range(meta.num_row_groups):
        group = meta.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            name = col.path_in_schema
            if name not in by_name:
                continue
            fid, _ = by_name[name]
            stats = col.statistics
            if stats is None or not stats.has_min_max:
                missing.add(fid)
                continue
            try:
                lo, hi = stats.min, stats.max
            except Exception:  # noqa: BLE001 — pyarrow cannot CAST the
                # statistics for some logical types (e.g. decimal:
                # "Cannot extract statistics for type"); bounds are an
                # optional pruning aid, never worth failing a write
                missing.add(fid)
                continue
            lows[fid] = lo if fid not in lows else min(lows[fid], lo)
            highs[fid] = hi if fid not in highs else max(highs[fid], hi)
    for fid in missing:
        lows.pop(fid, None)
        highs.pop(fid, None)
    types = {fid: t for _, (fid, t) in by_name.items()}
    return _encode_bound_maps(lows, highs, types)


def _bound_from_physical(value: Any, iceberg_type: str) -> Any:
    """Footer-walker physical stat value -> what encode_bound expects
    for `iceberg_type` (None = this pairing carries no bound)."""
    if iceberg_type == "string":
        if not isinstance(value, bytes):
            return None
        try:
            # truncated bounds may split a multi-byte char; a bound we
            # cannot decode exactly is dropped, never approximated
            return value.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if iceberg_type in ("long", "int", "timestamptz", "timestamp", "date") or (
        iceberg_type in NS_TIMESTAMP_TYPES
    ):
        return value if isinstance(value, int) else None
    if iceberg_type in ("double", "float"):
        return value if isinstance(value, (int, float)) else None
    if iceberg_type == "boolean":
        return value if isinstance(value, bool) else None
    return None


def _file_column_bounds_footer(
    path: str, md: dict
) -> tuple[dict[int, bytes], dict[int, bytes]]:
    from .parquet_footer import footer_column_minmax

    try:
        minmax = footer_column_minmax(path)
    except Exception:  # noqa: BLE001 — malformed footer: no bounds
        return {}, {}
    by_name = _primitive_fields_by_name(md)
    lows: dict[int, Any] = {}
    highs: dict[int, Any] = {}
    for name, (_phys, mn, mx) in minmax.items():
        if name not in by_name:
            continue  # nested leaves (variant metadata/value) have no field bound
        fid, t = by_name[name]
        lo, hi = _bound_from_physical(mn, t), _bound_from_physical(mx, t)
        if lo is None or hi is None:
            continue
        lows[fid], highs[fid] = lo, hi
    types = {fid: t for _, (fid, t) in by_name.items()}
    return _encode_bound_maps(lows, highs, types)


def _bounds_to_avro(bounds: dict[int, bytes]) -> list[dict] | None:
    if not bounds:
        return None
    return [{"key": k, "value": v} for k, v in sorted(bounds.items())]


def _bounds_from_avro(entries: Any) -> dict[int, bytes]:
    if not entries:
        return {}
    return {e["key"]: e["value"] for e in entries}


MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        # spec field 507 "partitions": one field_summary per partition
        # field of the manifest's spec, in spec order — the manifest-
        # LEVEL pruning index. At 100 TB a table holds thousands of
        # manifests; these summaries let scan planning skip whole
        # manifest FILES (never opened) instead of walking every entry,
        # so planning cost tracks the MATCHING partitions, not table
        # history. Written by this engine for every manifest; absent
        # (null) on manifests from older writers — readers then fall
        # back to the per-entry walk, never wrong pruning.
        {
            "name": "partitions",
            "type": [
                "null",
                {
                    "type": "array",
                    "element-id": 508,
                    "items": {
                        "type": "record",
                        "name": "r508",
                        "fields": [
                            {
                                "name": "contains_null",
                                "type": "boolean",
                                "field-id": 509,
                            },
                            {
                                "name": "contains_nan",
                                "type": ["null", "boolean"],
                                "default": None,
                                "field-id": 518,
                            },
                            {
                                "name": "lower_bound",
                                "type": ["null", "bytes"],
                                "default": None,
                                "field-id": 510,
                            },
                            {
                                "name": "upper_bound",
                                "type": ["null", "bytes"],
                                "default": None,
                                "field-id": 511,
                            },
                        ],
                    },
                },
            ],
            "default": None,
            "field-id": 507,
        },
    ],
}


# Iceberg v3 manifest-list addition: field 520 `first_row_id` — the
# starting _row_id for the manifest's ADDED data files that leave their
# per-entry field 142 null (the spec's lazy inheritance). Appended LAST
# and written only for v3 tables, so v2 manifest lists stay
# byte-identical to the golden fixtures; delete manifests carry null.
MANIFEST_LIST_FIRST_ROW_ID_FIELD = {
    "name": "first_row_id",
    "type": ["null", "long"],
    "default": None,
    "field-id": 520,
}


def manifest_list_schema(with_lineage: bool) -> dict:
    if not with_lineage:
        return MANIFEST_LIST_SCHEMA
    schema = json.loads(json.dumps(MANIFEST_LIST_SCHEMA))
    schema["fields"].append(dict(MANIFEST_LIST_FIRST_ROW_ID_FIELD))
    return schema


def resolve_first_row_ids(m: dict, entries: list[dict]) -> None:
    """Manifest-list → entry `first_row_id` inheritance at READ time
    (Iceberg v3 row lineage): an ADDED data file whose field 142 is
    null inherits the manifest's field-520 value plus the accumulated
    record counts of the preceding ADDED entries that also inherited.
    This engine writes explicit per-entry values (spec-legal), so the
    walk is a no-op on its own manifests — the rule exists for tables
    written by external v3 engines that rely on lazy assignment.
    Mutates data_file dicts in place. EXISTING/DELETED entries neither
    inherit nor advance the cursor (rewritten manifests must carry
    explicit values, like sequence-number inheritance); a null entry in
    a manifest with no list-level value stays null (pre-lineage file,
    the lazy-upgrade rule)."""
    base = m.get("first_row_id")
    if base is None or m.get("content", 0) != 0:
        return
    cursor = base
    for e in entries:
        if e.get("status") != STATUS_ADDED:
            continue
        d = e["data_file"]
        if d.get("content", 0) != 0:
            continue
        if d.get("first_row_id") is None:
            d["first_row_id"] = cursor
            cursor += d["record_count"]


def _partition_field_summaries(
    partition_dicts: list[dict], spec_fields: list[dict], md: dict
) -> list[dict] | None:
    """field_summary per spec field (spec field 507) over a manifest's
    entries' partition tuples: contains_null + encoded min/max of the
    transform VALUES (single-value serialization, appendix D — same
    binary as column bounds). None for unpartitioned specs or when a
    source column no longer resolves (spec evolution) — readers then
    walk the entries, never mis-prune."""
    if not spec_fields:
        return None
    out: list[dict] = []
    for pf in spec_fields:
        try:
            rtype = transform_result_type(
                pf["transform"], _field_type_by_id(md, pf["source-id"])
            )
        except Exception:  # noqa: BLE001 — dropped source column
            return None
        vals = [p.get(pf["name"]) for p in partition_dicts]
        non_null = [v for v in vals if v is not None]
        lo = encode_bound(min(non_null), rtype) if non_null else None
        hi = encode_bound(max(non_null), rtype) if non_null else None
        out.append(
            {
                "contains_null": any(v is None for v in vals),
                "contains_nan": None,
                "lower_bound": lo,
                "upper_bound": hi,
            }
        )
    return out


# --------------------------------------------------------------------------
# metadata-layer core: pure functions over table metadata
#
# Everything below operates on a table-metadata dict + storage paths and is
# shared by BOTH commit transports: FsTable (filesystem CAS on the metadata
# version file) and RestTable in iceberg_rest.py (CommitTable POST against a
# REST catalog). The byte format written is identical either way — only WHO
# arbitrates the commit differs, exactly as in Iceberg itself.
# --------------------------------------------------------------------------


_TOTAL_KEYS = (
    "total-records",
    "total-files-size",
    "total-data-files",
    "total-delete-files",
    "total-position-deletes",
    "total-equality-deletes",
)


def _files_totals(files: list[DataFile]) -> dict[str, int]:
    """Aggregate the spec's snapshot-summary totals over a file list.
    Deletion-vector entries contribute their BLOB span, not the whole
    shared Puffin file — N entries pointing into one file must not
    count its size N times."""
    t = {k: 0 for k in _TOTAL_KEYS}
    for f in files:
        if f.is_deletion_vector:
            t["total-files-size"] += f.content_size_in_bytes or 0
        else:
            t["total-files-size"] += f.file_size_in_bytes
        if f.content == 0:
            t["total-records"] += f.record_count
            t["total-data-files"] += 1
        else:
            t["total-delete-files"] += 1
            if f.content == 1:
                t["total-position-deletes"] += f.record_count
            else:
                t["total-equality-deletes"] += f.record_count
    return t


def parent_summary_totals(md: dict, parent: int) -> dict[str, int]:
    """The parent snapshot's running totals, parsed from its summary.
    Tables written before totals existed (or by other engines that omit
    them) fall back to ONE metadata walk of the parent's live file set —
    a one-time upgrade cost, O(parent metadata)."""
    if parent in (-1, None):
        return {k: 0 for k in _TOTAL_KEYS}
    snap = next(s for s in md["snapshots"] if s["snapshot-id"] == parent)
    summary = snap.get("summary", {})
    if all(k in summary for k in _TOTAL_KEYS):
        return {k: int(summary[k]) for k in _TOTAL_KEYS}
    data, deletes = live_files(md, parent)
    return _files_totals(data + deletes)


def snapshot_summary_totals(
    md: dict,
    parent: int,
    files: list[DataFile],
    carry_forward: bool,
    removed=(),
) -> dict[str, str]:
    """The spec's running `total-*` summary fields (SnapshotSummary):
    incremental parent+delta for append-style commits, recomputed from
    the complete live set for replace-style ones. total-records counts
    DATA-file records (position-deleted rows still live in their files
    until a rewrite folds them); delete content is tracked by its own
    totals. `removed` entries (superseded deletion vectors,
    carry-forward only) subtract so the totals track the LIVE set.
    These make `count_rows` a metadata-only O(1) answer and the
    `snapshots` table a growth dashboard."""
    if carry_forward:
        totals = parent_summary_totals(md, parent)
        for k, v in _files_totals(files).items():
            totals[k] += v
        for k, v in _files_totals(list(removed)).items():
            totals[k] -= v
    else:
        totals = _files_totals(files)
    return {k: str(totals[k]) for k in _TOTAL_KEYS}


def write_manifest(
    meta_dir: str,
    md: dict,
    avro_schema: dict,
    entries: list[dict],
    *,
    content: int,
    spec_id: int,
    partition_spec: str,
    snapshot_id: int,
    commit_seq: int,
    first_row_id: int | None = None,
) -> dict:
    """The one manifest-FILE writer of the snapshot tree: a commit's
    fresh files (write_snapshot_tree), a deletion-vector fold's rewrite
    of a carried delete manifest (_supersede_carried_entries), and
    merged manifests (_write_merged_manifest) all land here. `entries`
    arrive with their status set — ADDED, EXISTING (explicit snapshot
    id and sequence numbers) or DELETED (a removal marker) — and every
    manifest-list figure derives from them: the per-status file and row
    counts, the min sequence number (the commit's own for an empty
    manifest) and the field-507 partition summary, which is written only
    for default-spec manifests (old-spec records stay null; readers walk
    their entries). `partition_spec` is the OCF metadata JSON of the
    manifest's spec and `first_row_id` the v3 manifest-list field 520 —
    the id-space base of its ADDED data files (entries are ALSO stamped
    explicitly; external readers may use either form). Returns the
    manifest-list record."""
    path = os.path.join(meta_dir, f"{uuid.uuid4().hex}-m{content}.avro")
    length = write_ocf(
        path,
        avro_schema,
        entries,
        extra_metadata={
            "schema": json.dumps(current_schema(md)),
            "partition-spec": partition_spec,
            "partition-spec-id": str(spec_id),
            "format-version": str(table_format_version(md)),
            "content": "data" if content == 0 else "deletes",
        },
    )
    files = dict.fromkeys((STATUS_EXISTING, STATUS_ADDED, STATUS_DELETED), 0)
    rows = dict(files)
    for e in entries:
        files[e["status"]] += 1
        rows[e["status"]] += e["data_file"]["record_count"]
    return {
        "manifest_path": path,
        "manifest_length": length,
        "partition_spec_id": spec_id,
        "content": content,
        "sequence_number": commit_seq,
        "min_sequence_number": min(
            (e["sequence_number"] for e in entries), default=commit_seq
        ),
        "added_snapshot_id": snapshot_id,
        "added_files_count": files[STATUS_ADDED],
        "existing_files_count": files[STATUS_EXISTING],
        "deleted_files_count": files[STATUS_DELETED],
        "added_rows_count": rows[STATUS_ADDED],
        "existing_rows_count": rows[STATUS_EXISTING],
        "deleted_rows_count": rows[STATUS_DELETED],
        "partitions": (
            _partition_field_summaries(
                [e["data_file"]["partition"] for e in entries],
                default_spec_fields(md),
                md,
            )
            if spec_id == md["default-spec-id"]
            else None
        ),
        "first_row_id": first_row_id,
    }


def write_snapshot(
    meta_dir: str,
    md: dict,
    manifests: list[dict],
    *,
    snapshot_id: int,
    parent: int,
    seq: int,
    summary: dict[str, str],
    lineage: tuple[int, int] | None = None,
) -> dict:
    """The one manifest-LIST writer of the snapshot tree, shared by
    write_snapshot_tree and build_rewrite_manifests_snapshot: write
    `manifests` (write_manifest records and carried ones, in list order)
    as the snapshot's manifest list, then return the snapshot dict that
    references it, stamped with the commit time. Carried records from
    pre-summary writers lack field 507 and default to null (readers fall
    back to the per-entry walk for them); on v3, records from
    pre-lineage writers likewise lack field 520 — carried values are
    PRESERVED (a manifest's id-space base never changes). `lineage` =
    (first-row-id, added-rows) adds the v3 snapshot fields: the commit
    advances next-row-id by the rows this snapshot may assign."""
    v3_lineage = table_format_version(md) >= 3
    for m in manifests:
        m.setdefault("partitions", None)
        if v3_lineage:
            m.setdefault("first_row_id", None)
    list_path = os.path.join(meta_dir, f"snap-{snapshot_id}-1-{uuid.uuid4().hex}.avro")
    write_ocf(
        list_path,
        manifest_list_schema(v3_lineage),
        manifests,
        extra_metadata={
            "snapshot-id": str(snapshot_id),
            "parent-snapshot-id": str(parent),
            "sequence-number": str(seq),
            "format-version": str(table_format_version(md)),
        },
    )
    snapshot = {
        "snapshot-id": snapshot_id,
        "parent-snapshot-id": parent if parent != -1 else None,
        "sequence-number": seq,
        "timestamp-ms": int(time.time() * 1000),
        "manifest-list": list_path,
        "summary": summary,
        "schema-id": md["current-schema-id"],
    }
    if lineage is not None:
        snapshot["first-row-id"], snapshot["added-rows"] = lineage
    return snapshot


def _supersede_carried_entries(
    meta_dir: str,
    prior_manifests: list[dict],
    removed_files: list[DataFile],
    md: dict,
    snapshot_id: int,
    commit_seq: int,
    dv_targets: set[str] = frozenset(),
    required_live_paths: set[str] = frozenset(),
) -> tuple[list[dict], list[dict]]:
    """Rewrite the carried-forward delete manifests that contain
    `removed_files` (superseded deletion vectors): removed entries flip
    to STATUS_DELETED (the spec's removal marker, kept in this
    snapshot's tree so the removal is visible), survivors to
    STATUS_EXISTING with explicit sequence numbers; untouched manifests
    carry by reference. Returns (untouched carried manifests, rewritten
    manifest records).

    TWO validations run against the commit base:

    * one-DV-per-file: the live DV set for `dv_targets` (every data
      file the commit adds a vector for, plus the superseded entries'
      files) must be exactly the planned one — a concurrent commit
      that folded, removed, or added a vector for the same file would
      make the new bitmap stale or stack a second live vector;
    * validateDataFilesExist: every path in `required_live_paths`
      (the data files the commit's position deletes — vectors AND
      parquet tuples — reference) must still be live — a concurrent
      compaction/overwrite that replaced one would otherwise let this
      commit delete against a dead path and the "deleted" rows would
      stay readable in the rewritten file.

    Either failure raises ReplaceConflictError (re-plan)."""
    removed_keys = {(f.file_path, f.content_offset) for f in removed_files}
    target_data_files = {f.referenced_data_file for f in removed_files} | set(
        dv_targets
    )
    liveness_set = target_data_files | set(required_live_paths)
    untouched: list[dict] = []
    rewritten: list[dict] = []
    found: set[tuple[str, int | None]] = set()
    live_targets: set[str] = set()
    for m in prior_manifests:
        if m["content"] != 1:
            untouched.append(m)
            # early exit: stop opening data manifests once every
            # required path is confirmed live (a one-file delete on a
            # thousand-manifest table must not read them all)
            if liveness_set and live_targets != liveness_set:
                for e in read_ocf(m["manifest_path"])[2]:
                    if e["status"] == STATUS_DELETED:
                        continue
                    p = e["data_file"]["file_path"]
                    if p in liveness_set:
                        live_targets.add(p)
            continue
        schema_, meta_, rows = read_ocf(m["manifest_path"])
        hit = False
        for e in rows:
            if e["status"] == STATUS_DELETED:
                continue
            d = e["data_file"]
            key = (d["file_path"], d.get("content_offset"))
            if key in removed_keys:
                found.add(key)
                hit = True
            elif (
                d.get("referenced_data_file") in target_data_files
                and d.get("content_offset") is not None
            ):
                raise ReplaceConflictError(
                    f"concurrent deletion vector for {d['referenced_data_file']!r} "
                    "landed after this delete was planned; the folded vector "
                    "is stale — re-plan the delete"
                )
        if not hit:
            untouched.append(m)
            continue
        entries = []
        for e in rows:
            if e["status"] == STATUS_DELETED:
                continue
            e = _inherit_entry(e, m)
            d = e["data_file"]
            e["status"] = (
                STATUS_DELETED
                if (d["file_path"], d.get("content_offset")) in removed_keys
                else STATUS_EXISTING
            )
            entries.append(e)
        rewritten.append(
            write_manifest(
                meta_dir,
                md,
                schema_,
                entries,
                content=1,
                spec_id=m["partition_spec_id"],
                partition_spec=meta_.get("partition-spec", "[]"),
                snapshot_id=snapshot_id,
                commit_seq=commit_seq,
            )
        )
    if found != removed_keys:
        missing = sorted(removed_keys - found)
        raise ReplaceConflictError(
            f"superseded deletion vector entries vanished before commit "
            f"(concurrent fold/rewrite?): {missing}; re-plan the delete"
        )
    dead = sorted(liveness_set - live_targets)
    if dead:
        raise ReplaceConflictError(
            f"data file(s) this commit's position deletes reference are "
            f"no longer live (replaced by a concurrent rewrite/overwrite): "
            f"{dead}; re-plan the delete"
        )
    return untouched, rewritten


def write_snapshot_tree(
    location: str,
    md: dict,
    files: list[DataFile],
    *,
    operation: str,
    carry_forward: bool,
    extra_summary: dict[str, str],
    parent_override: int | None = None,
    removed_files: list[DataFile] | None = None,
    required_live_paths: set[str] | None = None,
) -> dict:
    """Write one manifest per content type for the new files
    (write_manifest) + one manifest list (write_snapshot: the new
    manifests plus, for appends, the parent snapshot's carried-forward
    manifests) under {location}/metadata and return the snapshot dict
    that references them. Pure metadata: O(len(files)) regardless of
    table size.
    parent_override builds the snapshot on a different parent than
    `main`'s head (branch commits). removed_files (carry-forward only)
    are prior delete entries this commit SUPERSEDES — fold-on-write's
    stale deletion vectors — marked DELETED in rewritten carried
    manifests (_supersede_carried_entries) and subtracted from the
    running totals. required_live_paths are data files the commit's
    position deletes reference: validated still-live in the commit base
    (validateDataFilesExist), else ReplaceConflictError."""
    seq = md["last-sequence-number"] + 1
    snapshot_id = int.from_bytes(os.urandom(8), "big") >> 1
    parent = md["current-snapshot-id"] if parent_override is None else parent_override
    meta_dir = os.path.join(location, "metadata")
    spec_fields = default_spec_fields(md)

    data_group = [f for f in files if f.content == 0]
    delete_group = [f for f in files if f.content in (1, 2)]
    # v3 row lineage: fresh data files consume id space from the
    # table's next-row-id (files re-committed with a recorded
    # first_row_id keep it — rewrites/survivors never re-stamp);
    # the snapshot carries first-row-id + added-rows so the commit can
    # advance next-row-id without re-reading the manifest
    v3_lineage = table_format_version(md) >= 3
    first_row_base = md.get("next-row-id", 0) if v3_lineage else None
    assigned_rows = 0
    lineage_ids: dict[int, int] = {}
    if v3_lineage:
        cursor = first_row_base
        for f in data_group:
            if f.first_row_id is not None:
                lineage_ids[id(f)] = f.first_row_id
            else:
                lineage_ids[id(f)] = cursor
                cursor += f.record_count
        assigned_rows = cursor - first_row_base
    # a manifest holds data files OR delete files, never both (spec);
    # the data manifest is always written when there are no deletes so
    # pre-MoR commit trees (and the golden fixtures) are byte-identical
    groups: list[tuple[int, list[DataFile]]] = []
    if data_group or not delete_group:
        groups.append((0, data_group))
    if delete_group:
        groups.append((1, delete_group))

    manifests = []
    for content_id, group in groups:
        with_dv = any(f.is_deletion_vector for f in group)
        with_lineage = v3_lineage and content_id == 0
        entries = []
        for f in group:
            # column bounds from the Parquet footer (metadata-only read,
            # one per NEW file per commit; carried-forward manifests keep
            # theirs, and files read BACK from manifests re-commit their
            # recorded bounds verbatim — no footer re-read for CoW
            # survivors). Delete files carry no table-column bounds.
            if content_id == 0 and f.raw_bounds is None:
                lower, upper = file_column_bounds(f.file_path, md)
                lb_avro, ub_avro = _bounds_to_avro(lower), _bounds_to_avro(upper)
            elif content_id == 0:
                lb_avro, ub_avro = f.raw_bounds
            else:
                lb_avro = ub_avro = None
            data_file = {
                "content": f.content,
                "file_path": f.file_path,
                "file_format": "PARQUET",
                "partition": {
                    pf["name"]: f.partition.get(pf["name"]) for pf in spec_fields
                },
                "record_count": f.record_count,
                "file_size_in_bytes": f.file_size_in_bytes,
                "lower_bounds": lb_avro,
                "upper_bounds": ub_avro,
                "equality_ids": list(f.equality_ids) if f.equality_ids else None,
            }
            if with_dv:
                data_file["file_format"] = (
                    "PUFFIN" if f.is_deletion_vector else data_file["file_format"]
                )
                data_file["referenced_data_file"] = f.referenced_data_file
                data_file["content_offset"] = f.content_offset
                data_file["content_size_in_bytes"] = f.content_size_in_bytes
            if with_lineage:
                data_file["first_row_id"] = lineage_ids.get(id(f))
            entries.append(
                {
                    "status": STATUS_ADDED,
                    "snapshot_id": snapshot_id,
                    # files re-committed by replace/overwrite keep their
                    # original data sequence number (equality deletes
                    # apply to seq < theirs)
                    "sequence_number": f.sequence_number or seq,
                    "file_sequence_number": seq,
                    "data_file": data_file,
                }
            )
        manifests.append(
            write_manifest(
                meta_dir,
                md,
                manifest_avro_schema(
                    spec_fields,
                    current_schema(md),
                    with_dv=with_dv,
                    with_lineage=with_lineage,
                ),
                entries,
                content=content_id,
                spec_id=md["default-spec-id"],
                partition_spec=json.dumps(spec_fields),
                snapshot_id=snapshot_id,
                commit_seq=seq,
                first_row_id=first_row_base if with_lineage else None,
            )
        )
    if carry_forward and parent != -1:
        cur = next(s for s in md["snapshots"] if s["snapshot-id"] == parent)
        _, _, prior_manifests = read_ocf(cur["manifest-list"])
        dv_targets = {
            f.referenced_data_file for f in files if f.is_deletion_vector
        }
        if removed_files or dv_targets or required_live_paths:
            # fold-on-write: superseded DV entries flip to DELETED in
            # rewritten carried manifests; those rewrites are excluded
            # from commit-time merging (merging drops DELETED markers,
            # which must stay visible in the snapshot that removed
            # them). Runs for EVERY DV-adding commit — even with
            # nothing planned for removal it validates that no
            # concurrent vector landed for the same data files
            prior_manifests, rewritten = _supersede_carried_entries(
                meta_dir,
                prior_manifests,
                removed_files or [],
                md,
                snapshot_id,
                seq,
                dv_targets=dv_targets,
                required_live_paths=required_live_paths or frozenset(),
            )
            manifests += rewritten
        # streaming exporters commit one snapshot per micro-batch; merge
        # carried manifests when they pile up so planning stays O(files),
        # not O(commits) (commit.manifest* table properties)
        manifests += maybe_merge_carried_manifests(
            meta_dir, prior_manifests, md, snapshot_id, seq
        )

    summary = {
        "operation": operation,
        "added-data-files": str(len(data_group)),
        "added-records": str(sum(f.record_count for f in data_group)),
    }
    if delete_group:
        summary["added-delete-files"] = str(len(delete_group))
        pos_rows = sum(f.record_count for f in delete_group if f.content == 1)
        eq_rows = sum(f.record_count for f in delete_group if f.content == 2)
        if pos_rows:
            summary["added-position-deletes"] = str(pos_rows)
        if eq_rows:
            summary["added-equality-deletes"] = str(eq_rows)
    if removed_files:
        summary["removed-delete-files"] = str(len(removed_files))
        summary["removed-position-deletes"] = str(
            sum(f.record_count for f in removed_files if f.content == 1)
        )
    summary.update(
        snapshot_summary_totals(
            md, parent, files, carry_forward, removed=removed_files or ()
        )
    )
    summary.update(extra_summary)
    return write_snapshot(
        meta_dir,
        md,
        manifests,
        snapshot_id=snapshot_id,
        parent=parent,
        seq=seq,
        summary=summary,
        lineage=(first_row_base, assigned_rows) if v3_lineage else None,
    )


def _inherit_entry(e: dict, m: dict) -> dict:
    """Resolve the spec's metadata-inheritance rules before a manifest
    rewrite: EXISTING entries must carry EXPLICIT snapshot ids and
    sequence numbers (null-field inheritance only applies to entries in
    the manifest their snapshot added — a rewritten manifest belongs to
    a different snapshot)."""
    out = dict(e)
    if out.get("snapshot_id") is None:
        out["snapshot_id"] = m["added_snapshot_id"]
    if out.get("sequence_number") is None:
        out["sequence_number"] = m["sequence_number"]
    if out.get("file_sequence_number") is None:
        out["file_sequence_number"] = m["sequence_number"]
    return out


def _write_merged_manifest(
    meta_dir: str, bin_: list[dict], md: dict, snapshot_id: int, commit_seq: int
) -> dict | None:
    """Rewrite several manifest FILES (same content type + partition
    spec) into ONE. Entries are preserved verbatim — original adding
    snapshot_id, explicit data/file sequence numbers (so equality-delete
    applicability `seq < delete seq` is unchanged), partition tuples and
    column bounds byte-for-byte — with status flipped to EXISTING, which
    keeps incremental/changelog walks exact: they select entries by
    status ADDED within each snapshot's own manifests, and the original
    manifests stay on disk referenced by the ancestor snapshots until
    expire_snapshots reclaims them. DELETED entries (removal markers for
    readers of the snapshot that dropped them) are not carried into the
    rewrite. Returns the new manifest_file record, or None if nothing
    live remains. The Avro schema is taken from the first source
    manifest so decode→encode is byte-symmetric even for old-spec
    manifests (spec evolution keeps per-spec r102 layouts)."""
    def _df_fields(schema_: dict) -> list[dict]:
        df_rec = next(f_ for f_ in schema_["fields"] if f_["name"] == "data_file")
        return df_rec["type"]["fields"]

    def _has_field(schema_: dict, name: str) -> bool:
        return any(f_["name"] == name for f_ in _df_fields(schema_))

    def _has_dv_fields(schema_: dict) -> bool:
        return _has_field(schema_, "referenced_data_file")

    entries: list[dict] = []
    avro_schema: dict | None = None
    src_meta: dict[str, str] | None = None
    need_dv = need_lineage = False
    for m in bin_:
        schema_, meta_, rows = read_ocf(m["manifest_path"])
        # lazy lineage ids MATERIALIZE before the EXISTING flip: the
        # merged manifest carries no list-level first_row_id, and
        # EXISTING entries must be explicit (spec inheritance rule)
        resolve_first_row_ids(m, rows)
        # a bin can mix deletion-vector manifests (3 extra data_file
        # fields, spec ids 143-145) and/or row-lineage manifests (field
        # 142) with plain ones — the merged file must use the WIDEST
        # schema, with the narrower entries null-filled
        need_dv = need_dv or _has_dv_fields(schema_)
        # field 142 in the source schema, OR ids just materialized from
        # a list-level base a field-less writer relied on
        need_lineage = (
            need_lineage
            or _has_field(schema_, "first_row_id")
            or m.get("first_row_id") is not None
        )
        if avro_schema is None or (
            _has_dv_fields(schema_) and not _has_dv_fields(avro_schema)
        ):
            avro_schema, src_meta = schema_, meta_
        for e in rows:
            if e["status"] == STATUS_DELETED:
                continue
            e = _inherit_entry(e, m)
            e["status"] = STATUS_EXISTING
            entries.append(e)
    if not entries:
        return None
    # splice missing optional field groups into the picked schema (the
    # fresh-writer field order: dv trio 143-145, then lineage 142)
    import copy as _copy

    if (need_dv and not _has_dv_fields(avro_schema)) or (
        need_lineage and not _has_field(avro_schema, "first_row_id")
    ):
        avro_schema = _copy.deepcopy(avro_schema)
        fields_ = _df_fields(avro_schema)
        if need_dv and not any(f_["name"] == "referenced_data_file" for f_ in fields_):
            fields_ += [
                {"name": "referenced_data_file", "type": ["null", "string"],
                 "default": None, "field-id": 143},
                {"name": "content_offset", "type": ["null", "long"],
                 "default": None, "field-id": 144},
                {"name": "content_size_in_bytes", "type": ["null", "long"],
                 "default": None, "field-id": 145},
            ]
        if need_lineage and not any(f_["name"] == "first_row_id" for f_ in fields_):
            fields_.append(
                {"name": "first_row_id", "type": ["null", "long"],
                 "default": None, "field-id": 142}
            )
    if need_dv:
        for e in entries:
            e["data_file"].setdefault("referenced_data_file", None)
            e["data_file"].setdefault("content_offset", None)
            e["data_file"].setdefault("content_size_in_bytes", None)
    if need_lineage:
        for e in entries:
            e["data_file"].setdefault("first_row_id", None)
    return write_manifest(
        meta_dir,
        md,
        avro_schema,
        entries,
        content=bin_[0]["content"],
        spec_id=bin_[0]["partition_spec_id"],
        partition_spec=src_meta.get("partition-spec", "[]"),
        snapshot_id=snapshot_id,
        commit_seq=commit_seq,
    )


def merge_small_manifests(
    meta_dir: str,
    manifests: list[dict],
    md: dict,
    snapshot_id: int,
    commit_seq: int,
    *,
    min_count: int,
    target_size: int,
    force: bool = False,
) -> list[dict] | None:
    """Merge small manifests into ~target-size bins, per (content type,
    partition spec) group — manifests of different content or spec never
    mix (a manifest holds data OR deletes, and its r102 partition record
    is spec-shaped). Already-large manifests pass through untouched.
    Commit-time calls gate on `min_count` (Iceberg's
    commit.manifest.min-count-to-merge); `force=True` (the
    rewrite_manifests action) merges every group with ≥2 small
    manifests. Returns the new manifest list, or None if nothing was
    merged (caller keeps the original list — no files written in that
    case beyond per-group no-ops).

    Amortized cost at streaming cadence: a merge fires every
    ~min_count commits and rewrites the current generation manifest
    (which regrows until it crosses target_size and graduates to
    pass-through, starting a fresh generation), so per-commit rewrite
    work is bounded by target_size/min_count bytes — ~80 KB/commit at
    the 8 MB / 100 defaults — and the manifest count stays ≤
    min_count + generations, independent of total commits."""
    groups: dict[tuple[int, int], list[dict]] = {}
    for m in manifests:
        groups.setdefault((m["content"], m["partition_spec_id"]), []).append(m)
    out: list[dict] = []
    merged_any = False
    for group in groups.values():
        small = [m for m in group if m["manifest_length"] < target_size]
        # commit-time gate: the whole (content, spec) group must reach
        # min_count (Iceberg's min-count-to-merge). force (the
        # rewrite_manifests action) gates on the SMALL count instead —
        # min_count there means "don't bother below this many smalls"
        if (
            len(small) < 2
            or (force and len(small) < min_count)
            or (not force and len(group) < min_count)
        ):
            out += group
            continue
        out += [m for m in group if m["manifest_length"] >= target_size]
        # greedy size-binned packing: consecutive small manifests fill a
        # bin until it reaches the target; single-manifest bins keep the
        # original file (no pointless rewrite)
        bin_: list[dict] = []
        bin_bytes = 0
        bins: list[list[dict]] = []
        for m in small:
            bin_.append(m)
            bin_bytes += m["manifest_length"]
            if bin_bytes >= target_size:
                bins.append(bin_)
                bin_, bin_bytes = [], 0
        if bin_:
            bins.append(bin_)
        for b in bins:
            if len(b) == 1:
                out.append(b[0])
                continue
            merged = _write_merged_manifest(meta_dir, b, md, snapshot_id, commit_seq)
            if merged is not None:
                out.append(merged)
            merged_any = True
    return out if merged_any else None


def maybe_merge_carried_manifests(
    meta_dir: str,
    carried: list[dict],
    md: dict,
    snapshot_id: int,
    commit_seq: int,
) -> list[dict]:
    """Commit-time manifest merging over the CARRIED-FORWARD manifests
    only (never the commit's own fresh manifests — flipping their
    entries to EXISTING would hide the commit from incremental/changelog
    consumers), gated by the `commit.manifest*` table properties."""
    props = md.get("properties", {})
    if str(props.get(MANIFEST_MERGE_ENABLED_PROP, "true")).lower() == "false":
        return carried
    min_count = int(
        props.get(
            MANIFEST_MIN_COUNT_TO_MERGE_PROP, DEFAULT_MANIFEST_MIN_COUNT_TO_MERGE
        )
    )
    target_size = int(
        props.get(MANIFEST_TARGET_SIZE_PROP, DEFAULT_MANIFEST_TARGET_SIZE)
    )
    merged = merge_small_manifests(
        meta_dir,
        carried,
        md,
        snapshot_id,
        commit_seq,
        min_count=min_count,
        target_size=target_size,
    )
    return carried if merged is None else merged


def build_rewrite_manifests_snapshot(
    location: str,
    md: dict,
    *,
    target_size: int = DEFAULT_MANIFEST_TARGET_SIZE,
    min_count: int = 2,
) -> dict | None:
    """The `rewrite_manifests` maintenance action's metadata plan,
    shared by both commit transports: merge the CURRENT snapshot's small
    manifests into ~target-size bins and return a `replace` snapshot
    referencing the new manifest list — a pure metadata commit (no data
    file is read or written; `replace` snapshots are skipped by
    incremental scans and changelogs, so the rewrite is invisible to
    change streams). Returns None when there is nothing to merge."""
    sid = md.get("current-snapshot-id", -1)
    if sid == -1:
        return None
    cur = next(s for s in md["snapshots"] if s["snapshot-id"] == sid)
    seq = md["last-sequence-number"] + 1
    snapshot_id = int.from_bytes(os.urandom(8), "big") >> 1
    meta_dir = os.path.join(location, "metadata")
    _, _, manifests = read_ocf(cur["manifest-list"])
    merged = merge_small_manifests(
        meta_dir,
        manifests,
        md,
        snapshot_id,
        seq,
        min_count=min_count,
        target_size=target_size,
        force=True,
    )
    if merged is None:
        return None
    summary = {
        "operation": "replace",
        "operation-detail": "rewrite_manifests",
        "rewritten-manifests": str(len(manifests)),
        "kept-manifests": str(len(merged)),
    }
    # a pure metadata rewrite: the live set — and so every total — is
    # exactly the parent's
    summary.update(
        {k: str(v) for k, v in parent_summary_totals(md, sid).items()}
    )
    return write_snapshot(
        meta_dir,
        md,
        merged,
        snapshot_id=snapshot_id,
        parent=sid,
        seq=seq,
        summary=summary,
    )


def partition_fields_for(
    schema: dict, partition_source: str | None, granularity: str
) -> list[dict]:
    """Partition-spec fields for a hidden time partition on
    `partition_source` (catalog_rest.go:494-542 transform mapping)."""
    if partition_source is None:
        return []
    transform = _TRANSFORM_FOR_GRANULARITY[granularity]
    src = next(f_ for f_ in schema["fields"] if f_["name"] == partition_source)
    if _unorderable_type(src["type"]):
        raise ValueError(
            f"column {partition_source!r} has type {src['type']} — it "
            "cannot be a partition source (no defined ordering)"
        )
    source_id = src["id"]
    return [
        {
            "name": f"{partition_source}_{transform.rstrip('s')}",
            "transform": transform,
            "source-id": source_id,
            "field-id": 1000,
        }
    ]


def spec_fields_from_partition_by(schema: dict, partition_by: list[tuple[str, str]]) -> list[dict]:
    """Partition-spec fields for an explicit ``[(column, transform)]``
    list — the general form behind ``bucket[N]`` / ``truncate[W]`` /
    time-transform specs (field names follow the Iceberg convention:
    ``{col}_bucket``, ``{col}_trunc``, ``{col}_hour`` ...)."""
    fields = []
    for i, (col, transform) in enumerate(partition_by):
        source = next(f_ for f_ in schema["fields"] if f_["name"] == col)
        if _unorderable_type(source["type"]):
            raise ValueError(
                f"column {col!r} has type {source['type']} — it "
                "cannot be a partition source (no defined ordering)"
            )
        base, _ = parse_transform(transform)
        suffix = {"bucket": "bucket", "truncate": "trunc"}.get(base, base.rstrip("s"))
        fields.append(
            {
                "name": f"{col}_{suffix}",
                "transform": transform,
                "source-id": source["id"],
                "field-id": 1000 + i,
            }
        )
    return fields


def sort_fields_from(schema: dict, sort_by: list[str]) -> list[dict]:
    """Iceberg sort-order fields (identity asc, nulls-first) for the
    named schema columns — the spec's SortField shape. Unorderable v3
    types (variant, unknown) refuse loudly here instead of failing the
    first write's range repartition with an opaque Spark error."""
    by_name = {f_["name"]: f_ for f_ in schema["fields"]}
    fields = []
    for col in sort_by:
        if col not in by_name:
            raise ValueError(f"no column {col!r} to sort by")
        if _unorderable_type(by_name[col]["type"]):
            raise ValueError(
                f"column {col!r} has type {by_name[col]['type']} — it has "
                "no defined ordering and cannot be a sort column"
            )
        fields.append(
            {
                "transform": "identity",
                "source-id": by_name[col]["id"],
                "direction": "asc",
                "null-order": "nulls-first",
            }
        )
    return fields


def default_sort_fields(md: dict) -> list[dict]:
    """Fields of the default sort order ([] for unsorted tables)."""
    oid = md.get("default-sort-order-id", 0)
    order = next(
        (o for o in md.get("sort-orders", []) if o["order-id"] == oid), None
    )
    return order["fields"] if order else []


def apply_iceberg_type_overrides(
    schema: dict, iceberg_types: dict[str, str] | None
) -> bool:
    """Override derived Iceberg field types at CREATE with v3 types
    Spark cannot express: nanosecond timestamps (Spark has no ns
    temporal type, so a ns column arrives as LongType epoch-nanos and
    the caller names which longs are semantically timestamps) and
    geometry/geography (arrive as Spark BinaryType carrying WKB).
    Mutates the schema; returns True when a v3-only type was applied
    (the table must then be created at format-version 3)."""
    if not iceberg_types:
        return False
    by_name = {f_["name"]: f_ for f_ in schema["fields"]}
    for name, t in iceberg_types.items():
        if t in NS_TIMESTAMP_TYPES:
            want, carrier = "long", "LongType (epoch-nanos)"
        elif parse_geo_type(t) is not None:  # raises on malformed params
            want, carrier = "binary", "BinaryType (WKB)"
        else:
            raise ValueError(
                f"unsupported Iceberg type override {t!r} for column "
                f"{name!r} — only timestamp_ns/timestamptz_ns/"
                "geometry[(crs)]/geography[(crs[, algorithm])]"
            )
        f_ = by_name.get(name)
        if f_ is None:
            raise ValueError(f"type override names unknown column {name!r}")
        if f_["type"] != want:
            raise ValueError(
                f"column {name!r} must arrive as a Spark {carrier} "
                f"to become {t}; got {f_['type']!r}"
            )
        f_["type"] = t
    return True


def _v3_only_type(t: Any) -> bool:
    """True when an Iceberg schema TYPE (possibly nested) exists only at
    format-version 3: ns timestamps, `unknown`, `variant`,
    geometry/geography."""
    if isinstance(t, str):
        return (
            t in NS_TIMESTAMP_TYPES
            or t in ("variant", "unknown")
            or parse_geo_type(t) is not None
        )
    if t["type"] == "list":
        return _v3_only_type(t["element"])
    if t["type"] == "map":
        return _v3_only_type(t["key"]) or _v3_only_type(t["value"])
    if t["type"] == "struct":
        return any(_v3_only_type(f_["type"]) for f_ in t["fields"])
    return False


def require_v3_for_types(schema: dict, format_version: int) -> None:
    """Refuse v3-only column types on a v2 table — loudly, at CREATE."""
    if format_version >= 3:
        return
    bad = sorted(
        f_["name"] for f_ in schema["fields"] if _v3_only_type(f_["type"])
    )
    if bad:
        raise ValueError(
            f"column(s) {bad} use Iceberg v3 types "
            "(timestamp_ns/variant/unknown/geometry/geography) — pass "
            'properties={"format-version": "3"}'
        )


def new_table_metadata(
    location: str,
    schema: dict,
    last_column_id: int,
    spec_fields: list[dict],
    properties: dict[str, str] | None = None,
    sort_fields: list[dict] | None = None,
    format_version: int = 2,
) -> dict:
    """Fresh table metadata (no snapshots), format v2 by default.
    `sort_fields` declares a write sort order (Iceberg sort-orders;
    order-id 1) — appends then sort rows inside each data file, which
    is what makes min/max file skipping on the sort columns sharp.
    format_version=3 births a v3 table (next-row-id initialized — row
    lineage and ns timestamps available from the first commit, no
    upgrade ceremony needed)."""
    if format_version not in (2, 3):
        raise ValueError(f"unsupported format-version {format_version}")
    if sort_fields:
        orders = [
            {"order-id": 0, "fields": []},
            {"order-id": 1, "fields": sort_fields},
        ]
        default_order = 1
    else:
        orders = [{"order-id": 0, "fields": []}]
        default_order = 0
    md = {
        "format-version": format_version,
        "table-uuid": str(uuid.uuid4()),
        "location": location,
        "last-sequence-number": 0,
        "last-updated-ms": int(time.time() * 1000),
        "last-column-id": last_column_id,
        "schemas": [schema],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
        "default-spec-id": 0,
        "last-partition-id": 999 + len(spec_fields),
        "sort-orders": orders,
        "default-sort-order-id": default_order,
        "properties": dict(properties or {}),
        "current-snapshot-id": -1,
        "snapshots": [],
        "snapshot-log": [],
        "metadata-log": [],
        "refs": {},
    }
    if format_version >= 3:
        md["next-row-id"] = 0  # v3 required: row-lineage id space
    return md


def default_spec_fields(md: dict) -> list[dict]:
    return next(
        s for s in md["partition-specs"] if s["spec-id"] == md["default-spec-id"]
    )["fields"]


# Guards the SparkContext's Hadoop conf while vended storage keys are
# set in it and while a write job that applied them runs (reentrant: the
# write's own apply_storage_credentials takes it again).
HADOOP_CONF_LOCK = threading.RLock()


def write_partitioned_batch(
    df: DataFrame, location: str, md: dict, fanout: int | None = None
) -> list[DataFile]:
    """Data-plane half of an append: EXECUTORS write Parquet under
    data/<uuid>/, partitioned by the hidden-transform value (partitionBy
    drops the column from file contents — hidden partitioning). Returns
    the written files for the driver-side metadata commit. `fanout`
    spreads each partition value across ~fanout writer tasks/files for
    hot-partition backfills (see inline note)."""
    spec = default_spec_fields(md)
    batch_dir = os.path.join(location, "data", uuid.uuid4().hex)
    write_opts = _parquet_write_options(md)
    df = _write_projection(df, md, spec)
    if spec:
        pcols = [pf["name"] for pf in spec]
        sort_cols = [
            _field_name_by_id(md, sf["source-id"]) for sf in default_sort_fields(md)
        ]
        keys = [F.col(c) for c in pcols]
        if fanout and fanout > 1:
            # backfill shape: a huge append concentrated in FEW partition
            # values (one hour of history) would otherwise funnel through
            # one writer task per value. A deterministic content-hash salt
            # spreads each value over ~fanout writers / files — Iceberg's
            # fanout-writer answer to write.distribution-mode=hash
            # hotspots. Micro-batch appends keep the default (one large
            # file per partition value beats fanout small ones).
            data_cols = [c for c in df.columns if c not in pcols]
            keys.append(F.pmod(F.xxhash64(*[F.col(c) for c in data_cols]), F.lit(fanout)))
        if sort_cols:
            # declared write sort order: RANGE distribution on
            # (partition, sort columns) + an in-task sort, Iceberg's
            # write.distribution-mode=range for sorted tables — each
            # file covers a DISJOINT slice of the sort key, so manifest
            # min/max bounds barely overlap and file skipping is sharp
            # (a hash/fanout distribution would scatter the key across
            # every file and leave nothing to skip). With `fanout` the
            # slice count is EXPLICIT (total range slices — explicit
            # numPartitions also opts out of AQE coalescing, which
            # would otherwise merge a small batch into one file);
            # without it AQE sizes the slices.
            range_keys = [F.col(c) for c in pcols] + [F.col(c) for c in sort_cols]
            out = (
                df.repartitionByRange(int(fanout), *range_keys)
                if fanout and fanout > 1
                else df.repartitionByRange(*range_keys)
            ).sortWithinPartitions(*pcols, *sort_cols)
        else:
            out = df.repartition(*keys)  # few large files per partition
        writer = out.write.partitionBy(*pcols)
        if write_opts:
            writer = writer.options(**write_opts)
        writer.parquet(batch_dir)
    else:
        sort_cols = [
            _field_name_by_id(md, sf["source-id"]) for sf in default_sort_fields(md)
        ]
        out = df.sortWithinPartitions(*sort_cols) if sort_cols else df
        writer = out.write
        if write_opts:
            writer = writer.options(**write_opts)
        writer.parquet(batch_dir)
    return _scan_written_files(batch_dir, _partition_parse_types(md))


def _write_projection(df: DataFrame, md: dict, spec: list[dict]) -> DataFrame:
    """The write plan's ONE Project over `df` (each Project stacked on
    the input makes Spark re-analyse the whole plan): apply_write_defaults
    (v3 write-defaults for omitted columns), with_field_ids
    (self-describing, rename-safe files) and one column per partition
    field holding its transform value, replacing a same-named column in
    place as withColumn would."""
    sources = [_field_name_by_id(md, pf["source-id"]) for pf in spec]
    if not set(sources) <= set(df.columns):
        # a partition transform reads its source from the input, so an
        # omitted (write-defaulted) source must exist before it
        df = apply_write_defaults(df, md)
    ids = _write_field_ids(md)
    cols = {c: _quoted_col(c) for c in df.columns}
    cols.update(_write_default_cols(md, cols))
    exprs = {c: _id_aliased(col, c, ids) for c, col in cols.items()}
    for pf, source in zip(spec, sources):
        exprs[pf["name"]] = transform_column(
            source, pf["transform"], _field_type_by_id(md, pf["source-id"])
        ).alias(pf["name"])
    return df.select(*exprs.values())


def _parquet_write_options(md: dict) -> dict[str, str]:
    """Spark parquet-writer options derived from the Iceberg write
    table properties:

    * ``write.parquet.compression-codec`` (exporter sinks set it from
      StorageConfig.compression; absent -> session default, snappy);
    * ``write.parquet.bloom-filter-enabled.column.<col>`` = true -> a
      parquet BLOOM FILTER on that column (spec property; maps to the
      writer's ``parquet.bloom.filter.enabled#<col>``). Point-lookup
      scans on high-cardinality keys (event ids, trace ids, document
      ids) then skip row groups whose filter proves absence — the
      complement of min/max pruning, which is useless on uniformly
      spread keys;
    * ``write.parquet.bloom-filter-max-bytes`` caps each filter.
    """
    props = md.get("properties", {})
    opts: dict[str, str] = {}
    codec = props.get("write.parquet.compression-codec")
    if codec:
        opts["compression"] = codec
    prefix = "write.parquet.bloom-filter-enabled.column."
    for k, v in props.items():
        if k.startswith(prefix) and str(v).lower() == "true":
            opts[f"parquet.bloom.filter.enabled#{k[len(prefix):]}"] = "true"
    # write.parquet.bloom-filter-fpp.column.<col> (Iceberg spec write
    # property): per-column target false-positive probability. Matters
    # when a reader probes one filter with MANY keys (the incremental
    # ingesters' batch probe): file-level FP = 1-(1-fpp)^batch_keys,
    # so discriminating a 1e5-key batch needs fpp far below the 1%
    # default. parquet-mr sizes the filter from its adaptive observed
    # NDV + this fpp, capped by max-bytes.
    fpp_prefix = "write.parquet.bloom-filter-fpp.column."
    for k, v in props.items():
        if k.startswith(fpp_prefix):
            opts[f"parquet.bloom.filter.fpp#{k[len(fpp_prefix):]}"] = str(v)
            # a declared fpp asks for a GUARANTEE, so let the writer
            # size the filter from the chunk's observed NDV (adaptive)
            # instead of always allocating max-bytes — small files get
            # small filters, dense files grow up to the cap
            opts["parquet.bloom.filter.adaptive.enabled"] = "true"
    max_bytes = props.get("write.parquet.bloom-filter-max-bytes")
    if max_bytes:
        opts["parquet.bloom.filter.max.bytes"] = str(max_bytes)
    return opts


# --------------------------------------------------------------------------
# Iceberg v2 position deletes (merge-on-read)
#
# A position-delete file is a Parquet file of (file_path, pos) rows — the
# exact rows of specific DATA files that are logically deleted — tracked in
# DELETE manifests (manifest-list content=1). Reads subtract them with an
# anti-join; data files are never rewritten at delete time. This is the
# 100 TB delete primitive: purging 0.001% of rows from a corpus commits a
# few KB of metadata plus a delete file proportional to the MATCHES, where
# copy-on-write would rewrite every file that contains one.
# (Spec: Iceberg table format v2, "Position Delete Files"; reserved field
# ids 2147483546/2147483545.)
# --------------------------------------------------------------------------

POS_DELETE_FILE_PATH_ID = 2147483546
POS_DELETE_POS_ID = 2147483545

# above this many delete rows (from manifest record counts — known before
# any job runs) the anti-join shuffles instead of broadcasting
BROADCAST_DELETE_ROWS = 2_000_000


def _pos_delete_write_cols() -> list:
    """file_path/pos projection carrying the spec's reserved Parquet
    field ids (Spark writes them when fieldId.write is enabled)."""
    return [
        F.col("file_path").alias("file_path", metadata={"parquet.field.id": POS_DELETE_FILE_PATH_ID}),
        F.col("pos").alias("pos", metadata={"parquet.field.id": POS_DELETE_POS_ID}),
    ]


def _norm_meta_path():
    """`_metadata.file_path` (file:/abs or file:///abs) normalized to the
    scheme-less absolute path manifests record."""
    return F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/")


def read_position_deletes(spark: SparkSession, delete_files: list[DataFile]) -> DataFrame:
    """(file_path, pos) tuples of every content=1 delete, regardless of
    physical form: position-delete PARQUET files read directly, and
    DELETION VECTORS expanded from their Puffin roaring-bitmap blobs ON
    EXECUTORS (one mapInPandas over the metadata-sized span list, so a
    100 TB table's vectors decode in parallel and never transit the
    driver). Changelog delete rows and delete folding read deletes
    through this one abstraction, which is what makes DVs a drop-in
    physical format there; scans subtract vectors with the cheaper mask
    (_subtract_position_deletes)."""
    # defensive: callers may hold a mixed delete list — only content=1
    # files have the (file_path, pos) layout
    delete_files = [f for f in delete_files if f.content == 1]
    dv = [f for f in delete_files if f.is_deletion_vector]
    plain = [f for f in delete_files if not f.is_deletion_vector]
    parts: list[DataFrame] = []
    if plain:
        parts.append(
            spark.read.schema("file_path string, pos long")
            .parquet(*[f.file_path for f in plain])
            .select("file_path", "pos")
        )
    if dv:
        spans = spark.createDataFrame(
            [
                (
                    f.file_path,
                    f.content_offset,
                    f.content_size_in_bytes,
                    f.referenced_data_file,
                )
                for f in dv
            ],
            "puffin string, off long, len long, file_path string",
        )
        if len(dv) > 1:
            spans = spans.repartition(
                min(len(dv), spark.sparkContext.defaultParallelism)
            )
        from .puffin import read_deletion_vector_span

        def expand(it):
            import pandas as pd

            for pdf in it:
                for puffin, off, ln, fp in pdf.itertuples(index=False):
                    pos = read_deletion_vector_span(puffin, int(off), int(ln))
                    yield pd.DataFrame(
                        {"file_path": fp, "pos": pos.astype("int64")}
                    )

        parts.append(spans.mapInPandas(expand, "file_path string, pos long"))
    if not parts:
        return spark.createDataFrame(spark.sparkContext.emptyRDD(), "file_path string, pos long")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _subtract_position_deletes(
    spark: SparkSession, tagged: DataFrame, pos_files: list[DataFile]
) -> DataFrame:
    """Subtract content=1 deletes from a scan tagged with `__file` and
    `__dpos` (live_row_scan is its one caller). Delete rows name exact
    file paths, so no sequence-number filter is needed: a row can only
    match a delete written at-or-after its file's commit (paths are
    never reused), and deletes naming rewritten files match nothing.

    DELETION VECTORS skip the join entirely: their compact serialized
    bitmaps (KBs per million deleted rows) broadcast to the executors
    and a vectorized pandas filter masks each scan batch against its
    file's decoded position set — zero shuffle at ANY delete volume.
    Parquet tuples anti-join, the side chosen from metadata alone:
    manifests record each delete file's row count, so small delete sets
    broadcast (one map-side anti-join, no shuffle of the table) and only
    genuinely large ones shuffle — decided before any job runs. Mixed
    physical forms compose: the mask applies first."""
    dv = [f for f in pos_files if f.is_deletion_vector]
    plain = [f for f in pos_files if not f.is_deletion_vector]
    if dv:
        # driver holds only the COMPACT vectors (read by manifest span);
        # executors decode lazily, once per (python worker, file)
        from .puffin import decode_deletion_vector

        blobs: dict[str, list[bytes]] = {}
        for f in dv:
            with open(f.file_path, "rb") as fh:
                fh.seek(f.content_offset)
                blobs.setdefault(f.referenced_data_file, []).append(
                    fh.read(f.content_size_in_bytes)
                )
        bc = spark.sparkContext.broadcast(blobs)

        from pyspark.sql.functions import pandas_udf

        decoded_cache: dict[str, object] = {}

        @pandas_udf("boolean")
        def __dv_keep(files_s, pos_s):
            import numpy as np
            import pandas as pd

            out = np.ones(len(pos_s), dtype=bool)
            positions = pos_s.to_numpy()
            files = files_s.to_numpy()
            for fp in pd.unique(files_s):
                payloads = bc.value.get(fp)
                if not payloads:
                    continue
                if fp not in decoded_cache:
                    sets = [decode_deletion_vector(p) for p in payloads]
                    decoded_cache[fp] = (
                        np.unique(np.concatenate(sets))
                        if len(sets) > 1
                        else sets[0]
                    )
                deleted = decoded_cache[fp]
                if len(deleted) == 0:
                    continue
                sel = files == fp
                pos_u = positions[sel].astype("uint64")
                idx = np.clip(np.searchsorted(deleted, pos_u), 0, len(deleted) - 1)
                out[sel] = deleted[idx] != pos_u
            return pd.Series(out)

        tagged = tagged.filter(__dv_keep(F.col("__file"), F.col("__dpos")))
    if plain:
        dels = read_position_deletes(spark, plain)
        if sum(f.record_count for f in plain) <= BROADCAST_DELETE_ROWS:
            dels = F.broadcast(dels)
        tagged = tagged.join(
            dels,
            (tagged["__file"] == dels["file_path"])
            & (tagged["__dpos"] == dels["pos"]),
            "left_anti",
        )
    return tagged


# -- Iceberg v2 equality deletes (merge-on-read, CDC/upsert path) ----------
#
# An equality-delete file is a Parquet file holding VALUES of a subset of
# table columns (`equality_ids`); it logically deletes every row whose
# values null-safe-equal a delete row AND whose data file's sequence
# number is STRICTLY BELOW the delete file's. The strict ordering is what
# makes single-snapshot upserts work: a commit that adds both an equality
# delete on the new keys and the new data files (same sequence number)
# replaces old row versions without ever reading the table — the 100 TB
# CDC primitive (a streaming writer commits KBs per batch regardless of
# table size, where MERGE would scan and shuffle the table).
# (Spec: Iceberg table format v2, "Equality Delete Files".)


def _equality_fields(md: dict, ids: tuple[int, ...]) -> list[dict]:
    """Top-level primitive schema fields for equality ids (spec restricts
    equality columns to non-floating primitives; nested unsupported)."""
    by_id = {f_["id"]: f_ for f_ in current_schema(md)["fields"]}
    out = []
    for i in ids:
        fld = by_id.get(i)
        if fld is None or not isinstance(fld["type"], str):
            raise ValueError(
                f"equality field id {i} is not a top-level primitive column"
            )
        if fld["type"] in ("float", "double"):
            raise ValueError(
                f"column {fld['name']!r}: floating-point equality-delete "
                "columns are not allowed (NaN equality is undefined)"
            )
        out.append(fld)
    return out


def _delete_file_read_names(path: str, fields: list[dict]) -> dict[str, str]:
    """{current key name -> file column name} for one equality-delete
    file: parquet field-id resolution first (rename-safe), plain name
    for id-less files. An id-carrying file MISSING a key's id means the
    column was dropped and recreated AFTER the delete was written —
    matching the reused name would delete the wrong rows, so refuse."""
    import pyarrow.parquet as pq

    sch = pq.read_schema(path)
    by_id = {
        int(f.metadata[b"PARQUET:field_id"]): f.name
        for f in sch
        if f.metadata and b"PARQUET:field_id" in f.metadata
    }
    out: dict[str, str] = {}
    for f_ in fields:
        src = by_id.get(f_["id"])
        if src is None:
            if by_id:
                raise ValueError(
                    f"equality-delete file {path} carries field ids but "
                    f"not id {f_['id']} ({f_['name']!r}): the key column "
                    "was recreated after this delete; compact deletes "
                    "away (rewrite_equality_deletes) before reading"
                )
            if f_["name"] not in sch.names:
                raise ValueError(
                    f"equality-delete file {path} has neither field id "
                    f"{f_['id']} nor column {f_['name']!r}"
                )
            src = f_["name"]
        out[f_["name"]] = src
    return out


def apply_equality_deletes(
    spark: SparkSession,
    tagged: DataFrame,
    eq_files: list[DataFile],
    md: dict,
    seq_by_path: dict[str, int],
) -> DataFrame:
    """Subtract equality-deleted rows from a scan already tagged with
    `__file`. Each data row learns its file's sequence number via a
    broadcast join of the (path -> seq) manifest map (metadata-sized);
    each delete-file group anti-joins on null-safe key equality plus the
    strict seq comparison. Small delete sets broadcast — the common CDC
    shape is a map-side anti-join per group, no shuffle of the table."""
    if not eq_files:
        return tagged
    out_cols = tagged.columns
    seq_df = spark.createDataFrame(
        [(p, int(s)) for p, s in seq_by_path.items()], "__sfile string, __sseq long"
    )
    tagged = tagged.join(
        F.broadcast(seq_df), tagged["__file"] == seq_df["__sfile"], "left"
    ).drop("__sfile")
    groups: dict[tuple[int, ...], list[DataFile]] = {}
    for f in eq_files:
        if not f.equality_ids:
            raise ValueError(f"equality-delete file {f.file_path} missing equality_ids")
        groups.setdefault(tuple(f.equality_ids), []).append(f)
    for ids, group in sorted(groups.items()):
        fields = _equality_fields(md, ids)
        names = [f_["name"] for f_ in fields]
        # delete-file columns resolve by parquet FIELD ID (a delete
        # written before a rename stores the OLD name — name resolution
        # would null-fill its keys and silently delete nothing), with
        # name fallback for id-less files; files sharing one mapping
        # read in one pass (the no-rename common case stays one read)
        by_map: dict[tuple, list[DataFile]] = {}
        for f in group:
            m = tuple(
                sorted(_delete_file_read_names(f.file_path, fields).items())
            )
            by_map.setdefault(m, []).append(f)
        parts = []
        for m, sub in sorted(by_map.items()):
            cur_to_src = dict(m)
            read_schema = StructType(
                [
                    StructField(
                        cur_to_src[f_["name"]], _spark_type(f_["type"]), True
                    )
                    for f_ in fields
                ]
            )
            parts.append(
                spark.read.schema(read_schema)
                .parquet(*[f.file_path for f in sub])
                .select(
                    *[
                        F.col(cur_to_src[n]).alias(f"__eq_{n}")
                        for n in names
                    ],
                    _norm_meta_path().alias("__eq_src"),
                )
            )
        dels = parts[0]
        for p in parts[1:]:
            dels = dels.unionByName(p)
        dseq = spark.createDataFrame(
            [(f.file_path, int(f.sequence_number)) for f in group],
            "__eq_src string, __eq_seq long",
        )
        dels = dels.join(F.broadcast(dseq), "__eq_src").drop("__eq_src")
        if sum(f.record_count for f in group) <= BROADCAST_DELETE_ROWS:
            dels = F.broadcast(dels)
        cond = F.col("__sseq") < F.col("__eq_seq")
        for n in names:
            cond = cond & F.col(n).eqNullSafe(F.col(f"__eq_{n}"))
        tagged = tagged.join(dels, cond, "left_anti")
    return tagged.select(*out_cols)


def plan_equality_delete(
    spark: SparkSession,
    md: dict,
    keys_df: DataFrame,
    equality_cols: list[str],
) -> tuple[list[DataFile], int] | None:
    """Write the distinct key tuples of `keys_df` as Iceberg v2
    equality-delete Parquet (columns carry their table field ids) and
    return (DataFiles content=2, n_keys) — NO table read, no scan job:
    cost tracks the KEY SET, never the table. The caller owns the commit
    (which assigns the sequence number that scopes the delete)."""
    name_to_field = {f_["name"]: f_ for f_ in current_schema(md)["fields"]}
    ids = []
    for c in equality_cols:
        if c not in name_to_field:
            raise ValueError(f"no column {c!r} in table schema")
        ids.append(name_to_field[c]["id"])
    ids_t = tuple(ids)
    _equality_fields(md, ids_t)  # validates primitive / non-float
    keys = keys_df.select(
        *[
            F.col(c).alias(c, metadata={"parquet.field.id": name_to_field[c]["id"]})
            for c in equality_cols
        ]
    ).distinct()
    n_keys = keys.count()
    if n_keys == 0:
        return None
    out_dir = os.path.join(md["location"], "data", f"eq-deletes-{uuid.uuid4().hex}")
    n_parts = max(1, min(64, -(-n_keys // 5_000_000)))
    keys.repartition(n_parts, *equality_cols).write.parquet(out_dir)
    return [
        DataFile(
            file_path=f.file_path,
            file_size_in_bytes=f.file_size_in_bytes,
            record_count=f.record_count,
            partition={},
            content=2,
            equality_ids=ids_t,
        )
        for f in _scan_written_files(out_dir, [])
    ], n_keys


# v3 row-lineage metadata columns (Iceberg spec reserved field ids
# 2147483540 / 2147483539): _row_id identifies a row STABLY across CoW
# rewrites; _last_updated_sequence_number is the data sequence number of
# the commit that last modified it.
ROW_ID_COL = "_row_id"
LAST_UPDATED_COL = "_last_updated_sequence_number"

# the live-row scan's tags: a row's data file (the scheme-less absolute
# path manifests record) and its position in that file
ROW_TAGS = ("__file", "__dpos")


def lineage_read_fields() -> list[StructField]:
    return [
        StructField(ROW_ID_COL, LongType(), True),
        StructField(LAST_UPDATED_COL, LongType(), True),
    ]


def live_row_scan(
    spark: SparkSession,
    md: dict,
    files: list[DataFile],
    delete_files: list[DataFile] = (),
    *,
    paths: list[str] | None = None,
    where: str | None = None,
    lineage: bool = False,
    updated=None,
) -> DataFrame:
    """The one live-row scan under every read, row-level DML plan,
    rewrite and changelog pre-image: the data `files` (or only `paths`
    among them) under the current read schema, each row tagged with
    `__file` and `__dpos` (ROW_TAGS). The tags come from `_metadata`
    INSIDE each scan branch: input_file_name() is scan-stage-bound and
    unreliable on a join output, and `_metadata` no longer resolves
    after a name-mapped union.

    Filter, then subtract: the bare `where` predicate filters the scan
    first, so it pushes into the Parquet reader; then every delete form
    in `delete_files` subtracts — deletion vectors as the executor mask
    and parquet (file_path, pos) tuples as an anti-join
    (_subtract_position_deletes), equality deletes by the spec's strict
    sequence rule with data sequence numbers from `files`
    (apply_equality_deletes). Rows already deleted therefore never
    count as matches and are never recorded twice.

    `lineage` adds the v3 row-lineage columns: a row's MATERIALIZED
    values win (written by an earlier CoW rewrite); otherwise the spec's
    inheritance applies — _row_id = the file's first_row_id + row
    position, _last_updated = the file's data sequence number, from a
    metadata-sized broadcast map of `files`. `updated` (a boolean
    Column over the pre-update row values) marks rows this commit
    modifies: their _last_updated is left NULL so reads INHERIT the
    committing file's actual data sequence number — a row-delta commit
    can retry onto a later sequence number than planned, so baking a
    planned literal in would lie under contention; _row_id is preserved
    either way."""
    schema = read_schema_for(spark, md)
    if lineage:
        schema = StructType(list(schema.fields) + lineage_read_fields())
    if paths is None:
        paths = [f.file_path for f in files]
    if not paths:
        tags = [StructField("__file", StringType()), StructField("__dpos", LongType())]
        return spark.createDataFrame(
            spark.sparkContext.emptyRDD(), StructType(list(schema.fields) + tags)
        )
    rows = table_file_scan(
        spark, md, schema, paths, tag_cols=(("__file", "path"), ("__dpos", "pos"))
    )
    if where is not None:
        rows = rows.filter(F.expr(where))
    pos = [f for f in delete_files if f.content == 1]
    eq = [f for f in delete_files if f.content == 2]
    if pos:
        rows = _subtract_position_deletes(spark, rows, pos)
    if eq:
        seq_by_path = {f.file_path: f.sequence_number for f in files}
        rows = apply_equality_deletes(spark, rows, eq, md, seq_by_path)
    if not lineage:
        return rows
    lmap = spark.createDataFrame(
        [
            (f.file_path, f.first_row_id, int(f.sequence_number))
            for f in files
            if f.content == 0
        ],
        "__lpath string, __lfirst long, __lseq long",
    )
    rows = rows.join(F.broadcast(lmap), F.col("__file") == F.col("__lpath"), "left")
    last_up = F.coalesce(F.col(LAST_UPDATED_COL), F.col("__lseq"))
    if updated is not None:
        last_up = F.when(updated, F.lit(None).cast("long")).otherwise(last_up)
    return rows.withColumns(
        {
            ROW_ID_COL: F.coalesce(
                F.col(ROW_ID_COL), F.col("__lfirst") + F.col("__dpos")
            ),
            LAST_UPDATED_COL: last_up,
        }
    ).drop("__lpath", "__lfirst", "__lseq")


def scan_with_deletes(
    spark: SparkSession,
    md: dict,
    data_files: list[DataFile],
    delete_files: list[DataFile],
) -> DataFrame:
    """Snapshot scan under the current schema with every delete form
    applied (the merge-on-read read path): live_row_scan without its
    tags."""
    return live_row_scan(spark, md, data_files, delete_files).drop(*ROW_TAGS)


def scan_with_lineage(
    spark: SparkSession,
    md: dict,
    data_files: list[DataFile],
    delete_files: list[DataFile],
) -> DataFrame:
    """Snapshot scan PROJECTING the v3 row-lineage columns (deletes
    applied like scan_with_deletes). Requires a format-version 3 table
    — v2 files have no id space to derive from."""
    if table_format_version(md) < 3:
        raise ValueError(
            "row lineage requires a format-version 3 table — call "
            "upgrade_format_version(3) first"
        )
    return live_row_scan(
        spark, md, data_files, delete_files, lineage=True
    ).drop(*ROW_TAGS)


# transforms that PRESERVE ORDER of their source values, so a source-
# column range rewrites to a partition-value range (bucket does not)
_MONOTONE_TRANSFORMS = {"hours", "days", "months", "years", "truncate"}


def partition_range_parts(
    md: dict, source_ranges: list[tuple[str, Any, Any]]
) -> dict[str, tuple[Any, Any]]:
    """{spec_field_name: (lo_t, hi_t)}: source-column ranges rewritten
    through MONOTONE partition transforms (time transforms, truncate —
    never bucket), the shared front half of partition pruning for scan
    planning, scoped changelogs, and time-scoped streaming tails."""
    schema_fields = current_schema(md)["fields"]
    spec_fields = default_spec_fields(md)
    range_parts: dict[str, tuple[Any, Any]] = {}

    def _coerce(v: Any) -> Any:
        # the scoped-read surface accepts ISO strings for timestamp
        # bounds; time transforms need datetimes
        if isinstance(v, str):
            try:
                return datetime.fromisoformat(v)
            except ValueError:
                return v
        return v

    for rcol, rlo, rhi in source_ranges:
        src = next((f_ for f_ in schema_fields if f_["name"] == rcol), None)
        if src is not None:
            for pf in spec_fields:
                base, _ = parse_transform(pf["transform"])
                if pf["source-id"] == src["id"] and base in _MONOTONE_TRANSFORMS:
                    try:
                        range_parts[pf["name"]] = (
                            apply_transform_value(
                                _coerce(rlo), pf["transform"], src["type"]
                            ),
                            apply_transform_value(
                                _coerce(rhi), pf["transform"], src["type"]
                            ),
                        )
                    except (TypeError, ValueError):
                        # untransformable bound: no partition pruning for
                        # this range (row-level filtering still applies)
                        continue
    return range_parts


def build_manifest_excluder(md: dict, summary_checks: list[tuple[str, Any, Any]]):
    """Callable(manifest-list record) -> True when the record's
    field-507 partition summaries PROVE no entry can satisfy every
    (spec_field_name, lo, hi) check — the manifest is then skipped
    UNOPENED. Conservative by construction: delete manifests, records
    without summaries (older writers), non-default-spec manifests, and
    null-containing summaries are never skipped."""
    if not summary_checks:
        return lambda m: False
    spec_fields = default_spec_fields(md)
    spec_names = [pf["name"] for pf in spec_fields]
    part_types: dict[str, str | None] = {}
    for pf in spec_fields:
        try:
            part_types[pf["name"]] = transform_result_type(
                pf["transform"], _field_type_by_id(md, pf["source-id"])
            )
        except Exception:  # noqa: BLE001 — dropped source column
            part_types[pf["name"]] = None

    def _excluded(m: dict) -> bool:
        if m.get("content", 0) != 0:
            return False
        summaries = m.get("partitions")
        if (
            not summaries
            or m.get("partition_spec_id") != md["default-spec-id"]
            or len(summaries) != len(spec_fields)
        ):
            return False
        by_name = dict(zip(spec_names, summaries))
        for name, lo_t, hi_t in summary_checks:
            s = by_name.get(name)
            rtype = part_types.get(name)
            if (
                s is None
                or s.get("contains_null")  # null values never partition-prune
                or rtype is None
                or s.get("lower_bound") is None
                or s.get("upper_bound") is None
            ):
                continue
            try:
                s_lo = decode_bound(s["lower_bound"], rtype)
                s_hi = decode_bound(s["upper_bound"], rtype)
                if (hi_t is not None and s_lo > hi_t) or (
                    lo_t is not None and s_hi < lo_t
                ):
                    return True
            except (TypeError, ValueError, struct.error):
                continue  # undecodable/mixed-type: keep the manifest
        return False

    return _excluded


def source_range_scope(
    md: dict,
    source_range: tuple[str, Any, Any] | list[tuple[str, Any, Any]] | None,
    columns=None,
):
    """The scope of a source-range incremental read, shared by scoped
    changelogs, incremental file plans and streaming tails.
    `source_range` is (column, lo, hi) or a list of them (conjuncts; a
    None bound is open). Returns (range_parts, manifest_excluder,
    row_filter):

    * range_parts — partition_range_parts: the ranges rewritten through
      monotone partition transforms, for file skips
      (partition_out_of_range);
    * manifest_excluder — build_manifest_excluder over those parts (the
      field-507 summary skip), None when no range maps to a partition;
    * row_filter — the exact range conjunction over the ranges whose
      column is in `columns` (the read schema's names), None when none
      applies or no `columns` are given (metadata-only callers)."""
    ranges = (
        [source_range] if isinstance(source_range, tuple)
        else list(source_range or [])
    )
    range_parts = partition_range_parts(md, ranges)
    excluder = (
        build_manifest_excluder(
            md, [(n, lo, hi) for n, (lo, hi) in range_parts.items()]
        )
        if range_parts
        else None
    )
    row_filter = None
    for col, lo, hi in ranges if columns is not None else ():
        if col not in columns:
            continue
        for bound in (
            (F.col(col) >= F.lit(lo)) if lo is not None else None,
            (F.col(col) <= F.lit(hi)) if hi is not None else None,
        ):
            if bound is not None:
                row_filter = bound if row_filter is None else (row_filter & bound)
    return range_parts, excluder, row_filter


def plan_scan_metadata(
    md: dict,
    snapshot_id: int | None = None,
    partition_range: tuple[int, int] | None = None,
    column_range: tuple[str, Any, Any] | list[tuple[str, Any, Any]] | None = None,
    source_predicate: tuple[str, Any] | list[tuple[str, Any]] | None = None,
    source_range: tuple[str, Any, Any] | list[tuple[str, Any, Any]] | None = None,
    pruned_out: list[DataFile] | None = None,
) -> tuple[list[DataFile], list[DataFile], int]:
    """Transport-neutral scan planner both catalogs share (FsTable and
    RestTable delegate here): resolve a snapshot's live files into
    (data files, delete files, n_pruned), skipping data files by
    partition-transform-value range, manifest-recorded column bounds,
    the hidden-partition rewrite of an equality predicate on a source
    column, and/or `source_range=(column, lo, hi)` — Iceberg's range
    rewrite through MONOTONE transforms (time transforms and truncate,
    never bucket): `col BETWEEN lo AND hi` keeps only files whose
    partition value lies in [transform(lo), transform(hi)], with
    one-sided bounds allowed (None). All skips are O(metadata); files
    without the needed stats are conservatively kept; delete files are
    never pruned (a delete row for a pruned-away data file matches
    nothing).

    `column_range` / `source_predicate` / `source_range` each accept a
    single tuple or a LIST of tuples (all must hold — conjunct
    semantics), which is how predicate-derived DML pruning feeds every
    extractable bound at once. When `pruned_out` is given, skipped data
    files are appended to it with full fields — DML copy-on-write
    planning re-commits them as untouched survivors."""
    sid = md["current-snapshot-id"] if snapshot_id is None else snapshot_id
    if sid == -1:
        return [], [], 0
    snapshot = next(s for s in md["snapshots"] if s["snapshot-id"] == sid)
    spec_fields = default_spec_fields(md)
    spec_names = [pf["name"] for pf in spec_fields]
    schema_fields = current_schema(md)["fields"]
    source_predicates = (
        [source_predicate] if isinstance(source_predicate, tuple)
        else list(source_predicate or [])
    )
    source_ranges = (
        [source_range] if isinstance(source_range, tuple)
        else list(source_range or [])
    )
    column_ranges = (
        [column_range] if isinstance(column_range, tuple)
        else list(column_range or [])
    )
    pred_parts: dict[str, Any] = {}
    for pcol, pval in source_predicates:
        src = next((f_ for f_ in schema_fields if f_["name"] == pcol), None)
        if src is not None:
            for pf in spec_fields:
                if pf["source-id"] == src["id"]:
                    pred_parts[pf["name"]] = apply_transform_value(
                        pval, pf["transform"], src["type"]
                    )
    range_parts = partition_range_parts(md, source_ranges)
    col_bounds: list[tuple[dict, Any, Any]] = []
    for name, lo_v, hi_v in column_ranges:
        col_field = next((f_ for f_ in schema_fields if f_["name"] == name), None)
        if col_field is None or not isinstance(col_field["type"], str):
            raise ValueError(f"no boundable column {name!r}")
        col_bounds.append((col_field, lo_v, hi_v))
    # manifest-LEVEL pruning (spec field 507 partition summaries): a
    # data manifest whose field_summary proves no entry can match the
    # partition predicates is skipped UNOPENED — at 100 TB, planning
    # cost then tracks the matching partitions, not the table's whole
    # manifest population. Only when pruned_out is None: copy-on-write
    # DML needs every excluded FILE entry back for re-commit, so it
    # keeps the full walk.
    # The predicate side of the skip is manifest-independent: build it
    # once, not per manifest-list record.
    summary_checks: list[tuple[str, Any, Any]] = []
    if partition_range and spec_names:
        summary_checks.append(
            (spec_names[0], partition_range[0], partition_range[1])
        )
    for name, expected in pred_parts.items():
        summary_checks.append((name, expected, expected))
    for name, (lo_t, hi_t) in range_parts.items():
        summary_checks.append((name, lo_t, hi_t))
    _manifest_excluded = (
        (lambda m: False)
        if pruned_out is not None
        else build_manifest_excluder(md, summary_checks)
    )

    files: list[DataFile] = []
    deletes: list[DataFile] = []
    pruned = 0
    opened = []
    _, _, manifests = read_ocf(snapshot["manifest-list"])
    for m in manifests:
        if _manifest_excluded(m):
            # live entries = added + existing (DELETED markers excluded)
            pruned += m.get("added_files_count", 0) + m.get(
                "existing_files_count", 0
            )
        else:
            opened.append(m)
    for f in _live_manifest_files(opened):
        if f.content in (1, 2):
            deletes.append(f)
            continue
        part = f.partition
        skip = False
        if partition_range and spec_names:
            value = part.get(spec_names[0])
            lo, hi = partition_range
            if value is not None and not lo <= value <= hi:
                skip = True
        if not skip and pred_parts:
            skip = any(
                part.get(name) is not None and part.get(name) != expected
                for name, expected in pred_parts.items()
            )
        if not skip and range_parts:
            skip = partition_out_of_range(part, range_parts)
        if not skip and col_bounds:
            # decode the bounds maps ONCE per entry (not once per
            # bounded column): this loop is the cheap metadata path
            lowers = _bounds_from_avro(f.raw_bounds[0])
            uppers = _bounds_from_avro(f.raw_bounds[1])
            for col_field, lo_v, hi_v in col_bounds:
                fid, ftype = col_field["id"], col_field["type"]
                lower = lowers.get(fid)
                upper = uppers.get(fid)
                if lower is not None and hi_v is not None:
                    if decode_bound(lower, ftype) > hi_v:
                        skip = True
                        break
                if upper is not None and lo_v is not None:
                    if decode_bound(upper, ftype) < lo_v:
                        skip = True
                        break
        if skip:
            pruned += 1
            if pruned_out is not None:
                pruned_out.append(f)
            continue
        files.append(f)
    return files, deletes, pruned


# types whose manifest bounds decode_bound can compare against a parsed
# DML literal; everything else is conservatively un-prunable
_BOUNDABLE_TYPES = {"long", "int", "double", "float", "string", "timestamptz", "date", "timestamp_ns", "timestamptz_ns"}

_DML_LIT = r"(?:(?:TIMESTAMP|DATE)\s*'(?:[^']|'')*'|'(?:[^']|'')*'|-?\d+(?:\.\d+)?)"
_DML_IDENT = r"`?([A-Za-z_][A-Za-z0-9_]*)`?"
_DML_CMP = re.compile(
    rf"^{_DML_IDENT}\s*(<=|>=|==|=|<|>)\s*({_DML_LIT})$", re.IGNORECASE
)
_DML_CMP_FLIP = re.compile(
    rf"^({_DML_LIT})\s*(<=|>=|==|=|<|>)\s*{_DML_IDENT}$", re.IGNORECASE
)
_DML_BETWEEN = re.compile(
    rf"^{_DML_IDENT}\s+BETWEEN\s+({_DML_LIT})\s+AND\s+({_DML_LIT})$", re.IGNORECASE
)
_FLIPPED_OP = {"<": ">", "<=": ">=", ">": "<", ">=": "<=", "=": "=", "==": "=="}


def _split_conjuncts(predicate: str) -> list[str] | None:
    """Top-level AND conjuncts of a SQL predicate, or None when the
    predicate is disjunctive at the top level (an `OR` outside every
    paren/string — SQL's AND-binds-tighter precedence means NO conjunct
    is individually required then, so no pruning is sound). The scanner
    is quote- and paren-aware and does not split on the AND that closes
    a BETWEEN."""
    parts: list[str] = []
    cur: list[str] = []
    depth = 0
    pending_between = 0
    i, n = 0, len(predicate)
    while i < n:
        c = predicate[i]
        if c == "'":
            j = i + 1
            while j < n:
                if predicate[j] == "'":
                    if j + 1 < n and predicate[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            cur.append(predicate[i : j + 1])
            i = j + 1
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        if c.isalpha() or c == "_":
            j = i
            while j < n and (predicate[j].isalnum() or predicate[j] == "_"):
                j += 1
            word = predicate[i:j]
            wu = word.upper()
            if depth == 0:
                if wu == "OR":
                    return None
                if wu == "BETWEEN":
                    pending_between += 1
                elif wu == "AND":
                    if pending_between:
                        pending_between -= 1
                    else:
                        parts.append("".join(cur))
                        cur = []
                        i = j
                        continue
            cur.append(word)
            i = j
            continue
        cur.append(c)
        i += 1
    parts.append("".join(cur))
    return [p.strip() for p in parts if p.strip()]


def _strip_outer_parens(s: str) -> str:
    while s.startswith("(") and s.endswith(")"):
        depth = 0
        for i, c in enumerate(s):
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0 and i != len(s) - 1:
                    return s  # '(a) = (b)' style: outer parens not a pair
        s = s[1:-1].strip()
    return s


def spark_session_timezone(spark) -> timezone | None:
    """The session's SQL timezone as a tzinfo, or None when it can't be
    resolved (pruning then drops timestamp conjuncts — conservative).
    Spark evaluates naive TIMESTAMP literals in
    spark.sql.session.timeZone, so DML pruning must bind them in the
    SAME zone or a non-UTC session could prune files whose rows DO
    match (silently skipped deletes — a retention/GDPR hazard)."""
    try:
        name = (spark.conf.get("spark.sql.session.timeZone", "UTC") or "UTC").strip()
    except Exception:  # noqa: BLE001 — unresolvable session conf
        return None
    if name.upper() in ("UTC", "GMT", "Z", "ETC/UTC", "ETC/GMT", "GMT0", "UCT"):
        return timezone.utc
    m = re.fullmatch(r"(?:GMT|UTC)?([+-])(\d{1,2}):?(\d{2})?", name)
    if m:
        from datetime import timedelta

        sign = 1 if m.group(1) == "+" else -1
        return timezone(
            sign * timedelta(hours=int(m.group(2)), minutes=int(m.group(3) or 0))
        )
    try:
        from zoneinfo import ZoneInfo

        return ZoneInfo(name)
    except Exception:  # noqa: BLE001 — unknown zone id
        return None


def _parse_dml_literal(
    text: str, col_type: str, session_tz: timezone | None = timezone.utc
) -> Any | None:
    """A conjunct literal as the Python value plan_scan_metadata's
    bound/transform comparisons expect for `col_type`, or None when the
    literal can't be represented exactly (then the conjunct contributes
    no pruning — always sound). Naive timestamp literals bind in
    `session_tz` — the zone Spark will evaluate them in
    (spark.sql.session.timeZone; build_session sets UTC but DML entry
    points accept any session); session_tz=None means the zone could
    not be resolved, so timestamp conjuncts yield no pruning."""
    t = text.strip()
    up = t.upper()
    try:
        if up.startswith("TIMESTAMP") or up.startswith("DATE") or t.startswith("'"):
            inner = t[t.index("'") + 1 : -1].replace("''", "'")
            if col_type == "string":
                return inner if t.startswith("'") else None
            if col_type == "timestamptz":
                dt = datetime.fromisoformat(inner.replace(" ", "T", 1))
                if dt.tzinfo:
                    return dt
                if session_tz is None:
                    return None
                return dt.replace(tzinfo=session_tz)
            if col_type == "date":
                from datetime import date

                return date.fromisoformat(inner)
            return None
        if col_type in ("long", "int") or col_type in NS_TIMESTAMP_TYPES:
            # ns-timestamp columns ride as epoch-nanos longs, so their
            # predicate literals are plain integers
            return int(t) if "." not in t else None
        if col_type in ("double", "float"):
            return float(t)
        return None
    except (ValueError, IndexError):
        return None


def _strict_bound_adjust(value: Any, col_type: str, direction: int) -> Any:
    """EXACT conversion of a strict bound to an inclusive one for
    discrete types (`col < v` ≡ `col <= pred(v)`): ints step by 1,
    dates by a day, timestamps by 1µs (Iceberg stores micros).
    Continuous/string types return the value unchanged — the strict
    bound is then treated inclusively, which only keeps extra boundary
    files (conservative, never wrong)."""
    from datetime import timedelta

    if col_type in ("long", "int") or col_type in NS_TIMESTAMP_TYPES:
        return value + direction
    if col_type == "date":
        return value + timedelta(days=direction)
    if col_type == "timestamptz":
        return value + timedelta(microseconds=direction)
    return value


def extract_prune_ranges(
    predicate: str, md: dict, session_tz: timezone | None = timezone.utc
) -> dict[str, list]:
    """Predicate-derived file pruning for row-level DML (the round-5
    gap: delete_where/update_where scanned every live file while the
    read side pruned — the reference's recovery path prunes by time
    before touching storage, internal/recovery/scanner.go:197-226, and
    a 100 TB GDPR purge needs the same). Extract the pruning-safe
    conjuncts of a SQL predicate — `col <op> literal`, flipped, or
    `col BETWEEN a AND b`, ANDed at the top level — into
    plan_scan_metadata kwargs:

    * `column_range` entries (manifest min/max bounds) for every
      bounded top-level primitive column,
    * `source_range` entries (monotone-transform partition rewrite) and
      `source_predicate` entries (exact-transform rewrite, covers
      bucket/identity) for partition source columns.

    STRICTLY conservative: any conjunct the tight grammar doesn't match
    is ignored (no pruning from it, never wrong pruning); a top-level
    OR disables extraction entirely; `<`/`>` convert exactly to
    inclusive bounds for discrete types (_strict_bound_adjust) and are
    widened to inclusive for continuous ones (boundary files kept).
    Rows where the predicate evaluates NULL are not DML matches, so
    bound-based skipping never loses a match to a NULL. Naive
    timestamp literals bind in `session_tz` (see _parse_dml_literal);
    identifiers resolve case-insensitively, mirroring Spark SQL's
    default resolution (`WHERE TS >= ...` prunes the `ts` column)."""
    fields_by_fold = {
        f_["name"].casefold(): (f_["name"], f_["type"])
        for f_ in current_schema(md)["fields"]
        if isinstance(f_["type"], str)
    }
    conjuncts = _split_conjuncts(predicate)
    if not conjuncts:
        return {}
    bounds: dict[str, list] = {}  # col -> [lo, hi]
    eqs: dict[str, Any] = {}
    fields: dict[str, str] = {}  # canonical name -> type, matched cols only
    for raw in conjuncts:
        c = _strip_outer_parens(raw)
        col = op = None
        lits: list[str] = []
        m = _DML_CMP.match(c)
        if m:
            col, op, lits = m.group(1), m.group(2), [m.group(3)]
        else:
            m = _DML_CMP_FLIP.match(c)
            if m:
                col, op, lits = m.group(3), _FLIPPED_OP[m.group(2)], [m.group(1)]
            else:
                m = _DML_BETWEEN.match(c)
                if m:
                    col, op, lits = m.group(1), "between", [m.group(2), m.group(3)]
        if col is None or col.casefold() not in fields_by_fold:
            continue
        col, col_type = fields_by_fold[col.casefold()]
        fields[col] = col_type
        vals = [_parse_dml_literal(lit, col_type, session_tz) for lit in lits]
        if any(v is None for v in vals):
            continue
        lo, hi = bounds.setdefault(col, [None, None])
        try:
            if op in ("=", "=="):
                lo = vals[0] if lo is None else max(lo, vals[0])
                hi = vals[0] if hi is None else min(hi, vals[0])
                eqs[col] = vals[0]
            elif op in ("<", "<="):
                v = (
                    _strict_bound_adjust(vals[0], fields[col], -1)
                    if op == "<"
                    else vals[0]
                )
                hi = v if hi is None else min(hi, v)
            elif op in (">", ">="):
                v = (
                    _strict_bound_adjust(vals[0], fields[col], +1)
                    if op == ">"
                    else vals[0]
                )
                lo = v if lo is None else max(lo, v)
            else:  # between
                lo = vals[0] if lo is None else max(lo, vals[0])
                hi = vals[1] if hi is None else min(hi, vals[1])
        except TypeError:  # mixed-type comparison: drop the conjunct
            continue
        bounds[col] = [lo, hi]
    source_cols = {
        f_["name"]
        for f_ in current_schema(md)["fields"]
        if f_["id"] in {pf["source-id"] for pf in default_spec_fields(md)}
    }
    out: dict[str, list] = {
        "column_range": [],
        "source_range": [],
        "source_predicate": [],
    }
    for col, (lo, hi) in bounds.items():
        if lo is None and hi is None:
            continue
        if fields[col] in _BOUNDABLE_TYPES:
            out["column_range"].append((col, lo, hi))
        if col in source_cols:
            out["source_range"].append((col, lo, hi))
            if col in eqs:
                out["source_predicate"].append((col, eqs[col]))
    return {k: v for k, v in out.items() if v}


def plan_dml_files(
    md: dict,
    snapshot_id: int,
    predicate: str,
    session_tz: timezone | None = timezone.utc,
    spark=None,
) -> tuple[list[DataFile], list[DataFile], list[DataFile]]:
    """The DML planning scan both transports share: live data files
    split into (scan, excluded, delete_files) by predicate-derived
    pruning (extract_prune_ranges). `scan` files can contain matches
    and feed the Spark predicate scan; `excluded` files provably
    contain none — merge-on-read plans never touch them, copy-on-write
    plans re-commit them as untouched survivors. One manifest walk,
    O(metadata). `session_tz` is the zone Spark will evaluate naive
    timestamp literals in (spark_session_timezone(spark)); callers
    binding to a live session MUST pass it or non-UTC sessions could
    prune files whose rows match.

    Conjuncts on VARIANT paths (`try_variant_get(col, '$.k', 'long')
    >= 500`) prune too: manifests carry no variant bounds, but Spark
    writes variant SHREDDED (typed paths are real parquet columns with
    row-group stats), so surviving candidates get one footer read each
    and provably-matchless files move to `excluded`
    (sinks/variant_prune.py — zero footer I/O when the predicate has
    no variant conjunct).

    EQUALITY conjuncts on bloom-enabled columns
    (`write.parquet.bloom-filter-enabled.column.<col>` table property)
    prune further: surviving candidates get their parquet split-block
    bloom filters probed and files that PROVABLY lack every probe value
    move to `excluded` (sinks/bloom_prune.py) — the point-lookup
    complement of min/max bounds, which are useless on uniformly
    distributed keys like trace ids. Zero footer I/O when the predicate
    has no equality conjunct on a bloom column.

    `spark` routes large footer-probe candidate lists through an
    executor-side job (sinks/footer_probe.py) — pass it whenever a
    session is live; without it the probe stays on driver threads."""
    ranges = extract_prune_ranges(predicate, md, session_tz)
    excluded: list[DataFile] = []
    scan, deletes, _ = plan_scan_metadata(
        md, snapshot_id, pruned_out=excluded, **ranges
    )
    scan, dropped = predicate_footer_prune(md, scan, predicate, spark=spark)
    excluded.extend(dropped)
    return scan, excluded, deletes


def predicate_footer_prune(
    md: dict, scan: list[DataFile], predicate: str, spark=None
) -> tuple[list[DataFile], list[DataFile]]:
    """FILE-FOOTER pruning of a candidate list by the predicate's
    conjuncts — the half of predicate planning that reads parquet
    footers instead of manifests, shared by DML planning and
    server-planned REST reads (a REST catalog prunes by manifest
    metadata only; the client still owns the footer pass over the
    returned candidates). Returns (kept, dropped): shredded-variant
    row-group stats (variant_prune) then split-block bloom probes
    (bloom_prune); zero footer I/O when the predicate carries no
    matching conjunct."""
    conjuncts: list[str] | None = None
    variant_cols = {
        f_["name"]
        for f_ in current_schema(md)["fields"]
        if f_["type"] == "variant"
    }
    dropped_all: list[DataFile] = []
    if variant_cols:
        from .variant_prune import parse_variant_conjuncts, prune_files_by_variant_stats

        conjuncts = _split_conjuncts(predicate) or []
        vpreds = parse_variant_conjuncts(
            [_strip_outer_parens(c) for c in conjuncts], variant_cols
        )
        if vpreds:
            scan, dropped = prune_files_by_variant_stats(scan, vpreds, spark=spark)
            dropped_all.extend(dropped)
    bloom_prefix = "write.parquet.bloom-filter-enabled.column."
    bloom_names = {
        k[len(bloom_prefix) :]
        for k, v in md.get("properties", {}).items()
        if k.startswith(bloom_prefix) and str(v).lower() == "true"
    }
    if bloom_names and scan:
        bloom_cols = {
            f_["name"]: f_["type"]
            for f_ in current_schema(md)["fields"]
            if f_["name"] in bloom_names and isinstance(f_["type"], str)
        }
        if bloom_cols:
            from .bloom_prune import parse_bloom_conjuncts, prune_files_by_bloom

            if conjuncts is None:
                conjuncts = _split_conjuncts(predicate) or []
            probes = parse_bloom_conjuncts(
                [_strip_outer_parens(c) for c in conjuncts], bloom_cols
            )
            if probes:
                scan, dropped = prune_files_by_bloom(scan, probes, spark=spark)
                dropped_all.extend(dropped)
    return scan, dropped_all


def snapshot_id_as_of(md: dict, timestamp_ms: int) -> int | None:
    """Timestamp time travel (Iceberg's FOR SYSTEM_TIME AS OF): the
    snapshot that was CURRENT at `timestamp_ms`, resolved from the
    snapshot log (which records every head transition, including
    rollbacks — so as-of reads reflect what a reader at that wall-clock
    moment actually saw). None = the table had no snapshot yet."""
    log = [e for e in md.get("snapshot-log", []) if e["timestamp-ms"] <= timestamp_ms]
    return log[-1]["snapshot-id"] if log else None


def require_main_ancestor(md: dict, snapshot_id: int) -> None:
    """Rollback targets must be on main's CURRENT ancestry — moving the
    head to an unrelated (expired-from-chain or branch-staged) snapshot
    would corrupt every ancestry-walking consumer (incremental reads,
    changelogs, tails)."""
    chain, _ = _ancestry_window(md, None, None)
    if snapshot_id not in {s["snapshot-id"] for s in chain}:
        raise ValueError(
            f"snapshot {snapshot_id} is not an ancestor of main's head — "
            "cannot roll back to it"
        )


def partition_out_of_range(
    part: dict, range_parts: dict[str, tuple[Any, Any]]
) -> bool:
    """True when a file's partition tuple PROVABLY lies outside every
    given transform-value range; files without the value (old specs,
    null partitions) are conservatively in range."""
    return any(
        part.get(name) is not None
        and (
            (lo_t is not None and part[name] < lo_t)
            or (hi_t is not None and part[name] > hi_t)
        )
        for name, (lo_t, hi_t) in range_parts.items()
    )



def data_files_in_range(
    files: list[DataFile], range_parts: dict[str, tuple[Any, Any]]
) -> list[DataFile]:
    """The data files (content 0) of `files` not provably outside
    `range_parts` (partition_out_of_range) — the file-level half of a
    source_range_scope over _added_files' output."""
    return [
        f
        for f in files
        if f.content == 0 and not partition_out_of_range(f.partition, range_parts)
    ]

def _manifest_entry_file(m: dict, e: dict) -> DataFile:
    """One manifest entry of manifest-list record `m` as a DataFile: its
    data sequence number (a null entry seq inherits the manifest's, the
    spec's inheritance rule), the manifest's partition spec id, and for
    data files the recorded column bounds."""
    d = e["data_file"]
    content = d.get("content", 0)
    eq = d.get("equality_ids")
    return DataFile(
        file_path=d["file_path"],
        file_size_in_bytes=d["file_size_in_bytes"],
        record_count=d["record_count"],
        partition={k: v for k, v in d["partition"].items() if v is not None},
        content=content,
        equality_ids=tuple(eq) if eq else None,
        sequence_number=(
            e["sequence_number"]
            if e.get("sequence_number") is not None
            else m["sequence_number"]
        ),
        referenced_data_file=d.get("referenced_data_file"),
        content_offset=d.get("content_offset"),
        content_size_in_bytes=d.get("content_size_in_bytes"),
        raw_bounds=(
            (d.get("lower_bounds"), d.get("upper_bounds")) if content == 0 else None
        ),
        spec_id=m.get("partition_spec_id"),
        first_row_id=d.get("first_row_id"),
    )


def _live_manifest_files(manifests: list[dict], added_only: bool = False):
    """The manifest walk every planner shares: open each manifest-list
    record's manifest and yield its live entries (added + existing, or
    only the added ones) as DataFiles."""
    for m in manifests:
        _, _, entries = read_ocf(m["manifest_path"])
        resolve_first_row_ids(m, entries)  # v3 lazy-id interop (no-op on own manifests)
        for e in entries:
            if e["status"] == STATUS_DELETED or (
                added_only and e["status"] != STATUS_ADDED
            ):
                continue
            yield _manifest_entry_file(m, e)


def live_files(
    md: dict, snapshot_id: int, only_deletes: bool = False
) -> tuple[list[DataFile], list[DataFile]]:
    """(data files, delete files — position AND equality) live in a
    snapshot: plan_scan_metadata's manifest walk without its pruning,
    which both catalogs plan DML and maintenance from. `only_deletes`
    opens ONLY delete manifests (manifest-list content == 1) — the
    cheap walk deletion-vector fold compensation needs — and returns
    an empty data list."""
    snapshot = next(s for s in md["snapshots"] if s["snapshot-id"] == snapshot_id)
    _, _, manifests = read_ocf(snapshot["manifest-list"])
    if only_deletes:
        manifests = [m for m in manifests if m.get("content", 0) != 0]
    data: list[DataFile] = []
    deletes: list[DataFile] = []
    for f in _live_manifest_files(manifests):
        (deletes if f.content in (1, 2) else data).append(f)
    return data, deletes


def resolve_dml_branch(md: dict, branch: str) -> int:
    """Branch-scoped DML target: the snapshot id the plan runs against.
    The merge-on-read forms (position deletes, deletion vectors) commit
    like branch appends — same fold-on-write and liveness validation,
    parented on the branch head. Copy-on-write parents its replace
    commit on the branch head too, pinned by a branch-scoped
    ReplaceConflictError check (fs) / assert-ref-snapshot-id (REST):
    a concurrent commit to the SAME branch forces a re-plan, while
    main advancing concurrently is irrelevant to the branch's rewrite.
    Tags and unknown refs are refused."""
    if branch == "main":
        return md["current-snapshot-id"]
    ref = md.get("refs", {}).get(branch)
    if ref is None:
        raise ValueError(f"unknown branch {branch!r}")
    if ref.get("type") != "branch":
        raise ValueError(f"{branch!r} is a tag — tags are immutable bookmarks")
    return ref["snapshot-id"]


def table_format_version(md: dict) -> int:
    try:
        return int(md.get("format-version", 2))
    except (TypeError, ValueError):
        return 2


def require_position_delete_files_allowed(md: dict) -> None:
    """Iceberg v3 forbids parquet position-delete FILES — row-level
    position deletes must be deletion vectors (spec: 'Position delete
    files must not be added to v3 tables'). Raised by the merge-on-read
    write paths, not the readers: v2-era history stays readable after
    an upgrade."""
    if table_format_version(md) >= 3:
        raise ValueError(
            "format-version 3 tables must not write parquet position-delete "
            "files — use mode='deletion-vectors'"
        )


def plan_format_upgrade(md: dict, target: int) -> bool:
    """Validate a format-version upgrade; True when there is anything to
    do. v3 (the only upgrade target) requires the CURRENT snapshot to
    already satisfy v3's delete invariants:
    * no live parquet position-delete files — rewrite_position_deletes /
      `maintain --fold` migrates them to deletion vectors first;
    * at most one live deletion vector per data file (legacy cross-
      commit stacks predate fold-on-write) — same remedy.
    Downgrades and unknown versions are refused outright. Historical
    snapshots are not rewritten (time travel to v2-era snapshots keeps
    working); the invariants gate what the table IS, the write-path
    guards gate what it may become."""
    current = table_format_version(md)
    if target == current:
        return False
    if target < current:
        raise ValueError(
            f"cannot downgrade format-version {current} -> {target}"
        )
    if target != 3:
        raise ValueError(f"unsupported format-version {target}")
    sid = md.get("current-snapshot-id", -1)
    if sid != -1:
        _, deletes = live_files(md, sid, only_deletes=True)
        parquet_pos = [
            f for f in deletes if f.content == 1 and not f.is_deletion_vector
        ]
        if parquet_pos:
            raise ValueError(
                f"{len(parquet_pos)} live parquet position-delete file(s) "
                "block the v3 upgrade — run rewrite_position_deletes (CLI: "
                "maintain --fold) first"
            )
        dv_counts: dict[str, int] = {}
        for f in deletes:
            if f.is_deletion_vector:
                dv_counts[f.referenced_data_file] = (
                    dv_counts.get(f.referenced_data_file, 0) + 1
                )
        stacked = sorted(p for p, n in dv_counts.items() if n > 1)
        if stacked:
            raise ValueError(
                f"{len(stacked)} data file(s) carry stacked deletion "
                "vectors (legacy pre-fold commits) — fold them first "
                "(any DV delete, or maintain --fold)"
            )
    return True


class RowLevelPlan(NamedTuple):
    """A planned row-level change whose data and delete files are
    already written; the Table commits it. Copy-on-write: `files` is the
    rewritten live set (survivors + rewritten + inserted). Merge-on-read:
    `files` are the delete and data files the row delta adds,
    `superseded` the prior deletion vectors it folds (the commit marks
    them DELETED) and `targets` the data files its deletes reference
    (the commit validates they are still live). `summary` goes into the
    snapshot summary; `counts` follow the snapshot id in the Table
    method's result."""

    files: list[DataFile]
    summary: dict[str, str]
    counts: tuple[int, ...]
    superseded: list[DataFile] = []
    targets: set[str] = set()


def write_delete_matches(
    spark: SparkSession,
    md: dict,
    matched: DataFrame,
    delete_files: list[DataFile],
    deletion_vectors: bool,
) -> tuple[list[DataFile], int, list[DataFile], set[str]] | None:
    """The one delete writer under every merge-on-read plan: the
    `(__file, __dpos)` tags of `matched` (live_row_scan rows that match)
    become delete files, and no data file is read beyond that scan or
    rewritten. Returns (new delete DataFiles, rows newly deleted,
    superseded prior vectors, referenced data-file paths) or None when
    nothing matched.

    Parquet tuples (`deletion_vectors=False`): one hash-agg job yields
    the count and the referenced file set (metadata-scale: one row per
    touched file), then the tuples are written globally sorted by
    (file_path, pos) — the spec's required delete-file ordering — via
    ONE repartitionByRange of just the tuples, with the spec's reserved
    field ids. Parquet deletes stack by design: nothing is superseded.

    DELETION VECTORS (Iceberg v3): each referenced data file gets a
    64-bit roaring bitmap of its deleted positions, serialized ON THE
    EXECUTORS (one applyInPandas per file group — only the compact
    vectors reach the driver) and co-located in ONE Puffin file whose
    per-blob spans land in the manifest entries (fields 143-145).
    FOLD-ON-WRITE (the spec's one-DV-per-file invariant): a data file's
    prior live vectors are unioned into its new one and returned as
    superseded, so a spec-conforming reader, which treats a file's DV as
    its COMPLETE delete set, never resurrects earlier deletes. The
    decode+union is driver-side but metadata-scale: only files receiving
    NEW deletes are touched."""
    matches = matched.select(
        F.col("__file").alias("file_path"), F.col("__dpos").alias("pos")
    )
    if not deletion_vectors:
        per_file = matches.groupBy("file_path").count().collect()
        n_deleted = sum(r["count"] for r in per_file)
        if n_deleted == 0:
            return None
        out_dir = os.path.join(md["location"], "data", f"deletes-{uuid.uuid4().hex}")
        n_parts = max(1, min(64, -(-n_deleted // 5_000_000)))
        (
            matches.repartitionByRange(n_parts, "file_path", "pos")
            .sortWithinPartitions("file_path", "pos")
            .select(*_pos_delete_write_cols())
            .write.parquet(out_dir)
        )
        new_deletes = [
            DataFile(
                file_path=f.file_path,
                file_size_in_bytes=f.file_size_in_bytes,
                record_count=f.record_count,
                partition={},
                content=1,
            )
            for f in _scan_written_files(out_dir, [])
        ]
        return new_deletes, n_deleted, [], {r["file_path"] for r in per_file}

    import numpy as np

    from .puffin import read_deletion_vector_span, write_deletion_vector_file
    from .roaring import deserialize_64, serialize_64

    def to_vec(key, pdf):
        import numpy as np
        import pandas as pd

        positions = np.unique(pdf["pos"].to_numpy().astype("uint64"))
        return pd.DataFrame(
            {
                "file_path": [key[0]],
                "vec": [serialize_64(positions)],
                "card": [len(positions)],
            }
        )

    vecs = (
        matches.groupBy("file_path")
        .applyInPandas(to_vec, "file_path string, vec binary, card long")
        .collect()
    )
    if not vecs:
        return None
    n_deleted = sum(r["card"] for r in vecs)
    new_paths = {r["file_path"] for r in vecs}
    prior_by_file: dict[str, list[DataFile]] = {}
    for f in delete_files:
        if f.is_deletion_vector and f.referenced_data_file in new_paths:
            prior_by_file.setdefault(f.referenced_data_file, []).append(f)
    superseded = [f for group in prior_by_file.values() for f in group]
    dvs: dict[str, tuple[bytes, int]] = {}
    for r in vecs:
        vec, card = bytes(r["vec"]), r["card"]
        priors = prior_by_file.get(r["file_path"])
        if priors:
            merged = deserialize_64(vec)
            for pf in priors:
                merged = np.union1d(
                    merged,
                    read_deletion_vector_span(
                        pf.file_path, pf.content_offset, pf.content_size_in_bytes
                    ),
                )
            vec, card = serialize_64(merged), len(merged)
        dvs[r["file_path"]] = (vec, card)

    path, spans = write_deletion_vector_file(
        md["location"],
        dvs,
        sequence_number=md["last-sequence-number"] + 1,
    )
    size = os.path.getsize(path)
    new_deletes = [
        DataFile(
            file_path=path,
            file_size_in_bytes=size,
            record_count=card,
            partition={},
            content=1,
            referenced_data_file=data_file,
            content_offset=off,
            content_size_in_bytes=length,
        )
        for data_file, (off, length, card) in sorted(spans.items())
    ]
    return new_deletes, n_deleted, superseded, set(dvs)


def _plan_mor_delete(
    spark: SparkSession,
    md: dict,
    data_files: list[DataFile],
    delete_files: list[DataFile],
    predicate: str,
    deletion_vectors: bool,
) -> RowLevelPlan | None:
    """Merge-on-read DELETE: the live rows matching the bare predicate
    (filtered in the Parquet scan, already-deleted rows subtracted)
    written by write_delete_matches."""
    if not data_files:
        return None
    matched = live_row_scan(spark, md, data_files, delete_files, where=predicate)
    written = write_delete_matches(spark, md, matched, delete_files, deletion_vectors)
    if written is None:
        return None
    new_deletes, n_deleted, superseded, targets = written
    summary = {"deleted-records": str(n_deleted)}
    if deletion_vectors:
        summary["added-dvs"] = str(len(new_deletes))
    return RowLevelPlan(new_deletes, summary, (n_deleted,), superseded, targets)


def plan_position_delete(
    spark: SparkSession,
    md: dict,
    data_files: list[DataFile],
    delete_files: list[DataFile],
    predicate: str,
) -> RowLevelPlan | None:
    """Merge-on-read DELETE planning with parquet position-delete
    output: two Spark jobs regardless of table size (the count over the
    predicate scan, then the sorted tuple write). No data file is read
    beyond the predicate scan and none is rewritten."""
    return _plan_mor_delete(spark, md, data_files, delete_files, predicate, False)


def plan_deletion_vectors(
    spark: SparkSession,
    md: dict,
    data_files: list[DataFile],
    delete_files: list[DataFile],
    predicate: str,
) -> RowLevelPlan | None:
    """Merge-on-read DELETE planning with DELETION-VECTOR output (Iceberg
    v3 "Deletion Vectors", also allowed on v2 as an engine extension):
    one roaring bitmap per referenced data file in a single Puffin file,
    folded with the file's prior vector. A reader seeks exactly one blob
    per file."""
    return _plan_mor_delete(spark, md, data_files, delete_files, predicate, True)


def hive_data_files(
    source_dir: str, spec: list[dict], timezone_name: str = "UTC"
) -> list[DataFile]:
    """DataFiles for every Parquet under a raw-sink `year=/month=[/day=
    [/hour=]]` tree, Hive values mapped to transform values (K4,
    catalog_rest.go:306-367). No data is read beyond footer row counts.

    The raw sink renders those directories in `timezone_name` wall time
    (parquet_sink.partition_value_columns), so each directory's span
    converts to UTC before the transform. A directory whose span covers
    more than one partition value — a day or month directory under a
    zone that is not UTC, an hour under an offset that is not a whole
    hour, a DST fold hour — raises ValueError naming it: registering it
    under one value would prune its rows from reads."""
    from zoneinfo import ZoneInfo

    zone = ZoneInfo(timezone_name)
    files: list[DataFile] = []
    for path in sorted(glob.glob(os.path.join(source_dir, "**", "*.parquet"), recursive=True)):
        partition: dict[str, int | None] = {}
        if spec:
            pf = spec[0]
            parts = _hive_values(os.path.relpath(path, source_dir))
            partition[pf["name"]] = _hive_dir_value(
                parts, pf["transform"], zone, os.path.dirname(path)
            )
        files.append(
            DataFile(
                file_path=os.path.abspath(path),
                file_size_in_bytes=os.path.getsize(path),
                record_count=_parquet_row_count(path),
                partition=partition,
            )
        )
    return files


def _hive_dir_value(parts: dict[str, str], transform: str, zone, directory: str) -> int:
    """The transform value of one raw-sink directory whose
    year=/month=/day=/hour= values are wall time in `zone`."""
    from datetime import timedelta

    year = int(parts.get("year", 1970))
    month = int(parts.get("month", 1))
    day = int(parts.get("day", 1))
    hour = int(parts.get("hour", 0))
    start = datetime(year, month, day, hour)
    # the wall-clock span the deepest present level covers
    if "hour" in parts:
        end = start + timedelta(hours=1)
    elif "day" in parts:
        end = start + timedelta(days=1)
    elif "month" in parts:
        end = datetime(year + month // 12, month % 12 + 1, 1)
    else:
        end = datetime(year + 1, 1, 1)
    # fold=1 reads an ambiguous end as its LATER occurrence, so a DST
    # fold hour spans both
    first = transform_value(start.replace(tzinfo=zone), transform)
    last = transform_value(
        (end - timedelta(microseconds=1)).replace(tzinfo=zone, fold=1), transform
    )
    if first != last:
        raise ValueError(
            f"{directory}: its {zone.key} wall-time span maps to more than one "
            f"{transform!r} partition value ({first}..{last}), so no one "
            "value can register it"
        )
    return first


def data_files_for_paths(paths: list[str], spec: list[dict], location: str) -> list[DataFile]:
    """DataFiles for specific Parquet paths (recovery add_files path);
    partition values parsed from `key=value` segments below the table
    location — the field's own name (append layout) or raw-sink
    year/month/day/hour values."""
    files: list[DataFile] = []
    for path in sorted(paths):
        partition: dict[str, int | None] = {}
        if spec:
            pf = spec[0]
            hive = _hive_values_scoped(path, location)
            if pf["name"] in hive:
                partition[pf["name"]] = _part_int(hive[pf["name"]])
            elif "year" in hive:
                ts = datetime(
                    int(hive["year"]),
                    int(hive.get("month", 1)),
                    int(hive.get("day", 1)),
                    int(hive.get("hour", 0)),
                    tzinfo=timezone.utc,
                )
                partition[pf["name"]] = transform_value(ts, pf["transform"])
        files.append(
            DataFile(
                file_path=os.path.abspath(path),
                file_size_in_bytes=os.path.getsize(path),
                record_count=_parquet_row_count(path),
                partition=partition,
            )
        )
    return files


def all_data_file_paths(md: dict) -> list[str]:
    """Every data-file path referenced by ANY snapshot (the Iceberg
    `all_files` metadata table; time-travel-aware dedup like
    catalog_rest.go:370-467). Manifests are carried forward across
    snapshots, so snapshot_file_tree's memo opens each distinct manifest
    ONCE: reads cost snapshots + distinct manifests, not their product."""
    paths: set[str] = set()
    memo: dict[str, frozenset[str]] = {}
    for snapshot in md["snapshots"]:
        paths |= snapshot_file_tree(snapshot, memo)[0]
    return sorted(paths)


def sweep_orphan_files(
    location: str, referenced: set[str], older_than_seconds: float
) -> list[str]:
    """Transport-neutral orphan sweep both table handles share: delete
    every `data/**/*.parquet` under `location` that `referenced` (the
    all-snapshots file set — data AND delete files, since delete
    manifests' entries land in all_data_file_paths too) does not name
    and that is older than the cutoff (fresh files may belong to an
    in-flight commit racing this call). Returns deleted paths."""
    cutoff = time.time() - older_than_seconds
    deleted: list[str] = []
    # *.parquet = data / position-delete / equality-delete files;
    # *.puffin under data/ = deletion-vector files (abandoned by failed
    # DV commits exactly like parquet by failed appends)
    for pattern in ("*.parquet", "*.puffin"):
        for path in glob.glob(
            os.path.join(location, "data", "**", pattern), recursive=True
        ):
            path = os.path.abspath(path)
            if path in referenced:
                continue
            try:
                if os.path.getmtime(path) >= cutoff:
                    continue  # too fresh — may belong to an in-flight commit
                os.remove(path)
                deleted.append(path)
            except OSError:
                continue  # raced with another cleaner — fine
    return sorted(deleted)


def count_rows_from_metadata(md: dict, snapshot_id: int | None) -> int | None:
    """The metadata-only half of count_rows, shared by both transports:
    an exact row count when no delete files are live (summary totals
    when present, one metadata walk otherwise), or None when pending
    deletes force a read-side scan."""
    sid = (
        snapshot_id if snapshot_id is not None else md.get("current-snapshot-id", -1)
    )
    if sid in (-1, None):
        return 0
    snap = next(s for s in md["snapshots"] if s["snapshot-id"] == sid)
    summary = snap.get("summary", {})
    if all(k in summary for k in ("total-records", "total-delete-files")):
        if int(summary["total-delete-files"]) == 0:
            return int(summary["total-records"])
        return None
    data, deletes = live_files(md, sid)
    if not deletes:
        return sum(f.record_count for f in data)
    return None


def plan_auto_fold(md: dict, threshold: float = 0.05) -> dict:
    """The `maintain --auto` fold policy, shared by both transports:
    decide FROM METADATA ALONE (snapshot summary totals — one dict
    read; a metadata walk only for tables written by engines that omit
    totals) whether pending merge-on-read deletes have accumulated past
    `threshold` (deleted rows / live data rows) and should be folded
    into the data files. Folding restores the metadata-only count_rows
    fast path and drops the per-read delete subtraction — but rewrites
    every file the deletes reference, so it should fire on RATIO, not
    on every commit. Returns {"fold_position", "fold_equality",
    "position_delete_ratio", "equality_delete_ratio"}."""
    sid = md.get("current-snapshot-id", -1)
    out = {
        "fold_position": False,
        "fold_equality": False,
        "position_delete_ratio": 0.0,
        "equality_delete_ratio": 0.0,
    }
    if sid in (-1, None):
        return out
    snap = next(s for s in md["snapshots"] if s["snapshot-id"] == sid)
    summary = snap.get("summary", {})
    keys = ("total-records", "total-position-deletes", "total-equality-deletes")
    if all(k in summary for k in keys):
        records = int(summary["total-records"])
        pos = int(summary["total-position-deletes"])
        eq = int(summary["total-equality-deletes"])
    else:
        data, deletes = live_files(md, sid)
        records = sum(f.record_count for f in data)
        pos = sum(f.record_count for f in deletes if f.content == 1)
        eq = sum(f.record_count for f in deletes if f.content == 2)
    if records <= 0:
        return out
    out["position_delete_ratio"] = round(pos / records, 6)
    out["equality_delete_ratio"] = round(eq / records, 6)
    out["fold_position"] = pos / records >= threshold
    out["fold_equality"] = eq / records >= threshold
    return out


def sweep_table_orphans(
    location: str,
    md: dict,
    referenced_files: set[str],
    older_than_seconds: float,
    include_metadata: bool,
) -> list[str]:
    """Data-file + (optionally) metadata-tree orphan sweep, shared by
    both transports."""
    deleted = sweep_orphan_files(location, referenced_files, older_than_seconds)
    if include_metadata:
        deleted += sweep_orphan_metadata(
            location, referenced_metadata_paths(md), older_than_seconds
        )
    return deleted


def referenced_metadata_paths(md: dict) -> set[str]:
    """Every metadata-tree file the CURRENT table metadata reaches:
    manifest lists + manifests of every snapshot (main ancestry, branch
    heads, and tag-pinned alike — they all live in `snapshots`), plus
    registered Puffin column-stats and partition-stats files. The
    complement under metadata/ is commit litter: CAS-losing attempts
    and expired trees, safe to sweep once old enough."""
    refs: set[str] = set()
    for s in md["snapshots"]:
        refs.add(os.path.abspath(s["manifest-list"]))
        _, _, manifests = read_ocf(s["manifest-list"])
        for m in manifests:
            refs.add(os.path.abspath(m["manifest_path"]))
    for key in ("partition-statistics", "statistics"):
        for e in md.get(key, []):
            refs.add(os.path.abspath(e["statistics-path"]))
    return refs


def sweep_orphan_metadata(
    location: str, referenced: set[str], older_than_seconds: float
) -> list[str]:
    """The metadata-side orphan sweep: every optimistic-commit RETRY
    (both transports write the manifest tree BEFORE the commit
    arbitration) and every rewrite_manifests/compaction leaves
    unreferenced .avro trees behind — at a streaming exporter's
    commit-per-micro-batch cadence with contending writers that litter
    accumulates without bound. Deletes metadata/*.avro, stray
    partition-stats parquet, and .puffin files that `referenced` (see
    referenced_metadata_paths) does not name and that are older than
    the cutoff (fresh trees may belong to an in-flight commit racing
    this call). Metadata JSON versions and the version hint are NEVER
    touched (they are the commit log itself). Returns deleted paths."""
    cutoff = time.time() - older_than_seconds
    deleted: list[str] = []
    meta_dir = os.path.join(location, "metadata")
    for pattern in ("*.avro", "partition-stats-*.parquet", "*.puffin"):
        for path in glob.glob(os.path.join(meta_dir, pattern)):
            path = os.path.abspath(path)
            if path in referenced:
                continue
            try:
                if os.path.getmtime(path) >= cutoff:
                    continue  # too fresh — may belong to an in-flight commit
                os.remove(path)
                deleted.append(path)
            except OSError:
                continue  # raced with another cleaner — fine
    return sorted(deleted)


def _ancestry_window(
    md: dict,
    from_snapshot_id: int | None,
    to_snapshot_id: int | None,
) -> tuple[list[dict], int | None]:
    """The snapshots STRICTLY AFTER `from` up to `to` (default: main's
    current head), oldest first, following the PARENT CHAIN — not the
    raw snapshots list, which also holds WAP-branch-staged commits that
    must stay invisible to main consumers until fast-forward publishes
    them (after publish, the chain runs through them exactly once).
    Returns (window, end_snapshot_id) where end is the checkpoint id."""
    by_id = {s["snapshot-id"]: s for s in md["snapshots"]}
    tip = (
        to_snapshot_id
        if to_snapshot_id is not None
        else md.get("current-snapshot-id", -1)
    )
    if to_snapshot_id is not None and to_snapshot_id not in by_id:
        raise ValueError(f"unknown to snapshot {to_snapshot_id}")
    if tip == -1:
        if from_snapshot_id is not None:
            raise ValueError(f"unknown from snapshot {from_snapshot_id}")
        return [], None
    chain: list[dict] = []
    cur: int | None = tip
    while cur is not None and cur in by_id:
        chain.append(by_id[cur])
        cur = by_id[cur].get("parent-snapshot-id")
    chain.reverse()
    ids = [s["snapshot-id"] for s in chain]
    if from_snapshot_id is not None and from_snapshot_id not in ids:
        if from_snapshot_id not in by_id:
            raise ValueError(f"unknown from snapshot {from_snapshot_id}")
        raise ValueError(
            f"from snapshot {from_snapshot_id} is not an ancestor of the "
            f"requested end snapshot {tip} (staged on an unpublished "
            "branch, or newer than the window end)"
        )
    start = ids.index(from_snapshot_id) + 1 if from_snapshot_id is not None else 0
    return chain[start:], tip


def incremental_data_files(
    md: dict,
    from_snapshot_id: int | None = None,
    to_snapshot_id: int | None = None,
    source_range: tuple[str, Any, Any] | list[tuple[str, Any, Any]] | None = None,
) -> tuple[list[DataFile], int | None]:
    """Data files ADDED by append snapshots strictly after
    `from_snapshot_id` (exclusive) up to `to_snapshot_id` (inclusive;
    current when None) — Iceberg's incremental append scan. Returns
    (files, end_snapshot_id) where end_snapshot_id is the LAST snapshot
    the scan actually covered — the value a consumer must checkpoint
    (None on an empty table). Walks MAIN's ancestry only: WAP-staged
    branch commits stay invisible until published. `replace` snapshots
    (compaction) rewrite physical layout without changing logical data
    and are skipped; any OTHER operation (overwrite/delete) raises,
    mirroring Iceberg's incremental-scan contract — silently skipping
    one would hide its logical effects from the change stream."""
    window, end_snapshot_id = _ancestry_window(md, from_snapshot_id, to_snapshot_id)
    range_parts, excluder, _ = source_range_scope(md, source_range)
    files: list[DataFile] = []
    for s in window:
        op = s["summary"].get("operation")
        if op == "replace":
            continue
        if op != "append":
            raise ValueError(
                f"incremental scan window contains a {op!r} snapshot "
                f"({s['snapshot-id']}); incremental append scans cannot "
                "represent its effects"
            )
        added, _ = _added_files(s, manifest_excluded=excluder)
        files += data_files_in_range(added, range_parts)
    return files, end_snapshot_id


def _added_files(
    snapshot: dict, manifest_excluded=None
) -> tuple[list[DataFile], bool]:
    """(files ADDED by one snapshot — its own manifests only — with
    content/equality_ids/sequence numbers, whether the snapshot CARRIES
    ancestor manifests). The one walk over what a snapshot added:
    changelogs, incremental file plans (data files in range), the
    streaming tail, cherry-pick and the shred-path check all filter its
    output. Carry-forward distinguishes append-style commits (appends,
    merge-on-read row deltas) from replace-style overwrites, whose
    manifest holds the complete live set. A manifest with nothing ADDED
    (commit-time merges, fold rewrites) is never opened.

    `manifest_excluded` (a build_manifest_excluder callable) skips a
    DATA manifest UNOPENED when its field-507 partition summaries prove
    nothing in scope — a time-scoped changelog over the exporter's
    micro-batch cadence then opens O(in-scope) manifests, not O(all).
    Carried-ness is decided BEFORE the skip so overwrite-shape
    detection is unaffected."""
    carried = False
    opened = []
    _, _, manifests = read_ocf(snapshot["manifest-list"])
    for m in manifests:
        if m["added_snapshot_id"] != snapshot["snapshot-id"]:
            carried = True
            continue
        if m["existing_files_count"] > 0:
            # a commit-time-merged or fold-rewritten manifest: EXISTING
            # ancestor entries rewritten under this snapshot's id —
            # still carried data
            carried = True
        if m["added_files_count"] == 0:
            continue  # nothing ADDED inside — skip the read entirely
        if manifest_excluded is None or not manifest_excluded(m):
            opened.append(m)
    return list(_live_manifest_files(opened, added_only=True)), carried


def plan_cherry_pick(md: dict, snapshot_id: int) -> list[DataFile]:
    """Validation + file extraction both transports' cherry_pick share:
    the snapshot must exist, be a plain data APPEND (other operations
    were planned against their own base and cannot replay), and must
    not already be published — neither directly on main's ancestry nor
    via an earlier cherry-pick (the published copy carries a fresh
    snapshot id, so the `cherry-picked-from-snapshot` summary marker is
    the only trace; Iceberg uses source-snapshot-id the same way).
    Returns the ADDED data files with sequence numbers reset: the files
    re-enter under the NEW commit's sequence (the staged branch's seqs
    belong to ITS lineage and may collide with commits main gained
    since)."""
    import dataclasses

    snap = next(
        (s for s in md["snapshots"] if s["snapshot-id"] == snapshot_id), None
    )
    if snap is None:
        raise ValueError(f"unknown snapshot {snapshot_id}")
    if snap["summary"].get("operation") != "append":
        raise ValueError(
            f"snapshot {snapshot_id} is a "
            f"{snap['summary'].get('operation')!r} snapshot; only append "
            "snapshots can be cherry-picked (other operations were "
            "planned against their own base and cannot replay)"
        )
    chain, _ = _ancestry_window(md, None, None)
    if snapshot_id in {s["snapshot-id"] for s in chain}:
        raise ValueError(
            f"snapshot {snapshot_id} is already on main's ancestry — "
            "cherry-picking it would duplicate its rows"
        )
    already = next(
        (
            s["snapshot-id"]
            for s in chain
            if s["summary"].get("cherry-picked-from-snapshot")
            == str(snapshot_id)
        ),
        None,
    )
    if already is not None:
        raise ValueError(
            f"snapshot {snapshot_id} was already cherry-picked as "
            f"snapshot {already} — publishing it again would duplicate "
            "its rows (a retry after a lost response should treat the "
            "first publish as the success)"
        )
    added, _ = _added_files(snap)
    if any(f.content != 0 for f in added):
        raise ValueError(
            f"snapshot {snapshot_id} added delete files; cherry-pick "
            "supports plain data appends only"
        )
    return [dataclasses.replace(f, sequence_number=0) for f in added]


def net_changes(df: DataFrame) -> DataFrame:
    """Collapse a LINEAGE changelog window (read_changelog
    with_lineage=True) to its NET effect per row — Iceberg's
    net-changes changelog view, keyed by the v3 row identity instead of
    content:

    * inserted then deleted inside the window -> nothing;
    * inserted (possibly updated N times) -> ONE insert with the final
      content;
    * existing row updated N times -> ONE delete (the first pre-image)
      + ONE insert (the final content);
    * existing row deleted -> ONE delete (the first pre-image).

    Mechanics: per _row_id, order events by the global change order
    (_commit_sequence_number; a delete sorts before the insert of the
    same commit — an update pair), then emit first-event deletes and
    last-event inserts. One shuffle on _row_id; scales with the
    window's change volume, never the table. delete_key rows (no row
    identity) and null _row_id rows (pre-lineage files) are refused —
    the check rides INSIDE the plan (raise_error on the partition key
    column), so the guard costs no extra Spark job. Exception contract:
    the refusal surfaces at ACTION time as a Spark execution error
    (SparkRuntimeException wrapping the message below), not as a
    ValueError from this call — the input is a lazy DataFrame, so
    eager validation would itself cost a job. Caller-side filters
    cannot skip it: a filter on _row_id pushed below the window
    substitutes the guard CASE expression into its own condition, and
    filters on other columns cannot cross the window boundary
    (pinned in test_plans.py). Lineage changelogs auto-resolve
    equality-delete pre-images (full_pre_images defaults to
    with_lineage), so the refusal only fires on an explicit
    full_pre_images=False or on files predating lineage."""
    from pyspark.sql import Window

    if "_row_id" not in df.columns:
        raise ValueError("net_changes needs a lineage changelog "
                         "(read_changelog with_lineage=True)")
    # identity guard folded into the main plan: every change row flows
    # through this projection of the window's partition key, so a
    # delete_key / null-id row aborts the job with the remedy instead
    # of silently collapsing wrong
    bad = (F.col("_change_type") == "delete_key") | F.col(ROW_ID_COL).isNull()
    df = df.withColumn(
        ROW_ID_COL,
        F.when(
            bad,
            F.raise_error(F.lit(
                "net_changes needs row identity on every change row: "
                "delete_key rows / null _row_id (pre-lineage files) "
                "present — use full_pre_images=True and rewrite "
                "pre-lineage files first"
            )).cast("long"),
        ).otherwise(F.col(ROW_ID_COL)),
    )
    order = [
        F.col("_commit_sequence_number").asc(),
        F.when(F.col("_change_type") == "delete", 0).otherwise(1).asc(),
    ]
    w = Window.partitionBy(ROW_ID_COL).orderBy(*order)
    wall = Window.partitionBy(ROW_ID_COL)
    ranked = (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("__cnt", F.count(F.lit(1)).over(wall))
    )
    first_deletes = ranked.where(
        (F.col("__rn") == 1) & (F.col("_change_type") == "delete")
    )
    last_inserts = ranked.where(
        (F.col("__rn") == F.col("__cnt")) & (F.col("_change_type") == "insert")
    )
    return first_deletes.unionByName(last_inserts).drop("__rn", "__cnt")


def _equality_pre_images(
    spark: SparkSession,
    md: dict,
    s: dict,
    keys: DataFrame,
    key_fields: list[dict],
    with_lineage: bool,
) -> DataFrame:
    """Full pre-images of one equality-delete file's matches: the
    parent snapshot's live rows whose keys appear in the delete set.
    Every parent-live row's sequence number is strictly below the
    delete's (the delete seq is parent's last + 1), so a plain
    null-safe key semi-join gives exactly the removed rows. The key
    set's min/max prune the parent's files via manifest column bounds
    BEFORE any data read — cost tracks files containing matches."""
    parent = s.get("parent-snapshot-id")
    names = [kf["name"] for kf in key_fields]
    bounds_row = keys.agg(
        *[F.min(n).alias(f"lo_{n}") for n in names],
        *[F.max(n).alias(f"hi_{n}") for n in names],
    ).first()
    boundable = {
        kf["name"] for kf in key_fields if kf["type"] in _BOUNDABLE_TYPES
    }
    column_range = [
        (n, bounds_row[f"lo_{n}"], bounds_row[f"hi_{n}"])
        for n in names
        if n in boundable and bounds_row[f"lo_{n}"] is not None
    ]
    parent_data, parent_deletes = plan_scan_metadata(
        md, parent, column_range=column_range or None
    )[:2]
    tagged = live_row_scan(
        spark, md, parent_data, parent_deletes, lineage=with_lineage
    )
    cond = None
    for n in names:
        c = tagged[n].eqNullSafe(keys[n])
        cond = c if cond is None else (cond & c)
    pre = tagged.join(F.broadcast(keys), cond, "left_semi")
    return pre.drop(*ROW_TAGS)


def _cow_changelog_via_lineage(
    spark: SparkSession, md: dict, s: dict, tag
) -> list[DataFrame]:
    """Row-level changes of a COPY-ON-WRITE overwrite snapshot,
    recovered through v3 row lineage: only the files the rewrite
    TOUCHED are scanned (removed parent files with the parent's deletes
    applied = pre-images; added files = post-images), then diffed on
    _row_id — a vanished id is a delete, a fresh id an insert, and an
    id whose _last_updated equals this commit's sequence number is an
    update (emitted as delete-of-pre-image + insert-of-post-image, the
    changelog's apply-delete-then-insert contract). Untouched survivor
    files are never read, so cost tracks the rewrite, not the table.
    Requires every touched file to carry lineage (first_row_id or
    materialized columns) — pre-upgrade files raise."""
    sid = s["snapshot-id"]
    parent = s["parent-snapshot-id"]
    parent_data, parent_deletes = live_files(md, parent)
    child_data, _ = live_files(md, sid)
    child_paths = {f.file_path for f in child_data}
    parent_paths = {f.file_path for f in parent_data}
    removed = [f for f in parent_data if f.file_path not in child_paths]
    added = [f for f in child_data if f.file_path not in parent_paths]
    lineage_blind = [
        f for f in removed + added if f.content == 0 and f.first_row_id is None
    ]
    if lineage_blind:
        raise ValueError(
            f"changelog cannot represent copy-on-write overwrite snapshot "
            f"{sid}: {len(lineage_blind)} touched file(s) predate row "
            "lineage (no first_row_id) — rewrite them (compaction) first"
        )

    # pre-images: the removed files' LIVE rows at the parent (deletes
    # restricted to files the rewrite touched apply; survivors' deletes
    # are irrelevant here)
    removed_set = {f.file_path for f in removed}
    rel_deletes = [
        f
        for f in parent_deletes
        if f.content == 2
        or (f.is_deletion_vector and f.referenced_data_file in removed_set)
        or (f.content == 1 and not f.is_deletion_vector)
    ]
    old_rows = live_row_scan(spark, md, removed, rel_deletes, lineage=True)
    new_rows = live_row_scan(spark, md, added, lineage=True)
    seq = s["sequence-number"]
    old_ids = old_rows.select(ROW_ID_COL)
    new_ids = new_rows.select(ROW_ID_COL)
    vanished = old_rows.join(new_ids, ROW_ID_COL, "left_anti")
    fresh = new_rows.join(old_ids, ROW_ID_COL, "left_anti")
    updated_new = new_rows.where(F.col(LAST_UPDATED_COL) == F.lit(seq)).join(
        old_ids, ROW_ID_COL, "left_semi"
    )
    updated_old = old_rows.join(
        updated_new.select(ROW_ID_COL), ROW_ID_COL, "left_semi"
    )
    return [
        tag(vanished.unionByName(updated_old), "delete", s),
        tag(fresh.unionByName(updated_new), "insert", s),
    ]


def read_changelog(
    spark: SparkSession,
    md: dict,
    from_snapshot_id: int | None = None,
    to_snapshot_id: int | None = None,
    source_range: tuple[str, Any, Any] | list[tuple[str, Any, Any]] | None = None,
    with_lineage: bool = False,
    full_pre_images: bool | None = None,
) -> DataFrame:
    """Row-level CDC over a snapshot window — the read half of the CDC
    story (upsert_equality/delete_where* are the write half). Returns
    the table columns plus `_change_type`, `_commit_snapshot_id`, and
    `_commit_sequence_number` (the global change order), one row per
    logical change:

    * `append` snapshots -> `insert` rows (the added files, read).
    * `delete` snapshots with position deletes -> `delete` rows with
      FULL row content (the tuples joined back to the parent snapshot's
      data files — cost tracks the deleted rows' files, not the table).
    * `delete`/`overwrite` snapshots with equality deletes ->
      `delete_key` rows: the key columns populated, every other column
      NULL (reconstructing full pre-images would cost a table scan; a
      downstream materializer deletes by key anyway). An upsert commit
      therefore emits its `delete_key` rows plus `insert` rows —
      apply-delete-then-insert reproduces the table.
    * `replace` snapshots (compaction, delete folding) are logical
      no-ops and are SKIPPED.
    * copy-on-write overwrites raise WITHOUT lineage (their row-level
      effects are invisible to a metadata walk) — but with
      `with_lineage=True` on a v3 table they are RECOVERED by diffing
      the rewrite's touched files on _row_id
      (_cow_changelog_via_lineage): vanished ids are deletes, fresh ids
      inserts, ids stamped with this commit's sequence number are
      updates (delete-of-pre-image + insert-of-post-image). Cost tracks
      the rewrite's files, never the table.

    Consumers poll with (from=last checkpoint, to=None) and checkpoint
    the max `_commit_snapshot_id` they observed.

    `source_range=(column, lo, hi)` (or a list — conjuncts) SCOPES the
    changelog to rows whose column lies in the range: manifest-level
    (field-507 summary skip — a day-scoped changelog over the
    exporter's micro-batch history opens O(day) manifests, not O(all)),
    file-level (partition transform values through MONOTONE transforms)
    and row-level (the range applied exactly to insert/delete rows).
    `delete_key` rows are filtered only when the scoped column IS a key
    column — otherwise they are conservatively kept (their non-key
    columns are null by contract).

    `with_lineage` (v3 tables) adds _row_id /
    _last_updated_sequence_number to every change row — row-STABLE
    identity across CoW rewrites, so a downstream materializer can key
    its state by _row_id instead of content. delete_key rows carry
    nulls (their pre-images are unread by contract).

    `full_pre_images=True` upgrades equality-delete `delete_key` rows
    to FULL-content `delete` rows by reading the matching rows back
    from the parent snapshot: the key set's min/max bounds prune the
    parent's files through the manifest column bounds, so cost tracks
    files-CONTAINING-matches, not the table — but it is a data read
    where delete_key is metadata-only, hence opt-in. Default (None)
    resolves to `with_lineage`: a lineage changelog promises row
    IDENTITY on every change row, which key-only delete_key rows
    cannot carry, so pre-image resolution turns on automatically (a
    net_changes window over equality-delete upserts then composes
    without extra flags); pass an explicit False to keep the
    metadata-only delete_key form under lineage."""
    if full_pre_images is None:
        full_pre_images = with_lineage
    if with_lineage and table_format_version(md) < 3:
        raise ValueError(
            "row lineage requires a format-version 3 table — call "
            "upgrade_format_version(3) first"
        )
    schema = read_schema_for(spark, md)
    cols = [f_.name for f_ in schema.fields]
    # main ancestry only: WAP-staged commits are invisible until published
    window, _ = _ancestry_window(md, from_snapshot_id, to_snapshot_id)

    range_parts, excluder, row_scope = source_range_scope(md, source_range, cols)

    parts: list[DataFrame] = []

    lineage_names = [ROW_ID_COL, LAST_UPDATED_COL] if with_lineage else []

    def tag(df: DataFrame, ctype: str, s: dict) -> DataFrame:
        return df.select(
            *cols,
            *lineage_names,
            F.lit(ctype).alias("_change_type"),
            F.lit(s["snapshot-id"]).alias("_commit_snapshot_id"),
            F.lit(s["sequence-number"]).alias("_commit_sequence_number"),
        )

    for s in window:
        op = s["summary"].get("operation")
        sid = s["snapshot-id"]
        if op == "replace":
            continue
        added, carried = _added_files(s, manifest_excluded=excluder)
        data = data_files_in_range(added, range_parts)
        pos = [f for f in added if f.content == 1]
        eq = [f for f in added if f.content == 2]
        if op not in ("append", "delete", "overwrite"):
            raise ValueError(f"changelog cannot represent {op!r} snapshot {sid}")
        has_parent = s.get("parent-snapshot-id") is not None
        if op == "overwrite" and has_parent and not carried:
            if not with_lineage:
                # replace-style overwrite (copy-on-write DML): the
                # manifest holds the complete live set, so the removals
                # are invisible to a metadata walk — but with v3 ROW
                # LINEAGE the row-level effects ARE recoverable
                raise ValueError(
                    f"changelog cannot represent copy-on-write overwrite "
                    f"snapshot {sid} — on a format-version 3 table, "
                    "with_lineage=True recovers it via _row_id diffing"
                )
            cow_parts = _cow_changelog_via_lineage(spark, md, s, tag)
            if row_scope is not None:
                cow_parts = [p.where(row_scope) for p in cow_parts]
            parts.extend(cow_parts)
            continue
        if pos:
            # deleted rows with full content: the referenced data files
            # joined on the recorded (file_path, pos) tuples
            parent = s.get("parent-snapshot-id")
            dels = read_position_deletes(spark, pos)
            # a folded deletion vector (fold-on-write) is the UNION of
            # prior deletes and this snapshot's new matches — subtract
            # the parent's already-deleted positions so only the NEW
            # deletes surface as change rows. Only prior VECTORS for
            # the data files this snapshot re-vectored can overlap
            # (parquet delete tuples are always disjoint from priors:
            # planning excludes already-deleted rows), so the expansion
            # is restricted to exactly those blobs — not the table's
            # whole accumulated delete set
            folded_targets = {
                f.referenced_data_file for f in pos if f.is_deletion_vector
            }
            if folded_targets:
                # delete manifests only — data manifests stay unopened
                _, parent_deletes = live_files(md, parent, only_deletes=True)
                prior_pos = [
                    f
                    for f in parent_deletes
                    if f.is_deletion_vector
                    and f.referenced_data_file in folded_targets
                ]
                if prior_pos:
                    dels = dels.join(
                        read_position_deletes(spark, prior_pos),
                        ["file_path", "pos"],
                        "left_anti",
                    )
            if sum(f.record_count for f in pos) <= BROADCAST_DELETE_ROWS:
                dels = F.broadcast(dels)
            # scan ONLY the files the delete tuples reference — DV
            # targets come free from metadata; parquet tuples' file set
            # is collected from the (small) delete files themselves.
            # Commit-time liveness validation (required_live_paths)
            # guarantees these were live in the parent, so the parent's
            # full data-manifest walk is never needed: cost tracks the
            # deleted rows' files, not the table
            ref_paths = set(folded_targets)
            parquet_pos = [f for f in pos if not f.is_deletion_vector]
            if parquet_pos:
                ref_paths |= {
                    r["file_path"]
                    for r in read_position_deletes(spark, parquet_pos)
                    .select("file_path")
                    .distinct()
                    .collect()
                }
            # identity of the deleted rows (lineage only): first_row_id
            # of their PARENT files, one data-manifest walk
            parent_files = (
                [f for f in live_files(md, parent)[0] if f.file_path in ref_paths]
                if with_lineage
                else []
            )
            rows = live_row_scan(
                spark, md, parent_files, paths=sorted(ref_paths), lineage=with_lineage
            )
            hit = rows.join(
                dels,
                (rows["__file"] == dels["file_path"]) & (rows["__dpos"] == dels["pos"]),
                "left_semi",
            )
            if row_scope is not None:
                hit = hit.where(row_scope)
            parts.append(tag(hit, "delete", s))
        for f in eq:
            key_fields = _equality_fields(md, f.equality_ids)
            key_names = {kf["name"] for kf in key_fields}
            key_schema = StructType(
                [
                    StructField(kf["name"], _spark_type(kf["type"]), True)
                    for kf in key_fields
                ]
            )
            keys = spark.read.schema(key_schema).parquet(f.file_path)
            if full_pre_images:
                pre = _equality_pre_images(
                    spark, md, s, keys, key_fields, with_lineage
                )
                if row_scope is not None:
                    pre = pre.where(row_scope)
                parts.append(tag(pre, "delete", s))
                continue
            widened = keys.select(
                *[
                    F.col(c) if c in key_names
                    else F.lit(None).cast(f_.dataType).alias(c)
                    for c, f_ in zip(cols, schema.fields)
                ]
            )
            if with_lineage:
                widened = widened.select(
                    "*",
                    F.lit(None).cast("long").alias(ROW_ID_COL),
                    F.lit(None).cast("long").alias(LAST_UPDATED_COL),
                )
            # a scope column that IS a key column filters exactly; any
            # other scope column is null here — conservatively keep
            key_scope = source_range_scope(md, source_range, key_names)[2]
            if key_scope is not None:
                widened = widened.where(key_scope)
            parts.append(tag(widened, "delete_key", s))
        if data and op in ("append", "overwrite"):
            ins = live_row_scan(spark, md, data, lineage=with_lineage)
            if row_scope is not None:
                ins = ins.where(row_scope)
            parts.append(tag(ins, "insert", s))

    if not parts:
        empty = StructType(
            schema.fields
            + (lineage_read_fields() if with_lineage else [])
            + [
                StructField("_change_type", StringType(), False),
                StructField("_commit_snapshot_id", LongType(), False),
                StructField("_commit_sequence_number", LongType(), False),
            ]
        )
        return spark.createDataFrame(spark.sparkContext.emptyRDD(), empty)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# primitive types whose v3 default values the engine supports, with the
# python types their JSON single-value representation uses (timestamps
# ride as ISO-8601 strings per the spec's single-value serialization)
_DEFAULTABLE_TYPES: dict[str, tuple] = {
    "long": (int,),
    "int": (int,),
    "double": (int, float),
    "float": (int, float),
    "string": (str,),
    "boolean": (bool,),
    "timestamptz": (str,),
    "timestamp": (str,),
    "date": (str,),
    # v3 ns timestamps: the spec's ISO single-value string (up to 9
    # fractional digits) or engine-native epoch-nanos
    "timestamp_ns": (str, int),
    "timestamptz_ns": (str, int),
}


def _validate_default(name: str, ftype: Any, value: Any) -> None:
    if not isinstance(ftype, str) or ftype not in _DEFAULTABLE_TYPES:
        raise ValueError(
            f"column {name!r}: default values are supported for "
            f"{sorted(_DEFAULTABLE_TYPES)} columns, not {ftype!r}"
        )
    ok = _DEFAULTABLE_TYPES[ftype]
    if isinstance(value, bool) and ftype != "boolean":
        raise ValueError(f"column {name!r}: boolean default for {ftype!r}")
    if not isinstance(value, ok):
        raise ValueError(
            f"column {name!r}: default {value!r} does not fit type {ftype!r}"
        )


def evolved_schema(
    md: dict,
    new_fields: list,
    defaults: dict | None = None,
    iceberg_types: dict[str, str] | None = None,
) -> tuple[dict, int]:
    """Build the next schema version for an add-columns evolution:
    existing fields keep their ids verbatim (the Iceberg invariant that
    makes old data files readable forever), new top-level fields get
    fresh ids above last-column-id, and nested ids continue after them.
    `defaults` (v3 "default values") sets a column's `initial-default`
    (what rows in PRE-evolution files read — the column physically
    absent from their Parquet) and `write-default` (what writers store
    when the column is omitted) to the same literal, like SQL
    `ADD COLUMN ... DEFAULT`. `iceberg_types` overrides a new field's
    derived type with a v3-only type Spark cannot express: a ns
    timestamp (the field must arrive as LongType epoch-nanos) or
    `unknown` (type not yet decided — must be nullable, never takes a
    default, always reads null). Returns (new_schema_dict,
    new_last_column_id); the caller commits it as a new entry in
    `schemas` with current-schema-id bumped."""
    current = current_schema(md)
    existing = {f_["name"] for f_ in current["fields"]}
    clashes = [f_.name for f_ in new_fields if f_.name in existing]
    if clashes:
        raise ValueError(f"column(s) already exist: {clashes}")
    # top-level ids first, then nested — same discipline as iceberg_schema
    next_id = [md["last-column-id"] + 1 + len(new_fields)]
    defaults = defaults or {}
    iceberg_types = iceberg_types or {}
    unknown_defaults = set(defaults) - {f_.name for f_ in new_fields}
    if unknown_defaults:
        raise ValueError(
            f"defaults name column(s) not being added: {sorted(unknown_defaults)}"
        )
    stray_overrides = set(iceberg_types) - {f_.name for f_ in new_fields}
    if stray_overrides:
        raise ValueError(
            f"iceberg_types name column(s) not being added: {sorted(stray_overrides)}"
        )
    added = []
    for i, f_ in enumerate(new_fields):
        entry = {
            "id": md["last-column-id"] + 1 + i,
            "name": f_.name,
            "required": not f_.nullable,
            "type": _iceberg_type(f_.dataType, next_id),
        }
        if f_.name in iceberg_types:
            t = iceberg_types[f_.name]
            if t in NS_TIMESTAMP_TYPES:
                if entry["type"] != "long":
                    raise ValueError(
                        f"column {f_.name!r} must arrive as a Spark LongType "
                        f"(epoch-nanos) to become {t}; got {entry['type']!r}"
                    )
            elif t == "unknown":
                if entry["required"]:
                    raise ValueError(
                        f"column {f_.name!r}: `unknown` columns must be "
                        "optional (they always read null)"
                    )
                if f_.name in defaults:
                    raise ValueError(
                        f"column {f_.name!r}: `unknown` columns cannot take "
                        "a default — they must always read null"
                    )
            elif parse_geo_type(t) is not None:  # raises on malformed params
                if entry["type"] != "binary":
                    raise ValueError(
                        f"column {f_.name!r} must arrive as a Spark "
                        f"BinaryType (WKB) to become {t}; got {entry['type']!r}"
                    )
            else:
                raise ValueError(
                    f"unsupported Iceberg type override {t!r} for column "
                    f"{f_.name!r} — only timestamp_ns/timestamptz_ns/unknown/"
                    "geometry[(crs)]/geography[(crs[, algorithm])]"
                )
            entry["type"] = t
        if f_.name in defaults:
            _validate_default(f_.name, entry["type"], defaults[f_.name])
            entry["initial-default"] = defaults[f_.name]
            entry["write-default"] = defaults[f_.name]
        if _v3_only_type(entry["type"]) and table_format_version(md) < 3:
            raise ValueError(
                f"column {f_.name!r} uses an Iceberg v3 type "
                f"({entry['type']!r}) — this is a format-version "
                f"{table_format_version(md)} table; call "
                "upgrade_format_version(3) first"
            )
        added.append(entry)
    new_schema = {
        "type": "struct",
        "schema-id": max(s["schema-id"] for s in md["schemas"]) + 1,
        "fields": current["fields"] + added,
    }
    return new_schema, next_id[0] - 1


def evolved_schema_rename(md: dict, old: str, new: str) -> dict:
    """Next schema version for a column rename: the field KEEPS its id
    (the Iceberg invariant), only the name changes. Old data files stay
    readable because reads resolve the renamed column by parquet field
    id (see schema_requires_id_read)."""
    current = current_schema(md)
    names = {f_["name"] for f_ in current["fields"]}
    if old not in names:
        raise ValueError(f"no column {old!r} to rename")
    if new in names:
        raise ValueError(f"column {new!r} already exists")
    fields = [
        {**f_, "name": new} if f_["name"] == old else dict(f_)
        for f_ in current["fields"]
    ]
    return {
        "type": "struct",
        "schema-id": max(s["schema-id"] for s in md["schemas"]) + 1,
        "fields": fields,
    }


def evolved_schema_drop(md: dict, name: str) -> dict:
    """Next schema version for a column drop: the field disappears from
    the CURRENT schema (reads stop projecting it; old files keep the
    bytes until rewritten) and its id is never reused
    (last-column-id is monotone). Partition-source columns cannot be
    dropped — every spec's transform references them by id."""
    current = current_schema(md)
    target = next((f_ for f_ in current["fields"] if f_["name"] == name), None)
    if target is None:
        raise ValueError(f"no column {name!r} to drop")
    if len(current["fields"]) == 1:
        raise ValueError("cannot drop the only column")
    for s in md["partition-specs"]:
        if any(pf["source-id"] == target["id"] for pf in s["fields"]):
            raise ValueError(
                f"column {name!r} is a partition source (spec {s['spec-id']}); "
                "evolve the partition spec away from it first"
            )
    return {
        "type": "struct",
        "schema-id": max(s["schema-id"] for s in md["schemas"]) + 1,
        "fields": [dict(f_) for f_ in current["fields"] if f_["name"] != name],
    }


def evolved_spec(
    md: dict, partition_source: str | None, granularity: str = "hourly"
) -> dict | None:
    """Build the next partition spec for a hidden-partitioning evolution
    (hourly → daily as volume grows, or → unpartitioned). Iceberg rules:
    the new spec gets a fresh spec-id; a partition field reuses its
    field-id when the same (source-id, transform) appeared in ANY prior
    spec, otherwise it gets last-partition-id + 1. Existing data files
    keep their original spec (manifests record partition_spec_id), only
    NEW writes use the new one. Returns None when the evolution is a
    no-op (same fields as the current default spec)."""
    schema = current_schema(md)
    if partition_source is None:
        fields: list[dict] = []
    else:
        transform = _TRANSFORM_FOR_GRANULARITY[granularity]
        src = next(
            (f_ for f_ in schema["fields"] if f_["name"] == partition_source), None
        )
        if src is None:
            raise ValueError(f"no column {partition_source!r} in the current schema")
        if _unorderable_type(src["type"]):
            raise ValueError(
                f"column {partition_source!r} has type {src['type']} — "
                "it cannot be a partition source (no defined ordering)"
            )
        source_id = src["id"]
        reused = None
        for s in md["partition-specs"]:
            for f_ in s["fields"]:
                if f_["source-id"] == source_id and f_["transform"] == transform:
                    reused = dict(f_)
        if reused is not None:
            fields = [reused]
        else:
            fields = [
                {
                    "name": f"{partition_source}_{transform.rstrip('s')}",
                    "transform": transform,
                    "source-id": source_id,
                    "field-id": md.get("last-partition-id", 999) + 1,
                }
            ]
    current_default = next(
        s for s in md["partition-specs"] if s["spec-id"] == md["default-spec-id"]
    )
    if fields == current_default["fields"]:
        return None
    return {
        "spec-id": max(s["spec-id"] for s in md["partition-specs"]) + 1,
        "fields": fields,
    }


def plan_rewrite(
    spark: SparkSession,
    md: dict,
    live: list[DataFile],
    *,
    target_bytes: int,
    min_files: int,
    zorder_by: list[str] | None = None,
    delete_files: list[DataFile] | None = None,
) -> tuple[list[DataFile], int, int] | None:
    """Transport-neutral compaction planning + data rewrite: partitions
    with >= min_files live files under target_bytes are rewritten into
    one file each (optionally Z-ordered). WRITES the new Parquet files
    under {location}/data and returns (replacement file set =
    survivors + rewritten, n_compacted, n_rewritten), or None when
    nothing qualifies. The caller owns the replace COMMIT on its
    transport.

    SPEC MIGRATION: files written under an OLDER partition spec
    (manifest spec id != the default) rewrite through the
    hidden-partitioned writer instead, so their rows land on the
    CURRENT spec's layout — compaction is the documented path back to
    prunable tuples (and partition-identity ops like dynamic overwrite)
    after update_partition_spec."""
    default_spec = md["default-spec-id"]
    by_part: dict[tuple, list[DataFile]] = {}
    migrate: list[DataFile] = []
    for f in live:
        if f.spec_id is not None and f.spec_id != default_spec:
            migrate.append(f)
        else:
            by_part.setdefault(tuple(sorted(f.partition.items())), []).append(f)

    delete_files = delete_files or []
    survivors: list[DataFile] = []
    _, rewritten = _rewrite_files(
        spark, md, live, delete_files, {f.file_path for f in migrate}
    )
    n_compacted = len(migrate)
    for part_key, files in sorted(by_part.items()):
        small = [f for f in files if f.file_size_in_bytes < target_bytes]
        if len(small) < min_files:
            survivors.extend(files)
            continue
        survivors.extend(f for f in files if f.file_size_in_bytes >= target_bytes)
        out_dir = os.path.join(md["location"], "data", f"rewrite-{uuid.uuid4().hex}")
        # pending deletes (position AND equality) on the compacted files
        # are MATERIALIZED by the rewrite (the new files simply omit
        # those rows); survivors keep their original sequence numbers,
        # so still-live delete files keep applying to exactly them; on
        # v3 the rewrite materializes lineage, preserving row identity
        part_df = live_row_scan(
            spark,
            md,
            live,
            delete_files,
            paths=[f.file_path for f in small],
            lineage=table_format_version(md) >= 3,
        ).drop(*ROW_TAGS)
        part_df = with_field_ids(part_df, md).coalesce(1)
        if zorder_by:
            from ..operators.layout import sort_by_zorder

            part_df = sort_by_zorder(part_df, zorder_by)
        # compacted files must honor the table's parquet write
        # properties like any append — without this, the first
        # compaction silently DROPPED declared bloom filters (killing
        # point-lookup pruning on the consolidated files) and the
        # compression codec
        part_df.write.options(**_parquet_write_options(md)).parquet(out_dir)
        for new in _scan_written_files(out_dir, []):
            rewritten.append(
                DataFile(
                    file_path=new.file_path,
                    file_size_in_bytes=new.file_size_in_bytes,
                    record_count=new.record_count,
                    partition=dict(part_key),
                )
            )
        n_compacted += len(small)
    if not rewritten:
        return None
    return survivors + rewritten, n_compacted, len(rewritten)


def _partition_tuple(f: DataFile) -> tuple:
    """A file's hidden-partition identity: sorted (field, value) pairs
    with null values dropped — manifest readers omit nulls while
    freshly written files may carry explicit Nones, and both must key
    the same null partition."""
    return tuple(sorted((k, v) for k, v in f.partition.items() if v is not None))


def plan_partition_overwrite(
    md: dict, snapshot_id: int, new_files: list[DataFile]
) -> tuple[list[DataFile], list[DataFile], list[DataFile]]:
    """Dynamic partition overwrite planning (Spark's INSERT OVERWRITE /
    Iceberg's dynamic overwrite): split the live set by the hidden
    partition tuples the NEW files land in. Returns (replaced data
    files, surviving data files, delete files). Pure metadata — one
    manifest walk; no data file is read. On an unpartitioned table
    every file shares the empty tuple, so the overwrite is a
    truncate-and-insert (Spark's semantics there too)."""
    touched = {_partition_tuple(f) for f in new_files}
    if snapshot_id == -1:
        return [], [], []
    data, deletes = live_files(md, snapshot_id)
    # spec-evolution guard: files written under a DIFFERENT partition
    # spec carry differently-shaped tuples (extra fields, missing
    # fields, or an empty pre-partitioning tuple), so tuple equality
    # could silently KEEP old-spec files whose rows overlap the
    # backfilled partitions (rows doubled). The manifest's spec id is
    # authoritative — any live data file under a non-default spec
    # refuses loudly, like Iceberg's dynamic overwrite; the field-name
    # check remains as a belt for files lacking spec provenance.
    default_spec = md["default-spec-id"]
    evolved = sorted(
        {
            f.spec_id
            for f in data
            if f.spec_id is not None and f.spec_id != default_spec
        }
    )
    if evolved:
        raise ValueError(
            f"live data files were written under partition spec(s) "
            f"{evolved} (current default: {default_spec}); dynamic "
            "partition overwrite cannot match their tuples against the "
            "current spec — rewrite_data_files first (or overwrite by "
            "explicit DELETE + append)"
        )
    spec_names = {pf["name"] for pf in default_spec_fields(md)}
    stray = sorted(
        {
            k
            for f in data
            for k in f.partition
            if k not in spec_names and f.partition.get(k) is not None
        }
    )
    if stray:
        raise ValueError(
            f"live data files carry partition fields {stray} from an "
            "older partition spec; dynamic partition overwrite cannot "
            "match them against the current spec — rewrite_data_files "
            "first (or overwrite by explicit DELETE + append)"
        )
    replaced = [f for f in data if _partition_tuple(f) in touched]
    survivors = [f for f in data if _partition_tuple(f) not in touched]
    # deletion vectors reference exactly one data file: a vector whose
    # file is being replaced is moot — drop it rather than carry a
    # stale entry (file-level parquet deletes and equality deletes stay;
    # they scope by path/sequence and simply match nothing dropped)
    replaced_paths = {f.file_path for f in replaced}
    deletes = [
        f
        for f in deletes
        if not (f.is_deletion_vector and f.referenced_data_file in replaced_paths)
    ]
    return replaced, survivors, deletes


def _rewrite_files(
    spark: SparkSession,
    md: dict,
    live: list[DataFile],
    delete_files: list[DataFile],
    hit: set[str],
    transform=None,
    updated=None,
) -> tuple[list[DataFile], list[DataFile]]:
    """The one copy-on-write rewrite under DELETE, UPDATE, MERGE, the
    delete folds and spec migration: exactly the `hit` files are read
    with every delete applied (live_row_scan), passed through
    `transform` (a DataFrame -> DataFrame over the table's columns),
    and written in ONE hidden-partitioned job; every other live file
    survives by reference. On v3 tables carried rows keep their row
    identity (the rewrite materializes _row_id/_last_updated; `updated`
    marks the rows this commit modifies, see live_row_scan). Returns
    (survivors, rewritten files)."""
    survivors = [f for f in live if f.file_path not in hit]
    if not hit:
        return survivors, []
    rows = live_row_scan(
        spark,
        md,
        live,
        delete_files,
        paths=sorted(hit),
        lineage=table_format_version(md) >= 3,
        updated=updated,
    ).drop(*ROW_TAGS)
    if transform is not None:
        rows = transform(rows)
    return survivors, write_partitioned_batch(rows, md["location"], md)


def _rows_per_file(matched: DataFrame) -> dict[str, int]:
    """{data file: matched rows} of tagged rows — one aggregation job;
    only paths and counts reach the driver."""
    return {r["__file"]: r["count"] for r in matched.groupBy("__file").count().collect()}


def _set_columns(rows: DataFrame, set_exprs: dict[str, str], matched=None) -> DataFrame:
    """UPDATE's SET: each target column becomes its expression, cast to
    the column's type — only on `matched` rows when given (CASE WHEN, so
    other rows pass through byte-identical values)."""
    types = {f_.name: f_.dataType for f_ in rows.schema.fields}
    return rows.withColumns(
        {
            n: F.expr(e).cast(types[n])
            if matched is None
            else F.when(matched, F.expr(e).cast(types[n])).otherwise(F.col(n))
            for n, e in set_exprs.items()
        }
    )


def _sql_matched(predicate: str):
    """True where `predicate` holds; rows where it evaluates NULL do not
    match (SQL DML semantics)."""
    return F.coalesce(F.expr(predicate).cast("boolean"), F.lit(False))


def plan_delete(
    spark: SparkSession,
    md: dict,
    live: list[DataFile],
    predicate: str,
    delete_files: list[DataFile] | None = None,
) -> RowLevelPlan | None:
    """Copy-on-write DELETE planning in TWO Spark jobs total, regardless
    of file count: (1) the live-row scan filtered by the bare predicate
    counts matches per file; (2) _rewrite_files rewrites exactly the
    files that contained matches without them. Returns a RowLevelPlan,
    or None when nothing matched.

    SQL DELETE semantics: rows where the predicate evaluates NULL are
    NOT matched — they are kept. The match scan filters on the BARE
    predicate (filter already excludes NULL evaluations, and a bare
    comparison pushes into the Parquet scan — coalesce-wrapping it
    would block pushdown, pinned by test_plans.py); only the keep side
    needs the explicit NULL-keeps coalesce."""
    if not live:
        return None
    delete_files = delete_files or []
    hits = _rows_per_file(
        live_row_scan(spark, md, live, delete_files, where=predicate)
    )
    if not hits:
        return None
    n_deleted = sum(hits.values())
    survivors, rewritten = _rewrite_files(
        spark,
        md,
        live,
        delete_files,
        set(hits),
        lambda rows: rows.filter(~_sql_matched(predicate)),
    )
    return RowLevelPlan(
        survivors + rewritten,
        {"deleted-records": str(n_deleted), "rewritten-data-files": str(len(rewritten))},
        (n_deleted,),
    )


def plan_merge(
    spark: SparkSession,
    md: dict,
    live: list[DataFile],
    source: DataFrame,
    key_cols: list[str],
    delete_files: list[DataFile] | None = None,
) -> RowLevelPlan:
    """Copy-on-write MERGE (keyed upsert) planning: rows in `source`
    replace same-key rows; unmatched source rows are inserted. The live
    rows semi-joined against the (broadcast) distinct source keys give
    the files containing matches (paths only to the driver); exactly
    those are rewritten without the matched keys, and the source lands
    as fresh hidden-partitioned files. Matched rows are replaced by
    inserts with FRESH row ids — CoW MERGE is delete+insert per spec.
    Cost tracks files-containing-matches + source size, never the
    table."""
    delete_files = delete_files or []
    keys = source.select(*key_cols).distinct()
    n_inserted = source.count()
    hits: dict[str, int] = {}
    if live:
        rows = live_row_scan(spark, md, live, delete_files)
        hits = _rows_per_file(rows.join(F.broadcast(keys), key_cols, "semi"))
        table_keys = rows.select(*key_cols).distinct()
        n_inserted -= source.join(table_keys, key_cols, "left_semi").count()
    n_updated = sum(hits.values())
    survivors, rewritten = _rewrite_files(
        spark,
        md,
        live,
        delete_files,
        set(hits),
        lambda rows: rows.join(F.broadcast(keys), key_cols, "anti"),
    )
    inserted = write_partitioned_batch(
        source.select(*read_schema_for(spark, md).fieldNames()), md["location"], md
    )
    return RowLevelPlan(
        survivors + rewritten + inserted,
        {"merged-records": str(n_updated), "inserted-records": str(n_inserted)},
        (n_updated, n_inserted),
    )


def plan_update(
    spark: SparkSession,
    md: dict,
    live: list[DataFile],
    predicate: str,
    set_exprs: dict[str, str],
    delete_files: list[DataFile] | None = None,
) -> RowLevelPlan | None:
    """Copy-on-write UPDATE planning (SQL `UPDATE SET ... WHERE ...`),
    plan_delete's two-job shape: the predicate scan counts matches per
    file, then exactly those files are rewritten with the SET
    expressions applied to matching rows. Rows where the predicate
    evaluates NULL are NOT updated. SET may target the partition source
    column — rewritten rows then land in their new partitions. Updated
    rows keep _row_id and leave _last_updated to the commit's sequence
    number. Returns a RowLevelPlan or None."""
    if not live:
        return None
    delete_files = delete_files or []
    hits = _rows_per_file(
        live_row_scan(spark, md, live, delete_files, where=predicate)
    )
    if not hits:
        return None
    n_updated = sum(hits.values())
    matched = _sql_matched(predicate)
    survivors, rewritten = _rewrite_files(
        spark,
        md,
        live,
        delete_files,
        set(hits),
        lambda rows: _set_columns(rows, set_exprs, matched),
        updated=matched,
    )
    return RowLevelPlan(
        survivors + rewritten,
        {"updated-records": str(n_updated), "rewritten-data-files": str(len(rewritten))},
        (n_updated,),
    )


def plan_update_mor(
    spark: SparkSession,
    md: dict,
    data_files: list[DataFile],
    delete_files: list[DataFile],
    predicate: str,
    set_exprs: dict[str, str],
    deletion_vectors: bool = False,
) -> RowLevelPlan | None:
    """Merge-on-read UPDATE planning (Iceberg row-delta): the matching
    rows' positions become delete files (write_delete_matches — parquet
    tuples, or deletion vectors when `deletion_vectors`) AND their
    updated copies append as fresh hidden-partitioned data files; NO
    existing data file is rewritten, cost tracks the matches. The copies
    keep their source rows' _row_id. The commit adds both file groups in
    ONE `overwrite` snapshot, so readers atomically stop seeing the old
    versions and start seeing the new. Returns a RowLevelPlan or None."""
    if not data_files:
        return None
    matched = live_row_scan(spark, md, data_files, delete_files, where=predicate)
    written = write_delete_matches(spark, md, matched, delete_files, deletion_vectors)
    if written is None:
        return None
    new_deletes, n_updated, superseded, targets = written
    copies = live_row_scan(
        spark,
        md,
        data_files,
        delete_files,
        where=predicate,
        lineage=table_format_version(md) >= 3,
        updated=F.lit(True),
    ).drop(*ROW_TAGS)
    new_data = write_partitioned_batch(
        _set_columns(copies, set_exprs), md["location"], md
    )
    return RowLevelPlan(
        new_deletes + new_data,
        {"updated-records": str(n_updated)},
        (n_updated,),
        superseded,
        targets,
    )


def plan_merge_mor(
    spark: SparkSession,
    md: dict,
    data_files: list[DataFile],
    delete_files: list[DataFile],
    source: DataFrame,
    key_cols: list[str],
) -> RowLevelPlan:
    """Merge-on-read MERGE planning (row-delta upsert): live rows whose
    keys appear in the source get deleted by position
    (write_delete_matches) and the ENTIRE source appends as fresh data
    files — old row versions are shadowed, unmatched source rows
    insert, no data file is rewritten. Rows already deleted (by any
    delete form) are not live, so they neither count as merged nor get
    deleted again. On format-version 3 tables the delete half is
    written as deletion vectors (v3 forbids parquet position-delete
    files); on v2 it stays spec-ordered position-delete parquet."""
    keys = source.select(*key_cols).distinct()
    n_inserted = source.count()
    written = None
    if data_files:
        rows = live_row_scan(spark, md, data_files, delete_files)
        written = write_delete_matches(
            spark,
            md,
            rows.join(F.broadcast(keys), key_cols, "semi"),
            delete_files,
            deletion_vectors=table_format_version(md) >= 3,
        )
        table_keys = rows.select(*key_cols).distinct()
        n_inserted -= source.join(table_keys, key_cols, "left_semi").count()
    new_deletes, n_updated, superseded, targets = written or ([], 0, [], set())
    new_data = write_partitioned_batch(
        source.select(*read_schema_for(spark, md).fieldNames()), md["location"], md
    )
    return RowLevelPlan(
        new_deletes + new_data,
        {"merged-records": str(n_updated), "inserted-records": str(n_inserted)},
        (n_updated, n_inserted),
        superseded,
        targets,
    )


def plan_delete_rewrite(
    spark: SparkSession,
    md: dict,
    live: list[DataFile],
    deletes: list[DataFile],
) -> tuple[list[DataFile], int]:
    """Planning for rewrite_position_deletes: rewrite exactly the data
    files referenced by live delete rows (_rewrite_files, deletes
    applied), keep the rest by reference. Returns (replacement data-file
    set — NO delete files — and n_rewritten)."""
    dels = read_position_deletes(spark, deletes)
    hit = {r["file_path"] for r in dels.select("file_path").distinct().collect()}
    hit &= {f.file_path for f in live}  # stale refs to rewritten files: skip
    survivors, rewritten = _rewrite_files(spark, md, live, deletes, hit)
    return survivors + rewritten, len(rewritten)


def plan_equality_rewrite(
    spark: SparkSession,
    md: dict,
    live: list[DataFile],
    deletes: list[DataFile],
) -> tuple[list[DataFile], int] | None:
    """Planning for rewrite_equality_deletes: find the data files that
    contain rows matched by live equality deletes (per-file row counts
    with and without them — only paths reach the driver), rewrite
    exactly those files with ALL deletes applied (_rewrite_files), and
    keep the rest by reference. Returns (replacement data-file set — no
    equality files, position-delete files retained for survivors — and
    n_rewritten), or None when no equality delete matches anything."""
    eq = [f for f in deletes if f.content == 2]
    pos = [f for f in deletes if f.content == 1]
    if not eq or not live:
        return None
    # rows the equality deletes REMOVE = all rows minus survivors; a hit
    # file is any file with at least one removed row. Rows already
    # position-deleted still count as hits — harmless (the rewrite
    # applies both kinds anyway).
    removed_files = (
        live_row_scan(spark, md, live)
        .groupBy("__file")
        .count()
        .join(
            live_row_scan(spark, md, live, eq)
            .groupBy("__file")
            .agg(F.count(F.lit(1)).alias("kept_")),
            "__file",
            "left",
        )
        .filter(F.coalesce(F.col("kept_"), F.lit(0)) < F.col("count"))
        .select("__file")
        .collect()
    )
    hit = {r["__file"] for r in removed_files}
    if not hit:
        return None
    survivors, rewritten = _rewrite_files(spark, md, live, deletes, hit)
    # position deletes stay live for SURVIVING files; entries naming the
    # rewritten files are stale and match nothing
    return survivors + rewritten + pos, len(rewritten)


def snapshot_file_tree(
    snapshot: dict, _manifest_memo: dict | None = None
) -> tuple[set[str], set[str]]:
    """(data files, manifests) a snapshot references — manifests are
    SHARED across snapshots (appends carry them forward), so expiry must
    collect whole trees before deleting anything. `_manifest_memo`
    (manifest_path -> frozenset of file paths) makes a multi-snapshot
    walk read each shared manifest ONCE: at the exporter's micro-batch
    cadence, N snapshots reference O(N) distinct manifests but O(N^2)
    manifest links — expire planning must cost the former."""
    files: set[str] = set()
    manifests: set[str] = set()
    _, _, mlist = read_ocf(snapshot["manifest-list"])
    for m in mlist:
        path = m["manifest_path"]
        manifests.add(path)
        if _manifest_memo is not None and path in _manifest_memo:
            files.update(_manifest_memo[path])
            continue
        _, _, entries = read_ocf(path)
        paths = frozenset(e["data_file"]["file_path"] for e in entries)
        if _manifest_memo is not None:
            _manifest_memo[path] = paths
        files.update(paths)
    return files, manifests


# table-level defaults for per-ref retention (Iceberg's history.expire.*
# properties, same names and defaults). Per-ref settings on the ref
# itself override these; the main branch additionally takes the expire
# API's keep_last/older_than_ms arguments.
HISTORY_MIN_SNAPSHOTS_PROP = "history.expire.min-snapshots-to-keep"
HISTORY_MAX_SNAPSHOT_AGE_PROP = "history.expire.max-snapshot-age-ms"
HISTORY_MAX_REF_AGE_PROP = "history.expire.max-ref-age-ms"
DEFAULT_MIN_SNAPSHOTS_TO_KEEP = 1
DEFAULT_MAX_SNAPSHOT_AGE_MS = 5 * 24 * 3600 * 1000


def _prop_int(md: dict, name: str, default: int | None) -> int | None:
    try:
        return int(md.get("properties", {})[name])
    except (KeyError, TypeError, ValueError):
        return default


_REF_RETENTION_FIELDS = (
    "min-snapshots-to-keep",
    "max-snapshot-age-ms",
    "max-ref-age-ms",
)


def _set_ref_update(md: dict, name: str, snapshot_id: int) -> dict:
    """A set-snapshot-ref update that moves a branch head while CARRYING
    the ref's existing retention settings — set-snapshot-ref replaces
    the whole SnapshotRef, so an update built without them would
    silently reset the branch's expiry policy."""
    prior = md.get("refs", {}).get(name, {})
    update = {
        "action": "set-snapshot-ref",
        "ref-name": name,
        "type": "branch",
        "snapshot-id": snapshot_id,
    }
    for k in _REF_RETENTION_FIELDS:
        if prior.get(k) is not None:
            update[k] = prior[k]
    return update


def _uuid_requirement(md: dict) -> dict:
    return {"type": "assert-table-uuid", "uuid": md["table-uuid"]}


def _ref_requirement(md: dict, ref: str) -> dict:
    """assert-ref-snapshot-id pinning `ref` at its head in `md`; null
    asserts the ref does not exist yet (an empty table's main, a new
    branch)."""
    if ref == "main":
        sid = md.get("current-snapshot-id", -1)
        sid = None if sid in (-1, None) else sid
    else:
        sid = md.get("refs", {}).get(ref, {}).get("snapshot-id")
    return {"type": "assert-ref-snapshot-id", "ref": ref, "snapshot-id": sid}


def _branch_head(md: dict, branch: str) -> int:
    """The snapshot a commit to `branch` builds on: main's current
    snapshot (-1 on an empty table), else the branch's head — main's
    head for a branch that does not exist yet (it forks there)."""
    ref = None if branch == "main" else md.get("refs", {}).get(branch)
    return md["current-snapshot-id"] if ref is None else ref["snapshot-id"]


def _replace_conflict(pin: tuple[str, int]) -> ReplaceConflictError:
    branch, snapshot_id = pin
    return ReplaceConflictError(
        f"{branch!r} advanced past snapshot {snapshot_id} since the commit "
        "was planned; re-plan"
    )


def _landed_snapshot(md: dict, attempted: list[int]) -> int | None:
    return next(
        (s["snapshot-id"] for s in md["snapshots"] if s["snapshot-id"] in attempted),
        None,
    )


def _set_schema(schema: dict, last_column_id: int | None = None) -> list[dict]:
    add = {"action": "add-schema", "schema": schema}
    if last_column_id is not None:
        add["last-column-id"] = last_column_id
    return [add, {"action": "set-current-schema", "schema-id": schema["schema-id"]}]


def _set_statistics(entry: dict) -> list[dict]:
    return [
        {"action": "set-statistics", "snapshot-id": entry["snapshot-id"], "statistics": entry}
    ]


def _require_where_alone(where: str | None, *tuple_params) -> None:
    if where is not None and any(p is not None for p in tuple_params):
        raise ValueError(
            "pass either `where` or the tuple pruning params, not both "
            "(`where` subsumes them)"
        )


def apply_updates(md: dict, updates: list[dict]) -> dict:
    """Apply Iceberg REST CommitTable update actions to loaded table
    metadata and return the new metadata (`md` is left untouched) — the
    filesystem catalog's half of the commit a REST server performs on
    its side. The new metadata is stamped with the timestamp of the
    snapshot the commit adds when that snapshot adds files, else with
    the current time (a manifest rewrite adds none); moving main logs
    the moved-to snapshot's own timestamp when this commit added it."""
    added = {
        u["snapshot"]["snapshot-id"]: u["snapshot"]
        for u in updates
        if u["action"] == "add-snapshot"
    }
    file_commits = [s for s in added.values() if "added-data-files" in s["summary"]]
    now_ms = (
        file_commits[-1]["timestamp-ms"] if file_commits else int(time.time() * 1000)
    )
    new_md = dict(md)
    new_md["last-updated-ms"] = now_ms
    for upd in updates:
        action = upd["action"]
        if action == "add-snapshot":
            snap = upd["snapshot"]
            new_md["last-sequence-number"] = max(
                new_md["last-sequence-number"], snap["sequence-number"]
            )
            new_md["snapshots"] = new_md["snapshots"] + [snap]
            if snap.get("first-row-id") is not None:
                # v3 row lineage: the snapshot consumed this much id space
                new_md["next-row-id"] = snap["first-row-id"] + snap.get("added-rows", 0)
        elif action == "set-snapshot-ref":
            sid = upd["snapshot-id"]
            ref = {"snapshot-id": sid, "type": upd.get("type", "branch")}
            ref.update(
                {k: upd[k] for k in _REF_RETENTION_FIELDS if upd.get(k) is not None}
            )
            new_md["refs"] = {**new_md.get("refs", {}), upd["ref-name"]: ref}
            # only main drives the current snapshot and its history log
            if upd["ref-name"] == "main":
                new_md["current-snapshot-id"] = sid
                logged = added[sid]["timestamp-ms"] if sid in added else now_ms
                new_md["snapshot-log"] = new_md["snapshot-log"] + [
                    {"timestamp-ms": logged, "snapshot-id": sid}
                ]
        elif action == "remove-snapshot-ref":
            new_md["refs"] = {
                k: v for k, v in new_md.get("refs", {}).items() if k != upd["ref-name"]
            }
        elif action == "remove-snapshots":
            drop = set(upd["snapshot-ids"])
            new_md["snapshots"] = [
                s for s in new_md["snapshots"] if s["snapshot-id"] not in drop
            ]
            new_md["snapshot-log"] = [
                e for e in new_md["snapshot-log"] if e["snapshot-id"] not in drop
            ]
            # stats files of removed snapshots leave with them
            for key in ("partition-statistics", "statistics"):
                if new_md.get(key):
                    new_md[key] = [e for e in new_md[key] if e["snapshot-id"] not in drop]
        elif action == "set-properties":
            new_md["properties"] = {**new_md.get("properties", {}), **upd["updates"]}
        elif action in ("set-statistics", "set-partition-statistics"):
            key = "statistics" if action == "set-statistics" else "partition-statistics"
            entry = upd[key]
            new_md[key] = [
                e for e in new_md.get(key, []) if e["snapshot-id"] != entry["snapshot-id"]
            ] + [entry]
        elif action == "add-schema":
            new_md["schemas"] = new_md["schemas"] + [upd["schema"]]
            if "last-column-id" in upd:
                new_md["last-column-id"] = upd["last-column-id"]
        elif action == "set-current-schema":
            new_md["current-schema-id"] = upd["schema-id"]
        elif action == "add-spec":
            spec = upd["spec"]
            new_md["partition-specs"] = new_md["partition-specs"] + [spec]
            new_md["last-partition-id"] = max(
                new_md.get("last-partition-id", 999),
                max((f_["field-id"] for f_ in spec["fields"]), default=0),
            )
        elif action == "set-default-spec":
            new_md["default-spec-id"] = upd["spec-id"]
        elif action == "upgrade-format-version":
            new_md["format-version"] = upd["format-version"]
            if upd["format-version"] >= 3 and "next-row-id" not in new_md:
                new_md["next-row-id"] = 0  # v3 row-lineage id space
        else:
            raise ValueError(f"unsupported update action {action!r}")
    return new_md


def _build_ref(
    snapshot_id: int,
    ref_type: str,
    min_snapshots_to_keep: int | None,
    max_snapshot_age_ms: int | None,
    max_ref_age_ms: int | None,
) -> dict:
    """A SnapshotRef dict with optional retention fields (Iceberg spec
    JSON keys). Branch-only settings on a tag are a ValidationException
    in Iceberg — same refusal here."""
    if ref_type == "tag" and (
        min_snapshots_to_keep is not None or max_snapshot_age_ms is not None
    ):  # spec: SnapshotRef branch-only fields
        raise ValueError(
            "min-snapshots-to-keep / max-snapshot-age-ms apply to branches "
            "only; tags retain exactly the snapshot they point at"
        )
    for label, v in (
        ("min-snapshots-to-keep", min_snapshots_to_keep),
        ("max-snapshot-age-ms", max_snapshot_age_ms),
        ("max-ref-age-ms", max_ref_age_ms),
    ):
        if v is not None and v <= 0:
            raise ValueError(f"{label} must be positive, got {v}")
    ref = {"snapshot-id": snapshot_id, "type": ref_type}
    if min_snapshots_to_keep is not None:
        ref["min-snapshots-to-keep"] = min_snapshots_to_keep
    if max_snapshot_age_ms is not None:
        ref["max-snapshot-age-ms"] = max_snapshot_age_ms
    if max_ref_age_ms is not None:
        ref["max-ref-age-ms"] = max_ref_age_ms
    return ref


def _branch_ancestry_retained(
    by_id: dict, head_id: int, min_keep: int, cutoff_ms: int
) -> set[int]:
    """Snapshots a branch protects: walk the ancestry from the head,
    retaining while fewer than `min_keep` are kept OR the ancestor is
    younger than the cutoff; stop at the first ancestor that fails both
    (Iceberg's computeBranchSnapshotsToRetain — a contiguous prefix, so
    a branch's retained history is never full of holes)."""
    ids: set[int] = set()
    cur: int | None = head_id
    while cur is not None and cur in by_id:
        s = by_id[cur]
        if len(ids) < min_keep or s["timestamp-ms"] >= cutoff_ms:
            ids.add(cur)
        else:
            break
        cur = s.get("parent-snapshot-id")
    return ids


def expire_plan(
    md: dict,
    keep_last: int,
    older_than_ms: int | None = None,
    now_ms: int | None = None,
) -> dict | None:
    """Transport-neutral expiry planning with Iceberg's PER-REF
    retention semantics: which refs age out, which snapshots to drop,
    and which physical files/manifests/manifest-lists become
    unreferenced once they are gone.

    - A TAG retains exactly the snapshot it points at, for as long as
      the tag lives.
    - A BRANCH retains its head plus its ANCESTRY, governed by the
      ref's `min-snapshots-to-keep` and `max-snapshot-age-ms` (falling
      back to the table's `history.expire.*` properties; defaults 1 and
      5 days) — so expiring snapshots on a table with a WAP audit
      branch keeps the branch's history readable, not just its head.
    - `max-ref-age-ms` (per ref, else `history.expire.max-ref-age-ms`,
      default forever) EXPIRES stale tags/branches themselves, so a
      forgotten release tag stops pinning snapshots; `main` never ages
      out.
    - The main branch takes the API arguments: `keep_last` is its
      min-snapshots-to-keep, `older_than_ms` its age cutoff. With no
      `older_than_ms` and no configured max-snapshot-age the cutoff is
      NOW — `expire_snapshots(keep_last=N)` keeps exactly the last N of
      main, the engine's original prune-now contract.
    - UNREFERENCED snapshots (rolled past, abandoned WAP stages) expire
      once older than `older_than_ms` (or the table's configured
      max-snapshot-age; or immediately under the prune-now contract).

    Returns None when nothing expires and no ref ages out."""
    now = int(time.time() * 1000) if now_ms is None else now_ms
    snaps = md["snapshots"]
    by_id = {s["snapshot-id"]: s for s in snaps}
    default_min_keep = _prop_int(
        md, HISTORY_MIN_SNAPSHOTS_PROP, DEFAULT_MIN_SNAPSHOTS_TO_KEEP
    )
    default_max_age = _prop_int(md, HISTORY_MAX_SNAPSHOT_AGE_PROP, None)
    default_max_ref_age = _prop_int(md, HISTORY_MAX_REF_AGE_PROP, None)
    # prune-now contract: with no explicit age axis anywhere, keep_last
    # alone governs main and unreferenced snapshots
    api_cutoff = older_than_ms if older_than_ms is not None else (
        now - default_max_age if default_max_age is not None else now
    )

    removed_refs: list[str] = []
    retain_ids: set[int] = set()
    for name, ref in md.get("refs", {}).items():
        head = by_id.get(ref["snapshot-id"])
        if head is None:  # dangling ref: drop it with the plan
            removed_refs.append(name)
            continue
        if name != "main":
            max_ref_age = ref.get("max-ref-age-ms", default_max_ref_age)
            if max_ref_age is not None and now - head["timestamp-ms"] > max_ref_age:
                removed_refs.append(name)
                continue
        if ref.get("type") == "tag":
            retain_ids.add(head["snapshot-id"])
            continue
        if name == "main":
            min_keep = max(1, keep_last, ref.get("min-snapshots-to-keep") or 0)
            cutoff = api_cutoff
            if ref.get("max-snapshot-age-ms") is not None:
                # both axes are retention GUARANTEES: retain if either says so
                cutoff = min(cutoff, now - ref["max-snapshot-age-ms"])
        else:
            min_keep = max(
                1, ref.get("min-snapshots-to-keep") or default_min_keep
            )
            max_age = ref.get(
                "max-snapshot-age-ms",
                default_max_age
                if default_max_age is not None
                else DEFAULT_MAX_SNAPSHOT_AGE_MS,
            )
            cutoff = now - max_age
        retain_ids |= _branch_ancestry_retained(
            by_id, head["snapshot-id"], min_keep, cutoff
        )

    expired = [
        s
        for s in snaps
        if s["snapshot-id"] not in retain_ids and s["timestamp-ms"] < api_cutoff
    ]
    if not expired and not removed_refs:
        return None
    expired_ids = {s["snapshot-id"] for s in expired}
    retained = [s for s in snaps if s["snapshot-id"] not in expired_ids]
    memo: dict = {}  # shared manifests read once across the whole plan
    keep_files: set[str] = set()
    keep_manifests: set[str] = set()
    for s in retained:
        f_, m_ = snapshot_file_tree(s, memo)
        keep_files |= f_
        keep_manifests |= m_
    expired_files: set[str] = set()
    expired_manifests: set[str] = set()
    for s in expired:
        f_, m_ = snapshot_file_tree(s, memo)
        expired_files |= f_
        expired_manifests |= m_
    return {
        "retained": retained,
        "expired": expired,
        "removed_refs": sorted(removed_refs),
        "delete_files": sorted(expired_files - keep_files),
        "delete_manifests": (expired_manifests - keep_manifests)
        | {s["manifest-list"] for s in expired},
    }


def delete_expired_paths(plan: dict) -> list[str]:
    """Post-commit physical deletion (commit-then-delete: a crash before
    the commit leaves the table intact; after it, only harmless
    unreferenced files). Returns deleted data-file paths."""
    deleted: list[str] = []
    for p in plan["delete_files"]:
        if os.path.exists(p):
            os.remove(p)
            deleted.append(p)
    for p in plan["delete_manifests"]:
        if os.path.exists(p):
            os.remove(p)
    return deleted


METADATA_TABLES = (
    "snapshots",
    "history",
    "files",
    "all_files",
    "manifests",
    "refs",
    "partitions",
    "statistics",
)


def metadata_table(spark: SparkSession, md: dict, name: str) -> "DataFrame":
    """Iceberg-style inspection tables over table metadata — the same
    surface as `SELECT * FROM tbl.snapshots|history|files|manifests` on
    a jar-backed Iceberg table (public Iceberg metadata-table layout,
    required-column subset). Driver cost is O(metadata); the result is a
    small DataFrame, so inspection composes with the query surface.

    `files` lists the CURRENT snapshot's live data files; `all_files`
    every file any snapshot references (the reconciler's set)."""
    if name == "snapshots":
        rows = [
            (
                datetime.fromtimestamp(s["timestamp-ms"] / 1000, tz=timezone.utc),
                s["snapshot-id"],
                s.get("parent-snapshot-id"),
                s["summary"].get("operation"),
                s["manifest-list"],
                dict(s["summary"]),
            )
            for s in md["snapshots"]
        ]
        return spark.createDataFrame(
            rows,
            "committed_at timestamp, snapshot_id long, parent_id long, "
            "operation string, manifest_list string, summary map<string,string>",
        )
    if name == "history":
        current = md.get("current-snapshot-id", -1)
        ancestors: set[int] = set()
        by_id = {s["snapshot-id"]: s for s in md["snapshots"]}
        cursor = current if current != -1 else None
        while cursor is not None and cursor in by_id:
            ancestors.add(cursor)
            cursor = by_id[cursor].get("parent-snapshot-id")
        rows = [
            (
                datetime.fromtimestamp(e["timestamp-ms"] / 1000, tz=timezone.utc),
                e["snapshot-id"],
                by_id.get(e["snapshot-id"], {}).get("parent-snapshot-id"),
                e["snapshot-id"] in ancestors,
            )
            for e in md.get("snapshot-log", [])
        ]
        return spark.createDataFrame(
            rows,
            "made_current_at timestamp, snapshot_id long, parent_id long, "
            "is_current_ancestor boolean",
        )
    if name in ("files", "all_files"):
        sid = md.get("current-snapshot-id", -1)
        entries: list[tuple] = []
        snapshots = (
            md["snapshots"]
            if name == "all_files"
            else [s for s in md["snapshots"] if s["snapshot-id"] == sid]
        )
        seen: set[tuple[str, str | None]] = set()
        opened: set[str] = set()
        for s in snapshots:
            _, _, manifests = read_ocf(s["manifest-list"])
            for m in manifests:
                # a carried manifest's rows are all in `seen` already
                if m["manifest_path"] in opened:
                    continue
                opened.add(m["manifest_path"])
                _, _, es = read_ocf(m["manifest_path"])
                for e in es:
                    if name == "files" and e["status"] == STATUS_DELETED:
                        continue
                    d = e["data_file"]
                    # a DV Puffin holds one blob PER referenced file
                    # under a single file_path — each blob is its own row
                    key = (d["file_path"], d.get("referenced_data_file"))
                    if key in seen:
                        continue
                    seen.add(key)
                    entries.append(
                        (
                            d["content"],
                            d["file_path"],
                            d["file_format"],
                            {k: str(v) if v is not None else None for k, v in d["partition"].items()},
                            d["record_count"],
                            d["file_size_in_bytes"],
                            (
                                e["sequence_number"]
                                if e.get("sequence_number") is not None
                                else m["sequence_number"]
                            ),
                            list(d["equality_ids"]) if d.get("equality_ids") else None,
                            d.get("referenced_data_file"),
                            d.get("content_offset"),
                            d.get("content_size_in_bytes"),
                        )
                    )
        return spark.createDataFrame(
            entries,
            "content int, file_path string, file_format string, "
            "partition map<string,string>, record_count long, "
            "file_size_in_bytes long, sequence_number long, "
            "equality_ids array<int>, referenced_data_file string, "
            "content_offset long, content_size_in_bytes long",
        )
    if name == "manifests":
        sid = md.get("current-snapshot-id", -1)
        rows = []
        if sid != -1:
            snapshot = next(s for s in md["snapshots"] if s["snapshot-id"] == sid)
            _, _, manifests = read_ocf(snapshot["manifest-list"])
            rows = [
                (
                    m["manifest_path"],
                    m["manifest_length"],
                    m["partition_spec_id"],
                    m["content"],
                    m["added_snapshot_id"],
                    m["added_files_count"],
                    m["existing_files_count"],
                    m["deleted_files_count"],
                    m["added_rows_count"],
                )
                for m in manifests
            ]
        return spark.createDataFrame(
            rows,
            "path string, length long, partition_spec_id int, content int, "
            "added_snapshot_id long, added_data_files_count int, "
            "existing_data_files_count int, deleted_data_files_count int, "
            "added_rows_count long",
        )
    if name == "refs":
        # Iceberg's refs table columns, incl. the per-ref retention
        # settings expire_snapshots honors
        rows = [
            (
                ref_name,
                ref["type"],
                ref["snapshot-id"],
                ref.get("max-ref-age-ms"),
                ref.get("min-snapshots-to-keep"),
                ref.get("max-snapshot-age-ms"),
            )
            for ref_name, ref in md.get("refs", {}).items()
        ]
        return spark.createDataFrame(
            rows,
            "name string, type string, snapshot_id long, "
            "max_reference_age_in_ms long, min_snapshots_to_keep int, "
            "max_snapshot_age_in_ms long",
        )
    if name == "partitions":
        # per-partition rollup of the CURRENT snapshot's live data files
        # (Iceberg's `partitions` table, required-column subset) — the
        # small-file / skew diagnostic: file_count >> 1 per partition
        # says compact, one giant partition says salt or re-spec
        sid = md.get("current-snapshot-id", -1)
        agg: dict[tuple, list[int]] = {}
        if sid != -1:
            data, _, _ = plan_scan_metadata(md, sid)
            for f in data:
                key = tuple(sorted((k, str(v)) for k, v in f.partition.items()))
                got = agg.setdefault(key, [0, 0, 0])
                got[0] += f.record_count
                got[1] += 1
                got[2] += f.file_size_in_bytes
        rows = [
            (dict(key) or None, rc, fc, sz) for key, (rc, fc, sz) in sorted(agg.items())
        ]
        return spark.createDataFrame(
            rows,
            "partition map<string,string>, record_count long, "
            "file_count long, total_size_in_bytes long",
        )
    if name == "statistics":
        # the table-spec `statistics` registry (Puffin column NDV files)
        rows = [
            (
                e["snapshot-id"],
                e["statistics-path"],
                e["file-size-in-bytes"],
                e.get("file-footer-size-in-bytes"),
                [bm["type"] for bm in e.get("blob-metadata", [])],
                {
                    str(bm["fields"][0]): bm.get("properties", {}).get("ndv")
                    for bm in e.get("blob-metadata", [])
                    if bm.get("fields")
                },
            )
            for e in sorted(
                md.get("statistics", []), key=lambda e: e["snapshot-id"]
            )
        ]
        return spark.createDataFrame(
            rows,
            "snapshot_id long, statistics_path string, "
            "file_size_in_bytes long, file_footer_size_in_bytes long, "
            "blob_types array<string>, ndv_by_field_id map<string,string>",
        )
    raise ValueError(f"unknown metadata table {name!r}; one of {METADATA_TABLES}")


# --------------------------------------------------------------------------
# partition statistics files (Iceberg spec "Partition Statistics")
# --------------------------------------------------------------------------
#
# A per-snapshot Parquet file of per-partition rollups, registered in
# table metadata under `partition-statistics` — planners read ONE small
# file instead of walking every manifest to answer "how big is each
# partition", which is what keeps stats-driven decisions (compaction
# targeting, skew detection, scan sizing) O(1) on a 100 TB table.
# Field ids and column names follow the spec's partition-statistics
# schema; the unified partition struct spans every spec's fields.


def _unified_partition_fields(md: dict) -> list[dict]:
    """The union of partition fields across ALL specs (spec evolution
    leaves old files under old specs), in first-seen order."""
    seen: dict[str, dict] = {}
    for spec in md.get("partition-specs", []):
        for pf in spec.get("fields", []):
            seen.setdefault(pf["name"], pf)
    return list(seen.values())


def compute_partition_stats_rows(
    md: dict, snapshot_id: int | None = None
) -> list[dict]:
    """Per-partition rollup of a snapshot's live files — data AND
    merge-on-read delete files — from metadata only (no data file is
    opened)."""
    sid = md["current-snapshot-id"] if snapshot_id is None else snapshot_id
    if sid == -1:
        return []
    data, deletes, _ = plan_scan_metadata(md, sid)
    spec_by_names = {
        tuple(sorted(pf["name"] for pf in spec.get("fields", []))): spec["spec-id"]
        for spec in md.get("partition-specs", [])
    }
    agg: dict[tuple, list[int]] = {}
    for f in data + deletes:
        key = tuple(sorted(f.partition.items()))
        a = agg.setdefault(key, [0, 0, 0, 0, 0, 0, 0])
        if f.content == 0:
            a[0] += f.record_count
            a[1] += 1
            a[2] += f.file_size_in_bytes
        elif f.content == 1:
            a[3] += f.record_count
            a[4] += 1
        else:
            a[5] += f.record_count
            a[6] += 1
    rows = []
    for key, a in sorted(agg.items(), key=lambda kv: str(kv[0])):
        part = dict(key)
        rows.append(
            {
                "partition": part,
                "spec_id": spec_by_names.get(tuple(sorted(part)), 0),
                "data_record_count": a[0],
                "data_file_count": a[1],
                "total_data_file_size_in_bytes": a[2],
                "position_delete_record_count": a[3],
                "position_delete_file_count": a[4],
                "equality_delete_record_count": a[5],
                "equality_delete_file_count": a[6],
            }
        )
    return rows


def write_partition_stats_file(
    location: str, md: dict, snapshot_id: int | None = None
) -> dict | None:
    """Write the spec's partition statistics Parquet for a snapshot and
    return its metadata entry {snapshot-id, statistics-path,
    file-size-in-bytes} (None for an empty table). Spec field ids:
    partition=1 (nested fields keep their spec field-ids), spec_id=2,
    data_record_count=3, data_file_count=4,
    total_data_file_size_in_bytes=5, position_delete_record_count=6,
    position_delete_file_count=7, equality_delete_record_count=8,
    equality_delete_file_count=9."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    sid = md["current-snapshot-id"] if snapshot_id is None else snapshot_id
    if sid == -1:
        return None
    rows = compute_partition_stats_rows(md, sid)
    schema_struct = current_schema(md)
    ufields = _unified_partition_fields(md)

    def arrow_type(pf: dict) -> pa.DataType:
        t = partition_avro_type(pf, schema_struct)
        return pa.string() if t == "string" else pa.int64()

    def fid(n: int) -> dict:
        return {b"PARQUET:field_id": str(n).encode()}

    part_type = pa.struct(
        [
            pa.field(pf["name"], arrow_type(pf), metadata=fid(pf["field-id"]))
            for pf in ufields
        ]
    )
    fields = [
        pa.field("partition", part_type, metadata=fid(1)),
        pa.field("spec_id", pa.int32(), nullable=False, metadata=fid(2)),
        pa.field("data_record_count", pa.int64(), nullable=False, metadata=fid(3)),
        pa.field("data_file_count", pa.int32(), nullable=False, metadata=fid(4)),
        pa.field(
            "total_data_file_size_in_bytes", pa.int64(), nullable=False, metadata=fid(5)
        ),
        pa.field("position_delete_record_count", pa.int64(), metadata=fid(6)),
        pa.field("position_delete_file_count", pa.int32(), metadata=fid(7)),
        pa.field("equality_delete_record_count", pa.int64(), metadata=fid(8)),
        pa.field("equality_delete_file_count", pa.int32(), metadata=fid(9)),
    ]
    table = pa.table(
        {
            "partition": [
                {pf["name"]: r["partition"].get(pf["name"]) for pf in ufields}
                for r in rows
            ],
            "spec_id": [r["spec_id"] for r in rows],
            "data_record_count": [r["data_record_count"] for r in rows],
            "data_file_count": [r["data_file_count"] for r in rows],
            "total_data_file_size_in_bytes": [
                r["total_data_file_size_in_bytes"] for r in rows
            ],
            "position_delete_record_count": [
                r["position_delete_record_count"] for r in rows
            ],
            "position_delete_file_count": [
                r["position_delete_file_count"] for r in rows
            ],
            "equality_delete_record_count": [
                r["equality_delete_record_count"] for r in rows
            ],
            "equality_delete_file_count": [
                r["equality_delete_file_count"] for r in rows
            ],
        },
        schema=pa.schema(fields),
    )
    os.makedirs(os.path.join(location, "metadata"), exist_ok=True)
    path = os.path.join(
        location, "metadata", f"partition-stats-{sid}-{uuid.uuid4().hex}.parquet"
    )
    pq.write_table(table, path)
    return {
        "snapshot-id": sid,
        "statistics-path": os.path.abspath(path),
        "file-size-in-bytes": os.path.getsize(path),
    }


def read_partition_stats(
    spark: SparkSession, md: dict, snapshot_id: int | None = None
) -> DataFrame:
    """Read the REGISTERED partition statistics file for a snapshot
    (current when None). Raises if none is registered — callers run
    compute_partition_stats first."""
    sid = md["current-snapshot-id"] if snapshot_id is None else snapshot_id
    entry = next(
        (
            e
            for e in md.get("partition-statistics", [])
            if e["snapshot-id"] == sid
        ),
        None,
    )
    if entry is None:
        raise ValueError(
            f"no partition statistics registered for snapshot {sid}; "
            "run compute_partition_stats()"
        )
    return spark.read.parquet(entry["statistics-path"])


# --------------------------------------------------------------------------
# catalog + table
# --------------------------------------------------------------------------


class FsCatalog:
    """Hadoop-style filesystem catalog: a namespace is a directory, a
    table is a directory with `metadata/version-hint.text` naming the
    current metadata version (the commit pointer)."""

    def __init__(self, warehouse: str):
        self.warehouse = warehouse.rstrip("/")

    # C1 ------------------------------------------------------------------
    def create_namespace(self, namespace: str) -> str:
        path = os.path.join(self.warehouse, namespace)
        os.makedirs(path, exist_ok=True)
        return path

    def namespace_exists(self, namespace: str) -> bool:
        return os.path.isdir(os.path.join(self.warehouse, namespace))

    def ensure_namespace(self, namespace: str) -> None:
        """RestCatalogClient.ensure_namespace's surface: create-if-absent."""
        self.create_namespace(namespace)

    # C2 ------------------------------------------------------------------
    def table_location(self, namespace: str, name: str) -> str:
        return os.path.join(self.warehouse, namespace, name)

    def table_exists(self, namespace: str, name: str) -> bool:
        return os.path.isfile(
            os.path.join(self.table_location(namespace, name), "metadata", "version-hint.text")
        )

    def create_table(
        self,
        namespace: str,
        name: str,
        spark_schema: StructType,
        partition_source: str | None = None,
        granularity: str = "hourly",
        properties: dict[str, str] | None = None,
        partition_by: list[tuple[str, str]] | None = None,
        sort_by: list[str] | None = None,
        iceberg_types: dict[str, str] | None = None,
    ) -> "FsTable":
        """Create-if-absent, load-else-create (catalog_rest.go:168-240).
        `partition_by=[(col, transform)]` overrides the hidden-time-
        partition default with an explicit spec (bucket[N], truncate[W],
        hours/days/months). `sort_by` declares a write sort order
        (identity asc) — appends sort rows inside each data file.

        `iceberg_types={col: "timestamptz_ns"}` overrides a LongType
        column's derived type to a v3 nanosecond timestamp (Spark has
        no ns temporal type, so ns columns ride as epoch-nanos longs);
        `iceberg_types={col: "geometry(...)"}` / `"geography(...)"`
        overrides a BinaryType column to a v3 geospatial type (WKB
        bytes — Spark has no geo type). All require the reserved
        `format-version: "3"` create property — the Iceberg convention
        for birthing a v3 table."""
        if self.table_exists(namespace, name):
            return self.load_table(namespace, name)
        if self.view_exists(namespace, name):
            raise ValueError(
                f"cannot create table {namespace}.{name}: a VIEW of that "
                "name exists (one namespace, one name space)"
            )
        self.create_namespace(namespace)
        location = self.table_location(namespace, name)
        meta_dir = os.path.join(location, "metadata")
        if os.path.isdir(meta_dir) and glob.glob(
            os.path.join(meta_dir, "v*.metadata.json")
        ):
            # remains of a drop_table(purge=False): the directory catalog
            # derives the location from the name, so re-creating would
            # collide with the salvageable metadata — surface it clearly
            # instead of a confusing version-CAS conflict
            raise FileExistsError(
                f"table location {location} holds metadata from a dropped "
                "table (drop_table without purge leaves files for "
                "salvage); purge it (drop_table(..., purge=True)) or move "
                "the remains before re-creating the same name"
            )
        os.makedirs(meta_dir, exist_ok=True)

        schema = iceberg_schema(spark_schema)
        last_column_id = schema.pop("_last_column_id")
        props = dict(properties or {})
        format_version = int(props.pop("format-version", 2))
        apply_iceberg_type_overrides(schema, iceberg_types)
        require_v3_for_types(schema, format_version)
        if partition_by is not None:
            spec_fields = spec_fields_from_partition_by(schema, partition_by)
        else:
            spec_fields = partition_fields_for(schema, partition_source, granularity)
        sort_fields = sort_fields_from(schema, sort_by) if sort_by else None
        metadata = new_table_metadata(
            location,
            schema,
            last_column_id,
            spec_fields,
            props,
            sort_fields,
            format_version=format_version,
        )
        _write_metadata_version(location, 1, metadata)
        _swap_version_hint(location, 1)
        return FsTable(location)

    def ensure_table(
        self, namespace: str, name: str, spark_schema: StructType, **options
    ) -> "FsTable":
        """RestCatalogClient.ensure_table's surface (the same keyword
        options): create_table is already load-else-create."""
        return self.create_table(namespace, name, spark_schema, **options)

    def table(self, namespace: str, name: str) -> "FsTable":
        """A handle that reads nothing until used (RestCatalogClient's
        surface)."""
        return FsTable(self.table_location(namespace, name))

    def load_table(self, namespace: str, name: str) -> "FsTable":
        location = self.table_location(namespace, name)
        if not self.table_exists(namespace, name):
            raise FileNotFoundError(f"no such table {namespace}.{name} under {self.warehouse}")
        return FsTable(location)

    def list_namespaces(self) -> list[str]:
        """Namespaces = first-level warehouse directories holding at
        least one table (or created empty). Sorted, O(dir listing)."""
        if not os.path.isdir(self.warehouse):
            return []
        return sorted(
            d
            for d in os.listdir(self.warehouse)
            if os.path.isdir(os.path.join(self.warehouse, d))
        )

    def list_tables(self, namespace: str) -> list[str]:
        """Tables of a namespace: directories with a committed metadata
        version hint. Sorted, O(dir listing)."""
        ns_dir = os.path.join(self.warehouse, namespace)
        if not os.path.isdir(ns_dir):
            return []
        return sorted(
            d
            for d in os.listdir(ns_dir)
            if os.path.exists(
                os.path.join(ns_dir, d, "metadata", "version-hint.text")
            )
        )

    def drop_table(self, namespace: str, name: str, purge: bool = False) -> bool:
        """Drop a table from the catalog. The directory catalog's
        registry IS the version hint, so a plain drop removes only the
        hint — the table stops loading/listing but every metadata and
        data file stays on disk for manual salvage (Iceberg's
        dropTable(purge=false) for external data). purge=True deletes
        the whole table location, data included (irreversible — the
        gc.enabled path). NOTE: the directory catalog derives a table's
        location from its name, so RE-CREATING the same name after a
        plain drop requires purging (or moving) the salvage remains
        first — create_table surfaces that case explicitly. Returns
        whether the table existed."""
        if not self.table_exists(namespace, name):
            return False
        location = self.table_location(namespace, name)
        if purge:
            shutil.rmtree(location, ignore_errors=True)
        else:
            os.remove(os.path.join(location, "metadata", "version-hint.text"))
        return True

    def rename_table(self, namespace: str, name: str, new_namespace: str, new_name: str):
        """Not supported on the filesystem catalog — table metadata and
        manifests record ABSOLUTE location-bound paths, so moving the
        directory would strand every reference (exactly why Iceberg's
        HadoopCatalog refuses renameTable). Use the REST catalog, whose
        registry maps names to locations independently."""
        raise NotImplementedError(
            "the filesystem catalog cannot rename tables (location-bound "
            "absolute paths, same as Iceberg's HadoopCatalog); use the "
            "REST catalog, whose name registry is independent of the "
            "table location"
        )

    # -- views (Iceberg view spec v1 — sinks/iceberg_views.py) -------------
    def create_view(
        self,
        spark: SparkSession,
        namespace: str,
        name: str,
        sql: str,
        properties: dict[str, str] | None = None,
        register_tables: bool = True,
    ):
        """Create a spec-v1 VIEW: the SQL's analyzed output schema is
        recorded, table references resolve as `<ns>_<table>` (the sql
        CLI convention). Views commit under metadata/ with their OWN
        hint file (view-version-hint.text), so list_tables never sees
        them and vice versa."""
        from .iceberg_views import create_fs_view

        return create_fs_view(
            self, spark, namespace, name, sql, properties, register_tables
        )

    def register_warehouse_views(self, spark: SparkSession) -> dict[str, str]:
        """Register every table AND every catalog view as a `<ns>_<name>`
        temp view; the transport-neutral hook view convergence and the
        sql CLI share."""
        from .iceberg_views import register_warehouse

        return register_warehouse(spark, self)[0]

    def view_exists(self, namespace: str, name: str) -> bool:
        from .iceberg_views import view_exists_at

        return view_exists_at(self.table_location(namespace, name))

    def load_view(self, namespace: str, name: str):
        from .iceberg_views import FsView, view_exists_at

        location = self.table_location(namespace, name)
        if not view_exists_at(location):
            raise FileNotFoundError(f"no such view: {namespace}.{name}")
        return FsView(location, self.warehouse)

    def list_views(self, namespace: str) -> list[str]:
        from .iceberg_views import VIEW_HINT

        ns_dir = os.path.join(self.warehouse, namespace)
        if not os.path.isdir(ns_dir):
            return []
        return sorted(
            d
            for d in os.listdir(ns_dir)
            if os.path.exists(os.path.join(ns_dir, d, "metadata", VIEW_HINT))
        )

    def drop_view(self, namespace: str, name: str, purge: bool = False) -> bool:
        """Drop a view: plain drop removes only the hint (metadata
        history stays for salvage, like drop_table); purge deletes the
        directory. Returns whether the view existed."""
        from .iceberg_views import VIEW_HINT

        if not self.view_exists(namespace, name):
            return False
        location = self.table_location(namespace, name)
        if purge:
            shutil.rmtree(location, ignore_errors=True)
        else:
            os.remove(os.path.join(location, "metadata", VIEW_HINT))
        return True

    def rename_view(self, namespace: str, name: str, new_namespace: str, new_name: str):
        """Same refusal (and reason) as rename_table: the directory
        catalog derives identity from location."""
        raise NotImplementedError(
            "the filesystem catalog cannot rename views (name IS the "
            "location, same as rename_table); use the REST catalog"
        )


def _metadata_path(location: str, version: int) -> str:
    return os.path.join(location, "metadata", f"v{version}.metadata.json")


def _write_metadata_version(location: str, version: int, metadata: dict) -> None:
    """open(x) is the CAS: two writers racing to the same version — one
    wins, the loser gets CommitConflictError and must retry on the new
    base (same optimistic protocol as the REST catalog commit)."""
    path = _metadata_path(location, version)
    try:
        with open(path, "x", encoding="utf-8") as f:
            json.dump(metadata, f, indent=2)
    except FileExistsError as exc:
        raise CommitConflictError(f"metadata version {version} already committed") from exc


def _swap_version_hint(
    location: str, version: int, hint_name: str = "version-hint.text"
) -> None:
    # hint_name: tables commit via version-hint.text, views via
    # view-version-hint.text (distinct so listings never cross)
    hint = os.path.join(location, "metadata", hint_name)
    tmp = f"{hint}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(str(version))
    os.replace(tmp, hint)  # atomic on POSIX: readers see old or new, never torn


class Table:
    """One Iceberg table over a catalog transport. Every operation —
    appends, WAP and refs, row-level DML, maintenance, expiry, schema
    and spec evolution, format upgrade, stats, scans and inspection
    tables — is written once here against the Iceberg REST catalog's
    contract (https://iceberg.apache.org/spec/#catalog): `_load()`
    returns the table's current metadata and `_commit(md, requirements,
    updates)` commits the spec's update actions built against `md`.
    FsTable (version-file CAS) and RestTable (CommitTable) supply those
    two methods; every commit runs through the one `_commit_loop`.

    On both transports Spark executors write the Parquet data files and
    the committing process writes the Avro manifests under the table
    location; the transport only arbitrates the metadata swap."""

    # -- transport seam ----------------------------------------------------
    def _load(self) -> dict:
        raise NotImplementedError

    def _commit(self, md: dict, requirements: list[dict], updates: list[dict]) -> None:
        """Commit `updates` built against `md`, or raise
        CommitConflictError (RequirementFailedError when the catalog
        checked `requirements` against its current state and one
        failed)."""
        raise NotImplementedError

    # -- metadata access ---------------------------------------------------
    def metadata(self) -> dict:
        """The current table metadata, loaded fresh on every call so
        commits always build on the latest state."""
        return self._load()

    def snapshots(self) -> list[dict]:
        return self.metadata()["snapshots"]

    def current_snapshot(self) -> dict | None:
        md = self.metadata()
        sid = md.get("current-snapshot-id", -1)
        if sid in (-1, None):
            return None
        return next(s for s in md["snapshots"] if s["snapshot-id"] == sid)

    def partition_spec(self) -> list[dict]:
        return default_spec_fields(self.metadata())

    def properties(self) -> dict[str, str]:
        return self.metadata()["properties"]

    def apply_storage_credentials(
        self, spark: SparkSession, path: str | None = None, now_ms: int | None = None
    ) -> dict[str, str]:
        """Thread catalog-vended storage credentials into the session
        before Spark touches table files. Returns the applied conf; a
        catalog that vends none (the filesystem catalog) applies {}."""
        return {}

    @contextmanager
    def _credentialed_write(self, spark: SparkSession, path: str):
        """apply_storage_credentials for the write job run inside the
        block. Vended keys live in the SparkContext's one Hadoop conf,
        which every thread shares: when this table applied any, the block
        holds HADOOP_CONF_LOCK until its job is done, so a concurrent
        write to a table with another vend (the same bucket's per-bucket
        keys, or GCS's global token) cannot swap keys under it. A table
        that vends nothing writes without the lock."""
        with HADOOP_CONF_LOCK:
            if self.apply_storage_credentials(spark, path):
                yield
                return
        yield

    # -- the commit loop ---------------------------------------------------
    def _commit_loop(
        self, build, md: dict | None = None, pin: tuple[str, int] | None = None
    ) -> Any:
        """The one optimistic commit loop every commit kind runs, on both
        transports. `build(md)` returns (requirements, updates, result)
        against the base `md`; empty updates are a no-op that returns
        `result` without committing. `md` is the first attempt's base
        (default: a fresh load); each retry reloads and rebuilds. The
        table's commit.retry.num-retries bounds the attempts.

        `pin=(branch, snapshot_id)` is replace mode: the commit was
        planned against that head of `branch` and cannot merge with a
        concurrent commit to it, so the branch moving raises
        ReplaceConflictError instead of retrying. Commits to other refs
        do not conflict with it.

        A snapshot an earlier attempt added that is found on reload is
        this commit landing late after a lost response: its id is
        returned instead of committing the same files twice."""
        attempts = None
        attempt = 0
        attempted: list[int] = []  # snapshot ids of earlier tries
        while True:
            if md is None:
                md = self.metadata()
                landed = _landed_snapshot(md, attempted)
                if landed is not None:
                    return landed
            if attempts is None:
                attempts = commit_attempts_for(md)
            if pin is not None and _branch_head(md, pin[0]) != pin[1]:
                raise _replace_conflict(pin)
            requirements, updates, result = build(md)
            if not updates:
                return result
            attempted += [
                u["snapshot"]["snapshot-id"]
                for u in updates
                if u["action"] == "add-snapshot"
            ]
            try:
                self._commit(md, requirements, updates)
                return result
            except UnpublishedCommitError:
                raise  # retrying cannot publish a stranded version
            except CommitConflictError as exc:
                if pin is not None and isinstance(exc, RequirementFailedError):
                    raise _replace_conflict(pin) from exc
                attempt += 1
                if attempt >= attempts:
                    # the conflict can be an earlier attempt of THIS
                    # commit landing late: check once before surfacing
                    if attempted:
                        try:
                            landed = _landed_snapshot(self.metadata(), attempted)
                        except (RuntimeError, OSError):  # a failed reload: surface the conflict
                            landed = None
                        if landed is not None:
                            return landed
                    raise
                time.sleep(0.05 * attempt)
                md = None

    def _snapshot_commit(
        self,
        md: dict,
        files: list[DataFile],
        *,
        operation: str,
        carry_forward: bool,
        extra_summary: dict[str, str],
        branch: str = "main",
        removed_files: list[DataFile] | None = None,
        required_live_paths: set[str] | None = None,
    ) -> tuple[list[dict], list[dict], int]:
        """Build (not send) one snapshot commit of `files` on `branch`
        against `md`: the manifest tree lands under the table location
        and the returned (requirements, updates, snapshot id) advance
        `branch` to it, pinned to the head the tree was built on.

        carry_forward=True appends a new manifest on top of the head's
        manifests (append semantics); False makes the new manifest the
        COMPLETE live file set (replace semantics). A branch other than
        main forks from main's head when new, and committing to it never
        moves main or the snapshot log — the WAP staging path."""
        snapshot = write_snapshot_tree(
            md["location"],
            md,
            files,
            operation=operation,
            carry_forward=carry_forward,
            extra_summary=extra_summary,
            parent_override=None if branch == "main" else _branch_head(md, branch),
            removed_files=removed_files,
            required_live_paths=required_live_paths,
        )
        sid = snapshot["snapshot-id"]
        requirements = [_uuid_requirement(md), _ref_requirement(md, branch)]
        updates = [
            {"action": "add-snapshot", "snapshot": snapshot},
            _set_ref_update(md, branch, sid),
        ]
        return requirements, updates, sid

    def _commit_with_retry(
        self,
        files: list[DataFile],
        *,
        operation: str,
        carry_forward: bool,
        extra_summary: dict[str, str],
        expected_base_snapshot: int | None = None,
        branch: str = "main",
        removed_files: list[DataFile] | None = None,
        required_live_paths: set[str] | None = None,
        md: dict | None = None,
    ) -> int:
        """Commit `files` as one snapshot on `branch` through the commit
        loop; returns the snapshot id. `expected_base_snapshot` pins a
        replace to the branch head it was planned on (ReplaceConflictError
        if that branch moved); `md` is the planning metadata the first
        attempt builds on."""
        pin = None if expected_base_snapshot is None else (branch, expected_base_snapshot)

        def build(base: dict):
            return self._snapshot_commit(
                base,
                files,
                operation=operation,
                carry_forward=carry_forward,
                extra_summary=extra_summary,
                branch=branch,
                removed_files=removed_files,
                required_live_paths=required_live_paths,
            )

        return self._commit_loop(build, md, pin)

    def _commit_updates(self, updates: list[dict], md: dict | None = None, result=None):
        """A metadata-only commit of fixed `updates` (no snapshot)."""
        return self._commit_loop(
            lambda base: ([_uuid_requirement(base)], updates, result), md
        )

    # -- appends -----------------------------------------------------------
    def append_files(
        self, files: list[DataFile], snapshot_properties: dict[str, str] | None = None
    ) -> int:
        """Atomic append: one new manifest + carried-forward prior
        manifests -> new manifest list -> commit. Returns the new
        snapshot id. Driver-side cost is O(len(files)) regardless of
        table size.

        Optimistic concurrency: if another writer committed first, the
        commit rebuilds against the new base and retries (appends never
        conflict logically) — the same retry loop jar-backed Iceberg
        writers run (catalog_rest.go:243-303)."""
        return self._commit_with_retry(
            files,
            operation="append",
            carry_forward=True,
            extra_summary=snapshot_properties or {},
        )

    def append_files_to_branch(
        self,
        branch: str,
        files: list[DataFile],
        snapshot_properties: dict[str, str] | None = None,
    ) -> int:
        """Write-audit-publish staging: append on a named BRANCH without
        advancing `main`. The snapshot's parent is the branch head (the
        branch forks from main's head on first use); readers of `main`
        never see the staged data until `fast_forward(branch)` publishes
        it. This is Iceberg's WAP pattern (spark.wap.branch): load →
        stage on the audit branch → validate via read_ref → publish or
        drop_ref."""
        if branch == "main":
            return self.append_files(files, snapshot_properties)
        return self._commit_with_retry(
            files,
            operation="append",
            carry_forward=True,
            extra_summary=snapshot_properties or {},
            branch=branch,
        )

    def append_dataframe(
        self,
        df: DataFrame,
        snapshot_properties: dict[str, str] | None = None,
        fanout: int | None = None,
    ) -> int | None:
        """K3 end to end: a Spark job writes Parquet under data/<uuid>/
        (partitioned by the hidden-transform value so each hour/day lands
        in its own directory with few large files), then the driver
        commits the file list. The partition column is dropped from file
        contents by partitionBy — hidden partitioning, like Iceberg.
        `fanout` spreads hot partition values over ~fanout writer tasks
        (backfills).

        Empty inputs commit NOTHING and return None (the reference's F1
        empty-batch short-circuit: the 5-way metric demux routinely
        produces empty per-type frames; an empty snapshot per type per
        micro-batch would bloat metadata for no data)."""
        md = self.metadata()
        with self._credentialed_write(df.sparkSession, md["location"]):
            files = write_partitioned_batch(df, md["location"], md, fanout)
        if not files:  # F1: no data files -> no snapshot
            return None
        return self.append_files(files, snapshot_properties)

    def append_dataframe_to_branch(
        self,
        branch: str,
        df: DataFrame,
        snapshot_properties: dict[str, str] | None = None,
    ) -> int | None:
        """append_dataframe staged on a branch (WAP); empty inputs
        commit nothing."""
        md = self.metadata()
        with self._credentialed_write(df.sparkSession, md["location"]):
            files = write_partitioned_batch(df, md["location"], md)
        if not files:
            return None
        return self.append_files_to_branch(branch, files, snapshot_properties)

    def fast_forward(self, branch: str) -> int:
        """WAP publish: advance `main` to a branch head. Fast-forward
        ONLY — main's current snapshot must be an ancestor of the branch
        head (no audit-branch commit can silently drop concurrent main
        commits); otherwise re-stage on a fresh branch. Returns the new
        main head."""

        def build(md: dict):
            ref = md.get("refs", {}).get(branch)
            if ref is None:
                raise ValueError(f"unknown branch {branch!r}")
            head = ref["snapshot-id"]
            cur = md["current-snapshot-id"]
            if cur == head:
                return [], [], head
            by_id = {s["snapshot-id"]: s for s in md["snapshots"]}
            node, ok = head, cur == -1
            while node is not None and not ok:
                if node == cur:
                    ok = True
                    break
                node = by_id.get(node, {}).get("parent-snapshot-id")
            if not ok:
                raise ValueError(
                    f"cannot fast-forward: main ({cur}) is not an ancestor of "
                    f"branch {branch!r} head ({head}); main advanced since the "
                    "branch forked — re-stage against the new main"
                )
            requirements = [_uuid_requirement(md), _ref_requirement(md, "main")]
            return requirements, [_set_ref_update(md, "main", head)], head

        return self._commit_loop(build)

    def cherry_pick(self, snapshot_id: int) -> int:
        """Publish ONE staged snapshot onto CURRENT main when
        fast-forward is impossible (main advanced since the branch
        forked) — Iceberg's `cherrypick_snapshot`. Only append-style
        snapshots qualify: an append's effect commutes with every
        intervening commit, so its ADDED data files simply re-commit as
        a NEW append on today's main (fresh snapshot id and sequence
        number; the staged snapshot itself is untouched on its branch,
        visible to time travel until expiry). Anything with deletes,
        replaces, or carried rewrites raises — those effects were
        computed against the old base and cannot be replayed blindly.
        Returns the new main head."""
        files = plan_cherry_pick(self.metadata(), snapshot_id)
        return self._commit_with_retry(
            files,
            operation="append",
            carry_forward=True,
            extra_summary={"cherry-picked-from-snapshot": str(snapshot_id)},
        )

    def overwrite_partitions(
        self,
        df: DataFrame,
        snapshot_properties: dict[str, str] | None = None,
        fanout: int | None = None,
    ) -> int | None:
        """Dynamic partition overwrite (Spark's INSERT OVERWRITE,
        Iceberg's `overwritePartitions`): atomically REPLACE exactly the
        hidden partitions the batch lands in — the standard backfill
        primitive at 100 TB (recompute one day/hour of history and swap
        it in; every other partition survives BY REFERENCE, untouched).
        The batch writes as fresh hidden-partitioned files, the touched
        partition tuples are diffed against the live set in ONE metadata
        walk (plan_partition_overwrite), and the commit is a pinned
        `overwrite` snapshot: readers flip from old to new partition
        content atomically, time travel still sees the old data.

        Delete files carry forward: entries scoped to surviving files
        keep applying; entries for replaced files reference dropped
        paths and match nothing. On an unpartitioned table this is
        truncate-and-insert (Spark's INSERT OVERWRITE semantics there).
        Empty inputs commit NOTHING and return None; raises
        ReplaceConflictError if the table advanced mid-write (a replace
        cannot merge — re-run against the new base)."""
        md = self.metadata()
        planned_snapshot = md["current-snapshot-id"]
        with self._credentialed_write(df.sparkSession, md["location"]):
            new_files = write_partitioned_batch(df, md["location"], md, fanout)
        if not new_files:  # F1: no data files -> no snapshot
            return None
        replaced, survivors, deletes = plan_partition_overwrite(
            md, planned_snapshot, new_files
        )
        summary = {
            "replaced-partitions": str(
                len({_partition_tuple(f) for f in replaced})
            ),
            "replaced-data-files": str(len(replaced)),
            "replaced-records": str(sum(f.record_count for f in replaced)),
            **(snapshot_properties or {}),
        }
        return self._commit_replace(
            md, planned_snapshot, new_files + survivors + deletes, summary
        )

    # -- K4: register existing Parquet files without copying ---------------
    def add_files_hive(
        self,
        source_dir: str,
        snapshot_properties: dict[str, str] | None = None,
        *,
        timezone_name: str = "UTC",
    ) -> int:
        """Register the raw-Parquet sink's `year=/month=[/day=[/hour=]]`
        output (sinks/parquet_sink.py layout) as table data files,
        mapping Hive values to the table's transform values. The raw
        sink writes those directories in `timezone_name` wall time
        (partition.timezone); each converts to UTC before the transform,
        and a directory that spans more than one partition value raises
        ValueError (hive_data_files). No data is moved or rewritten
        (catalog_rest.go:306-367)."""
        files = hive_data_files(source_dir, self.partition_spec(), timezone_name)
        self._ensure_name_mapping(files)
        props = {"operation-detail": "add_files", **(snapshot_properties or {})}
        return self.append_files(files, props)

    def add_data_files(
        self, paths: list[str], snapshot_properties: dict[str, str] | None = None
    ) -> int:
        """Register specific Parquet files (recovery path: a crashed
        writer's data files re-enter the table metadata-only). Partition
        values come from `key=value` path segments — either the
        partition field's own name (`ts_hour=473040`, the append
        layout) or raw-sink `year=/month=/day=/hour=` values."""
        md = self.metadata()
        files = data_files_for_paths(paths, default_spec_fields(md), md["location"])
        self._ensure_name_mapping(files)
        props = {"operation-detail": "add_files", **(snapshot_properties or {})}
        return self.append_files(files, props)

    def set_properties(self, props: dict[str, str]) -> None:
        """Merge table properties (metadata-only commit)."""
        self._commit_updates([{"action": "set-properties", "updates": props}])

    def _ensure_name_mapping(self, files: list[DataFile]) -> None:
        """Registering files without parquet field ids: fold the current
        schema into schema.name-mapping.default (creating it on first
        use) so those files stay resolvable after a future rename /
        drop-readd flips reads to id-based resolution. Engine-written
        (id-carrying) registrations leave the property untouched."""
        if not field_idless_files([f.file_path for f in files]):
            return
        md = self.metadata()
        merged = merged_name_mapping(md)
        if md.get("properties", {}).get(NAME_MAPPING_PROP) != merged:
            self.set_properties({NAME_MAPPING_PROP: merged})

    def all_files(self) -> list[str]:
        """Every data-file path referenced by ANY snapshot — the
        registered-file set the reconciler diffs against (the Iceberg
        `all_files` metadata table; time-travel-aware dedup like
        catalog_rest.go:370-467). A table that does not exist lists
        empty, like the reference (go:383-390)."""
        try:
            md = self.metadata()
        except NoSuchTableError:
            return []
        return all_data_file_paths(md)

    # -- scan planning + read (with manifest-level pruning) ---------------
    def plan_files(
        self,
        snapshot_id: int | None = None,
        partition_range: tuple[int, int] | None = None,
        column_range: tuple[str, Any, Any] | None = None,
        source_predicate: tuple[str, Any] | None = None,
        source_range: tuple[str, Any, Any] | None = None,
    ) -> tuple[list[DataFile], int]:
        """Resolve live DATA files for a snapshot (see plan_scan, which
        also returns delete files). Returns (files, n_pruned)."""
        data, _, pruned = self.plan_scan(
            snapshot_id, partition_range, column_range, source_predicate, source_range
        )
        return data, pruned

    def plan_scan(
        self,
        snapshot_id: int | None = None,
        partition_range: tuple[int, int] | None = None,
        column_range: tuple[str, Any, Any] | None = None,
        source_predicate: tuple[str, Any] | None = None,
        source_range: tuple[str, Any, Any] | None = None,
        md: dict | None = None,
    ) -> tuple[list[DataFile], list[DataFile], int]:
        """Resolve a snapshot's live files into (data files, delete
        files, n_pruned); data files are optionally pruned by
        transform-value range AND/OR a column value range
        (`column_range=(name, lo, hi)`) against the manifest-recorded
        per-file min/max bounds — the scan never opens pruned files;
        both skips are O(metadata). Files without bounds (or legacy
        manifests) are conservatively kept. Delete files are never
        pruned (a delete row for a pruned-away data file simply matches
        nothing).

        `source_predicate=(column, value)` is Iceberg's hidden-partition
        predicate rewrite: for every spec field derived from `column`,
        the transform of `value` is computed DRIVER-SIDE and files whose
        partition value differs are skipped — a point lookup on a
        bucket[N] table opens ~1/N of the files without the query ever
        naming the partition column. `md` plans over metadata the caller
        already loaded instead of loading it again (like
        plan_files_server's)."""
        return plan_scan_metadata(
            self.metadata() if md is None else md,
            snapshot_id,
            partition_range,
            column_range,
            source_predicate,
            source_range,
        )

    def _live_files(
        self, md: dict, snapshot_id: int
    ) -> tuple[list[DataFile], list[DataFile]]:
        """(data files, delete files) live in a snapshot of `md`."""
        data, deletes, _ = self.plan_scan(snapshot_id, md=md)
        return data, deletes

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
    ) -> DataFrame:
        """Time-travel-capable scan: metadata resolves the file list
        (partition + column-bound + hidden-partition-predicate pruning
        applied there), the Spark scan reads exactly those Parquet files
        under the CURRENT schema (pre-evolution files surface added
        columns as nulls), and any delete files are subtracted
        (merge-on-read). NOTE: column_range / source_predicate prune
        FILES; apply the row filter on the result. `where` instead takes
        ONE SQL predicate and does both: every extractable conjunct
        prunes files (column bounds, hidden-partition rewrite, ns
        literals, variant-path footer stats — the same planner DML
        uses), then the full predicate filters rows. `with_lineage`
        (v3 tables) appends the _row_id / _last_updated_sequence_number
        metadata columns (scan_with_lineage)."""
        _require_where_alone(where, partition_range, column_range, source_predicate, source_range)
        md = self.metadata()
        self.apply_storage_credentials(spark, md["location"])
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

    def _read_local(
        self,
        spark: SparkSession,
        md: dict,
        snapshot_id,
        partition_range,
        column_range,
        source_predicate,
        source_range,
        where: str | None,
        with_lineage: bool,
    ) -> DataFrame:
        """read() planned locally from `md`."""
        if where is not None:
            sid = md["current-snapshot-id"] if snapshot_id is None else snapshot_id
            data, _, deletes = plan_dml_files(
                md, sid, where, spark_session_timezone(spark), spark=spark
            )
        else:
            data, deletes, _ = self.plan_scan(
                snapshot_id,
                partition_range,
                column_range,
                source_predicate,
                source_range,
                md=md,
            )
        df = (
            scan_with_lineage(spark, md, data, deletes)
            if with_lineage
            else scan_with_deletes(spark, md, data, deletes)
        )
        return df.filter(where) if where is not None else df

    def count_rows(
        self, spark: SparkSession | None = None, snapshot_id: int | None = None
    ) -> int:
        """SELECT count(*) from METADATA: with no live delete files the
        row count is exactly the sum of data-file record counts — O(1)
        from the summary's running `total-records`, no scan, no Spark
        job (the constant-time corpus-size check a 100 TB table needs).
        Pending position/equality deletes make the exact count require
        the read-side subtraction, so it falls back to a Spark count
        (pass `spark`); tables written without totals walk the snapshot
        metadata once instead."""
        n = count_rows_from_metadata(self.metadata(), snapshot_id)
        if n is not None:
            return n
        if spark is None:
            raise ValueError(
                "snapshot has pending delete files: the exact count needs a "
                "Spark scan — pass spark (or fold deletes with maintenance)"
            )
        return self.read(spark, snapshot_id=snapshot_id).count()

    # -- incremental (snapshot-diff) consumption ---------------------------
    def incremental_files(
        self,
        from_snapshot_id: int | None = None,
        to_snapshot_id: int | None = None,
        source_range=None,
    ) -> list[DataFile]:
        """Data files ADDED by append snapshots strictly after
        `from_snapshot_id` (exclusive), up to `to_snapshot_id`
        (inclusive; current when None) — Iceberg's incremental append
        scan. `replace` snapshots (compaction) rewrite the physical
        layout without changing logical data, so they are skipped, same
        as Iceberg's incremental read.

        Cost is O(metadata of the snapshot window): each append's own
        manifest is identified by added_snapshot_id, so consuming a
        micro-batch append reads exactly one manifest no matter how
        large the table has grown — this is what makes
        "process-only-what's-new" pipelines (embedding refresh, dedup
        re-index) feasible on a table with years of history.
        """
        return incremental_data_files(
            self.metadata(), from_snapshot_id, to_snapshot_id, source_range
        )[0]

    def incremental_scan(
        self,
        from_snapshot_id: int | None = None,
        to_snapshot_id: int | None = None,
    ) -> tuple[list[DataFile], int | None]:
        """Like incremental_files, but also returns the id of the LAST
        snapshot the scan covered — the checkpoint value. Consumers must
        checkpoint THIS id, not a freshly-loaded current snapshot: a
        concurrent append landing after the scan would otherwise be
        skipped by the next poll."""
        return incremental_data_files(self.metadata(), from_snapshot_id, to_snapshot_id)

    def read_changes(
        self,
        spark: SparkSession,
        from_snapshot_id: int | None = None,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """Scan only the rows appended in the snapshot window — the
        consumption side of exactly-once micro-batch commits: a consumer
        checkpoints the last snapshot id it processed and passes it as
        from_snapshot_id on the next run."""
        md = self.metadata()
        self.apply_storage_credentials(spark, md["location"])
        schema = read_schema_for(spark, md)
        files = incremental_data_files(md, from_snapshot_id, to_snapshot_id)[0]
        if not files:
            return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)
        return table_file_scan(spark, md, schema, [f.file_path for f in files])

    def changelog_scan(
        self,
        spark: SparkSession,
        from_snapshot_id: int | None = None,
        to_snapshot_id: int | None = None,
        source_range=None,
        with_lineage: bool = False,
        full_pre_images: bool | None = None,
    ) -> DataFrame:
        """Row-level CDC read over a snapshot window (see module-level
        read_changelog): `insert` rows for appends, full-content
        `delete` rows for position deletes, key-only `delete_key` rows
        for equality deletes (full pre-images on request — automatic
        under `with_lineage`, which promises row identity); compaction
        skipped; CoW overwrites recovered via lineage (v3) or raise.
        `source_range=(col, lo, hi)` scopes the changelog (manifest-
        summary skip + partition-value file skip + exact row filter);
        `with_lineage` (v3) adds the row-identity columns."""
        md = self.metadata()
        self.apply_storage_credentials(spark, md["location"])
        return read_changelog(
            spark,
            md,
            from_snapshot_id,
            to_snapshot_id,
            source_range,
            with_lineage,
            full_pre_images,
        )

    def metadata_table(self, spark: SparkSession, name: str) -> DataFrame:
        """Inspection tables (snapshots/history/files/all_files/
        manifests) — see module-level metadata_table."""
        return metadata_table(spark, self.metadata(), name)

    # -- statistics --------------------------------------------------------
    def compute_partition_stats(self, snapshot_id: int | None = None) -> dict | None:
        """Write the spec's partition statistics Parquet for a snapshot
        (current when None) and register it in table metadata
        (`partition-statistics`, the set-partition-statistics update),
        replacing any prior entry for that snapshot. Returns the entry,
        or None on an empty table."""
        md = self.metadata()
        entry = write_partition_stats_file(md["location"], md, snapshot_id)
        if entry is None:
            return None
        return self._commit_updates(
            [{"action": "set-partition-statistics", "partition-statistics": entry}],
            md,
            entry,
        )

    def partition_stats(
        self, spark: SparkSession, snapshot_id: int | None = None
    ) -> DataFrame:
        """Read the registered partition statistics file (see
        read_partition_stats)."""
        return read_partition_stats(spark, self.metadata(), snapshot_id)

    def compute_column_stats(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        columns: list[str] | None = None,
    ) -> dict | None:
        """Write the Puffin column-NDV statistics file for a snapshot
        (current when None; deletes-applied scan) and register it in
        table metadata (`statistics`, the set-statistics update),
        replacing any prior entry for that snapshot. Returns the
        StatisticsFile entry, or None on an empty table / no primitive
        columns."""
        from .puffin import write_column_stats_file

        md = self.metadata()
        sid = md["current-snapshot-id"] if snapshot_id is None else snapshot_id
        if sid == -1:
            return None
        entry = write_column_stats_file(
            spark, md["location"], md, self.read(spark, snapshot_id=sid), sid, columns
        )
        if entry is None:
            return None
        return self._commit_updates(_set_statistics(entry), md, entry)

    def column_stats(self, snapshot_id: int | None = None) -> dict[str, dict]:
        """Registered per-column NDV stats (see puffin.read_column_stats)."""
        from .puffin import read_column_stats

        return read_column_stats(self.metadata(), snapshot_id)

    def update_column_stats_incremental(self, spark: SparkSession) -> dict | None:
        """Refresh column stats to the CURRENT snapshot by sketching only
        the rows appended since the nearest ancestor snapshot that has
        stats, then KMV-merging — O(increment), never O(table). Falls
        back semantics: no prior stats anywhere -> raises (run
        compute_column_stats once first); a delete/overwrite inside the
        window -> incremental_data_files raises (sketches cannot
        subtract; recompute instead). Exactness degrades to the KMV
        estimate only once a sketch saturates its k."""
        from .puffin import plan_incremental_stats

        md = self.metadata()
        status, entry = plan_incremental_stats(spark, md, md["location"])
        if status != "new" or entry is None:
            return entry
        return self._commit_updates(_set_statistics(entry), md, entry)

    # -- refs: tags + branches ---------------------------------------------
    def set_ref(
        self,
        name: str,
        snapshot_id: int,
        ref_type: str = "tag",
        *,
        min_snapshots_to_keep: int | None = None,
        max_snapshot_age_ms: int | None = None,
        max_ref_age_ms: int | None = None,
    ) -> None:
        """Create/move a named ref (tag = immutable bookmark, branch =
        movable pointer) to a committed snapshot — metadata-only commit
        (set-snapshot-ref, the same update appends use for main).
        Ref'd snapshots are protected from expire_snapshots, so a tag
        pins a dataset version (e.g. a training-corpus release) for as
        long as the ref exists.

        Retention settings (Iceberg SnapshotRef fields, overriding the
        table's `history.expire.*` defaults): `min_snapshots_to_keep` /
        `max_snapshot_age_ms` govern how much of a BRANCH's ancestry
        expire_snapshots retains (branches only, per spec);
        `max_ref_age_ms` lets the ref ITSELF age out, so a stale tag or
        abandoned branch stops pinning snapshots forever."""
        if ref_type not in ("tag", "branch"):
            raise ValueError(f"ref type must be tag|branch, got {ref_type!r}")
        if name == "main" and ref_type != "branch":
            raise ValueError("main must stay a branch (Iceberg spec)")
        ref = _build_ref(
            snapshot_id,
            ref_type,
            min_snapshots_to_keep,
            max_snapshot_age_ms,
            max_ref_age_ms,
        )

        def build(md: dict):
            if snapshot_id not in {s["snapshot-id"] for s in md["snapshots"]}:
                raise ValueError(f"unknown snapshot {snapshot_id}")
            update = {"action": "set-snapshot-ref", "ref-name": name, **ref}
            return [_uuid_requirement(md)], [update], None

        self._commit_loop(build)

    def drop_ref(self, name: str) -> None:
        """Remove a named ref (its snapshot becomes expirable again)."""
        if name == "main":
            raise ValueError("cannot drop the main branch")

        def build(md: dict):
            if name not in md.get("refs", {}):
                return [], [], None
            update = {"action": "remove-snapshot-ref", "ref-name": name}
            return [_uuid_requirement(md)], [update], None

        self._commit_loop(build)

    def resolve_ref(self, name: str) -> int:
        ref = self.metadata().get("refs", {}).get(name)
        if ref is None:
            raise ValueError(f"unknown ref {name!r}")
        return ref["snapshot-id"]

    def read_ref(self, spark: SparkSession, name: str) -> DataFrame:
        """Scan the snapshot a ref points at (SELECT ... VERSION AS OF
        'tag' semantics)."""
        return self.read(spark, snapshot_id=self.resolve_ref(name))

    def snapshot_as_of(self, timestamp_ms: int) -> int | None:
        """Snapshot id for timestamp time travel; pass to read()."""
        return snapshot_id_as_of(self.metadata(), timestamp_ms)

    def rollback_to(self, snapshot_id: int) -> int:
        """Move main's head BACK to an ancestor snapshot (mistake
        recovery: un-publish a bad append/delete without rewriting
        anything). Metadata-only commit; the rolled-past snapshots stay
        readable by id (and re-expirable) until expire_snapshots. The
        snapshot log records the transition, so timestamp time travel
        keeps reflecting what readers actually saw."""

        def build(md: dict):
            require_main_ancestor(md, snapshot_id)
            if md["current-snapshot-id"] == snapshot_id:
                return [], [], snapshot_id
            requirements = [_uuid_requirement(md), _ref_requirement(md, "main")]
            return requirements, [_set_ref_update(md, "main", snapshot_id)], snapshot_id

        return self._commit_loop(build)

    # -- schema, spec and format evolution ---------------------------------
    def add_columns(
        self,
        new_fields: list[StructField] | StructType,
        defaults: dict | None = None,
        iceberg_types: dict[str, str] | None = None,
    ) -> int:
        """Add nullable columns (Iceberg add-column evolution): existing
        field ids are untouched, so every old data file stays readable;
        reads surface the new columns as nulls for pre-evolution files
        (spark_read_schema applies the CURRENT schema explicitly) — or as
        their `defaults[name]` value (v3 default values: initial-default
        for pre-evolution files, write-default for writers omitting the
        column; requires format-version 3). `iceberg_types` overrides a
        new field's derived type with a v3-only type (ns timestamps over
        LongType epoch-nanos, or `unknown` — always-null placeholder).
        Metadata-only commit (add-schema + set-current-schema) — no
        snapshot, no data rewrite. Returns the new schema id."""
        fields = list(new_fields.fields if isinstance(new_fields, StructType) else new_fields)

        def build(md: dict):
            # re-adding a previously-dropped name binds it to a NEW id;
            # name-based resolution would resurrect the old column's
            # bytes, so the table must be id-resolvable first
            historic = {f_["name"] for s in md["schemas"] for f_ in s["fields"]}
            current_names = {f_["name"] for f_ in current_schema(md)["fields"]}
            if any(f_.name in historic - current_names for f_ in fields):
                self._require_id_resolvable(md)
            if defaults and table_format_version(md) < 3:
                raise ValueError(
                    "default values are an Iceberg v3 feature — call "
                    "upgrade_format_version(3) first"
                )
            if iceberg_types and table_format_version(md) < 3:
                raise ValueError(
                    "timestamp_ns/unknown columns are an Iceberg v3 feature "
                    "— call upgrade_format_version(3) first"
                )
            schema, last_col = evolved_schema(md, fields, defaults, iceberg_types)
            return [_uuid_requirement(md)], _set_schema(schema, last_col), schema["schema-id"]

        return self._commit_loop(build)

    def _require_id_resolvable(self, md: dict) -> None:
        """Refuse a schema change that flips reads to id-based resolution
        while a live data file could resolve neither by parquet field id
        nor by the table's name mapping (it would read as nulls)."""
        sid = md.get("current-snapshot-id", -1)
        if sid != -1:
            data, _ = self._live_files(md, sid)
            require_id_resolvable([f.file_path for f in data], md)

    def rename_column(self, old: str, new: str) -> int:
        """Column rename (Iceberg RENAME COLUMN): metadata-only — the
        field keeps its id, no file is rewritten, and reads resolve the
        column by parquet field id from then on. Guarded: every live
        data file must either carry field ids (engine-written files do)
        or be covered by the table's name mapping (add_files maintains
        schema.name-mapping.default) — otherwise the file would read as
        null under id resolution, so the rename refuses instead."""

        def build(md: dict):
            self._require_id_resolvable(md)
            schema = evolved_schema_rename(md, old, new)
            return [_uuid_requirement(md)], _set_schema(schema), schema["schema-id"]

        return self._commit_loop(build)

    def drop_column(self, name: str) -> int:
        """Column drop (Iceberg DROP COLUMN): metadata-only — reads stop
        projecting the column; old files keep the bytes until rewritten;
        the id is never reused. Partition sources cannot be dropped."""

        def build(md: dict):
            schema = evolved_schema_drop(md, name)
            return [_uuid_requirement(md)], _set_schema(schema), schema["schema-id"]

        return self._commit_loop(build)

    def update_partition_spec(
        self, partition_source: str | None, granularity: str = "hourly"
    ) -> int | None:
        """Partition-spec evolution (Iceberg `ALTER TABLE ... WRITE
        ORDERED/PARTITIONED BY` analog): switch the hidden time partition
        to a different granularity, a different source column, or to
        unpartitioned. Metadata-only commit (add-spec + set-default-spec);
        existing files keep their original spec and are never rewritten —
        only NEW writes use the new layout. Scans prune on the default
        spec's field and keep old-spec files conservatively (their
        partition tuple doesn't carry the new field); a later
        rewrite_data_files MIGRATES old-spec files onto the current
        layout (restoring pruning and partition-identity ops like
        overwrite_partitions for them). Returns the new spec id, or None
        if the requested spec is already the default."""

        def build(md: dict):
            spec = evolved_spec(md, partition_source, granularity)
            if spec is None:
                return [], [], None
            updates = [
                {"action": "add-spec", "spec": spec},
                {"action": "set-default-spec", "spec-id": spec["spec-id"]},
            ]
            return [_uuid_requirement(md)], updates, spec["spec-id"]

        return self._commit_loop(build)

    def upgrade_format_version(self, target: int = 3) -> int:
        """v2 -> v3 upgrade ceremony (metadata-only commit): validate
        the v3 delete invariants (plan_format_upgrade — no live parquet
        position deletes, no stacked DVs), bump `format-version`, and
        initialize `next-row-id` (row-lineage id space, v3 required
        field). After the upgrade, merge-on-read writes refuse parquet
        position-delete files. No-op when already at `target`."""

        def build(md: dict):
            if not plan_format_upgrade(md, target):
                return [], [], table_format_version(md)
            update = {"action": "upgrade-format-version", "format-version": target}
            return [_uuid_requirement(md)], [update], target

        return self._commit_loop(build)

    # -- row-level DML -----------------------------------------------------
    def delete_where(
        self,
        spark: SparkSession,
        predicate: str,
        mode: str = "copy-on-write",
        branch: str = "main",
    ) -> tuple[int | None, int]:
        """Row-level DELETE, three strategies sharing one predicate scan:

        * ``copy-on-write`` (default): files containing matching rows are
          rewritten without them; the commit REPLACES the live file set
          in an `overwrite` snapshot. Read cost stays a plain scan;
          delete cost tracks the files containing matches.
        * ``merge-on-read``: NO data file is touched — the matching
          (file_path, pos) pairs are written as an Iceberg v2
          position-delete file and committed in a `delete` snapshot;
          reads subtract them with a metadata-sized anti-join. Delete
          cost tracks the MATCHES, the scale path when matches are
          sparse (GDPR/opt-out purges over a 100 TB corpus). Apply
          rewrite_position_deletes later to fold them in.
        * ``deletion-vectors``: merge-on-read with Iceberg v3 DELETION
          VECTORS as the physical form — one roaring bitmap per
          referenced data file, serialized on the executors and
          co-located in a single Puffin file (plan_deletion_vectors);
          smaller than tuple parquet, and a reader seeks exactly one
          blob per file. Folded by the same maintenance.

        Time travel to pre-delete snapshots still sees the rows until
        expire_snapshots reclaims them. Returns (new snapshot id or None
        if nothing matched, rows deleted).

        Concurrency: copy-on-write pins the planning base and raises
        ReplaceConflictError if the target branch advanced mid-delete (a
        replace cannot merge). Merge-on-read commits like an APPEND — it
        only ADDS a delete file, so it retries cleanly over concurrent
        appends; rows landing after planning are not covered (snapshot
        isolation, same as Iceberg's default)."""

        def plan(md: dict, live: list[DataFile], deletes: list[DataFile]):
            if mode == "copy-on-write":
                return plan_delete(spark, md, live, predicate, delete_files=deletes)
            if mode == "deletion-vectors":
                return plan_deletion_vectors(spark, md, live, deletes, predicate)
            return plan_position_delete(spark, md, live, deletes, predicate)

        return self._row_level_dml(
            spark, plan, mode, branch=branch, predicate=predicate, operation="delete"
        )

    def delete_where_equality(
        self, spark: SparkSession, keys_df: DataFrame, equality_cols: list[str]
    ) -> tuple[int | None, int]:
        """Merge-on-read DELETE BY KEY: the distinct key tuples commit as
        an Iceberg v2 equality-delete file (content=2) in a `delete`
        snapshot — the table is NEVER read or scanned. Cost tracks the
        key set: deleting a million opted-out user ids from a 100 TB
        corpus is one small Parquet write plus a metadata commit, where
        even a position delete needs a full predicate scan. Reads
        subtract matching rows from all data files with sequence number
        below the commit's (strictly — so rows re-inserted AFTER the
        delete survive). Returns (snapshot id or None on empty
        table/keys, n key tuples). Commits like an append: retries
        cleanly over concurrent appends."""
        md = self.metadata()
        if md["current-snapshot-id"] == -1:
            return None, 0
        with self._credentialed_write(spark, md["location"]):
            planned = plan_equality_delete(spark, md, keys_df, equality_cols)
        if planned is None:
            return None, 0
        new_deletes, n_keys = planned
        sid = self._commit_with_retry(
            new_deletes,
            operation="delete",
            carry_forward=True,
            extra_summary={"deleted-key-tuples": str(n_keys)},
        )
        return sid, n_keys

    def upsert_equality(
        self,
        spark: SparkSession,
        df: DataFrame,
        equality_cols: list[str],
        snapshot_properties: dict[str, str] | None = None,
    ) -> int | None:
        """CDC upsert in ONE snapshot, zero table reads: commits the new
        rows as data files AND an equality delete on their keys. Both
        carry the same sequence number, and equality deletes apply only
        to files with STRICTLY LOWER sequence numbers, so old row
        versions vanish while the new rows survive — the Flink/Iceberg
        streaming-upsert pattern. Per-batch cost is O(batch), never
        O(table): this is the primitive that keeps a continuously
        updated 100 TB feature table writable from a stream. Fold
        accumulated deletes later with compaction maintenance. Empty
        inputs commit NOTHING and return None (F1 short-circuit)."""
        md = self.metadata()
        with self._credentialed_write(spark, md["location"]):
            data_files = write_partitioned_batch(df, md["location"], md)
            if not data_files:  # F1: empty batch -> no snapshot
                return None
            planned = plan_equality_delete(
                spark, md, df.select(*equality_cols), equality_cols
            )
        files = data_files + (planned[0] if planned else [])
        summary = {"upserted-records": str(sum(f.record_count for f in data_files))}
        summary.update(snapshot_properties or {})
        return self._commit_with_retry(
            files,
            operation="overwrite",
            carry_forward=True,
            extra_summary=summary,
        )

    def update_where(
        self,
        spark: SparkSession,
        predicate: str,
        set_exprs: dict[str, str],
        mode: str = "copy-on-write",
        branch: str = "main",
    ) -> tuple[int | None, int]:
        """Row-level UPDATE (`UPDATE SET col = expr WHERE pred`):

        * ``copy-on-write`` (default): only files containing matches are
          rewritten, SET applied to matching rows (plan_update);
          `overwrite` snapshot pinned to the planning base.
        * ``merge-on-read``: an Iceberg row-delta — matched rows'
          positions become a delete file and their updated copies append
          as new data files, NO existing file rewritten; cost tracks the
          matches. Commits like an append (retries over concurrent
          appends; snapshot isolation).

        Returns (new snapshot id or None if nothing matched, rows
        updated). mode="deletion-vectors" is merge-on-read with the
        delete half written as v3 deletion vectors."""

        def plan(md: dict, live: list[DataFile], deletes: list[DataFile]):
            unknown = set(set_exprs) - set(spark_read_schema(md).fieldNames())
            if unknown:
                raise ValueError(f"SET targets unknown column(s): {sorted(unknown)}")
            if mode == "copy-on-write":
                return plan_update(
                    spark, md, live, predicate, set_exprs, delete_files=deletes
                )
            return plan_update_mor(
                spark,
                md,
                live,
                deletes,
                predicate,
                set_exprs,
                deletion_vectors=mode == "deletion-vectors",
            )

        return self._row_level_dml(
            spark, plan, mode, branch=branch, predicate=predicate
        )

    def merge_rows(
        self,
        spark: SparkSession,
        source: DataFrame,
        key_cols: list[str],
        mode: str = "copy-on-write",
    ) -> tuple[int, int, int]:
        """MERGE (keyed upsert): source rows replace same-key table rows,
        unmatched source rows insert — one atomic overwrite snapshot.

        ``copy-on-write`` rewrites the files containing matches
        (plan_merge); ``merge-on-read`` position-deletes the matched row
        versions and appends the source (plan_merge_mor — a row-delta:
        no file rewritten, cost tracks matches + source size, commits
        like an append over concurrent writers).

        Returns (snapshot_id, n_updated, n_inserted). Copy-on-write
        raises ReplaceConflictError if the table advances mid-merge."""

        def plan(md: dict, live: list[DataFile], deletes: list[DataFile]):
            if mode == "copy-on-write":
                return plan_merge(spark, md, live, source, key_cols, delete_files=deletes)
            return plan_merge_mor(spark, md, live, deletes, source, key_cols)

        return self._row_level_dml(
            spark, plan, mode, modes=("copy-on-write", "merge-on-read")
        )

    def _row_level_dml(
        self,
        spark: SparkSession,
        plan,
        mode: str,
        *,
        branch: str = "main",
        predicate: str | None = None,
        operation: str = "overwrite",
        modes: tuple[str, ...] = ("copy-on-write", "merge-on-read", "deletion-vectors"),
    ) -> tuple:
        """The scaffold delete_where, update_where and merge_rows share:
        check `mode`, resolve `branch` to the snapshot the plan runs
        against, list its live files — pruned by `predicate` when the
        DML has one (plan_dml_files: files that provably hold no match
        never reach the Spark scan; a ts-bounded purge on a 100 TB table
        opens only the matching partitions), all of them for MERGE —
        and run `plan(md, live, deletes)` -> RowLevelPlan | None under
        the table's vended storage credentials. The plan commits in one
        of two shapes:

        * copy-on-write: a REPLACE of the branch's live set (the plan's
          files + pruned-away files, which survive by reference + every
          delete file: those for survivors stay live, those naming
          rewritten files match nothing), pinned to the planning base —
          a replace cannot merge, so a concurrent commit to the branch
          raises ReplaceConflictError;
        * merge-on-read: a row delta carried onto the branch head as
          `operation`; it only ADDS files, so it retries cleanly over
          concurrent appends (snapshot isolation: rows landing after
          planning are not covered), folding superseded deletion
          vectors and validating that the referenced data files are
          still live.

        Returns (snapshot id, *plan counts), or (None, 0) when nothing
        matched."""
        if mode not in modes:
            raise ValueError(f"mode must be {'|'.join(modes)}, got {mode!r}")
        md = self.metadata()
        base = resolve_dml_branch(md, branch)
        if base == -1 and predicate is not None:
            return None, 0
        if mode == "merge-on-read" and predicate is not None:
            # predicate DML writes parquet tuples (MERGE writes DVs on v3)
            require_position_delete_files_allowed(md)
        excluded: list[DataFile] = []
        with self._credentialed_write(spark, md["location"]):
            if base == -1:
                live, deletes = [], []
            elif predicate is None:
                live, deletes = self._live_files(md, base)
            else:
                live, excluded, deletes = plan_dml_files(
                    md, base, predicate, spark_session_timezone(spark), spark=spark
                )
            planned = plan(md, live, deletes)
        if planned is None:
            return None, 0
        if mode == "copy-on-write":
            sid = self._commit_replace(
                md, base, planned.files + excluded + deletes, planned.summary, branch=branch
            )
        else:
            sid = self._commit_with_retry(
                planned.files,
                operation=operation,
                carry_forward=True,
                extra_summary=planned.summary,
                branch=branch,
                removed_files=planned.superseded or None,
                required_live_paths=planned.targets or None,
            )
        return (sid, *planned.counts)

    def _commit_replace(
        self,
        md: dict,
        base: int,
        files: list[DataFile],
        summary: dict[str, str],
        operation: str = "overwrite",
        branch: str = "main",
    ) -> int:
        """The copy-on-write commit shape: `files` become the complete
        live set of `branch`, built on the planning metadata `md` and
        pinned to the head `base` the plan read (ReplaceConflictError if
        the branch moved)."""
        return self._commit_with_retry(
            files,
            operation=operation,
            carry_forward=False,
            extra_summary=summary,
            expected_base_snapshot=base,
            branch=branch,
            md=md,
        )

    def _rewrite(self, spark: SparkSession, plan) -> int | None:
        """The scaffold of the rewrite_* maintenance methods: plan
        against main's head under the table's storage credentials, then
        commit the copy-on-write shape as a `replace` snapshot (a
        logical no-op that change streams skip). `plan(md, live,
        deletes)` returns (the complete new live file set, snapshot
        summary) or None when there is nothing to rewrite."""
        md = self.metadata()
        base = md["current-snapshot-id"]
        if base == -1:
            return None
        live, deletes = self._live_files(md, base)
        with self._credentialed_write(spark, md["location"]):
            planned = plan(md, live, deletes)
        if planned is None:
            return None
        files, summary = planned
        return self._commit_replace(md, base, files, summary, operation="replace")

    # -- table maintenance -------------------------------------------------
    def rewrite_data_files(
        self,
        spark: SparkSession,
        target_bytes: int = 128 * 1024 * 1024,
        min_files: int = 2,
        zorder_by: list[str] | None = None,
    ) -> int | None:
        """Iceberg-style compaction (`rewrite_data_files`): partitions
        whose live files are many-and-small get rewritten into one file
        each; the commit REPLACES the file set in a new snapshot. Old
        snapshots keep referencing the old files, so time travel still
        works until expire_snapshots reclaims them.

        One Spark job per compacted partition reads only that
        partition's files — never a full-table rewrite. The snapshot's
        single consolidated manifest also collapses manifest sprawl
        (streaming appends add one manifest per commit; scans read every
        manifest, so periodic consolidation keeps planning O(files),
        not O(commits)).

        `zorder_by` additionally sorts each rewritten partition along
        the Z-curve of the given columns (operators/layout.py) before
        writing, so Parquet row-group min/max stats are tight on every
        listed column — compaction and layout optimization in one
        pass, like Iceberg's sort-order rewrite.

        The replace is pinned to the planning base: a concurrent append
        advancing `main` mid-rewrite raises ReplaceConflictError
        instead of silently dropping the appended files."""

        def plan(md: dict, live: list[DataFile], deletes: list[DataFile]):
            planned = plan_rewrite(
                spark,
                md,
                live,
                target_bytes=target_bytes,
                min_files=min_files,
                zorder_by=zorder_by,
                delete_files=deletes,
            )
            if planned is None:
                return None
            replacement, n_compacted, n_rewritten = planned
            summary = {
                "compacted-files": str(n_compacted),
                "added-data-files": str(n_rewritten),
            }
            if zorder_by:
                # informational: Z-ordering is an action-side strategy,
                # not a spec sort order — record the clustering columns
                summary["zorder-by"] = ",".join(zorder_by)
            # pending deletes stay live for the SURVIVING files (compacted
            # files had theirs materialized; their stale rows match nothing)
            return replacement + deletes, summary

        return self._rewrite(spark, plan)

    def rewrite_manifests(
        self,
        target_size_bytes: int | None = None,
        min_count: int = 2,
    ) -> int | None:
        """Metadata-level compaction (Iceberg's `rewrite_manifests`
        action): merge the current snapshot's small manifests into
        ~target-size bins (default DEFAULT_MANIFEST_TARGET_SIZE) and
        commit the new manifest list as a `replace` snapshot. No data
        file is read or written — the commit is O(manifest entries) of
        Avro rewriting — and change streams never see it (replace
        snapshots are skipped by incremental scans and changelogs). A
        concurrent append landing mid-rewrite re-plans against the new
        base, so its manifests are never dropped. Returns the new
        snapshot id, or None when there was nothing to merge."""
        if target_size_bytes is None:
            target_size_bytes = DEFAULT_MANIFEST_TARGET_SIZE

        def build(md: dict):
            snapshot = build_rewrite_manifests_snapshot(
                md["location"], md, target_size=target_size_bytes, min_count=min_count
            )
            if snapshot is None:
                return [], [], None
            sid = snapshot["snapshot-id"]
            requirements = [_uuid_requirement(md), _ref_requirement(md, "main")]
            updates = [
                {"action": "add-snapshot", "snapshot": snapshot},
                _set_ref_update(md, "main", sid),
            ]
            return requirements, updates, sid

        return self._commit_loop(build)

    def rewrite_position_deletes(self, spark: SparkSession) -> int | None:
        """Maintenance: fold all pending position deletes into the data
        files — exactly the files the delete rows reference are rewritten
        without the deleted rows, every delete file is dropped, and the
        result commits as a `replace` snapshot (logically a no-op, so
        incremental consumers skip it, like compaction). Run this when
        accumulated deletes start taxing the read-side anti-join.

        Cost tracks the files containing deletes, never the table: the
        referenced paths come from the delete files themselves (one
        distinct over delete tuples — O(affected files) to the driver).
        Returns the new snapshot id, or None when there are no deletes."""

        def plan(md: dict, live: list[DataFile], deletes: list[DataFile]):
            pos = [f for f in deletes if f.content == 1]
            if not pos:
                return None
            replacement, n_rewritten = plan_delete_rewrite(spark, md, live, deletes)
            # equality-delete files stay live for the SURVIVING files
            # (which keep their original sequence numbers); the rewrite
            # materialized them for the files it touched
            eq = [f for f in deletes if f.content == 2]
            return replacement + eq, {
                "removed-delete-files": str(len(pos)),
                "rewritten-data-files": str(n_rewritten),
            }

        return self._rewrite(spark, plan)

    def rewrite_equality_deletes(self, spark: SparkSession) -> int | None:
        """Maintenance: fold all pending EQUALITY deletes into the data
        files — exactly the files containing matched rows are rewritten
        without them (all delete kinds applied), every equality-delete
        file drops, position deletes stay live for survivors, and the
        result commits as a `replace` snapshot (logical no-op — change
        streams skip it). Run when accumulated CDC deletes start taxing
        the read-side anti-joins. Returns the new snapshot id, or None
        when no equality delete matches anything (a fully stale delete
        file costs nothing at read time beyond one metadata row, so it
        is left for expire_snapshots)."""

        def plan(md: dict, live: list[DataFile], deletes: list[DataFile]):
            planned = plan_equality_rewrite(spark, md, live, deletes)
            if planned is None:
                return None
            replacement, n_rewritten = planned
            n_eq = sum(1 for f in deletes if f.content == 2)
            return replacement, {
                "removed-delete-files": str(n_eq),
                "rewritten-data-files": str(n_rewritten),
            }

        return self._rewrite(spark, plan)

    def remove_orphan_files(
        self,
        older_than_seconds: float = 3 * 86400,
        include_metadata: bool = True,
    ) -> list[str]:
        """Reclaim data files under the table location that NO snapshot
        references — the inverse of recovery (which re-registers them):
        leftovers from failed/raced writes whose commit never landed.
        With include_metadata (default), unreferenced manifest/list
        .avro trees and deregistered stats files are swept too — the
        litter every conflict-losing commit attempt leaves behind. Only
        files older than `older_than_seconds` are deleted (default
        3 days, Iceberg's default) so in-flight writes racing this call
        are never swept. Purely driver-side metadata + listing work.
        Returns deleted paths."""
        md = self.metadata()
        return sweep_table_orphans(
            md["location"],
            md,
            set(all_data_file_paths(md)),
            older_than_seconds,
            include_metadata,
        )

    def expire_snapshots(
        self,
        keep_last: int = 1,
        older_than_ms: int | None = None,
        now_ms: int | None = None,
    ) -> list[str]:
        """Expire snapshots with Iceberg's PER-REF retention (see
        expire_plan: tags pin their snapshot, branches protect their
        ancestry per min-snapshots-to-keep/max-snapshot-age-ms, stale
        refs age out via max-ref-age-ms), COMMIT the pruned metadata
        (remove-snapshot-ref + remove-snapshots, every ref the plan saw
        pinned so a concurrent commit re-plans), and only then
        physically delete data files and manifests no retained snapshot
        references (commit-then-delete, like jar-backed Iceberg: a crash
        or lost commit before the swap leaves the table fully intact; a
        crash after it leaves only harmless unreferenced files). Returns
        the deleted data-file paths. `now_ms` pins the age-evaluation
        clock (deterministic planning/tests); default wall clock."""

        def build(md: dict):
            plan = expire_plan(md, keep_last, older_than_ms, now_ms)
            if plan is None:
                return [], [], (md, None)
            updates = [
                {"action": "remove-snapshot-ref", "ref-name": name}
                for name in plan["removed_refs"]
            ]
            if plan["expired"]:
                updates.append(
                    {
                        "action": "remove-snapshots",
                        "snapshot-ids": sorted(
                            s["snapshot-id"] for s in plan["expired"]
                        ),
                    }
                )
            requirements = [_uuid_requirement(md)] + [
                {"type": "assert-ref-snapshot-id", "ref": name, "snapshot-id": ref["snapshot-id"]}
                for name, ref in sorted(md.get("refs", {}).items())
            ]
            return requirements, updates, (md, plan)

        md, plan = self._commit_loop(build)
        if plan is None:
            return []
        # delete phase (post-commit): no metadata references these
        expired_ids = {s["snapshot-id"] for s in plan["expired"]}
        for key in ("partition-statistics", "statistics"):
            for e in md.get(key, []):
                if e["snapshot-id"] in expired_ids:
                    try:
                        os.remove(e["statistics-path"])
                    except OSError:
                        pass
        return delete_expired_paths(plan)


class _LoadedMetadata(dict):
    """Table metadata as the filesystem catalog read it, remembering the
    `version` it was read at — the base version a commit built on it
    must claim next (FsTable._commit)."""

    version: int


class FsTable(Table):
    """Table in the filesystem catalog: `metadata/version-hint.text`
    names the current `v<N>.metadata.json`, and a commit is the
    exclusive create of version N+1 (the CAS) followed by an atomic hint
    swap."""

    def __init__(self, location: str):
        self.location = location

    def current_version(self) -> int:
        with open(os.path.join(self.location, "metadata", "version-hint.text")) as f:
            return int(f.read().strip())

    def _load(self) -> dict:
        """The current metadata, pinned to a SINGLE hint read: reading
        the hint and the metadata in two separate calls would race a
        concurrent commit landing in between."""
        try:
            version = self.current_version()
        except FileNotFoundError as exc:
            raise NoSuchTableError(f"no table at {self.location}") from exc
        with open(_metadata_path(self.location, version)) as f:
            md = _LoadedMetadata(json.load(f))
        md.version = version
        return md

    def _commit(self, md: dict, requirements: list[dict], updates: list[dict]) -> None:
        """Apply the updates engine-side (apply_updates) and claim the
        next metadata version. The version CAS admits exactly one writer
        per base version, which implies every requirement: the commit
        lands only on the exact metadata it was built from."""
        new_md = apply_updates(md, updates)
        new_md["metadata-log"] = md["metadata-log"] + [
            {
                "timestamp-ms": md["last-updated-ms"],
                "metadata-file": _metadata_path(self.location, md.version),
            }
        ]
        self._commit_snapshot(md.version, new_md)

    def _commit_snapshot(self, base_version: int, new_md: dict) -> None:
        """One commit attempt: write `new_md` as version base_version + 1
        and swap the hint to it. Losing the version to another writer
        raises CommitConflictError once that writer's hint swap is
        visible; a version whose hint never advances is stranded by a
        crashed writer (UnpublishedCommitError)."""
        try:
            _write_metadata_version(self.location, base_version + 1, new_md)
        except CommitConflictError:
            # the winner may not have swapped the hint yet — give the
            # in-flight commit a moment before declaring it stranded
            for _ in range(10):
                if self.current_version() != base_version:
                    raise
                time.sleep(0.05)
            raise UnpublishedCommitError(
                f"metadata version {base_version + 1} exists but the version "
                "hint never advanced to it"
            ) from None
        _swap_version_hint(self.location, base_version + 1)


# --------------------------------------------------------------------------
# helpers
# --------------------------------------------------------------------------


def _field_name_by_id(md: dict, field_id: int) -> str:
    schema = current_schema(md)
    return next(f_["name"] for f_ in schema["fields"] if f_["id"] == field_id)


def _hive_values(rel_path: str) -> dict[str, str]:
    values: dict[str, str] = {}
    for segment in rel_path.split(os.sep)[:-1]:
        if "=" in segment:
            k, _, v = segment.partition("=")
            values[k] = v
    return values


NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"  # Spark's null-partition dir


def _part_int(value: str) -> int | None:
    """Partition transform value from a Hive dir value; NULL source
    timestamps partition as null (legal in manifests — the avro schema
    makes partition fields optional) rather than crashing the commit."""
    return None if value == NULL_PARTITION else int(value)


def _part_value(value: str, result_type: str) -> int | str | None:
    """Typed variant of _part_int: truncate[string] partition values
    come back as the (Hive-path-unescaped) string itself."""
    if value == NULL_PARTITION:
        return None
    if result_type == "string":
        from urllib.parse import unquote

        return unquote(value)  # Spark escapes path-hostile chars as %XX
    return int(value)


def _field_type_by_id(md: dict, field_id: int) -> str:
    schema = current_schema(md)
    t = next(f_["type"] for f_ in schema["fields"] if f_["id"] == field_id)
    if not isinstance(t, str):
        raise ValueError(f"partition source field {field_id} has a non-primitive type")
    return t


def _partition_parse_types(md: dict) -> dict[str, str]:
    """field name -> transform result type for the default spec."""
    return {
        pf["name"]: transform_result_type(
            pf["transform"], _field_type_by_id(md, pf["source-id"])
        )
        for pf in default_spec_fields(md)
    }


def _hive_values_scoped(path: str, location: str) -> dict[str, str]:
    """`key=value` segments BELOW the table location only — a warehouse
    rooted under a path that itself contains `year=...`-style segments
    must not leak those into partition values (same scoping rule as
    recovery/scanner.py's root strip). External paths (registered from
    outside the table tree) fall back to whole-path parsing, which the
    caller controls."""
    rel = os.path.relpath(path, location)
    if not rel.startswith(".."):
        return _hive_values(rel)
    return _hive_values(path)


def _parquet_row_count(path: str) -> int:
    import pyarrow.parquet as pq

    try:
        return pq.ParquetFile(path).metadata.num_rows
    except Exception:
        # pyarrow refuses footers whose schema carries a logical type it
        # does not know (the VARIANT type Spark 4 writes) — fall back to
        # the engine's own thrift-compact footer walk, which SKIPS the
        # schema without interpreting it
        from .parquet_footer import footer_num_rows

        return footer_num_rows(path)


def _scan_written_files(
    batch_dir: str, partition_types: dict[str, str] | list[str]
) -> list[DataFile]:
    """Collect executor-written Parquet under batch_dir, mapping Hive
    dir values back to typed partition values. `partition_types` maps
    field name -> transform RESULT type (a bare name list means int,
    the pre-bucket/truncate form)."""
    if isinstance(partition_types, list):
        partition_types = {name: "int" for name in partition_types}
    files: list[DataFile] = []
    for path in sorted(glob.glob(os.path.join(batch_dir, "**", "*.parquet"), recursive=True)):
        hive = _hive_values(os.path.relpath(path, batch_dir))
        partition = {
            name: _part_value(hive[name], rtype)
            for name, rtype in partition_types.items()
            if name in hive
        }
        files.append(
            DataFile(
                file_path=os.path.abspath(path),
                file_size_in_bytes=os.path.getsize(path),
                record_count=_parquet_row_count(path),
                partition=partition,
            )
        )
    return files


