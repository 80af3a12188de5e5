"""OTLP requests -> the 7 flat tables as Arrow, in one Python pass.

Reference parity (internal/arrow/{traces,logs,metrics}.go): the
reference converts each OTLP batch with an in-process append loop into
Arrow RecordBatches. So does this module: `otlp_to_arrow` walks decoded
Export*ServiceRequest dicts (`json.loads` of an OTLP/JSON line, or
`protobuf.decode_message` of a serialized request — both carry the
OTLP/JSON field names and encodings) and builds one `pa.Table` per
output table, with the names and types the schemas in `schemas.py`
declare.

* 3-level walk Resource -> Scope -> span/log record/data point, with
  resource and scope columns computed once and repeated on every row
  (traces.go:36-68, P1); the metric demux falls out of the same walk:
  each data point lands in its type's table (metrics.go:137-245, D1)
* ns -> us truncation by floor division; `duration` on the raw ns
  (traces.go:141-142, 218-220, P2/P3); `ns_timestamps=True` keeps every
  time column as full-precision epoch-ns longs instead
* service_name from resource attribute 'service.name'
  (attributes.go:7-12, P4)
* null rules (SURVEY §1.5): empty trace_state/names/versions -> NULL,
  zero parent/trace/span IDs -> NULL, STATUS_CODE_UNSET -> NULL, zero
  observed/start time -> NULL, '{}' metric metadata -> NULL, empty
  exemplar set -> NULL lists with the unused value 0-padded inside
  (metrics.go:414-470)
* attribute maps -> canonical JSON with sorted keys at ANY nesting depth
  (valueToInterface + json.Marshal, traces.go:252-291); log bodies pass
  scalars through raw, doubles as %f and bytes decoded
  (logValueToJSON, logs.go:190-211)

Scalars render as the Spark SQL flatten this replaced rendered them
(tests/catalyst_otlp is that flatten, kept as the parity oracle):
strings escaped as Spark's to_json escapes them, integral doubles below
1e15 without a fraction (Go's rule), other doubles as Java's
Double.toString and body doubles as Java's '%f'. Known divergences from
Go, unchanged: non-integral doubles read "1.0E21" where Go writes
"1e+21". From the Spark flatten: the rare doubles whose Java digits are
not the shortest round-trip digits (JDK < 19) render here with the
shortest ones, and attribute doubles beyond the long range, NaN and
infinities render instead of failing the batch's ANSI cast.
"""

from __future__ import annotations

import base64
import json
import math
from collections.abc import Iterable, Iterator
from decimal import ROUND_HALF_UP, Context, Decimal
from functools import lru_cache

import pyarrow as pa
from pyspark.sql.types import StructField, StructType

from .. import schemas as S
from .protobuf import REQUEST_DESCRIPTORS, decode_message

SIGNALS = {
    "traces": (S.SIGNAL_TRACES,),
    "logs": (S.SIGNAL_LOGS,),
    "metrics": (
        S.SIGNAL_METRICS_GAUGE,
        S.SIGNAL_METRICS_SUM,
        S.SIGNAL_METRICS_HISTOGRAM,
        S.SIGNAL_METRICS_EXP_HISTOGRAM,
        S.SIGNAL_METRICS_SUMMARY,
    ),
}

# int enums -> names; anything else 'UNKNOWN' (traces.go:315-317)
_SPAN_KINDS = dict(
    enumerate(["UNSPECIFIED", "INTERNAL", "SERVER", "CLIENT", "PRODUCER", "CONSUMER"])
)
_STATUS_CODES = {1: "OK", 2: "ERROR"}  # 0/unset -> NULL (traces.go:320-331)
_TEMPORALITY = {1: "DELTA", 2: "CUMULATIVE"}  # else UNSPECIFIED (metrics.go:776-787)

# metric-level field holding each metric table's data points
_POINT_FIELDS = {
    "gauge": S.SIGNAL_METRICS_GAUGE,
    "sum": S.SIGNAL_METRICS_SUM,
    "histogram": S.SIGNAL_METRICS_HISTOGRAM,
    "exponentialHistogram": S.SIGNAL_METRICS_EXP_HISTOGRAM,
    "summary": S.SIGNAL_METRICS_SUMMARY,
}


# declared-required columns copied from OTLP fields a request may omit:
# nullable on the flattened frame, as on the Catalyst flatten's, so a
# record without them lands as NULL rather than failing its write
_OMITTABLE = frozenset(
    {
        "trace_id",
        "span_id",
        "start_time_unix_nano",
        "end_time_unix_nano",
        "duration",
        "time_unix_nano",
    }
)


@lru_cache(maxsize=None)
def frame_schema(signal: str, ns_timestamps: bool = False) -> StructType:
    """The Spark schema of a flattened frame: the declared names and
    types (`ns_timestamps=True` for the epoch-ns variant)."""
    return StructType(
        [
            StructField(f.name, f.dataType, f.nullable or f.name in _OMITTABLE)
            for f in S.schema_for(signal, ns_timestamps).fields
        ]
    )


@lru_cache(maxsize=None)
def arrow_schema(signal: str, ns_timestamps: bool = False) -> pa.Schema:
    """frame_schema as the Arrow schema Spark reads: timestamps as
    UTC-zoned microseconds, or int64 epoch-ns."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(frame_schema(signal, ns_timestamps))


# ---------------------------------------------------------------------------
# decoding


def decode_payloads(values: Iterable, signal_kind: str) -> Iterator[dict]:
    """Payload cells -> request dicts. A str cell is an OTLP/JSON line; a
    bytes cell a serialized Export*ServiceRequest. A line that is not a
    JSON object yields no rows, as from_json's permissive parse did."""
    for v in values:
        if v is None:
            continue
        if isinstance(v, str):
            try:
                req = json.loads(v)
            except ValueError:
                continue
        else:
            req = decode_message(bytes(v), REQUEST_DESCRIPTORS[signal_kind])
        if isinstance(req, dict):
            yield req


# ---------------------------------------------------------------------------
# scalar rendering

# Spark's to_json escapes: the short forms, other controls as \u00XX
# (upper-case hex), everything else raw
_ESCAPES = {i: f"\\u{i:04X}" for i in range(0x20)}
_ESCAPES.update(
    {
        ord('"'): '\\"',
        ord("\\"): "\\\\",
        ord("\b"): "\\b",
        ord("\f"): "\\f",
        ord("\n"): "\\n",
        ord("\r"): "\\r",
        ord("\t"): "\\t",
    }
)
_WIDE = Context(prec=1000)
_MICRO = Decimal("0.000001")


def _quote(s) -> str:
    return "null" if s is None else '"' + s.translate(_ESCAPES) + '"'


def _java_double(d: float) -> str:
    """Double.toString: plain in [1e-3, 1e7), else d.dddE<exp>."""
    if math.isnan(d):
        return "NaN"
    if math.isinf(d):
        return "Infinity" if d > 0 else "-Infinity"
    if d == 0:
        return "-0.0" if math.copysign(1.0, d) < 0 else "0.0"
    if 1e-3 <= abs(d) < 1e7:
        return repr(d)
    t = Decimal(repr(d)).normalize()
    sign, digits, _ = t.as_tuple()
    mantissa = f"{digits[0]}.{''.join(map(str, digits[1:])) or '0'}"
    return f"{'-' if sign else ''}{mantissa}E{t.adjusted()}"


def _json_number(d: float) -> str:
    """Go's json.Marshal writes integral float64s without a fraction."""
    if abs(d) < 1e15 and d == int(d):
        return str(int(d))
    return _java_double(d)


def _java_fixed(d: float) -> str:
    """Java's '%f': the Double.toString digits rounded half-up to 6 places."""
    if math.isnan(d):
        return "NaN"
    if math.isinf(d):
        return "Infinity" if d > 0 else "-Infinity"
    return format(Decimal(repr(d)).quantize(_MICRO, ROUND_HALF_UP, _WIDE), "f")


def _value_json(v) -> str:
    """An AnyValue as a JSON fragment (valueToInterface + json.Marshal):
    the first set field wins, in the OTLP oneof's declaration order."""
    if not v:
        return "null"
    x = v.get("stringValue")
    if x is not None:
        return _quote(x)
    x = v.get("boolValue")
    if x is not None:
        return "true" if x else "false"
    x = v.get("intValue")
    if x is not None:
        return str(int(x))
    x = v.get("doubleValue")
    if x is not None:
        return _json_number(float(x))
    x = v.get("bytesValue")
    if x is not None:
        return _quote(x)  # base64, as json.Marshal encodes []byte
    x = v.get("arrayValue")
    if x is not None:
        return "[" + ",".join(map(_value_json, x.get("values") or ())) + "]"
    x = v.get("kvlistValue")
    if x is not None:
        return _attrs_json(x.get("values"))
    return "null"


def _entry_order(kv) -> tuple:
    # array_sort's order: a null key first, a null entry last
    if kv is None:
        return (2, "")
    key = kv.get("key")
    return (0, "") if key is None else (1, key)


def _attrs_json(kvs) -> str:
    """A key/value list as one JSON object with its keys sorted (Go's
    json.Marshal map order); '{}' when absent (traces.go:253-256)."""
    if not kvs:
        return "{}"
    if len(kvs) > 1:
        kvs = sorted(kvs, key=_entry_order)
    entries = (kv or {} for kv in kvs)
    return (
        "{"
        + ",".join(_quote(kv.get("key")) + ":" + _value_json(kv.get("value")) for kv in entries)
        + "}"
    )


def _body(v) -> str:
    """logValueToJSON (logs.go:190-211): scalars raw, doubles as %f,
    bytes decoded, slices/maps JSON-encoded; absent -> ''."""
    if not v:
        return ""
    x = v.get("stringValue")
    if x is not None:
        return x
    x = v.get("boolValue")
    if x is not None:
        return "true" if x else "false"
    x = v.get("intValue")
    if x is not None:
        return str(int(x))
    x = v.get("doubleValue")
    if x is not None:
        return _java_fixed(float(x))
    x = v.get("bytesValue")
    if x is not None:
        return base64.b64decode(x + "=" * (-len(x) % 4)).decode("utf-8", "replace")
    if v.get("arrayValue") is not None or v.get("kvlistValue") is not None:
        return _value_json(v)
    return ""


def _int(x, default=None):
    return default if x is None else int(x)


def _float(x, default=None):
    return default if x is None else float(x)


def _text(x):
    """Empty or absent -> NULL."""
    return x or None


def _hex_id(x, width: int):
    """Lower-case hex; absent, empty and all-zero IDs -> NULL
    (traces.go:129-134, logs.go:133-146)."""
    if not x:
        return None
    x = x.lower()
    return None if x == "0" * width else x


def _lower(x):
    return None if x is None else x.lower()


def _clock(ns_timestamps: bool):
    """The time-column converter: epoch-ns text -> int epoch-ns, or the
    floor-divided epoch-µs a TimestampType column holds."""
    if ns_timestamps:
        return _int
    return lambda x: None if x is None else int(x) // 1000


# ---------------------------------------------------------------------------
# the shared resource/scope prefix


def _resource(resource) -> tuple:
    """(service_name, resource_attributes, resource_dropped_attributes_count)."""
    resource = resource or {}
    attrs = resource.get("attributes")
    service = None
    for kv in attrs or ():
        if kv and kv.get("key") == "service.name":
            service = _text((kv.get("value") or {}).get("stringValue"))
            break
    return service, _attrs_json(attrs), _int(resource.get("droppedAttributesCount"), 0)


def _scope(scope) -> tuple:
    """(scope_name, scope_version, scope_attributes, scope_dropped_attributes_count)."""
    scope = scope or {}
    return (
        _text(scope.get("name")),
        _text(scope.get("version")),
        _attrs_json(scope.get("attributes")),
        _int(scope.get("droppedAttributesCount"), 0),
    )


def _walk(requests: Iterable[dict], top: str, middle: str, leaf: str) -> Iterator:
    """(resource prefix, scope prefix, leaf) over the 3-level nesting."""
    for req in requests:
        for r in req.get(top) or ():
            if not r:
                continue
            res = _resource(r.get("resource"))
            for s in r.get(middle) or ():
                if not s:
                    continue
                scope = _scope(s.get("scope"))
                for item in s.get(leaf) or ():
                    yield res, scope, item or {}


# ---------------------------------------------------------------------------
# traces (traces.go:70-248)


def _trace_rows(requests, ns_timestamps: bool) -> list[tuple]:
    clock = _clock(ns_timestamps)
    rows = []
    for (service, res_attrs, res_dropped), scope, sp in _walk(
        requests, "resourceSpans", "scopeSpans", "spans"
    ):
        start, end = _int(sp.get("startTimeUnixNano")), _int(sp.get("endTimeUnixNano"))
        events = [e or {} for e in sp.get("events") or ()]
        links = [lk or {} for lk in sp.get("links") or ()]
        status = sp.get("status") or {}
        rows.append(
            (
                _lower(sp.get("traceId")),
                _lower(sp.get("spanId")),
                _text(sp.get("traceState")),
                _hex_id(sp.get("parentSpanId"), 16),
                _int(sp.get("flags"), 0),
                sp.get("name") or "",
                _SPAN_KINDS.get(_int(sp.get("kind"), 0), "UNKNOWN"),
                clock(sp.get("startTimeUnixNano")),
                clock(sp.get("endTimeUnixNano")),
                _attrs_json(sp.get("attributes")),
                _int(sp.get("droppedAttributesCount"), 0),
                [clock(e.get("timeUnixNano")) for e in events],
                [e.get("name") or "" for e in events],
                [_attrs_json(e.get("attributes")) for e in events],
                [_int(e.get("droppedAttributesCount"), 0) for e in events],
                _int(sp.get("droppedEventsCount"), 0),
                [(lk.get("traceId") or "").lower() for lk in links],
                [(lk.get("spanId") or "").lower() for lk in links],
                [lk.get("traceState") or "" for lk in links],
                [_attrs_json(lk.get("attributes")) for lk in links],
                [_int(lk.get("droppedAttributesCount"), 0) for lk in links],
                [_int(lk.get("flags"), 0) for lk in links],
                _int(sp.get("droppedLinksCount"), 0),
                _STATUS_CODES.get(_int(status.get("code"), 0)),
                _text(status.get("message")),
                None if start is None or end is None else end - start,
                service,
                res_attrs,
                res_dropped,
                *scope,
            )
        )
    return rows


# ---------------------------------------------------------------------------
# logs (logs.go:68-188)


def _log_rows(requests, ns_timestamps: bool) -> list[tuple]:
    clock = _clock(ns_timestamps)
    rows = []
    for (service, res_attrs, res_dropped), scope, rec in _walk(
        requests, "resourceLogs", "scopeLogs", "logRecords"
    ):
        observed = rec.get("observedTimeUnixNano")
        rows.append(
            (
                clock(rec.get("timeUnixNano")),
                _int(rec.get("severityNumber"), 0),
                _text(rec.get("severityText")),
                _body(rec.get("body")),
                _attrs_json(rec.get("attributes")),
                _int(rec.get("droppedAttributesCount"), 0),
                _int(rec.get("flags"), 0),
                _hex_id(rec.get("traceId"), 32),
                _hex_id(rec.get("spanId"), 16),
                clock(observed) if _int(observed) else None,  # zero -> NULL
                None,  # event_name: a placeholder in the reference (logs.go:158-160)
                service,
                res_attrs,
                res_dropped,
                *scope,
            )
        )
    return rows


# ---------------------------------------------------------------------------
# metrics (metrics.go:252-762)


def _exemplars(exemplars, clock) -> tuple:
    """The 6 parallel exemplar lists (metrics.go:423-470)."""
    if not exemplars:
        return (None,) * 6
    ex = [e or {} for e in exemplars]
    return (
        [clock(e.get("timeUnixNano")) for e in ex],
        [_float(e.get("asDouble"), 0.0) for e in ex],
        [(e.get("spanId") or "").lower() for e in ex],
        [(e.get("traceId") or "").lower() for e in ex],
        [_int(e.get("asInt"), 0) for e in ex],
        [_attrs_json(e.get("filteredAttributes")) for e in ex],
    )


def _ints(xs) -> list:
    return [_int(x) for x in xs or ()]


def _number(dp) -> tuple:
    """(as_double, as_int): exactly one is set (metrics.go:500-510)."""
    as_double = _float(dp.get("asDouble"))
    return as_double, _int(dp.get("asInt")) if as_double is None else None


def _point_values(field: str, body: dict, dp: dict, clock) -> tuple:
    """A data point's columns after the common 15 (metrics.go:476-594)."""
    temporality = _TEMPORALITY.get(_int(body.get("aggregationTemporality"), 0), "UNSPECIFIED")
    if field == "gauge":
        return (*_number(dp), *_exemplars(dp.get("exemplars"), clock))
    if field == "sum":
        return (
            *_number(dp),
            bool(body.get("isMonotonic")),
            temporality,
            *_exemplars(dp.get("exemplars"), clock),
        )
    if field == "summary":
        quantiles = [q or {} for q in dp.get("quantileValues") or ()]
        return (
            _int(dp.get("count"), 0),
            _float(dp.get("sum"), 0.0),
            [_float(q.get("quantile"), 0.0) for q in quantiles],
            [_float(q.get("value"), 0.0) for q in quantiles],
        )
    head = (
        _int(dp.get("count"), 0),
        _float(dp.get("sum")),
        _float(dp.get("min")),
        _float(dp.get("max")),
    )
    if field == "histogram":
        return (
            *head,
            _ints(dp.get("bucketCounts")),
            [_float(b) for b in dp.get("explicitBounds") or ()],
            temporality,
            *_exemplars(dp.get("exemplars"), clock),
        )
    positive = dp.get("positive") or {}
    negative = dp.get("negative") or {}
    return (
        *head,
        _int(dp.get("scale"), 0),
        _int(dp.get("zeroCount"), 0),
        _float(dp.get("zeroThreshold"), 0.0),
        _int(positive.get("offset"), 0),
        _ints(positive.get("bucketCounts")),
        _int(negative.get("offset"), 0),
        _ints(negative.get("bucketCounts")),
        temporality,
        *_exemplars(dp.get("exemplars"), clock),
    )


def _metric_rows(requests, ns_timestamps: bool) -> dict[str, list[tuple]]:
    clock = _clock(ns_timestamps)
    rows: dict[str, list[tuple]] = {sig: [] for sig in SIGNALS["metrics"]}
    for res, scope, m in _walk(requests, "resourceMetrics", "scopeMetrics", "metrics"):
        metadata = _attrs_json(m.get("metadata"))
        prefix = (
            *res,
            *scope,
            m.get("name") or "",
            _text(m.get("description")),
            _text(m.get("unit")),
            None if metadata == "{}" else metadata,  # metrics.go:414-420
        )
        # one metric can carry several point types; each demuxes alone
        for field, signal in _POINT_FIELDS.items():
            body = m.get(field)
            if body is None:
                continue
            out = rows[signal]
            for dp in body.get("dataPoints") or ():
                dp = dp or {}
                start = dp.get("startTimeUnixNano")
                out.append(
                    (
                        clock(dp.get("timeUnixNano")),
                        *prefix,
                        _attrs_json(dp.get("attributes")),
                        clock(start) if _int(start) else None,  # metrics.go:396-400
                        _int(dp.get("flags"), 0),
                        *_point_values(field, body, dp, clock),
                    )
                )
    return rows


# ---------------------------------------------------------------------------
# entry points


def _table(rows: list[tuple], schema: pa.Schema) -> pa.Table:
    columns = list(zip(*rows)) if rows else [()] * len(schema)
    return pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, schema)], schema=schema
    )


def otlp_to_arrow(
    requests: Iterable[dict], signal_kind: str, ns_timestamps: bool = False
) -> dict[str, pa.Table]:
    """Decoded OTLP requests of one signal kind (traces, logs, metrics)
    -> {signal: pa.Table} for every table the kind feeds, the empty ones
    included, each typed as its declared schema (`ns_timestamps=True`
    for the epoch-ns variant)."""
    if signal_kind == "traces":
        rows = {S.SIGNAL_TRACES: _trace_rows(requests, ns_timestamps)}
    elif signal_kind == "logs":
        rows = {S.SIGNAL_LOGS: _log_rows(requests, ns_timestamps)}
    elif signal_kind == "metrics":
        rows = _metric_rows(requests, ns_timestamps)
    else:
        raise ValueError(f"unknown signal kind {signal_kind!r}")
    return {sig: _table(r, arrow_schema(sig, ns_timestamps)) for sig, r in rows.items()}


def arrow_batches(
    batches: Iterator[pa.RecordBatch], signal_kind: str, signal: str, ns_timestamps: bool
) -> Iterator[pa.RecordBatch]:
    """The mapInArrow body: payload batches (one column) -> `signal`'s
    rows, one flatten per input batch."""
    for batch in batches:
        requests = decode_payloads(batch.column(0).to_pylist(), signal_kind)
        yield from otlp_to_arrow(requests, signal_kind, ns_timestamps)[signal].to_batches()
