"""OTLP protobuf ingestion without external dependencies.

The reference consumes protobuf pdata from the collector
(exporter.go:101-200); real collectors export protobuf, not JSON. This
container ships neither the spark-protobuf jar nor the Python protobuf
package, so this module implements the small, stable protobuf WIRE
FORMAT (varints, fixed32/64, length-delimited — public spec) plus the
public OTLP message descriptors (opentelemetry-proto), and decodes a
serialized Export*ServiceRequest into the dict `json.loads` makes of the
same request's OTLP/JSON line.

Execution shape: `flatten.decode_payloads` calls `decode_message` on
each binary payload inside the flatten's own pass, so the protobuf and
JSON paths share one flatten (exporter.go:101-200 feeds pdata from
either wire format into the same conversion).

Descriptor table format: {field_number: (json_name, kind, repeated)}
with kinds matching OTLP/JSON encoding conventions (IDs hex, 64-bit ints
as strings, bytes base64) so the decoded dict has the OTLP/JSON field
names and encodings.
"""

from __future__ import annotations

import base64
import struct

# ---------------------------------------------------------------------------
# wire-format primitives

_U64 = struct.Struct("<Q")
_I64 = struct.Struct("<q")
_U32 = struct.Struct("<I")
_D = struct.Struct("<d")


def _read_varint(buf: bytes, i: int) -> tuple[int, int]:
    val = 0
    shift = 0
    while True:
        b = buf[i]
        i += 1
        val |= (b & 0x7F) << shift
        if not (b & 0x80):
            return val, i
        shift += 7
        if shift > 70:
            raise ValueError("varint too long")


def _zigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _to_int64(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


def _convert_scalar(kind: str, wt: int, raw) -> object:
    """raw is an int for wire type 0, bytes for 1/2/5."""
    if kind == "uint":  # uint32/uint64/enum as JSON number
        return raw
    if kind == "uint_str":  # uint64 rendered as string (OTLP/JSON rule)
        return str(_U64.unpack(raw)[0]) if wt == 1 else str(raw)
    if kind == "int64_str":  # int64 varint (two's complement) as string
        return str(_to_int64(raw))
    if kind == "sint32":  # zigzag
        return _zigzag(raw)
    if kind == "bool":
        return bool(raw)
    if kind == "double":
        return _D.unpack(raw)[0]
    if kind == "fixed64_str":  # fixed64 timestamps/counts as string
        return str(_U64.unpack(raw)[0])
    if kind == "sfixed64_str":  # sfixed64 as_int as string
        return str(_I64.unpack(raw)[0])
    if kind == "fixed32":
        return _U32.unpack(raw)[0]
    if kind == "string":
        return raw.decode("utf-8")
    if kind == "bytes_hex":  # trace/span IDs: hex in OTLP/JSON
        return raw.hex()
    if kind == "bytes_b64":  # generic bytes: base64 in OTLP/JSON
        return base64.b64encode(raw).decode("ascii")
    raise ValueError(f"unknown kind {kind}")


# packed element readers: (elem_size_or_None, reader(buf, i) -> (val, i))
def _iter_packed(kind: str, raw: bytes):
    i, n = 0, len(raw)
    while i < n:
        if kind in ("uint", "uint_str", "int64_str", "sint32"):
            v, i = _read_varint(raw, i)
            yield _convert_scalar(kind, 0, v)
        elif kind in ("double", "fixed64_str", "sfixed64_str"):
            yield _convert_scalar(kind, 1, raw[i : i + 8])
            i += 8
        elif kind == "fixed32":
            yield _convert_scalar(kind, 5, raw[i : i + 4])
            i += 4
        else:
            raise ValueError(f"kind {kind} cannot be packed")


def decode_message(buf: bytes, desc: dict) -> dict:
    """Generic table-driven protobuf decoder: unknown fields are skipped
    (forward compatibility, same as any generated parser)."""
    out: dict = {}
    i, n = 0, len(buf)
    while i < n:
        tag, i = _read_varint(buf, i)
        fno, wt = tag >> 3, tag & 7
        if wt == 0:
            raw, i = _read_varint(buf, i)
        elif wt == 1:
            raw = buf[i : i + 8]
            i += 8
        elif wt == 5:
            raw = buf[i : i + 4]
            i += 4
        elif wt == 2:
            ln, i = _read_varint(buf, i)
            raw = buf[i : i + ln]
            i += ln
        else:
            raise ValueError(f"unsupported wire type {wt}")
        spec = desc.get(fno)
        if spec is None:
            continue
        name, kind, repeated = spec
        if isinstance(kind, dict):  # nested message
            val = decode_message(raw, kind)
            if repeated:
                out.setdefault(name, []).append(val)
            else:
                out[name] = val
        elif repeated:
            # packed encoding only applies to numeric scalars; repeated
            # string/bytes fields are length-delimited per element
            if wt == 2 and kind not in ("string", "bytes_hex", "bytes_b64"):
                out.setdefault(name, []).extend(_iter_packed(kind, raw))
            else:
                out.setdefault(name, []).append(_convert_scalar(kind, wt, raw))
        else:
            out[name] = _convert_scalar(kind, wt, raw)
    return out


# ---------------------------------------------------------------------------
# OTLP descriptors (public opentelemetry-proto field numbers), with
# OTLP/JSON names and encodings.

ANYVALUE: dict = {}  # patched below (self-referential oneof)
KEYVALUE = {1: ("key", "string", False), 2: ("value", ANYVALUE, False)}
ARRAYVALUE = {1: ("values", ANYVALUE, True)}
KVLISTVALUE = {1: ("values", KEYVALUE, True)}
ANYVALUE.update(
    {
        1: ("stringValue", "string", False),
        2: ("boolValue", "bool", False),
        3: ("intValue", "int64_str", False),
        4: ("doubleValue", "double", False),
        5: ("arrayValue", ARRAYVALUE, False),
        6: ("kvlistValue", KVLISTVALUE, False),
        7: ("bytesValue", "bytes_b64", False),
    }
)

RESOURCE = {
    1: ("attributes", KEYVALUE, True),
    2: ("droppedAttributesCount", "uint", False),
}

SCOPE = {
    1: ("name", "string", False),
    2: ("version", "string", False),
    3: ("attributes", KEYVALUE, True),
    4: ("droppedAttributesCount", "uint", False),
}

# --- traces (trace/v1/trace.proto) ---

SPAN_EVENT = {
    1: ("timeUnixNano", "fixed64_str", False),
    2: ("name", "string", False),
    3: ("attributes", KEYVALUE, True),
    4: ("droppedAttributesCount", "uint", False),
}

SPAN_LINK = {
    1: ("traceId", "bytes_hex", False),
    2: ("spanId", "bytes_hex", False),
    3: ("traceState", "string", False),
    4: ("attributes", KEYVALUE, True),
    5: ("droppedAttributesCount", "uint", False),
    6: ("flags", "fixed32", False),
}

STATUS = {2: ("message", "string", False), 3: ("code", "uint", False)}

SPAN = {
    1: ("traceId", "bytes_hex", False),
    2: ("spanId", "bytes_hex", False),
    3: ("traceState", "string", False),
    4: ("parentSpanId", "bytes_hex", False),
    5: ("name", "string", False),
    6: ("kind", "uint", False),
    7: ("startTimeUnixNano", "fixed64_str", False),
    8: ("endTimeUnixNano", "fixed64_str", False),
    9: ("attributes", KEYVALUE, True),
    10: ("droppedAttributesCount", "uint", False),
    11: ("events", SPAN_EVENT, True),
    12: ("droppedEventsCount", "uint", False),
    13: ("links", SPAN_LINK, True),
    14: ("droppedLinksCount", "uint", False),
    15: ("status", STATUS, False),
    16: ("flags", "fixed32", False),
}

SCOPE_SPANS = {1: ("scope", SCOPE, False), 2: ("spans", SPAN, True)}
RESOURCE_SPANS = {1: ("resource", RESOURCE, False), 2: ("scopeSpans", SCOPE_SPANS, True)}
TRACES_REQUEST = {1: ("resourceSpans", RESOURCE_SPANS, True)}

# --- logs (logs/v1/logs.proto) ---

LOG_RECORD = {
    1: ("timeUnixNano", "fixed64_str", False),
    11: ("observedTimeUnixNano", "fixed64_str", False),
    2: ("severityNumber", "uint", False),
    3: ("severityText", "string", False),
    5: ("body", ANYVALUE, False),
    6: ("attributes", KEYVALUE, True),
    7: ("droppedAttributesCount", "uint", False),
    8: ("flags", "fixed32", False),
    9: ("traceId", "bytes_hex", False),
    10: ("spanId", "bytes_hex", False),
    12: ("eventName", "string", False),
}

SCOPE_LOGS = {1: ("scope", SCOPE, False), 2: ("logRecords", LOG_RECORD, True)}
RESOURCE_LOGS = {1: ("resource", RESOURCE, False), 2: ("scopeLogs", SCOPE_LOGS, True)}
LOGS_REQUEST = {1: ("resourceLogs", RESOURCE_LOGS, True)}

# --- metrics (metrics/v1/metrics.proto) ---

EXEMPLAR = {
    7: ("filteredAttributes", KEYVALUE, True),
    2: ("timeUnixNano", "fixed64_str", False),
    3: ("asDouble", "double", False),
    6: ("asInt", "sfixed64_str", False),
    4: ("spanId", "bytes_hex", False),
    5: ("traceId", "bytes_hex", False),
}

NUMBER_DP = {
    7: ("attributes", KEYVALUE, True),
    2: ("startTimeUnixNano", "fixed64_str", False),
    3: ("timeUnixNano", "fixed64_str", False),
    4: ("asDouble", "double", False),
    6: ("asInt", "sfixed64_str", False),
    5: ("exemplars", EXEMPLAR, True),
    8: ("flags", "uint", False),
}

HISTOGRAM_DP = {
    9: ("attributes", KEYVALUE, True),
    2: ("startTimeUnixNano", "fixed64_str", False),
    3: ("timeUnixNano", "fixed64_str", False),
    4: ("count", "fixed64_str", False),
    5: ("sum", "double", False),
    6: ("bucketCounts", "fixed64_str", True),  # packed fixed64
    7: ("explicitBounds", "double", True),  # packed double
    8: ("exemplars", EXEMPLAR, True),
    10: ("flags", "uint", False),
    11: ("min", "double", False),
    12: ("max", "double", False),
}

EXP_BUCKETS = {
    1: ("offset", "sint32", False),
    2: ("bucketCounts", "uint_str", True),  # packed uint64 varints
}

EXP_HISTOGRAM_DP = {
    1: ("attributes", KEYVALUE, True),
    2: ("startTimeUnixNano", "fixed64_str", False),
    3: ("timeUnixNano", "fixed64_str", False),
    4: ("count", "fixed64_str", False),
    5: ("sum", "double", False),
    6: ("scale", "sint32", False),
    7: ("zeroCount", "fixed64_str", False),
    8: ("positive", EXP_BUCKETS, False),
    9: ("negative", EXP_BUCKETS, False),
    10: ("flags", "uint", False),
    11: ("exemplars", EXEMPLAR, True),
    12: ("min", "double", False),
    13: ("max", "double", False),
    14: ("zeroThreshold", "double", False),
}

QUANTILE_VALUE = {1: ("quantile", "double", False), 2: ("value", "double", False)}

SUMMARY_DP = {
    7: ("attributes", KEYVALUE, True),
    2: ("startTimeUnixNano", "fixed64_str", False),
    3: ("timeUnixNano", "fixed64_str", False),
    4: ("count", "fixed64_str", False),
    5: ("sum", "double", False),
    6: ("quantileValues", QUANTILE_VALUE, True),
    8: ("flags", "uint", False),
}

METRIC = {
    1: ("name", "string", False),
    2: ("description", "string", False),
    3: ("unit", "string", False),
    5: ("gauge", {1: ("dataPoints", NUMBER_DP, True)}, False),
    7: (
        "sum",
        {
            1: ("dataPoints", NUMBER_DP, True),
            2: ("aggregationTemporality", "uint", False),
            3: ("isMonotonic", "bool", False),
        },
        False,
    ),
    9: (
        "histogram",
        {
            1: ("dataPoints", HISTOGRAM_DP, True),
            2: ("aggregationTemporality", "uint", False),
        },
        False,
    ),
    10: (
        "exponentialHistogram",
        {
            1: ("dataPoints", EXP_HISTOGRAM_DP, True),
            2: ("aggregationTemporality", "uint", False),
        },
        False,
    ),
    11: ("summary", {1: ("dataPoints", SUMMARY_DP, True)}, False),
    12: ("metadata", KEYVALUE, True),
}

SCOPE_METRICS = {1: ("scope", SCOPE, False), 2: ("metrics", METRIC, True)}
RESOURCE_METRICS = {
    1: ("resource", RESOURCE, False),
    2: ("scopeMetrics", SCOPE_METRICS, True),
}
METRICS_REQUEST = {1: ("resourceMetrics", RESOURCE_METRICS, True)}

REQUEST_DESCRIPTORS = {
    "traces": TRACES_REQUEST,
    "logs": LOGS_REQUEST,
    "metrics": METRICS_REQUEST,
}
