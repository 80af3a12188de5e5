"""The engine's former OTLP flatten, kept as the parity oracle.

Until the Arrow flatten (`otlp/flatten.py`) replaced it, the exporter
flattened OTLP/JSON with these declarative Catalyst plans: `from_json`
with the declared request schemas (model.py, AnyValue nesting bounded
at ATTR_DEPTH), a 3-level explode, then one select per output table with
the attribute JSON built from SQL expressions (anyvalue.py). Nothing in
the package imports it; tests/test_flatten_parity.py checks that the
Arrow flatten emits the same rows and types.
"""

from __future__ import annotations

from opentelemetry_iceberg_exporter_spark import schemas as S

from .logs import flatten_logs, parse_logs_json
from .metrics import flatten_metrics, parse_metrics_json
from .traces import flatten_traces, parse_traces_json


def flatten(df, signal_kind: str, ns_timestamps: bool = False, variant_attrs: bool = False):
    """OTLP/JSON lines (column `value`) -> {signal: DataFrame}, typed as
    the declared schemas, as the engine's flatten_signal returned them."""
    if signal_kind == "traces":
        flat = {S.SIGNAL_TRACES: flatten_traces(parse_traces_json(df), ns_timestamps=ns_timestamps)}
    elif signal_kind == "logs":
        flat = {S.SIGNAL_LOGS: flatten_logs(parse_logs_json(df), ns_timestamps=ns_timestamps)}
    else:
        flat = flatten_metrics(parse_metrics_json(df), ns_timestamps=ns_timestamps)
    out = {}
    for sig, d in flat.items():
        if variant_attrs:
            d = S.to_variant_attrs(d, sig)
        out[sig] = S.conform(d, S.schema_for(sig, ns_timestamps, variant_attrs))
    return out
