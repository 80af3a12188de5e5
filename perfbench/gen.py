"""Seeded input generator: OTLP/JSON payload files.

Everything the engine sees is a file written here; the generator also
returns the ground truth (one small record per committed row) that the
workloads' output checks compare against. The same seed gives the same
files and the same truth.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

# 2024-03-01T00:00:00Z: every generated timestamp falls in this UTC day
DAY0_NS = 1_709_251_200 * 1_000_000_000
HOUR_NS = 3_600 * 1_000_000_000

SERVICES = (
    "frontend", "cart", "checkout", "payment", "shipping", "currency", "ad", "email",
)
SPAN_NAMES = {
    s: tuple(f"{s}.{op}" for op in ("get", "list", "update", "call", "render"))
    for s in SERVICES
}
ERROR_RATE = {s: 0.02 + 0.03 * i for i, s in enumerate(SERVICES)}

LOG_TEMPLATES = (
    (9, "request served in {n} ms"),
    (9, "cache hit for key k{n}"),
    (13, "slow query took {n} ms"),
    (13, "retrying upstream call attempt {n}"),
    (17, "connection timeout to db-{n}"),
    (17, "payment declined code {n}"),
    (21, "worker {n} crashed with timeout"),
)
SEVERITY_TEXT = {9: "INFO", 13: "WARN", 17: "ERROR", 21: "FATAL"}


@dataclass(frozen=True)
class Span:
    trace_id: str
    service: str
    name: str
    hour: int
    error: bool
    duration_ns: int


@dataclass(frozen=True)
class Log:
    service: str
    hour: int
    severity: int
    body: str


def _kv(key, **value):
    return {"key": key, "value": value}


def _hex(rng: random.Random, n_bytes: int) -> str:
    return f"{rng.getrandbits(8 * n_bytes):0{2 * n_bytes}x}"


def _resource(service: str) -> dict:
    return {
        "attributes": [
            _kv("service.name", stringValue=service),
            _kv("deployment.environment", stringValue="bench"),
        ]
    }


def make_spans(rng: random.Random, n: int, hour: int) -> tuple[list[dict], list[Span]]:
    """`n` spans in `hour`, grouped into traces of 1-8 spans. Returns the
    OTLP resourceSpans (one per service) and the truth records."""
    by_service: dict[str, list[dict]] = {}
    truth: list[Span] = []
    while len(truth) < n:
        trace_id = _hex(rng, 16)
        start = DAY0_NS + hour * HOUR_NS + rng.randrange(HOUR_NS - 10**10)
        parent = ""
        for _ in range(min(rng.randint(1, 8), n - len(truth))):
            service = rng.choice(SERVICES)
            name = rng.choice(SPAN_NAMES[service])
            duration = int(rng.lognormvariate(15.0, 1.0)) + 1_000
            error = rng.random() < ERROR_RATE[service]
            span_id = _hex(rng, 8)
            by_service.setdefault(service, []).append(
                {
                    "traceId": trace_id,
                    "spanId": span_id,
                    "parentSpanId": parent,
                    "name": name,
                    "kind": 2 if not parent else 3,
                    "startTimeUnixNano": str(start),
                    "endTimeUnixNano": str(start + duration),
                    "attributes": [
                        _kv("http.method", stringValue=rng.choice(("GET", "POST"))),
                        _kv("http.status_code", intValue=str(500 if error else 200)),
                    ],
                    "status": {"code": 2 if error else 1, "message": ""},
                }
            )
            truth.append(Span(trace_id, service, name, hour, error, duration))
            parent = span_id
            start += rng.randrange(1_000_000)
    resource_spans = [
        {
            "resource": _resource(s),
            "scopeSpans": [{"scope": {"name": "perfbench", "version": "1"}, "spans": spans}],
        }
        for s, spans in sorted(by_service.items())
    ]
    return resource_spans, truth


def make_logs(rng: random.Random, n: int, hour: int) -> tuple[list[dict], list[Log]]:
    by_service: dict[str, list[dict]] = {}
    truth: list[Log] = []
    for _ in range(n):
        service = rng.choice(SERVICES)
        severity, template = rng.choice(LOG_TEMPLATES)
        body = template.format(n=rng.randrange(1000))
        t = DAY0_NS + hour * HOUR_NS + rng.randrange(HOUR_NS)
        by_service.setdefault(service, []).append(
            {
                "timeUnixNano": str(t),
                "observedTimeUnixNano": str(t + 1_000_000),
                "severityNumber": severity,
                "severityText": SEVERITY_TEXT[severity],
                "body": {"stringValue": body},
                "attributes": [_kv("thread", intValue=str(rng.randrange(16)))],
                "traceId": _hex(rng, 16),
                "spanId": _hex(rng, 8),
            }
        )
        truth.append(Log(service, hour, severity, body))
    resource_logs = [
        {
            "resource": _resource(s),
            "scopeLogs": [{"scope": {"name": "perfbench"}, "logRecords": recs}],
        }
        for s, recs in sorted(by_service.items())
    ]
    return resource_logs, truth


METRIC_TABLE = {
    "gauge": "metrics_gauge",
    "sum": "metrics_sum",
    "histogram": "metrics_histogram",
    "exponentialHistogram": "metrics_exponential_histogram",
    "summary": "metrics_summary",
}


def _data_point(rng: random.Random, kind: str, t: int) -> dict:
    dp = {
        "attributes": [_kv("host", stringValue=f"h{rng.randrange(8)}")],
        "startTimeUnixNano": str(t - 60 * 10**9),
        "timeUnixNano": str(t),
    }
    if kind == "gauge":
        dp["asDouble"] = rng.random()
    elif kind == "sum":
        dp["asInt"] = str(rng.randrange(10**6))
    elif kind == "histogram":
        counts = [rng.randrange(50) for _ in range(4)]
        dp.update(
            count=str(sum(counts)), sum=float(sum(counts)) * 3.5,
            bucketCounts=[str(c) for c in counts], explicitBounds=[1.0, 5.0, 25.0],
        )
    elif kind == "exponentialHistogram":
        pos = [rng.randrange(20) for _ in range(3)]
        dp.update(
            count=str(sum(pos)), sum=float(sum(pos)), scale=2, zeroCount="0",
            positive={"offset": 1, "bucketCounts": [str(c) for c in pos]},
        )
    else:
        dp.update(
            count="10", sum=rng.random() * 100,
            quantileValues=[
                {"quantile": 0.5, "value": rng.random()},
                {"quantile": 0.99, "value": 1.0 + rng.random()},
            ],
        )
    return dp


# Metric sources and the point types each export carries. From the
# OpenTelemetry metrics data model: SDK instruments produce sums
# (counters), gauges and histograms, with explicit-bucket histograms as
# the SDK default and base-2 exponential histograms only where a service
# opts in (OTEL_EXPORTER_OTLP_METRICS_DEFAULT_HISTOGRAM_AGGREGATION);
# SDKs never produce summaries, which exist for Prometheus/OpenMetrics
# compatibility and so arrive only from a scraped legacy endpoint.
METRIC_SOURCES = (
    *((s, ("sum", "sum", "gauge", "exponentialHistogram" if s == "checkout" else "histogram"))
      for s in SERVICES),
    ("legacy-scrape", ("summary", "gauge")),
)
POINTS_PER_INSTRUMENT = 24  # attribute sets (host x route) each instrument reports per export
# one collection interval of the metrics stream, one (source, kind,
# instrument) entry per point: every source exports once, in turn
INTERVAL = tuple(
    (service, kind, i)
    for service, kinds in METRIC_SOURCES
    for i, kind in enumerate(kinds)
    for _ in range(POINTS_PER_INSTRUMENT)
)


def make_metrics(
    rng: random.Random, start: int, n: int, hour: int
) -> tuple[list[dict], dict[str, int]]:
    """Points `start` to `start + n` of the metrics stream, cut as a
    batching collector cuts it. An interval holds 816 points, so which
    sources, and so which point types, a 512-point batch holds depends
    on where it falls in the stream: the first batch lacks summaries and
    the second exponential histograms. Values and timestamps come from
    `rng`. Returns resourceMetrics and the number of points per metric
    table."""
    per_table = {t: 0 for t in METRIC_TABLE.values()}
    exports: dict[tuple, dict] = {}  # (interval, service, instrument) -> metric
    by_service: dict[str, list[dict]] = {}
    for p in range(start, start + n):
        service, kind, i = INTERVAL[p % len(INTERVAL)]
        key = (p // len(INTERVAL), service, i)
        if key not in exports:
            body = {"dataPoints": []}
            if kind in ("sum", "histogram", "exponentialHistogram"):
                body["aggregationTemporality"] = 2
            if kind == "sum":
                body["isMonotonic"] = True
            exports[key] = {"name": f"{service}.{kind}.{i}", "unit": "1", kind: body,
                            "_t": DAY0_NS + hour * HOUR_NS + rng.randrange(HOUR_NS)}
            by_service.setdefault(service, []).append(exports[key])
        metric = exports[key]
        metric[kind]["dataPoints"].append(_data_point(rng, kind, metric["_t"]))
        per_table[METRIC_TABLE[kind]] += 1
    for metric in exports.values():
        del metric["_t"]
    resource_metrics = [
        {
            "resource": _resource(s),
            "scopeMetrics": [{"scope": {"name": "perfbench"}, "metrics": ms}],
        }
        for s, ms in sorted(by_service.items())
    ]
    return resource_metrics, per_table


_RESOURCE_KEY = {"traces": "resourceSpans", "logs": "resourceLogs", "metrics": "resourceMetrics"}


def write_payload(path: str, kind: str, requests: list[list[dict]]) -> int:
    """Write one OTLP/JSON export request per line; returns bytes written."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    key = _RESOURCE_KEY[kind]
    text = "".join(json.dumps({key: r}, separators=(",", ":")) + "\n" for r in requests)
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)
    return len(text.encode())


# -- documents for the corpus funnel --------------------------------------

SYLLABLES = ("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "po", "da", "gu", "he", "ji", "wu")


def _vocabulary(rng: random.Random, n: int = 2_000) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(SYLLABLES) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def _paragraph(rng: random.Random, vocab: list[str], lo: int, hi: int) -> str:
    return " ".join(rng.choice(vocab) for _ in range(rng.randint(lo, hi)))


@dataclass(frozen=True)
class Corpus:
    docs: list[tuple[int, str]]  # (doc_id, text)
    benchmark: list[str]  # benchmark sample texts
    planted: dict  # how many docs of each kind were planted


def make_corpus(
    rng: random.Random, n_base: int, n_exact: int, n_near: int, n_contaminated: int,
    n_boilerplate: int, boilerplate_docs: int,
) -> Corpus:
    """`n_base` distinct documents of 3-4 paragraphs drawn from a seeded
    vocabulary, plus planted copies: `n_exact` exact duplicates,
    `n_near` near duplicates (one word changed in a ~200-word
    document), `n_contaminated` new documents that quote 20 words of a
    benchmark sample, and `n_boilerplate` shared paragraphs each added
    to `boilerplate_docs` documents. Each copy has its own source
    document, so no paragraph but the boilerplate is seen in more than
    two documents."""
    vocab = _vocabulary(rng)
    base = [
        [_paragraph(rng, vocab, 50, 70) for _ in range(rng.randint(3, 4))]
        for _ in range(n_base)
    ]
    boiler = [_paragraph(rng, vocab, 12, 20) for _ in range(n_boilerplate)]
    for p in boiler:
        for i in rng.sample(range(n_base), boilerplate_docs):
            base[i].insert(rng.randrange(len(base[i]) + 1), p)
    benchmark = [_paragraph(rng, vocab, 40, 60) for _ in range(max(1, n_contaminated // 2))]
    sources = rng.sample(range(n_base), n_exact + n_near)
    texts = ["\n\n".join(paras) for paras in base]
    for i in sources[:n_exact]:
        texts.append(texts[i])
    for i in sources[n_exact:]:
        paras = list(base[i])
        j = max(range(len(paras)), key=lambda k: len(paras[k]))  # never a boilerplate one
        words = paras[j].split(" ")
        words[rng.randrange(len(words))] = rng.choice(vocab)
        paras[j] = " ".join(words)
        texts.append("\n\n".join(paras))
    for _ in range(n_contaminated):
        sample = rng.choice(benchmark).split(" ")
        start = rng.randrange(len(sample) - 20)
        quote = " ".join(sample[start:start + 20])
        texts.append(
            _paragraph(rng, vocab, 30, 40) + " " + quote + "\n\n" + _paragraph(rng, vocab, 50, 70)
        )
    order = list(range(len(texts)))
    rng.shuffle(order)
    docs = [(doc_id, texts[i]) for doc_id, i in enumerate(order)]
    planted = {"exact": n_exact, "near": n_near, "contaminated": n_contaminated,
               "boilerplate_paragraphs": n_boilerplate}
    return Corpus(docs, benchmark, planted)


def write_documents(directory: str, corpus: Corpus) -> int:
    """documents.parquet (doc_id, text) and benchmark.parquet (text);
    returns the documents file's bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    docs = os.path.join(directory, "documents.parquet")
    pq.write_table(
        pa.table({"doc_id": [d for d, _ in corpus.docs], "text": [t for _, t in corpus.docs]}),
        docs,
    )
    pq.write_table(pa.table({"text": corpus.benchmark}), os.path.join(directory, "benchmark.parquet"))
    return os.path.getsize(docs)
