"""The parity oracle's SQL-text encoder builders (catalyst_otlp/anyvalue
*_sql) must be semantically identical to its Column builders — checked
over the full OTLP golden fixture corpus plus adversarial synthetic
AnyValues (nested arrays/kvlists at the depth bound, bytes, integral and
huge doubles)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from catalyst_otlp.anyvalue import (
    attributes_to_json,
    attributes_to_json_sql,
    log_body_to_string,
    log_body_to_string_sql,
)
from catalyst_otlp.model import LOGS_REQUEST


def _log_records(spark, payloads: list[dict]):
    df = spark.createDataFrame([(json.dumps(p),) for p in payloads], "value string")
    parsed = df.select(F.from_json("value", LOGS_REQUEST).alias("req"))
    return (
        parsed.select(F.explode("req.resourceLogs").alias("rl"))
        .select(F.explode("rl.scopeLogs").alias("sl"))
        .select(F.explode("sl.logRecords").alias("rec"))
    )


def _payload(body, attrs) -> dict:
    return {
        "resourceLogs": [
            {
                "scopeLogs": [
                    {"logRecords": [{"body": body, "attributes": attrs}]}
                ]
            }
        ]
    }


CASES = [
    _payload({"stringValue": "plain"}, [{"key": "a", "value": {"intValue": "42"}}]),
    _payload({"intValue": "7"}, [{"key": "z", "value": {"stringValue": 'q"uote'}}]),
    _payload({"doubleValue": 2.5}, [{"key": "d", "value": {"doubleValue": 42.0}}]),
    _payload({"doubleValue": 1e21}, [{"key": "d", "value": {"doubleValue": 0.1}}]),
    _payload({"boolValue": True}, [{"key": "b", "value": {"boolValue": False}}]),
    _payload({"bytesValue": "aGVsbG8="}, [{"key": "y", "value": {"bytesValue": "aGVsbG8="}}]),
    _payload(
        {"arrayValue": {"values": [{"intValue": "1"}, {"stringValue": "s"}]}},
        [
            {
                "key": "nested",
                "value": {
                    "kvlistValue": {
                        "values": [
                            {"key": "inner", "value": {"arrayValue": {"values": [{"doubleValue": 1.5}]}}},
                            {"key": "a_first", "value": {"intValue": "9"}},
                        ]
                    }
                },
            }
        ],
    ),
    _payload(
        {"kvlistValue": {"values": [{"key": "k", "value": {"boolValue": True}}]}},
        [],
    ),
    _payload(None, None),
]


def test_attributes_sql_matches_column(spark):
    rec = _log_records(spark, CASES)
    out = rec.select(
        attributes_to_json(F.col("rec")["attributes"]).alias("col_form"),
        F.expr(attributes_to_json_sql("rec.attributes")).alias("sql_form"),
    ).collect()
    for r in out:
        assert r["col_form"] == r["sql_form"], r.asDict()


def test_body_sql_matches_column(spark):
    rec = _log_records(spark, CASES)
    out = rec.select(
        log_body_to_string(F.col("rec")["body"]).alias("col_form"),
        F.expr(log_body_to_string_sql("rec.body")).alias("sql_form"),
    ).collect()
    for r in out:
        assert r["col_form"] == r["sql_form"], r.asDict()


def test_fixture_corpus_parity(spark):
    """Every attribute map in the committed OTLP golden fixtures encodes
    identically through both forms."""
    import os

    from opentelemetry_iceberg_exporter_spark.queries.otlp import _FIXTURES

    raw = spark.read.text(os.path.join(_FIXTURES, "otlp_logs.jsonl"))
    parsed = raw.select(F.from_json("value", LOGS_REQUEST).alias("req"))
    rec = (
        parsed.select(F.explode("req.resourceLogs").alias("rl"))
        .select(F.explode("rl.scopeLogs").alias("sl"))
        .select(F.explode("sl.logRecords").alias("rec"))
    )
    out = rec.select(
        attributes_to_json(F.col("rec")["attributes"]).alias("a"),
        F.expr(attributes_to_json_sql("rec.attributes")).alias("b"),
        log_body_to_string(F.col("rec")["body"]).alias("c"),
        F.expr(log_body_to_string_sql("rec.body")).alias("d"),
    ).collect()
    assert out
    for r in out:
        assert r["a"] == r["b"] and r["c"] == r["d"], r.asDict()
