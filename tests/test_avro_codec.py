"""Avro binary codec (functions/avro_codec.py vs the public Avro spec and
utils/typeutils/avro.go flattening semantics)."""

from __future__ import annotations

import json

import pytest

from olake_spark.functions.avro_codec import (
    AvroCodec,
    decode_confluent_df,
    normalize_avro_schema,
    split_confluent,
)

SCHEMA = {
    "type": "record",
    "name": "Order",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "status", "type": ["null", "string"]},
        {"name": "price", "type": {"type": "bytes", "logicalType": "decimal",
                                   "precision": 10, "scale": 2}},
        {"name": "flags", "type": {"type": "array", "items": "int"}},
        {"name": "attrs", "type": {"type": "map", "values": "string"}},
        {"name": "kind", "type": {"type": "enum", "name": "Kind",
                                  "symbols": ["A", "B", "C"]}},
        {"name": "ratio", "type": "double"},
        {"name": "ok", "type": "boolean"},
        {"name": "raw", "type": "bytes"},
    ],
}


def test_roundtrip_all_types():
    codec = AvroCodec(json.dumps(SCHEMA))
    rec = {
        "id": -123456789,
        "status": "open",
        "price": 1234.56,
        "flags": [1, -2, 3],
        "attrs": {"k1": "v1", "k2": "v2"},
        "kind": "B",
        "ratio": 0.25,
        "ok": True,
        "raw": b"\x01\x02",
    }
    got = codec.decode(codec.encode(rec))
    assert got == rec  # union unwrapped to plain value, decimal → float


def test_union_null_and_negative_decimal():
    codec = AvroCodec(SCHEMA)
    rec = {"id": 0, "status": None, "price": -5.25, "flags": [], "attrs": {},
           "kind": "A", "ratio": -1.5, "ok": False, "raw": b""}
    got = codec.decode(codec.encode(rec))
    assert got["status"] is None
    assert got["price"] == pytest.approx(-5.25)


def test_zigzag_boundaries():
    codec = AvroCodec({"type": "record", "name": "t",
                       "fields": [{"name": "v", "type": "long"}]})
    for v in (0, 1, -1, 63, 64, -64, -65, 2**40, -(2**40), 2**62, -(2**62)):
        assert codec.decode(codec.encode({"v": v})) == {"v": v}


def test_confluent_split():
    sid, body = split_confluent(b"\x00\x00\x00\x00\x2a" + b"payload")
    assert (sid, body) == (42, b"payload")
    with pytest.raises(ValueError):
        split_confluent(b"\x01\x00\x00\x00\x2a rest")


def test_normalize_schema_names():
    out = json.loads(normalize_avro_schema(json.dumps(
        {"type": "record", "name": "My Order!", "namespace": "Corp.NS",
         "fields": []})))
    assert out["name"] == "my_order_"
    assert out["namespace"] == "corp_ns"


def test_decode_confluent_df(spark):
    codec = AvroCodec(SCHEMA)
    rows = []
    for i in range(5):
        rec = {"id": i, "status": None if i % 2 else f"s{i}", "price": i + 0.25,
               "flags": [i], "attrs": {}, "kind": "C", "ratio": i / 2, "ok": True,
               "raw": bytes([i])}
        rows.append((i, b"\x00\x00\x00\x00\x07" + codec.encode(rec)))
    df = spark.createDataFrame(rows, "k long, value binary")
    out = decode_confluent_df(df, json.dumps(SCHEMA))
    got = {r["k"]: json.loads(r["data"]) for r in out.collect()}
    assert got[0]["status"] == "s0" and got[1]["status"] is None
    assert got[3]["price"] == pytest.approx(3.25)
    assert got[4]["raw"] == "04"  # bytes → hex string convention
    assert list(got) == [0, 1, 2, 3, 4]


# -- avro union-as-type-attribute -------------------------------------------


def test_avro_union_as_type_attribute():
    from olake_spark.functions.avro_codec import AvroCodec

    schema = {
        "type": "record",
        "name": "R",
        "fields": [
            {"name": "a", "type": {"type": ["null", "int"]}},
            {"name": "b", "type": {"type": ["null", "string"]}},
        ],
    }
    codec = AvroCodec(schema)
    for rec in ({"a": 5, "b": None}, {"a": None, "b": "x"}):
        assert codec.decode(codec.encode(rec)) == rec
