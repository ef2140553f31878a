"""wal2json CDC decode tests with synthetic replication payloads."""

from __future__ import annotations

import json

from pyspark.sql import functions as F
from pyspark.sql import types as T

from olake_spark.streaming.wal2json import decode_wal2json, project_stream


def _msg(nextlsn, changes):
    return json.dumps(
        {"nextlsn": nextlsn, "timestamp": "2024-03-01 10:00:00", "change": changes}
    )


def _ins(table, names, values):
    return {
        "kind": "insert", "schema": "public", "table": table,
        "columnnames": names, "columntypes": ["integer"] * len(names),
        "columnvalues": values,
    }


def _del(table, keynames, keyvalues):
    return {
        "kind": "delete", "schema": "public", "table": table,
        "oldkeys": {
            "keynames": keynames, "keytypes": ["integer"] * len(keynames),
            "keyvalues": keyvalues,
        },
    }


def _raw(spark, msgs):
    return spark.createDataFrame([(m,) for m in msgs], "value string")


def test_decode_insert_update_delete(spark):
    msgs = [
        _msg("0/16B2F88", [
            _ins("users", ["id", "score"], [1, 42]),
            {"kind": "update", "schema": "public", "table": "users",
             "columnnames": ["id", "score"], "columntypes": ["integer", "integer"],
             "columnvalues": [1, 43]},
        ]),
        _msg("0/16B3000", [_del("users", ["id"], [1])]),
    ]
    out = decode_wal2json(_raw(spark, msgs)).collect()
    assert [r["_op_type"] for r in out] == ["c", "u", "d"]
    assert out[0]["data"] == {"id": "1", "score": "42"}
    assert out[1]["data"] == {"id": "1", "score": "43"}
    # delete rows read from oldkeys (filter.go:68-70)
    assert out[2]["data"] == {"id": "1"}
    assert out[2]["_cdc_lsn"] == "0/16B3000"


def test_empty_change_produces_no_rows(spark):
    out = decode_wal2json(_raw(spark, [_msg("0/1", [])]))
    assert out.count() == 0


def test_table_filter(spark):
    msgs = [_msg("0/1", [_ins("a", ["id"], [1]), _ins("b", ["id"], [2])])]
    out = decode_wal2json(_raw(spark, msgs), tables=["b"]).collect()
    assert len(out) == 1 and out[0]["table"] == "b"


def test_dedup_insert_window(spark):
    msgs = [_msg("0/1", [_ins("t", ["id"], [9])])]
    out = decode_wal2json(_raw(spark, msgs), dedup_inserts=True).first()
    assert out["_op_type"] == "i"


def test_project_stream_types(spark):
    msgs = [_msg("0/9", [
        {"kind": "insert", "schema": "public", "table": "t",
         "columnnames": ["id", "name", "bal"],
         "columntypes": ["integer", "text", "numeric"],
         "columnvalues": [7, "ann", 10.5]},
    ])]
    ch = decode_wal2json(_raw(spark, msgs))
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("bal", T.DoubleType()),
    ])
    row = project_stream(ch, schema).first()
    assert row["id"] == 7 and row["name"] == "ann" and row["bal"] == 10.5
    assert row["_cdc_lsn"] == "0/9"


def test_decode_adversarial_values_roundtrip(spark):
    """JSON-escaping corners through the full encode→decode round trip in
    one batch: quotes, backslashes, newlines/tabs, unicode (incl.
    astral-plane), JSON-lookalike payloads, empty and long strings. The
    decoder must hand every value back byte-identical in the data map."""
    nasty = [
        'quote " inside',
        "backslash \\ and \\\\ double",
        "newline\nand\ttab",
        "unicode: héllo wörld — 中文 🚀",
        '{"looks": "like json", "arr": [1,2]}',
        "",
        "trailing space ",
        "a" * 5000,
        "null",  # the STRING 'null', not a null
        "línea\r\ncarriage",
    ]
    msgs = [
        _msg(f"0/{i:X}", [_ins("t", ["id", "payload"], [i, v])])
        for i, v in enumerate(nasty)
    ]
    out = {
        int(r.data["id"]): r.data["payload"]
        for r in decode_wal2json(_raw(spark, msgs)).collect()
    }
    assert out == dict(enumerate(nasty))

    # a genuine JSON null value must surface as a NULL map entry, distinct
    # from the string 'null'
    null_msg = _msg("0/FF", [_ins("t", ["id", "payload"], [99, None])])
    row = decode_wal2json(_raw(spark, [null_msg])).collect()[0]
    assert row.data["id"] == "99" and row.data["payload"] is None


# -- wal2json unknown-kind default + non-DML filter -------------------------


def test_wal2json_unknown_kind_and_truncate(spark):
    from olake_spark.streaming.wal2json import decode_wal2json, op_type_column

    msg = json.dumps(
        {
            "nextlsn": "0/1000",
            "timestamp": "2024-03-01 10:00:00",
            "change": [
                {
                    "kind": "insert",
                    "schema": "public",
                    "table": "t",
                    "columnnames": ["id"],
                    "columntypes": ["integer"],
                    "columnvalues": ["1"],
                },
                {"kind": "truncate", "schema": "public", "table": "t"},
            ],
        }
    )
    raw = spark.createDataFrame([(msg,)], "value string")
    rows = decode_wal2json(raw).collect()
    # the truncate entry emits no row
    assert len(rows) == 1 and rows[0]["_op_type"] == "c"
    # unknown kinds default to insert op, like the reference
    df = spark.createDataFrame([("message",), ("insert",)], "kind string")
    got = [r["op"] for r in df.select(op_type_column(F.col("kind")).alias("op")).collect()]
    assert got == ["c", "c"]
