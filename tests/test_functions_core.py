from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from beacon_indexer_spark.functions import (
    hex_byte_length,
    hex_to_long,
    last_slot_of_day,
    latest,
    payload_hash,
    payload_hash_col,
    popcount_hex,
    slot_timestamp,
)
from beacon_indexer_spark.functions.core import canonical_json, hex_array_byte_length


def test_payload_hash_matches_reference_contract():
    # sha256(json.dumps(data, sort_keys=True, separators=(',',':')))[:16]
    data = {"b": 1, "a": [1, 2], "c": {"y": None, "x": "0xff"}}
    assert canonical_json(data) == '{"a":[1,2],"b":1,"c":{"x":"0xff","y":null}}'
    h = payload_hash(data)
    assert len(h) == 16
    import hashlib

    assert h == hashlib.sha256(canonical_json(data).encode()).hexdigest()[:16]


def test_payload_hash_col_agrees_with_python(spark):
    data = {"slot": "123", "root": "0xabc"}
    cj = canonical_json(data)
    df = spark.createDataFrame([(cj,)], "payload string")
    row = df.select(payload_hash_col("payload").alias("h")).first()
    assert row["h"] == payload_hash(data)


def test_latest_wins_ties_and_column_order(spark):
    rows = [
        (1, "a", 10, "old"),
        (1, "a", 20, "new"),
        (1, "b", 5, "only"),
        (2, "a", 7, "x"),
        (2, "a", 7, "y"),  # tie on version -> deterministic (max by remaining cols)
    ]
    df = spark.createDataFrame(rows, "slot int, k string, v int, val string")
    out = latest(df, ["slot", "k"], "v")
    got = {(r.slot, r.k): r.val for r in out.collect()}
    assert got[(1, "a")] == "new"
    assert got[(1, "b")] == "only"
    assert len(got) == 3
    # tie-break is deterministic: max of remaining columns
    assert got[(2, "a")] == "y"
    assert out.columns == df.columns


def test_slot_timestamp(spark):
    df = spark.createDataFrame([(0,), (1,), (100,)], "slot long")
    out = df.select(slot_timestamp("slot", 1_606_824_023, 12).alias("ts")).collect()
    assert out[0]["ts"] == dt.datetime(2020, 12, 1, 12, 0, 23)
    assert out[1]["ts"] == dt.datetime(2020, 12, 1, 12, 0, 35)


def test_last_slot_of_day(spark):
    # genesis at midnight, 1s slots, 86400 slots/day -> slot 86399 is last of day 0
    df = spark.createDataFrame([(86398,), (86399,), (86400,)], "slot long")
    out = df.select("slot", last_slot_of_day("slot", 0, 1).alias("f")).collect()
    got = {r.slot: r.f for r in out}
    assert got == {86398: False, 86399: True, 86400: False}


def test_hex_to_long(spark):
    df = spark.createDataFrame(
        [("0x1a",), ("26",), ("0XFF",), ("garbage",), (None,)], "s string"
    )
    out = [r.v for r in df.select(hex_to_long("s").alias("v")).collect()]
    assert out == [26, 26, 255, 0, 0]


def test_popcount_hex(spark):
    df = spark.createDataFrame(
        [("0xff",), ("00",), ("0xffffffff",), ("f" * 128,), ("0x01",)], "s string"
    )
    out = [r.v for r in df.select(popcount_hex("s").alias("v")).collect()]
    assert out == [8, 0, 32, 512, 1]


def test_hex_byte_length(spark):
    df = spark.createDataFrame([("0xaaaa",), ("bb",)], "s string")
    out = [r.v for r in df.select(hex_byte_length("s").alias("v")).collect()]
    assert out == [2, 1]
    df2 = spark.createDataFrame([(["0xaaaa", "0xbbbb"],)], "a array<string>")
    out2 = df2.select(hex_array_byte_length("a").alias("v")).first()["v"]
    assert out2 == 4
