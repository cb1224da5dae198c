"""Binary protobuf wire codec tests.

The golden byte strings below are HAND-COMPUTED from the protobuf
encoding spec (varint 7-bit groups, little-endian fixed fields,
length-delimited framing) — they pin the wire format independently of
the encoder, so an encoder bug and a decoder bug cannot cancel out in
the q76 roundtrip query.
"""

import math
import struct

import pytest

from ilogtail_spark.operators.pb import (
    LOG,
    LOG_GROUP,
    SPAN,
    TRACES_DATA,
    _HIST_DP,
    decode_message,
    encode_message,
    read_varint,
    write_varint,
)

# LogGroup{ logs=[Log{time=1700000000, contents=[{key="k", value="v"}]}],
#           topic="t" }
# Log.time varint: 1700000000 -> 7-bit groups 0x00,0x62,0x4F,0x2A,0x06
#   -> bytes 80 E2 CF AA 06;  tag(1,varint)=0x08
# Content: 0A 01 6B 12 01 76 ;  Log.contents tag(2,len)=0x12 len=06
# Log total 14 bytes; LogGroup.logs tag(1,len)=0x0A len=0x0E
# topic tag(3,len)=0x1A len=01 't'=0x74
GOLDEN_LOGGROUP = bytes.fromhex("0a0e0880e2cfaa0612060a016b1201761a0174")


def test_varint_golden():
    out = bytearray()
    write_varint(out, 1700000000)
    assert bytes(out) == bytes.fromhex("80e2cfaa06")
    assert read_varint(bytes(out), 0) == (1700000000, 5)
    # single byte / boundary values
    for v, hx in [(0, "00"), (1, "01"), (127, "7f"), (128, "8001"),
                  (300, "ac02"), (2**32 - 1, "ffffffff0f")]:
        out = bytearray()
        write_varint(out, v)
        assert bytes(out) == bytes.fromhex(hx), v
    # negative int64: 10-byte two's complement
    out = bytearray()
    write_varint(out, -1)
    assert bytes(out) == bytes.fromhex("ffffffffffffffffff01")


def test_loggroup_golden_decode():
    g = decode_message(GOLDEN_LOGGROUP, LOG_GROUP)
    assert g["topic"] == "t"
    assert len(g["logs"]) == 1
    log = g["logs"][0]
    assert log["time"] == 1700000000
    assert log["contents"] == [{"key": "k", "value": "v"}]


def test_loggroup_golden_encode():
    msg = {
        "logs": [{"time": 1700000000,
                  "contents": [{"key": "k", "value": "v"}]}],
        "topic": "t",
    }
    assert encode_message(msg, LOG_GROUP) == GOLDEN_LOGGROUP


def test_log_fixed32_time_ns():
    # Time_ns = 4 (fixed32): tag(4,5)=0x25, LE payload
    log = {"time": 1, "timeNs": 999999999}
    b = encode_message(log, LOG)
    assert b == bytes.fromhex("0801") + b"\x25" + struct.pack("<I", 999999999)
    assert decode_message(b, LOG)["timeNs"] == 999999999


def test_unknown_field_skipped_and_framing_checked():
    # append an unknown field 15 (varint): tag = 15<<3 | 0 = 0x78
    b = GOLDEN_LOGGROUP + bytes.fromhex("7805")
    g = decode_message(b, LOG_GROUP)
    assert g["topic"] == "t"
    # truncated varint payload raises
    with pytest.raises(ValueError):
        decode_message(GOLDEN_LOGGROUP + b"\x78", LOG_GROUP)
    # wire-type mismatch raises (topic as varint: tag(3,0)=0x18)
    with pytest.raises(ValueError):
        decode_message(bytes.fromhex("1805"), LOG_GROUP)


def test_span_trace_ids_hex_and_fixed64_times():
    span = {
        "traceId": "000102030405060708090a0b0c0d0e0f",
        "spanId": "0001020304050607",
        "name": "op",
        "kind": "2",
        "startTimeUnixNano": str(1700000000 * 10**9),
        "endTimeUnixNano": str(1700000000 * 10**9 + 5),
        "status": {"code": "2", "message": "boom"},
    }
    b = encode_message(span, SPAN)
    # trace_id: tag(1,len)=0x0A len=16 then raw bytes
    assert b.startswith(bytes.fromhex("0a10000102030405060708090a0b0c0d0e0f"))
    d = decode_message(b, SPAN)
    assert d == span
    # fixed64 field is EXACTLY 8 LE bytes (tag(7,1)=0x39)
    i = b.index(b"\x39")
    assert struct.unpack("<Q", b[i + 1:i + 9])[0] == 1700000000 * 10**9


def test_packed_repeated_scalars_roundtrip():
    dp = {
        "count": "4",
        "sum": 2.5,
        "bucketCounts": ["1", "0", "3", "0"],
        "explicitBounds": [0.5, 1.0, 5.0],
    }
    b = encode_message(dp, _HIST_DP)
    d = decode_message(b, _HIST_DP)
    assert d == dp
    # bucket_counts packed: tag(6,len)=0x32 len=4 payload 01 00 03 00
    assert bytes.fromhex("320401000300") in b
    # explicit_bounds packed doubles: tag(7,len)=0x3A len=24
    assert b"\x3a\x18" + struct.pack("<3d", 0.5, 1.0, 5.0) in b
    # UNPACKED encoding of the same varint field must decode identically
    unpacked = b.replace(
        bytes.fromhex("320401000300"),
        bytes.fromhex("3001300030033000"),  # four tag(6,varint) fields
    )
    assert decode_message(unpacked, _HIST_DP) == dp


def test_zigzag_sint():
    from ilogtail_spark.operators.pb import _EXP_BUCKETS

    for off in (0, -1, 1, -64, 2**20, -(2**20)):
        b = encode_message({"offset": off, "bucketCounts": ["7"]}, _EXP_BUCKETS)
        assert decode_message(b, _EXP_BUCKETS)["offset"] == off
    # spec examples: 0->0, -1->1, 1->2, -2->3
    assert encode_message({"offset": -1}, _EXP_BUCKETS) == bytes.fromhex("0801")
    assert encode_message({"offset": -2}, _EXP_BUCKETS) == bytes.fromhex("0803")


def test_nested_traces_data_roundtrip():
    doc = {
        "resourceSpans": [{
            "resource": {"attributes": [
                {"key": "host.name", "value": {"stringValue": "h-1"}},
                {"key": "turn", "value": {"intValue": "-3"}},
                {"key": "ratio", "value": {"doubleValue": 0.75}},
                {"key": "flag", "value": {"boolValue": True}},
            ]},
            "scopeSpans": [{
                "scope": {"name": "s", "version": "1.0"},
                "spans": [{
                    "traceId": "aa" * 16, "spanId": "bb" * 8,
                    "name": "op", "kind": "5",
                    "startTimeUnixNano": "1", "endTimeUnixNano": "2",
                    "attributes": [
                        {"key": "k", "value": {"stringValue": "v"}}],
                    "events": [{"timeUnixNano": "3", "name": "ev"}],
                    "links": [{"traceId": "aa" * 16, "spanId": "cc" * 8}],
                    "status": {"code": "1"},
                }],
            }],
        }],
    }
    b = encode_message(doc, TRACES_DATA)
    assert decode_message(b, TRACES_DATA) == doc


def test_double_bits_survive():
    for v in (0.1, math.pi, 1e300, 5e-324, -0.0):
        b = encode_message({"sum": v}, _HIST_DP)
        out = decode_message(b, _HIST_DP)["sum"]
        assert struct.pack("<d", out) == struct.pack("<d", v)


def test_sls_pb_spark_roundtrip(spark):
    from ilogtail_spark.operators.pb import sls_pb_decode, sls_pb_encode_groups

    df = spark.createDataFrame(
        [("c1", 0, "user", "hi", 100), ("c1", 1, "assistant", "yo", 101),
         ("c2", 0, "user", "x", 200)],
        "conv_id string, turn_idx int, role string, text string, t_sec long",
    )
    enc = sls_pb_encode_groups(
        df, ["conv_id"], time_col="t_sec", content_cols=["role", "text"],
        order_col="turn_idx", topic_col="conv_id", source="s1",
        tags={"env": "t"},
    )
    rows = sls_pb_decode(enc, "pb", keep=["conv_id"]).collect()
    assert len(rows) == 3
    byconv = {}
    for r in rows:
        byconv.setdefault(r["conv_id"], []).append(r)
    assert [x["contents"]["role"] for x in byconv["c1"]] == ["user", "assistant"]
    r0 = byconv["c1"][0]
    assert r0["topic"] == "c1" and r0["source"] == "s1"
    assert r0["tags"] == {"env": "t"} and r0["log_time"] == 100


def test_sls_pb_registry_and_invalid_drop(spark):
    from ilogtail_spark.operators import OPERATORS

    fn = OPERATORS["processor_parse_from_pb_native"](
        Protocol="sls_logs", SourceKey="pb")
    df = spark.createDataFrame(
        [(GOLDEN_LOGGROUP,), (b"\xff\xff\xff",)], "pb binary")
    rows = fn(df).collect()
    assert len(rows) == 1 and rows[0]["topic"] == "t"
    assert rows[0]["contents"] == {"k": "v"}
    # next to a dropped invalid payload, a two-log group fans out to 2 rows
    two = encode_message({"logs": [{"time": 1}, {"time": 2}]}, LOG_GROUP)
    df = spark.createDataFrame(
        [(1, two), (2, b"\xff\x07garbage")], "id long, pb binary")
    assert len(fn(df).collect()) == 2
    with pytest.raises(ValueError):
        OPERATORS["processor_parse_from_pb_native"](Protocol="LoongSuite")


def test_otlp_pb_bytes_attribute_survives(spark):
    """A span attribute carrying bytesValue must not void the whole
    document: protojson renders bytes as base64 (the round-trip UDFs
    are exercised through Spark so the fix is covered where it runs)."""
    import base64 as b64
    import json as _json

    from pyspark.sql import functions as F

    doc = {
        "resourceSpans": [{
            "resource": {"attributes": [
                {"key": "blob", "value": {"bytesValue": b64.b64encode(b"\x01\x02").decode()}}
            ]},
            "scopeSpans": [{"spans": [{"name": "s1"}]}],
        }]
    }
    # fixture-side encode expects protojson (base64 str) -> wire bytes
    from ilogtail_spark.operators.pb import otlp_json_to_pb_udf, otlp_pb_to_json_udf

    df = spark.createDataFrame([(1, _json.dumps(doc))], "id long, otel string")
    df = df.withColumn("pb", otlp_json_to_pb_udf("trace")(F.col("otel")))
    out = df.withColumn("back", otlp_pb_to_json_udf("trace")(F.col("pb"))).collect()[0]
    assert out["back"] is not None, "bytesValue voided the document"
    rt = _json.loads(out["back"])
    attr = rt["resourceSpans"][0]["resource"]["attributes"][0]
    assert attr["value"]["bytesValue"] == b64.b64encode(b"\x01\x02").decode()
    assert rt["resourceSpans"][0]["scopeSpans"][0]["spans"][0]["name"] == "s1"


def test_prom_remote_write_encode(spark):
    """flusher_prometheus_test.go semantics: one TimeSeries per metric
    event (same labelsets NOT aggregated), labels lexicographically
    sorted with __name__ merged in, empty label values dropped, sample
    = (double value, ms timestamp)."""
    import json as _json

    from pyspark.sql import functions as F

    from ilogtail_spark.operators.pb import (
        PROM_WRITE_REQUEST,
        decode_message,
        prom_remote_write_encode,
    )

    df = spark.createDataFrame(
        [
            (1, "cpu", 0.5, 1000, "h1", ""),      # empty tag dropped
            (1, "cpu", 0.5, 2000, "h1", "x"),     # same labels, NOT merged
            (2, "mem", 2.0, 3000, "h2", "y"),
        ],
        "b long, n string, v double, t long, host string, zone string",
    )
    out = {r["b"]: r["pb"] for r in prom_remote_write_encode(
        df, ["b"], "n", "v", "t", ["host", "zone"]).collect()}
    wr1 = decode_message(bytes(out[1]), PROM_WRITE_REQUEST)
    assert len(wr1["timeseries"]) == 2  # no labelset aggregation
    s0 = wr1["timeseries"][0]
    assert [lb["name"] for lb in s0["labels"]] == ["__name__", "host"]
    assert s0["samples"] == [{"value": 0.5, "timestamp": 1000}]
    s1 = wr1["timeseries"][1]
    assert [lb["name"] for lb in s1["labels"]] == ["__name__", "host", "zone"]
    wr2 = decode_message(bytes(out[2]), PROM_WRITE_REQUEST)
    assert wr2["timeseries"][0]["labels"] == [
        {"name": "__name__", "value": "mem"},
        {"name": "host", "value": "h2"},
        {"name": "zone", "value": "y"},
    ]


def test_prom_remote_write_null_value_and_time(spark):
    """r4 ADVICE: a NULL metric value or timestamp must not crash the
    pandas UDF — default both to 0, the same defaulting
    sls_pb_encode_groups applies to a NULL Log.time."""
    from ilogtail_spark.operators.pb import (
        PROM_WRITE_REQUEST,
        decode_message,
        prom_remote_write_encode,
    )

    df = spark.createDataFrame(
        [(1, "cpu", None, None, "h1", "")],
        "b long, n string, v double, t long, host string, zone string",
    )
    out = prom_remote_write_encode(
        df, ["b"], "n", "v", "t", ["host", "zone"]
    ).collect()
    wr = decode_message(bytes(out[0]["pb"]), PROM_WRITE_REQUEST)
    # value 0.0 is proto3-default (omitted on the wire -> absent key);
    # the decode leg surfaces present-or-default uniformly via .get
    s = wr["timeseries"][0]["samples"][0]
    assert s.get("value", 0.0) == 0.0
    assert s.get("timestamp", 0) == 0
