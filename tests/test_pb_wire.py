"""Protobuf binary wire format: golden vectors from the protobuf encoding
spec, parser edge cases, SQL-encoder/Python-encoder/decoder agreement
(the reference's real decode/encode surface, protobuf.rb:212-218,635-636)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from logstash_codec_protobuf_spark.functions.wire import (
    py_field_len, py_field_sint, py_field_string, py_field_varint, py_tag,
    py_varint, py_zigzag,
)
from logstash_codec_protobuf_spark.operators import pb_wire as W
from logstash_codec_protobuf_spark.schema import default_registry
from logstash_codec_protobuf_spark.sources.transcripts import (
    TRANSCRIPTS_CTE, transcripts_df,
)

from .conftest import SF_DIR


# ---------------------------------------------------------------------------
# golden vectors (hand-computed from the protobuf encoding documentation)
# ---------------------------------------------------------------------------

def test_golden_byte_vectors():
    # the canonical doc example: message Test1 { int32 a = 1; } with a = 150
    assert py_field_varint(1, 150) == bytes.fromhex("089601")
    # message Test2 { string b = 2; } with b = "testing"
    assert py_field_string(2, "testing") == bytes.fromhex("120774657374696e67")
    # message Test3 { Test1 c = 3; } nests the first example
    assert py_field_len(3, py_field_varint(1, 150)) == bytes.fromhex("1a03089601")
    # varint edges
    assert py_varint(0) == b"\x00"
    assert py_varint(127) == b"\x7f"
    assert py_varint(128) == b"\x80\x01"
    assert py_varint(2**64 - 1) == b"\xff" * 9 + b"\x01"
    assert py_varint(-1) == b"\xff" * 9 + b"\x01"  # int64 two's complement
    # zigzag table from the encoding spec
    assert [py_zigzag(n) for n in (0, -1, 1, -2, 2147483647, -2147483648)] == [
        0, 1, 2, 3, 4294967294, 4294967295,
    ]


def test_py_decode_roundtrip_turn():
    reg = default_registry()
    v = {"conv_id": "conv-7", "turn_idx": 3, "role": "user", "tool": "sql",
         "colour": 2, "cents": -1234, "body_type": "unicorn", "horn": 0,
         "wings": 9, "msg": "m42"}
    d = W.py_decode(W.py_encode_turn(v), reg, "turn_wire")
    assert d["conv_id"] == "conv-7" and d["turn_idx"] == 3
    assert d["colour"] == "PINK"          # pb3 enum symbolization
    assert d["cents"] == -1234            # zigzag round-trip
    assert d["horn"] == 0                 # default-valued oneof winner KEPT
    assert d["wings"] is None             # losing member nulled
    assert d["_pb_oneof"] == {"body": "horn"}


def test_py_decode_proto3_defaults_and_pb2_enums():
    reg = default_registry()
    raw = W.py_encode_turn({"conv_id": "c", "body_type": None})
    d = W.py_decode(raw, reg, "turn_wire")
    # absent scalars come back as proto3 defaults (protobuf.rb:297)
    assert d["turn_idx"] == 0 and d["role"] == "" and d["cents"] == 0
    assert d["colour"] == "UNDEFINED"     # enum default = code-0 name
    assert d["horn"] is None and d["wings"] is None  # oneof: no default
    # pb2 dialect: enum codes pass through as ints (pb2_spec.rb:96-99)
    raw2 = W.py_encode_turn({"conv_id": "c", "colour": 3})
    assert W.py_decode(raw2, reg, "turn_wire", proto_version=2)["colour"] == 3


def test_py_decode_unknown_fields_and_order():
    reg = default_registry()
    base = W.py_encode_turn({"conv_id": "x", "turn_idx": 5})
    # unknown varint (#14), unknown len-delim (#15), unknown fixed64 (#12),
    # unknown fixed32 (#13) — all skipped (forward compatibility)
    extra = (py_field_varint(14, 999)
             + py_field_len(15, b"junk")
             + py_tag(12, 1) + b"\x01\x02\x03\x04\x05\x06\x07\x08"
             + py_tag(13, 5) + b"\x01\x02\x03\x04")
    d = W.py_decode(extra + base, reg, "turn_wire")  # order-independent
    assert d["conv_id"] == "x" and d["turn_idx"] == 5
    # duplicate scalar: last value wins (protobuf merge rule)
    dup = py_field_varint(2, 5) + py_field_varint(2, 7)
    assert W.py_decode(dup, reg, "turn_wire")["turn_idx"] == 7
    # oneof: last member seen wins, earlier member nulled
    both = py_field_varint(8, 4) + py_field_varint(9, 6)
    d2 = W.py_decode(both, reg, "turn_wire")
    assert d2["horn"] is None and d2["wings"] == 6
    assert d2["_pb_oneof"] == {"body": "wings"}


@pytest.mark.parametrize("bad", [
    b"\xff",                      # unterminated varint tag
    b"\x0a\x05ab",                # length prefix beyond buffer
    py_tag(1, 3),                 # group wire type (proto3: invalid)
    b"\x00\x01",                  # field number 0
    py_field_len(1, b"\xff\xfe"), # invalid utf-8 in a string field
    b"\xff" * 11,                 # overlong varint (> 10 bytes)
])
def test_py_decode_malformed_raises(bad):
    with pytest.raises(ValueError, match="wire format"):
        W.py_decode(bad, default_registry(), "turn_wire")


def test_nested_repeated_packed_and_map():
    reg = default_registry()
    # unicorn (positional numbers 1..8): name, age, fur_colour enum,
    # repeated enum (packed), repeated int32 (packed), bool, mother message
    mother = (py_field_string(1, "mom") + py_field_varint(3, 3))
    raw = (py_field_string(1, "uni")
           + py_field_varint(2, 5)
           + py_field_len(4, py_varint(2) + py_varint(4))     # packed enums
           + py_field_len(5, py_varint(1) + py_varint(150))   # packed ints
           + py_field_varint(5, 7)                            # unpacked elem
           + py_field_varint(6, 1)
           + py_field_len(7, mother))
    d = W.py_decode(raw, reg, "unicorn")
    assert d["name"] == "uni" and d["age"] == 5
    assert d["favourite_colours"] == ["PINK", "GLITTER"]
    assert d["favourite_numbers"] == [1, 150, 7]   # packed + unpacked merge
    assert d["is_pegasus"] is True
    assert d["mother"]["name"] == "mom" and d["mother"]["fur_colour"] == "SILVER"
    assert d["mother"]["mother"] is None and d["father"] is None
    # map<string,int32> (contact.phone_numbers = field 2): entry messages
    entry1 = py_field_string(1, "home") + py_field_varint(2, 555)
    entry2 = py_field_string(1, "work") + py_field_varint(2, 777)
    raw_c = (py_field_string(1, "ada")
             + py_field_len(2, entry1) + py_field_len(2, entry2))
    c = W.py_decode(raw_c, reg, "contact")
    assert c["phone_numbers"] == {"home": 555, "work": 777}
    # the generic encoder takes the map as a dict or as (key, value) pairs
    # (what pyarrow's to_pylist() hands over for an Arrow map)
    for m in ({"home": 555, "work": 777}, [("home", 555), ("work", 777)]):
        assert W.py_encode({"name": "ada", "phone_numbers": m}, reg,
                           "contact") == raw_c


def test_uint64_above_int63_and_bytes():
    """uint64 >= 2^63 survives decode (dnsmessage fixture range,
    spec/codecs/pb3_decode_spec.rb:172-241); bytes fields stay raw."""
    reg = default_registry()
    raw = (py_field_varint(1, 2**64 - 1)
           + py_field_len(5, b"\x00\xff\x10"))
    d = W.py_decode(raw, reg, "dns_message")
    assert d["id"] == 18446744073709551615
    assert d["payload"] == b"\x00\xff\x10"
    assert d["opcode"] == 0 and d["question"] == []
    # Spark type mapping: uint64 -> DECIMAL(20,0), not LongType
    dt = reg.to_struct_type("dns_message")
    assert str(dt["id"].dataType) == "DecimalType(20,0)"


# ---------------------------------------------------------------------------
# SQL encoder parity: Spark expr == Python encoder == DuckDB rendering
# ---------------------------------------------------------------------------

def _flat(spark):
    from logstash_codec_protobuf_spark.queries import _good_flat

    return _good_flat(spark, SF_DIR).drop("ts", "text")


def test_sql_encoder_matches_python(spark):
    rows = W.encode_turn_wire(_flat(spark)).collect()
    assert len(rows) > 900
    for r in rows[:200]:
        expected = W.py_encode_turn(r.asDict())
        assert r["payload_hex"] == expected.hex(), r.asDict()
        assert bytes(r["payload"]) == expected


def test_sql_encoder_duckdb_parity(spark):
    hexes = sorted(
        r["payload_hex"] for r in W.encode_turn_wire(_flat(spark)).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{SF_DIR}/events.parquet'"
    )
    duck_hex = W.turn_wire_hex(W.DUCK, W.DUCK_TURN_COLS)
    got = sorted(
        r[0] for r in con.execute(
            f"WITH {TRANSCRIPTS_CTE} SELECT {duck_hex} FROM _tr_num "
            "WHERE event_id % 37 <> 0"
        ).fetchall()
    )
    assert hexes == got


def test_decode_udf_roundtrip_and_dead_letter(spark):
    enc = W.encode_turn_wire(_flat(spark))
    dec = W.decode_turn_wire(enc)
    bad = dec.filter(F.col("decoded")["error"].isNotNull())
    assert bad.isEmpty()
    mism = dec.filter(
        (F.col("decoded")["conv_id"] != F.col("conv_id"))
        | (F.col("decoded")["turn_idx"] != F.col("turn_idx"))
        | (F.col("decoded")["cents"] != F.col("cents"))
        | (F.col("decoded")["msg"] != F.col("msg"))
    )
    assert mism.isEmpty()
    # malformed payload -> error row, original preserved (protobuf.rb:229-233)
    corrupt = spark.createDataFrame([(bytearray(b"\xff"),)], "payload binary")
    out = W.decode_turn_wire(corrupt).select(F.col("decoded")["error"]).first()
    assert out[0] == W.WIRE_ERROR


@pytest.mark.parametrize("impl", ["jvm", "auto"])
def test_decode_turn_wire_refuses_unknown_impl(spark, impl):
    """decode_turn_wire has two impls, 'arrow' and 'jvm_dynamic'; any other
    name raises at plan time instead of falling back to one of them."""
    df = spark.createDataFrame([(bytearray(b"\x08\x01"),)], "payload binary")
    with pytest.raises(ValueError, match="unknown decode impl"):
        W.decode_turn_wire(df, impl=impl)


# ---------------------------------------------------------------------------
# float/double (wire types 5/1), Struct, depth-3 recursion, repeated messages
# ---------------------------------------------------------------------------

def test_float_double_golden_vectors():
    from logstash_codec_protobuf_spark.functions.wire import (
        py_field_double, py_field_float,
    )

    # doc example: double 1.0 at field 3 -> tag 0x19 + IEEE LE bits
    assert py_field_double(3, 1.0) == bytes.fromhex("19000000000000f03f")
    # float 1.5 at field 2 -> tag 0x15 (2<<3|5) + 0x3fc00000 LE
    assert py_field_float(2, 1.5) == bytes.fromhex("150000c03f")


def test_probe_double_roundtrip_py():
    from logstash_codec_protobuf_spark.functions.wire import (
        py_field_double, py_field_len, py_field_string, py_field_varint,
    )

    reg = default_registry()
    task = (py_field_varint(2, 1) + py_field_double(3, 12.345)
            + py_field_string(4, "1.2.3.4"))
    raw = py_field_string(1, "u-1") + py_field_len(2, task)
    d = W.py_decode(raw, reg, "probe_result")
    assert d["uuid"] == "u-1"
    assert d["task"]["status"] == "ERROR"       # pb3 enum name
    assert d["task"]["latency"] == 12.345       # bit-exact fixed64
    assert d["task"]["ip"] == "1.2.3.4"
    assert d["task"]["probe_ip"] == ""          # proto3 default emission
    # absent double -> 0.0 default
    raw2 = py_field_string(1, "u-2") + py_field_len(2, b"")
    assert W.py_decode(raw2, reg, "probe_result")["task"]["latency"] == 0.0


def test_user_agent_float_roundtrip_py():
    from logstash_codec_protobuf_spark.functions.wire import (
        py_field_float, py_field_string,
    )

    reg = default_registry()
    raw = (py_field_string(1, "ff") + py_field_float(2, 3.25)
           + py_field_float(4, 0.1) + py_field_string(7, "linux"))
    d = W.py_decode(raw, reg, "user_agent")
    assert d["family"] == "ff" and d["os"] == "linux"
    assert d["major"] == 3.25                       # exactly representable
    import struct as _s
    assert d["minor"] == _s.unpack("<f", _s.pack("<f", 0.1))[0]  # f32 rounded


def test_struct_all_value_kinds():
    from logstash_codec_protobuf_spark.functions.wire import (
        py_field_len, py_field_string, py_struct,
    )

    reg = default_registry()
    details = {
        "s": "text", "n": 2.5, "i": 7, "t": True, "f": False, "z": None,
        "nested": {"a": 1, "deep": {"b": "x"}},
        "arr": ["y", 3.0, False, None, {"k": "v"}, ["inner"]],
        "empty_s": {}, "empty_l": [],
    }
    raw = py_field_string(1, "u9") + py_field_len(2, py_struct(details))
    d = W.py_decode(raw, reg, "send_json_request")
    assert d["user_id"] == "u9"
    import json as _json
    got = _json.loads(d["details"])
    assert got == {
        "s": "text", "n": 2.5, "i": 7.0, "t": True, "f": False, "z": None,
        "nested": {"a": 1.0, "deep": {"b": "x"}},
        "arr": ["y", 3.0, False, None, {"k": "v"}, ["inner"]],
        "empty_s": {}, "empty_l": [],
    }
    # canonical rendering: sorted keys, compact separators
    assert d["details"].index('"arr"') < d["details"].index('"n"')
    # the generic encoder writes the same Struct bytes from the same dict
    assert W.py_encode({"user_id": "u9", "details": details}, reg,
                       "send_json_request") == raw
    # absent Details -> None (message-typed field, no default)
    assert W.py_decode(py_field_string(1, "u"), reg,
                       "send_json_request")["details"] is None


def test_human_depth3_recursion_py():
    """pb2_spec.rb:43-77: walk mother.mother.first_name three generations
    deep over real wire bytes (pb2 dialect)."""
    reg = default_registry()
    grandma = py_field_string(1, "Jancsi") + py_field_varint(6, 77)
    mother = (py_field_string(1, "Jane") + py_field_len(4, grandma)
              + py_field_varint(6, 42))
    raw = (py_field_string(1, "Hugo") + py_field_string(3, "Smith")
           + py_field_len(4, mother) + py_field_varint(6, 11))
    d = W.py_decode(raw, reg, "human", proto_version=2)
    assert d["first_name"] == "Hugo" and d["last_name"] == "Smith"
    assert d["mother"]["first_name"] == "Jane"
    assert d["mother"]["mother"]["first_name"] == "Jancsi"
    assert d["mother"]["mother"]["age"] == 77
    assert d["father"] is None
    # depth bound: great-great-grandmother exhausts the recursion budget —
    # LOUDLY, under the distinct DEPTH_ERROR tag (round-5 verdict item 3)
    g3 = py_field_len(4, py_field_len(4, py_field_len(4, py_field_len(
        4, py_field_string(1, "too-deep")))))
    with pytest.raises(ValueError, match="max_recursion_depth"):
        W.py_decode(g3, reg, "human", proto_version=2, depth=4)


def test_human_depth_knob_py():
    """py_decode's depth bound is a real knob: a depth-4 lineage
    dead-letters with DEPTH_ERROR at the default bound (3 nested levels) and
    decodes when the bound is raised — never a silent truncation either
    way."""
    reg = default_registry()

    def lineage(n: int) -> bytes:
        # n nested mother levels under the root
        buf = py_field_string(1, f"gen{n}") + py_field_varint(6, 60 + n)
        for i in range(n):
            buf = (py_field_string(1, f"gen{n - 1 - i}")
                   + py_field_len(4, buf) + py_field_varint(6, 30 + i))
        return buf

    # boundary: exactly 3 nested levels fits the default budget
    assert W.MAX_RECURSION_DEPTH == 3
    d = W.py_decode(lineage(3), reg, "human", proto_version=2)
    assert d["mother"]["mother"]["mother"]["first_name"] == "gen3"
    # one deeper: distinct loud error
    with pytest.raises(ValueError, match="max_recursion_depth"):
        W.py_decode(lineage(4), reg, "human", proto_version=2, depth=4)
    # raising the knob admits it
    d = W.py_decode(lineage(4), reg, "human", proto_version=2, depth=5)
    assert d["mother"]["mother"]["mother"]["mother"]["first_name"] == "gen4"
    # and DEPTH_ERROR != WIRE_ERROR: the dead-letter router can tell them apart
    assert W.DEPTH_ERROR != W.WIRE_ERROR


def test_human_depth4_dead_letters_with_depth_tag(spark):
    """Through Spark: a depth-4 Human payload in a batch dead-letters under
    DEPTH_ERROR while its depth-3 neighbors decode — the tag survives the
    Arrow UDF boundary for separate routing (pb_wire.MAX_RECURSION_DEPTH)."""
    reg = default_registry()
    grandma = py_field_string(1, "Jancsi") + py_field_varint(6, 77)
    mother = (py_field_string(1, "Jane") + py_field_len(4, grandma)
              + py_field_varint(6, 42))
    ok = (py_field_string(1, "Hugo") + py_field_string(3, "Smith")
          + py_field_len(4, mother) + py_field_varint(6, 11))
    g3 = py_field_string(1, "Root") + py_field_len(4, py_field_len(
        4, py_field_len(4, py_field_len(4, py_field_string(1, "deep")))))
    df = spark.createDataFrame([(bytearray(ok),), (bytearray(g3),),
                                (bytearray(b"\xff\xff"),)],
                               "payload binary")
    rows = W.decode_message(df, "payload", "human", reg, proto_version=2) \
        .select("decoded.first_name", "decoded.error").collect()
    assert rows[0]["error"] is None and rows[0]["first_name"] == "Hugo"
    assert rows[1]["error"] == W.DEPTH_ERROR
    assert rows[2]["error"] == W.WIRE_ERROR


def test_repeated_message_decode_py():
    """dns_message.question: repeated nested messages, one tag per element
    (spec/codecs/pb3_decode_spec.rb:311-335 shape)."""
    reg = default_registry()
    q1 = py_field_len(1, b"a.example") + py_field_varint(2, 1)
    q2 = py_field_len(1, b"b.example") + py_field_varint(3, 4)
    raw = py_field_varint(1, 5) + py_field_len(4, q1) + py_field_len(4, q2)
    d = W.py_decode(raw, reg, "dns_message")
    assert [q["name"] for q in d["question"]] == [b"a.example", b"b.example"]
    assert [q["qtype"] for q in d["question"]] == [1, 0]   # default fills
    assert [q["qclass"] for q in d["question"]] == [0, 4]


def test_struct_malformed_dead_letters():
    """Corrupt Struct payloads raise the wire error (-> dead-letter route),
    never a stray exception: bad entry field number, truncated Value, junk."""
    from logstash_codec_protobuf_spark.functions.wire import (
        py_field_len, py_field_string, py_field_varint,
    )

    reg = default_registry()
    bad_entry = py_field_varint(2, 7)          # Struct entry must be fnum 1/LEN
    truncated = py_field_len(1, py_field_string(1, "k") + b"\x12\x05ab")
    for bad in (bad_entry, truncated):
        raw = py_field_string(1, "u") + py_field_len(2, bad)
        with pytest.raises(ValueError, match="wire format"):
            W.py_decode(raw, reg, "send_json_request")


def test_directory_repeated_message_with_map_py():
    """directory -> repeated contact -> map entries: three levels of
    length-delimited nesting (events_pb.rb:7-16 repeated-top-level shape)."""
    reg = default_registry()
    e1 = py_field_string(1, "home") + py_field_varint(2, 555)
    c1 = py_field_string(1, "ada") + py_field_len(2, e1)
    c2 = py_field_string(1, "bob")  # contact with an empty map
    raw = (py_field_string(1, "eng")
           + py_field_len(2, c1) + py_field_len(2, c2))
    d = W.py_decode(raw, reg, "directory")
    assert d["scope"] == "eng"
    assert [c["name"] for c in d["contacts"]] == ["ada", "bob"]
    assert d["contacts"][0]["phone_numbers"] == {"home": 555}
    assert d["contacts"][1]["phone_numbers"] == {}


def test_rum_wide_message_bytes_exist(spark):
    """The RUM round trip must put real bytes on the wire (n_bytes carries
    the envelope size) and reproduce the depth-2 float exactly."""
    from logstash_codec_protobuf_spark.queries import pb_wire_rum

    rows = pb_wire_rum(spark, SF_DIR).limit(5).collect()
    assert all(r["ua_major"] == (r["event_id"] % 100) + 0.25 for r in rows)
    # the query drops the payload; probe byte evidence on a literal row
    lit = F.lit
    rum = F.struct(
        F.struct(lit(1700000000123).alias("unix_timestamp"),
                 lit("s1").alias("sender_id")).alias("header"),
        lit("1.0").alias("version"), lit("https://x").alias("url"),
        lit("sess").alias("session_id"), lit("en-US").alias("locale"),
        F.struct(lit("fam").alias("family"),
                 lit(2.5).cast("float").alias("major"),
                 lit(0.5).cast("float").alias("minor"),
                 lit("os").alias("os")).alias("user_agent"),
        F.struct(lit("CC").alias("cc"), lit("city").alias("city"),
                 lit(1.5).cast("float").alias("lat"),
                 lit(2.25).cast("float").alias("lon"),
                 lit(True).alias("ovr")).alias("geo"),
        F.struct(*[lit(i + 1).alias(n) for i, n in enumerate(
            ("t_resp", "fid", "fcp", "tti", "ttvr"))],
            lit(1.5).cast("float").alias("longtasks")).alias("timers"),
        lit("pg").alias("page_group"),
        F.array(lit("t1"), lit("u1")).alias("active_ctests"),
        F.struct(lit(6).alias("script"), lit(7).alias("ext"),
                 lit(8).alias("ln")).alias("dom"),
        lit("d").alias("domain"), lit("2026").alias("timestamp"),
    )
    enc = spark.range(3).select(
        W.encode_message(rum, "akamai_rum").alias("payload"))
    r = W.decode_message(enc, "payload", "akamai_rum").select(
        F.length("payload").alias("n_bytes"), "decoded.error",
        "decoded.geo.lat", "decoded.geo.ovr").first()
    assert r["n_bytes"] > 80 and r["error"] is None
    assert r["lat"] == 1.5 and r["ovr"] is True


def test_oneof_metainfo_toggle(spark):
    """pb3_set_oneof_metainfo (protobuf.rb:110-116, default FALSE in the
    reference): disabling it nulls the discriminator but keeps member
    values; enabling it names the chosen member."""
    v = {"conv_id": "c", "body_type": "pegasus", "wings": 4}
    payload = W.py_encode_turn(v)
    df = spark.createDataFrame([(bytearray(payload),)], "payload binary")
    on = W.decode_turn_wire(df, impl="arrow").first()["decoded"]
    off = W.decode_turn_wire(df, impl="arrow",
                             oneof_metainfo=False).first()["decoded"]
    assert on["oneof_body"] == "wings" and on["wings"] == 4
    assert off["oneof_body"] is None and off["wings"] == 4


def test_nested_oneof_metainfo():
    """Nested double-choice oneof (spec/codecs/pb3_decode_spec.rb:529-559 /
    594-639): the nested message records its OWN chosen member, independent
    of the outer message's oneofs."""
    from logstash_codec_protobuf_spark.schema import (
        FieldSpec, MessageSpec, SchemaRegistry,
    )

    reg = SchemaRegistry()
    reg.register_message(MessageSpec("inner", (
        FieldSpec("label", "string", number=1),
        FieldSpec("phone", "int32", oneof="contact", number=2),
        FieldSpec("email", "string", oneof="contact", number=3),
    )))
    reg.register_message(MessageSpec("outer", (
        FieldSpec("name", "string", number=1),
        FieldSpec("nested", "message:inner", number=2),
        FieldSpec("horn", "int32", oneof="body", number=3),
        FieldSpec("wings", "int32", oneof="body", number=4),
    )))
    raw = W.py_encode(
        {"name": "x", "wings": 9,
         "nested": {"label": "l", "email": "e@x"}},
        reg, "outer",
    )
    d = W.py_decode(raw, reg, "outer")
    assert d["_pb_oneof"] == {"body": "wings"}
    assert d["nested"]["_pb_oneof"] == {"contact": "email"}
    assert d["nested"]["email"] == "e@x" and d["nested"]["phone"] is None


def test_decode_message_oneof_slots_on_both_arrow_paths(spark):
    """The ``oneof_<group>`` slots name the chosen member at every level,
    whether the message decodes through the numpy walker (flat, one nested
    level) or per payload (a repeated field forces that path)."""
    from logstash_codec_protobuf_spark.schema import (
        FieldSpec, MessageSpec, SchemaRegistry,
    )
    from logstash_codec_protobuf_spark.operators.pb_wire_vec import (
        build_flat_plan,
    )

    reg = SchemaRegistry()
    reg.register_message(MessageSpec("inner", (
        FieldSpec("phone", "int32", oneof="contact", number=1),
        FieldSpec("email", "string", oneof="contact", number=2),
    )))
    outer = (FieldSpec("nested", "message:inner", number=1),
             FieldSpec("horn", "int32", oneof="body", number=2),
             FieldSpec("wings", "int32", oneof="body", number=3))
    reg.register_message(MessageSpec("flat", outer))
    reg.register_message(MessageSpec("rows", outer + (
        FieldSpec("tags", "string", repeated=True, number=4),)))
    assert build_flat_plan(reg, "flat") is not None
    assert build_flat_plan(reg, "rows") is None
    v = {"wings": 0, "nested": {"email": "e@x"}}
    for message in ("flat", "rows"):
        df = spark.createDataFrame(
            [(bytearray(W.py_encode(v, reg, message)),)], "payload binary")
        d = W.decode_message(df, "payload", message, reg).first()["decoded"]
        assert (d["oneof_body"], d["wings"], d["horn"]) == ("wings", 0, None)
        assert d["nested"]["oneof_contact"] == "email", message
        assert d["nested"]["email"] == "e@x" and d["nested"]["phone"] is None


def test_varint_bound_violation_poisons_to_null(spark):
    """A value above a field's declared varint bound must yield a NULL
    payload (visible dead-letter failure), never silently truncated bytes."""
    from pyspark.sql import functions as SF

    df = spark.createDataFrame(
        [("c", 5, "user", "sql", 2, 9, "unicorn", 1, 0, "m"),
         ("c", 2**40, "user", "sql", 2, 9, "unicorn", 1, 0, "m")],
        "conv_id string, turn_idx long, role string, tool string, "
        "colour int, cents long, body_type string, horn int, wings int, "
        "msg string",
    )
    enc = W.encode_turn_wire(df)  # turn_idx bound: 5 groups (< 2^35)
    rows = enc.select("turn_idx", SF.col("payload_hex").isNull()
                      .alias("poisoned")).collect()
    got = {r["turn_idx"]: r["poisoned"] for r in rows}
    assert got[5] is False and got[2**40] is True


def test_struct_depth_bomb_dead_letters():
    """A hostile deeply-nested Struct must raise the wire error (dead-letter
    path), never a RecursionError that escapes the UDF's except clause."""
    from logstash_codec_protobuf_spark.functions.wire import (
        py_field_len, py_field_string,
    )

    reg = default_registry()
    # Value nested 200 levels deep: v = {"k": {"k": {...}}}
    inner = py_field_string(3, "leaf")              # string_value
    for _ in range(200):
        entry = py_field_string(1, "k") + py_field_len(2, inner)
        inner = py_field_len(5, py_field_len(1, entry))  # struct_value
    struct_bytes = py_field_len(1, py_field_string(1, "k") + py_field_len(2, inner))
    raw = py_field_string(1, "u") + py_field_len(2, struct_bytes)
    with pytest.raises(ValueError, match="wire format"):
        W.py_decode(raw, reg, "send_json_request")


def test_truncated_nested_length_prefixes_dead_letter():
    """Length prefixes that overrun their enclosing buffer must raise the
    wire error at EVERY nesting level (map entries, Struct entries,
    ListValue elements) — silent slice truncation would mis-decode."""
    from logstash_codec_protobuf_spark.functions.wire import (
        py_field_len, py_field_string, py_tag, py_varint,
    )

    reg = default_registry()
    # map entry whose value-length overruns the entry
    bad_entry = py_field_string(1, "home") + py_tag(2, 2) + py_varint(99)
    raw = py_field_string(1, "ada") + py_field_len(2, bad_entry)
    with pytest.raises(ValueError, match="wire format"):
        W.py_decode(raw, reg, "contact")
    # Struct entry whose Value-length overruns
    bad_sentry = py_field_string(1, "k") + py_tag(2, 2) + py_varint(99)
    raw2 = (py_field_string(1, "u")
            + py_field_len(2, py_field_len(1, bad_sentry)))
    with pytest.raises(ValueError, match="wire format"):
        W.py_decode(raw2, reg, "send_json_request")


def test_varint_bounds_edges_sql_encoder(spark):
    """At each declared bound: the largest in-range value must encode
    byte-identically to the Python encoder; the first out-of-range value
    must poison to NULL. Exercises cents (zigzag, 6 groups) and string
    length (2 groups) edges beyond the turn_idx case."""
    big_msg = "x" * (128 ** 2 - 1)     # len 16383: last in-range
    over_msg = "x" * (128 ** 2)        # len 16384: poisoned
    max_cents = (128 ** 6) // 2 - 1    # zigzag(2x) still < 128^6
    rows = [
        ("c", 1, "user", "sql", 2, max_cents, "unicorn", 1, 0, big_msg),
        ("c", 1, "user", "sql", 2, -max_cents, "unicorn", 1, 0, "m"),
        ("c", 1, "user", "sql", 2, max_cents + 1, "unicorn", 1, 0, "m"),
        ("c", 1, "user", "sql", 2, 9, "unicorn", 1, 0, over_msg),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx long, role string, tool string, "
        "colour int, cents long, body_type string, horn int, wings int, "
        "msg string",
    )
    got = W.encode_turn_wire(df, binary=False).collect()
    for r in got[:2]:  # in-range rows: byte-exact vs the Python encoder
        assert r["payload_hex"] == W.py_encode_turn(r.asDict()).hex()
    assert got[2]["payload_hex"] is None   # cents over bound
    assert got[3]["payload_hex"] is None   # msg length over bound


def test_negative_varints_poison_in_every_encoder(spark):
    """turn_idx=-1 used to encode as ``10 00`` and horn=-5 as ``40 0c``
    (which decodes to horn=12): silent corruption. Spark's kernel, the
    DuckDB template and the Python anchor must all refuse a negative
    int32/enum value with a NULL payload — the bound-violation dead-letter.
    A negative on an UNCHOSEN oneof member is never emitted, so harmless."""
    cols = ("conv_id", "turn_idx", "role", "tool", "colour", "cents",
            "body_type", "horn", "wings", "msg")
    rows = [
        ("c", -1, "user", "sql", 2, 9, "unicorn", 1, 0, "m"),
        ("c", 1, "user", "sql", 2, 9, "unicorn", -5, 0, "m"),
        ("c", 1, "user", "sql", -1, 9, "unicorn", 1, 0, "m"),
        ("c", 1, "user", "sql", 2, 9, "pegasus", 1, -5, "m"),
        ("c", 1, "user", "sql", 2, -9, "pegasus", -5, 3, "m"),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx long, role string, tool string, "
        "colour int, cents long, body_type string, horn int, wings int, "
        "msg string",
    )
    got = [r["payload_hex"] for r in W.encode_turn_wire(df, binary=False)
           .collect()]
    con = duckdb.connect()
    duck_hex = W.turn_wire_hex(W.DUCK, {c: c for c in cols})
    values = ", ".join(
        "(" + ", ".join(f"'{v}'" if isinstance(v, str) else str(v)
                        for v in r) + ")" for r in rows)
    duck = [h for (h,) in con.execute(
        f"SELECT {duck_hex} FROM (VALUES {values}) t({', '.join(cols)})"
    ).fetchall()]
    py = [W.py_encode_turn(dict(zip(cols, r))) for r in rows]
    assert got[:4] == duck[:4] == [None] * 4
    assert py[:4] == [None] * 4
    assert got[4] == duck[4] == py[4].hex()


def test_value_unknown_fields_skipped_by_wire_type():
    """A google.protobuf.Value carrying fields from a NEWER schema revision
    (unknown field numbers) must decode, skipping them by wire type — not
    dead-letter the row (forward compatibility, same rule as the
    message-level parser)."""
    import struct as _struct

    from logstash_codec_protobuf_spark.functions.wire import (
        py_field_len, py_field_string, py_field_varint,
    )
    from logstash_codec_protobuf_spark.operators.pb_wire import (
        _decode_value,
    )

    # known: string_value (3) = "keep"; unknown: varint field 9,
    # length-delimited field 12, fixed32 field 13, fixed64 field 14
    buf = (py_field_varint(9, 42)
           + py_field_string(3, "keep")
           + py_field_len(12, b"\x01\x02\x03")
           + bytes([13 << 3 | 5]) + _struct.pack("<f", 1.5)
           + bytes([14 << 3 | 1]) + _struct.pack("<d", 2.5))
    assert _decode_value(buf) == "keep"

    # truncated unknown fixed32 still dead-letters (bounds hold)
    import pytest

    with pytest.raises(ValueError):
        _decode_value(bytes([13 << 3 | 5]) + b"\x00\x00")


# ---------------------------------------------------------------------------
# vendored JVM DynamicMessage decode path (zero Python workers, jar-less —
# round-5 verdict item 1; the harness compiles against the protobuf-java
# runtime the Spark Connect jar shades)
# ---------------------------------------------------------------------------

def _require_jvm_dynamic(spark):
    if not W.jvm_dynamic_available(spark):
        pytest.skip("shaded protobuf runtime not on the JVM classpath")


def test_jvm_dynamic_decode_parity(spark):
    """Row-for-row parity: the vendored JVM decode must reproduce the Arrow
    decoder's `decoded` struct exactly on real encoded payloads."""
    _require_jvm_dynamic(spark)
    enc = W.encode_turn_wire(_flat(spark)).cache()
    try:
        cols = [F.col("decoded")[f.name].alias(f.name)
                for f in W.TURN_WIRE_DECODED]
        arrow = W.decode_turn_wire(enc, impl="arrow").select(*cols)
        jvm = W.decode_turn_wire(enc, impl="jvm_dynamic").select(*cols)
        a = sorted(map(tuple, arrow.collect()))
        j = sorted(map(tuple, jvm.collect()))
        assert len(j) > 900
        assert a == j
    finally:
        enc.unpersist()


def test_jvm_dynamic_dead_letter_and_plan(spark):
    _require_jvm_dynamic(spark)
    corrupt = spark.createDataFrame(
        [(bytearray(b"\xff"),), (None,)], "payload binary"
    )
    out = W.decode_turn_wire(corrupt, impl="jvm_dynamic")
    errs = [r[0] for r in
            out.select(F.col("decoded")["error"]).collect()]
    assert errs == [W.WIRE_ERROR, W.WIRE_ERROR]
    # zero Python workers: the plan must contain no Arrow/Batch eval node
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_jvm_dynamic_pb2_dialect_parity(spark):
    """pb2: enum codes pass through as ints and absent fields stay null —
    same contract as the Arrow decoder's proto_version=2 output."""
    _require_jvm_dynamic(spark)
    enc = W.encode_turn_wire(_flat(spark)).limit(300).cache()
    try:
        cols = [F.col("decoded")[f.name].alias(f.name)
                for f in W.TURN_WIRE_DECODED_PB2]
        arrow = W.decode_turn_wire(enc, impl="arrow",
                                   proto_version=2).select(*cols)
        jvm = W.decode_turn_wire(enc, impl="jvm_dynamic",
                                 proto_version=2).select(*cols)
        assert sorted(map(tuple, arrow.collect())) == \
            sorted(map(tuple, jvm.collect()))
    finally:
        enc.unpersist()


def test_jvm_row_schema_guards():
    """The decoded shape builds nested StructTypes for nested/repeated/map
    shapes (round-7), is turn_wire's pinned contract, and refuses only
    RECURSIVE type graphs when no depth bound is given (the JVM row
    path)."""
    reg = default_registry()
    # turn_wire itself is accepted, fields in wire order + oneof slot
    s = W.decoded_schema(reg, "turn_wire", 3)
    assert s.fieldNames()[-1] == "oneof_body"
    assert [f.name for f in s.fields[:4]] == [
        "conv_id", "turn_idx", "role", "tool"]
    # pb2 dialect: enum slot becomes LONG
    s2 = W.decoded_schema(reg, "turn_wire", 2)
    assert s2["colour"].dataType.typeName() == "long"
    assert s["colour"].dataType.typeName() == "string"
    # plus ``error``, exactly the pinned turn_wire contracts
    assert W._with_error(s) == W.TURN_WIRE_DECODED
    assert W._with_error(s2) == W.TURN_WIRE_DECODED_PB2
    # repeated nested messages + maps now produce real nested schemas:
    # directory.contacts -> array<struct<name, phone_numbers entries>>
    sd = W.decoded_schema(reg, "directory", 3)
    contacts = sd["contacts"].dataType
    assert contacts.typeName() == "array"
    inner = contacts.elementType
    assert inner["phone_numbers"].dataType.simpleString() == \
        "array<struct<key:string,value:int>>"
    # dns: uint64 -> DECIMAL(20,0), repeated message, bytes preserved
    sq = W.decoded_schema(reg, "dns_message", 3)
    assert sq["id"].dataType.simpleString() == "decimal(20,0)"
    assert sq["question"].dataType.elementType["qtype"].dataType \
        .typeName() == "long"
    # only a recursive graph is refused (no finite StructType exists)
    with pytest.raises(NotImplementedError, match="recursive"):
        W.decoded_schema(reg, "unicorn", 3)


# ---------------------------------------------------------------------------
# forward-compat enum contract (round-7): codes int32-truncate like
# protobuf-java; an UNREGISTERED pb3 code decodes to its decimal string —
# identical across arrow / jvm_dynamic, never a batch crash, never a
# dead-letter
# ---------------------------------------------------------------------------

def test_typed_varint_enum_int32_truncation():
    reg = default_registry()
    tv = W._typed_varint
    # registered code -> name (pb3), int (pb2)
    assert tv(2, "enum:Colour", reg, 3) == "PINK"
    assert tv(2, "enum:Colour", reg, 2) == 2
    # unregistered code -> decimal string (pb3), int (pb2)
    assert tv(99, "enum:Colour", reg, 3) == "99"
    assert tv(99, "enum:Colour", reg, 2) == 99
    # a conformant encoder sign-extends negative codes to 64-bit varints
    assert tv((1 << 64) - 1, "enum:Colour", reg, 3) == "-1"
    assert tv((1 << 64) - 1, "enum:Colour", reg, 2) == -1
    # int32 truncation, exactly protobuf-java's cast: 2^40 & 0xFFFFFFFF == 0
    assert tv(1 << 40, "enum:Colour", reg, 3) == \
        reg.enums["Colour"].name_of(0)
    assert tv(1 << 40, "enum:Colour", reg, 2) == 0
    # and the decimal string round-trips through the encoder unchanged
    assert W._enc_varint_val("99", "enum:Colour", reg) == 99
    assert W._enc_varint_val("-1", "enum:Colour", reg) == -1
    with pytest.raises(ValueError, match="unknown enum name"):
        W._enc_varint_val("MAUVE", "enum:Colour", reg)


def _enum_probe_frame(spark):
    # the generic spec encoder writes the negative code as the 10-byte
    # two's-complement varint a conformant producer sends (py_encode_turn
    # refuses negatives, like the engine's encoders)
    base = {"conv_id": "c", "turn_idx": 1, "role": "user", "tool": "",
            "cents": 5, "msg": "m"}
    rows = [(i, bytearray(W.py_encode({**base, "colour": c},
                                      default_registry(), "turn_wire")))
            for i, c in enumerate([2, 99, -1])]
    return spark.createDataFrame(rows, "id int, payload binary")


def test_enum_unknown_code_parity_all_impls(spark):
    """One forward-compat payload must not crash the batch (the pre-r7
    Arrow path died in pa.Array.from_pandas on an int in the string column)
    and every impl must agree on the decoded value, both dialects."""
    df = _enum_probe_frame(spark)
    impls = ["arrow"]
    if W.jvm_dynamic_available(spark):
        impls += ["jvm_dynamic"]
    for pv, want in ((3, ["PINK", "99", "-1"]), (2, [2, 99, -1])):
        for impl in impls:
            out = (W.decode_turn_wire(df, impl=impl, proto_version=pv)
                   .select("id", F.col("decoded")["colour"].alias("c"),
                           F.col("decoded")["error"].alias("e"))
                   .orderBy("id").collect())
            assert [r["c"] for r in out] == want, (pv, impl)
            assert all(r["e"] is None for r in out), (pv, impl)

# ---------------------------------------------------------------------------
# round-7: jvm_dynamic past flat messages — recursive WireDecodeRow walks
# repeated submessages and proto3 maps (round-6 verdict item 3); recursive
# TYPES (unicorn, human) are refused with a routing hint instead
# ---------------------------------------------------------------------------

def _impl_parity(df, message):
    """decode_message over ``df.payload`` through both impls: the decoded
    types must match (nullability flags differ) and so must every row."""
    a = W.decode_message(df, "payload", message).select("event_id",
                                                        "decoded")
    j = W.decode_message(df, "payload", message, impl="jvm_dynamic") \
        .select("event_id", "decoded")
    assert a.schema.simpleString() == j.schema.simpleString()
    assert sorted(map(repr, a.collect())) == sorted(map(repr, j.collect()))


def test_jvm_dynamic_repeated_message_parity(spark):
    """dns_message.question (the reference's repeated-nested-struct decode,
    spec/codecs/pb3_decode_spec.rb:311-335) must decode identically through
    the Arrow decoder and the recursive JVM Row path — including
    per-element proto3 defaults (qtype/qclass omitted at 0) and uint64 id as
    DECIMAL(20,0)."""
    if not W.jvm_dynamic_available(spark):
        pytest.skip("shaded protobuf runtime unavailable")
    i = F.col("id")
    q = lambda n, t, c: F.struct(n.cast("binary").alias("name"),  # noqa: E731
                                 t.cast("int").alias("qtype"),
                                 c.cast("int").alias("qclass"))
    df = spark.range(50).select(
        i.alias("event_id"),
        W.encode_message(F.struct(
            i.cast("decimal(20,0)").alias("id"),
            F.array(q(F.concat(F.lit("h"), i.cast("string")), i % 16,
                      F.lit(1)),
                    q(F.concat(F.lit("alt"), i.cast("string")), F.lit(28),
                      i % 3)).alias("question"),
        ), "dns_message").alias("payload"))
    _impl_parity(df, "dns_message")


def test_dns_question_invalid_utf8_flagged_in_both_impls(spark):
    """dns_question.name is ``bytes``: both impls return the raw bytes and
    the query projection flags a name that is not UTF-8 as NULL — never a
    silent U+FFFD rewrite on one impl and a dead-letter on the other."""
    from logstash_codec_protobuf_spark.queries import dns_question_rows

    reg = default_registry()
    qs = [{"name": b"ok.example", "qtype": 1}, {"name": b"\xff\xfe",
                                                "qtype": 28, "qclass": 3}]
    df = spark.createDataFrame(
        [(7, bytearray(W.py_encode({"id": 9, "question": qs}, reg,
                                   "dns_message")))],
        "event_id long, payload binary")
    impls = ["arrow"] + (["jvm_dynamic"] if W.jvm_dynamic_available(spark)
                         else [])
    want = [(7, 0, "ok.example", 1, 0), (7, 1, None, 28, 3)]
    for impl in impls:
        dec = W.decode_message(df, "payload", "dns_message", impl=impl)
        assert dec.first()["decoded"]["error"] is None, impl
        got = sorted(map(tuple, dns_question_rows(dec).collect()))
        assert got == want, impl


def test_jvm_dynamic_map_entries_parity(spark):
    """proto3 map<string,int32> through the JVM path: entries collapse
    last-wins in first-seen key order (a Python dict built in wire order) —
    identical to the Arrow decoder's entries. The descriptor set synthesizes the protoc map_entry lowering, so
    protobuf-java treats the field as a REAL map field."""
    if not W.jvm_dynamic_available(spark):
        pytest.skip("shaded protobuf runtime unavailable")
    i = F.col("id")
    df = spark.range(50).select(
        i.alias("event_id"),
        W.encode_message(F.struct(
            F.concat(F.lit("c"), i.cast("string")).alias("name"),
            F.create_map(F.lit("home"), (i % 1000).cast("int"),
                         F.lit("work"), (i % 97).cast("int"))
            .alias("phone_numbers"),
        ), "contact").alias("payload"))
    _impl_parity(df, "contact")


def test_jvm_dynamic_map_duplicate_key_last_wins(spark):
    """Duplicate map keys on the wire: protobuf semantics say the LAST value
    wins. py_decode fills a dict in wire order; the JVM path must collapse
    identically (LinkedHashMap.put keeps first-seen position, updates
    value)."""
    if not W.jvm_dynamic_available(spark):
        pytest.skip("shaded protobuf runtime unavailable")
    from logstash_codec_protobuf_spark.functions.wire import (
        py_field_len, py_field_string, py_field_varint)

    entry1 = py_field_string(1, "home") + py_field_varint(2, 5)
    entry2 = py_field_string(1, "work") + py_field_varint(2, 7)
    entry3 = py_field_string(1, "home") + py_field_varint(2, 9)  # dup key
    buf = py_field_string(1, "cdup") + b"".join(
        py_field_len(2, e) for e in (entry1, entry2, entry3))
    df = spark.createDataFrame([(1, bytearray(buf))], "id int, payload binary")
    for impl in ("jvm_dynamic", "arrow"):
        out = W.decode_message(df, "payload", "contact", impl=impl).select(
            "decoded").first()["decoded"]
        assert out["name"] == "cdup"
        assert [(e["key"], e["value"]) for e in out["phone_numbers"]] == [
            ("home", 9), ("work", 7)]
        assert out["error"] is None
    # and py_decode agrees
    d = W.py_decode(buf, W.default_registry(), "contact")
    assert list(d["phone_numbers"].items()) == [("home", 9), ("work", 7)]


def test_jvm_dynamic_nested_dead_letter(spark):
    """A malformed payload through the generic nested path dead-letters with
    WIRE_ERROR and all-null fields, original bytes preserved."""
    if not W.jvm_dynamic_available(spark):
        pytest.skip("shaded protobuf runtime unavailable")
    df = spark.createDataFrame([(1, bytearray(b"\xff"))],
                               "id int, payload binary")
    row = W.decode_message(df, "payload", "dns_message",
                           impl="jvm_dynamic").first()
    assert row["decoded"]["error"] == W.WIRE_ERROR
    assert row["decoded"]["id"] is None
    assert row["decoded"]["question"] is None
    assert bytes(row["payload"]) == b"\xff"


def test_flat_decoder_keeps_nan_and_inf_like_jvm_dynamic(spark):
    """NaN, +inf, -inf and finite floats decode as themselves through the
    flat Arrow decoder, exactly as through jvm_dynamic: a nested double
    (probe_result.task.latency) and top-level floats (user_agent.major /
    minor), also on a row the scalar fallback patches (a duplicated string
    field). A pandas boundary there used to turn NaN into NULL."""
    import math

    from logstash_codec_protobuf_spark.functions.wire import (
        py_field_float, py_field_string)

    if not W.jvm_dynamic_available(spark):
        pytest.skip("shaded protobuf runtime unavailable")
    vals = [float("nan"), float("inf"), float("-inf"), 1.5, 0.0]
    df = spark.createDataFrame(list(enumerate(vals)),
                               "event_id long, v double")
    v = F.col("v")
    probe = df.select("event_id", W.encode_message(F.struct(
        F.lit("u").alias("uuid"),
        F.struct(F.lit("ERROR").alias("status"), v.alias("latency"))
        .alias("task")), "probe_result").alias("payload"))
    ua = df.select("event_id", W.encode_message(F.struct(
        F.lit("fam").alias("family"), v.cast("float").alias("major"),
        (-v).cast("float").alias("minor")), "user_agent").alias("payload"))
    dup = (py_field_string(1, "a") + py_field_string(1, "b")
           + py_field_float(2, math.nan))
    ua = ua.union(spark.createDataFrame([(9, bytearray(dup))],
                                        "event_id long, payload binary"))
    _impl_parity(probe, "probe_result")
    _impl_parity(ua, "user_agent")
    lat = [r["decoded"]["task"]["latency"] for r in W.decode_message(
        probe, "payload", "probe_result").orderBy("event_id").collect()]
    assert math.isnan(lat[0])
    assert lat[1:] == [math.inf, -math.inf, 1.5, 0.0]


def test_jvm_dynamic_recursive_type_refused():
    """A recursive message graph has no finite StructType: without a depth
    bound the schema builder must refuse unicorn (mother/father:
    message:unicorn) with the arrow-routing hint rather than recursing
    forever; with a depth bound it unrolls exactly that many levels."""
    reg = default_registry()
    with pytest.raises(NotImplementedError, match="recursive"):
        W.decoded_schema(reg, "unicorn", 3)
    with pytest.raises(NotImplementedError, match="recursive"):
        W.decoded_schema(reg, "human", 2)
    s = W.decoded_schema(reg, "human", 2, depth=3)
    for _ in range(3):
        s = s["mother"].dataType
    assert "mother" not in s.fieldNames() and "age" in s.fieldNames()


# ---------------------------------------------------------------------------
# the registry-driven codec over EVERY registered message:
# decode_message(encode_message(v)) == py_decode(py_encode(v)), per impl
# ---------------------------------------------------------------------------

import random as _random
from decimal import Decimal as _Dec

from pyspark.sql import types as T

_SCALAR_IN = {
    "string": (T.StringType(), ["", "a", "héllo", "日本"]),
    "bytes": (T.BinaryType(), [b"", b"\x00\xff", b"abc"]),
    "int32": (T.IntegerType(), [0, 1, -1, 150, 2**31 - 1, -2**31]),
    "sint32": (T.IntegerType(), [0, 1, -1, 2**31 - 1, -2**31]),
    "int64": (T.LongType(), [0, 1, -1, 2**62, -2**63]),
    "sint64": (T.LongType(), [0, -1, 2**62, -2**63]),
    "uint32": (T.LongType(), [0, 1, 2**32 - 1]),
    "uint64": (T.DecimalType(20, 0), [_Dec(0), _Dec(1), _Dec(2**64 - 1)]),
    "bool": (T.BooleanType(), [False, True]),
    "float": (T.FloatType(), [0.0, 1.5, -2.25]),
    "double": (T.DoubleType(), [0.0, 0.1, -1e300]),
}
# a google.protobuf.Struct input: a struct of JSON-like values
_STRUCT_IN = T.StructType([
    T.StructField("k", T.StringType()), T.StructField("n", T.DoubleType()),
    T.StructField("b", T.BooleanType()),
    T.StructField("tags", T.ArrayType(T.StringType()))])


def _input_type(reg, ftype: str, pv: int, nest: int) -> T.DataType:
    if ftype.startswith("enum:"):
        return T.StringType() if pv == 3 else T.IntegerType()
    if ftype == "struct":
        return _STRUCT_IN
    if ftype.startswith("map<"):
        k, v = (t.strip() for t in ftype[4:-1].split(",", 1))
        return T.MapType(_input_type(reg, k, pv, nest),
                         _input_type(reg, v, pv, nest))
    if ftype.startswith("message:"):
        return _message_input_type(reg, ftype[8:], pv, nest + 1)
    return _SCALAR_IN[ftype][0]


def _message_input_type(reg, message, pv, nest=0) -> T.StructType:
    """A struct column shaped like ``message`` (two nested levels at most,
    so recursive messages get a finite input type)."""
    fields = []
    for f in reg.messages[message].fields:
        if f.type.startswith("message:") and nest >= 2:
            continue
        t = _input_type(reg, f.type, pv, nest)
        fields.append(T.StructField(
            f.name, T.ArrayType(t) if f.repeated else t))
    return T.StructType(fields)


def _sample_value(reg, ftype, pv, rng, nest):
    if ftype.startswith("enum:"):
        enum = reg.enums[ftype[5:]]
        code = rng.choice(sorted(enum.values))
        return enum.values[code] if pv == 3 else code
    if ftype == "struct":
        return {"k": rng.choice(["v", ""]), "n": rng.choice([0.0, 2.5]),
                "b": rng.choice([True, False, None]),
                "tags": rng.choice([[], ["x", "y"]])}
    if ftype.startswith("map<"):
        k, v = (t.strip() for t in ftype[4:-1].split(",", 1))
        return {_sample_value(reg, k, pv, rng, nest):
                _sample_value(reg, v, pv, rng, nest)
                for _ in range(rng.randint(0, 2))}
    if ftype.startswith("message:"):
        return (None if rng.random() < 0.3
                else _sample_message(reg, ftype[8:], pv, rng, nest + 1))
    return rng.choice(_SCALAR_IN[ftype][1])


def _sample_message(reg, message, pv, rng, nest=0) -> dict:
    spec = reg.messages[message]
    chosen = {g: rng.choice(ms + [None])
              for g, ms in spec.oneof_groups().items()}
    out = {}
    for f in spec.fields:
        if f.type.startswith("message:") and nest >= 2:
            continue
        if f.oneof and chosen[f.oneof] != f.name:
            out[f.name] = None
        elif f.repeated:  # elements are never NULL on the wire
            out[f.name] = [x for x in (
                _sample_value(reg, f.type, pv, rng, nest)
                for _ in range(rng.randint(0, 3))) if x is not None]
        else:
            out[f.name] = _sample_value(reg, f.type, pv, rng, nest)
    return out


def _canon_py(reg, message, d, depth):
    """py_decode's dict in the decoded shape: map entries as key/value
    pairs in wire order, one ``oneof_<group>`` slot per oneof, message
    fields below ``depth`` levels dropped."""
    out = {}
    for f in reg.messages[message].fields:
        v = d[f.name]
        if f.type.startswith("message:"):
            if depth == 0:
                continue
            sub = lambda x: (None if x is None  # noqa: E731
                             else _canon_py(reg, f.type[8:], x, depth - 1))
            v = [sub(x) for x in v] if f.repeated else sub(v)
        elif f.type.startswith("map<"):
            v = [{"key": k, "value": x} for k, x in v.items()]
        out[f.name] = v
    for g in reg.messages[message].oneof_groups():
        out[f"oneof_{g}"] = d["_pb_oneof"].get(g)
    return out


def _canon_spark(x):
    if isinstance(x, dict):
        return {k: _canon_spark(v) for k, v in x.items()}
    if isinstance(x, list):
        return [_canon_spark(v) for v in x]
    if isinstance(x, _Dec):
        return int(x)
    if isinstance(x, bytearray):
        return bytes(x)
    return x


_PB2_MESSAGES = ("human", "colour_testcase")  # the pb2 fixtures


@pytest.mark.parametrize("message", sorted(default_registry().messages))
def test_registry_codec_roundtrip_every_message(spark, message):
    """Every registered message, a few generated registry-shaped values per
    dialect: the Spark codec reproduces the Python reference exactly —
    ``impl='arrow'`` everywhere (numpy walker or per-payload decoder,
    whichever the shape picks), ``impl='jvm_dynamic'`` for every message
    with a finite descriptor shape (not recursive, no Struct field)."""
    reg = default_registry()
    rng = _random.Random(message)
    jvm = (W.jvm_dynamic_available(spark)
           and message not in ("unicorn", "human", "send_json_request"))
    for pv in (3, 2) if message in _PB2_MESSAGES else (3,):
        values = [_sample_message(reg, message, pv, rng) for _ in range(6)]
        df = spark.createDataFrame(
            list(enumerate(values)),
            T.StructType([T.StructField("i", T.LongType()),
                          T.StructField("v", _message_input_type(
                              reg, message, pv))]))
        enc = df.select("i", "v", W.encode_message(F.col("v"), message,
                                                   reg, pv).alias("payload"))
        dec = W.decode_message(enc, "payload", message, reg, pv) \
            .withColumnRenamed("decoded", "arrow")
        impls = ["arrow"]
        if jvm:
            dec = W.decode_message(dec, "payload", message, reg, pv,
                                   impl="jvm_dynamic") \
                .withColumnRenamed("decoded", "jvm")
            impls.append("jvm")
        rows = {r["i"]: r for r in dec.select(
            "i", "v", "payload", *impls).collect()}
        assert len(rows) == len(values)
        for i in range(len(values)):
            # the value as Spark holds it (a map's entry order is Spark's)
            v = rows[i]["v"].asDict(recursive=True)
            raw = W.py_encode(v, reg, message, pv)
            assert bytes(rows[i]["payload"]) == raw, (pv, v)
            want = _canon_py(reg, message, W.py_decode(raw, reg, message, pv),
                             depth=3)
            for impl in impls:
                got = _canon_spark(rows[i][impl].asDict(recursive=True))
                assert got.pop("error") is None, (pv, impl, v)
                assert got == want, (pv, impl, v)
