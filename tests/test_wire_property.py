"""Property-based wire-format round trips: pure-Python, no Spark session —
hypothesis drives the varint/zigzag/length-delimited grammar over the whole
value space (the reference's round-trip oracle pattern,
spec/codecs/pb3_encode_spec.rb:25-41, generalized to generated messages)."""

from __future__ import annotations

from hypothesis import example, given, settings, strategies as st

from logstash_codec_protobuf_spark.functions.wire import (
    py_field_len, py_field_sint, py_field_string, py_field_varint, py_unzigzag,
    py_varint, py_zigzag,
)
from logstash_codec_protobuf_spark.operators import pb_wire as W
from logstash_codec_protobuf_spark.schema import default_registry

REG = default_registry()

u64 = st.integers(min_value=0, max_value=2**64 - 1)
i64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
i32 = st.integers(min_value=0, max_value=2**31 - 1)


@given(u64)
@settings(max_examples=300)
def test_varint_roundtrip_u64(n):
    buf = py_varint(n)
    assert 1 <= len(buf) <= 10
    got, pos = W.read_varint(buf, 0)
    assert got == n and pos == len(buf)


@given(i64)
@settings(max_examples=300)
def test_zigzag_roundtrip_i64(n):
    z = py_zigzag(n)
    assert 0 <= z <= 2**64 - 1
    assert py_unzigzag(z) == n


@given(i64)
@settings(max_examples=200)
def test_negative_int64_two_complement_roundtrip(n):
    """int64 fields ride negatives as 10-byte two's-complement varints."""
    buf = py_varint(n)
    raw, _ = W.read_varint(buf, 0)
    assert W._varint_value(raw, "int64") == n


turn_values = st.fixed_dictionaries({
    "conv_id": st.text(min_size=0, max_size=20),
    "turn_idx": i32,
    "role": st.text(max_size=8),
    "tool": st.text(max_size=8),
    "colour": st.integers(min_value=0, max_value=6),
    "cents": i64,
    "body_type": st.sampled_from(["unicorn", "pegasus", None]),
    "horn": st.integers(min_value=0, max_value=2**31 - 1),
    "wings": st.integers(min_value=0, max_value=2**31 - 1),
    "msg": st.text(max_size=30),
})


@given(turn_values)
@settings(max_examples=200, deadline=None)
def test_turn_wire_roundtrip_property(v):
    """decode(encode(turn)) reproduces every field under proto3 presence
    rules: omitted-at-default scalars come back as defaults, the chosen oneof
    member survives even at 0, the loser is None."""
    d = W.py_decode(W.py_encode_turn(v), REG, "turn_wire")
    assert d["conv_id"] == v["conv_id"]
    assert d["turn_idx"] == v["turn_idx"]
    assert d["role"] == v["role"] and d["tool"] == v["tool"]
    assert d["cents"] == v["cents"]
    assert d["msg"] == v["msg"]
    name = REG.enums["Colour"].name_of(v["colour"])
    assert d["colour"] == name
    if v["body_type"] == "unicorn":
        assert d["horn"] == v["horn"] and d["wings"] is None
        assert d["_pb_oneof"] == {"body": "horn"}
    elif v["body_type"] == "pegasus":
        assert d["wings"] == v["wings"] and d["horn"] is None
        assert d["_pb_oneof"] == {"body": "wings"}
    else:
        assert d["horn"] is None and d["wings"] is None
        assert d["_pb_oneof"] == {}


@given(st.lists(st.tuples(st.integers(min_value=1, max_value=200), u64),
                max_size=12))
@settings(max_examples=150)
def test_unknown_varint_fields_always_skipped(fields):
    """A message carrying ONLY unknown varint fields decodes to all-defaults
    (forward compatibility, whatever the field numbers/values)."""
    buf = b"".join(
        py_field_varint(num, val) for num, val in fields
        if num not in {1, 2, 3, 4, 5, 6, 8, 9, 10}
    )
    d = W.py_decode(buf, REG, "turn_wire")
    assert d["conv_id"] == "" and d["turn_idx"] == 0


@given(st.binary(max_size=64), u64, st.integers(min_value=0, max_value=2**32 - 1))
@settings(max_examples=200)
def test_dns_bytes_and_uint64_roundtrip(payload, ident, rc):
    buf = py_field_varint(1, ident)
    if rc:
        buf += py_field_varint(2, rc)
    if payload:
        buf += py_field_len(5, payload)
    d = W.py_decode(buf, REG, "dns_message")
    assert d["id"] == ident
    assert d["response_code"] == rc
    assert d["payload"] == payload


@given(st.binary(min_size=1, max_size=40))
@settings(max_examples=300)
def test_random_bytes_never_crash_decoder(junk):
    """Arbitrary bytes either decode (if they accidentally form valid wire
    format) or raise the dead-letter ValueError — never any other exception."""
    try:
        W.py_decode(junk, REG, "turn_wire")
    except ValueError as e:
        assert "wire format" in str(e)


@given(st.text(max_size=30))
@settings(max_examples=200)
def test_string_field_utf8_roundtrip(s):
    buf = py_field_string(10, s) if s else b""
    d = W.py_decode(buf, REG, "turn_wire")
    assert d["msg"] == s


@given(st.lists(st.integers(min_value=-(2**31), max_value=2**31 - 1),
                min_size=1, max_size=10))
@settings(max_examples=150)
def test_sint_field_roundtrip(vals):
    """sint64 zigzag round trip across sign boundaries."""
    for v in vals:
        buf = py_field_sint(6, v)
        d = W.py_decode(buf, REG, "turn_wire")
        assert d["cents"] == v


# ---------------------------------------------------------------------------
# round-3 surfaces: float/double, Struct, depth-3 recursion
# ---------------------------------------------------------------------------

finite_doubles = st.floats(allow_nan=False, allow_infinity=False)


@given(finite_doubles)
@settings(max_examples=300)
def test_double_field_bit_exact_roundtrip(x):
    """fixed64 IEEE doubles round-trip bit-exactly through the wire."""
    from logstash_codec_protobuf_spark.functions.wire import py_field_double

    buf = py_field_double(3, x)  # ping_ipv4_result.latency
    d = W.py_decode(buf, REG, "ping_ipv4_result")
    got = d["latency"]
    assert got == x or (got == 0.0 and x == 0.0)  # -0.0 == 0.0 is fine


@given(st.floats(allow_nan=False, allow_infinity=False, width=32))
@settings(max_examples=300)
def test_float_field_bit_exact_roundtrip(x):
    """fixed32 floats: any float32-representable value survives exactly."""
    from logstash_codec_protobuf_spark.functions.wire import py_field_float

    buf = py_field_float(2, x)  # user_agent.major
    d = W.py_decode(buf, REG, "user_agent")
    assert d["major"] == x


json_values = st.recursive(
    st.none() | st.booleans()
    | st.floats(allow_nan=False, allow_infinity=False)
    | st.text(max_size=12),
    lambda children: st.lists(children, max_size=4)
    | st.dictionaries(st.text(max_size=8), children, max_size=4),
    max_leaves=12,
)


@given(st.dictionaries(st.text(max_size=8), json_values, max_size=5))
@settings(max_examples=200, deadline=None)
def test_struct_roundtrip_property(details):
    """Any JSON-shaped dict survives Struct encode -> wire -> decode, with
    ints coerced to doubles (the Struct number_value rule) and duplicate
    keys impossible by construction."""
    import json

    from logstash_codec_protobuf_spark.functions.wire import (
        py_field_len, py_field_string, py_struct,
    )

    raw = py_field_string(1, "u") + py_field_len(2, py_struct(details))
    d = W.py_decode(raw, REG, "send_json_request")
    got = json.loads(d["details"])

    def canon(v):
        if isinstance(v, bool) or v is None or isinstance(v, str):
            return v
        if isinstance(v, (int, float)):
            return float(v)
        if isinstance(v, list):
            return [canon(x) for x in v]
        return {k: canon(x) for k, x in v.items()}

    assert got == canon(details)


@given(st.text(max_size=10), st.text(max_size=10), st.text(max_size=10),
       st.integers(min_value=0, max_value=120))
@settings(max_examples=150)
def test_human_lineage_roundtrip_property(me, mom, grandma, age):
    from logstash_codec_protobuf_spark.functions.wire import (
        py_field_len, py_field_string, py_field_varint,
    )

    gm = py_field_string(1, grandma) + py_field_varint(6, age)
    mother = py_field_string(1, mom) + py_field_len(4, gm)
    raw = py_field_string(1, me) + py_field_len(4, mother)
    d = W.py_decode(raw, REG, "human", proto_version=2)
    assert d["first_name"] == me
    assert d["mother"]["first_name"] == mom
    assert d["mother"]["mother"]["first_name"] == grandma
    assert d["mother"]["mother"]["age"] == age


# ---------------------------------------------------------------------------
# generic registry-driven encoder (py_encode) against the wire parser
# ---------------------------------------------------------------------------

unicorn_values = st.fixed_dictionaries({
    "name": st.text(max_size=12),
    "age": st.integers(min_value=0, max_value=500),
    "fur_colour": st.integers(min_value=0, max_value=6),
    "favourite_colours": st.lists(
        st.integers(min_value=0, max_value=6), max_size=5),
    "favourite_numbers": st.lists(
        st.integers(min_value=0, max_value=2**31 - 1), max_size=5),
    "is_pegasus": st.booleans(),
})


@given(unicorn_values)
@settings(max_examples=200, deadline=None)
def test_generic_encoder_unicorn_roundtrip(v):
    """py_encode (generic, registry-driven) -> py_decode reproduces every
    field incl. PACKED repeated enums/ints and a nested mother message."""
    value = dict(v)
    value["mother"] = {"name": "mom", "age": 3}
    raw = W.py_encode(value, REG, "unicorn")
    d = W.py_decode(raw, REG, "unicorn")
    assert d["name"] == v["name"] and d["age"] == v["age"]
    assert d["fur_colour"] == REG.enums["Colour"].name_of(v["fur_colour"])
    assert d["favourite_colours"] == [
        REG.enums["Colour"].name_of(c) for c in v["favourite_colours"]]
    assert d["favourite_numbers"] == v["favourite_numbers"]
    assert d["is_pegasus"] == v["is_pegasus"]
    assert d["mother"]["name"] == "mom" and d["mother"]["age"] == 3


@given(st.dictionaries(st.text(min_size=1, max_size=8),
                       st.integers(min_value=0, max_value=2**31 - 1),
                       max_size=6))
@settings(max_examples=150)
def test_generic_encoder_map_roundtrip(m):
    raw = W.py_encode({"name": "n", "phone_numbers": m}, REG, "contact")
    d = W.py_decode(raw, REG, "contact")
    assert d["phone_numbers"] == m


def test_generic_encoder_matches_handwritten_turn():
    """The generic encoder must emit byte-identical wire to the
    hand-written turn encoder for non-oneof fields."""
    v = {"conv_id": "c9", "turn_idx": 7, "role": "user", "tool": "sql",
         "colour": 2, "cents": -55, "msg": "hello"}
    generic = W.py_encode(v, REG, "turn_wire")
    hand = W.py_encode_turn(dict(v, body_type=None))
    assert generic == hand


def test_generic_encoder_oneof_default_winner():
    """oneof members are emitted even at 0 when present (chosen-member
    rule); absent members are omitted."""
    raw = W.py_encode({"conv_id": "c", "horn": 0}, REG, "turn_wire")
    d = W.py_decode(raw, REG, "turn_wire")
    assert d["horn"] == 0 and d["wings"] is None
    assert d["_pb_oneof"] == {"body": "horn"}


# ---------------------------------------------------------------------------
# fast-path vs naive-path decode fuzz (round-4 verdict item 7)
# ---------------------------------------------------------------------------
#
# The r4 interpreter micro-optimizations (single-byte varint inlining, the
# precomputed row template with container-ctor sentinels) changed py_decode's
# innermost loop AFTER its last driver check. This reference decoder is the
# deliberately naive spec transcription — no fast paths, fresh dict built
# per call, read_varint always — and hypothesis drives both over randomized
# multi-field payloads covering every wire type, unknown field numbers,
# wrong-wire-type records, packed repeats, nested garbage, and truncations.
# Contract: identical dict, or both raise ValueError(WIRE_ERROR).

import json as _json
import math
import struct as _struct

from logstash_codec_protobuf_spark.schema import _SCALAR_DEFAULTS


def _naive_typed_varint(v, ftype, registry, proto_version):
    if ftype.startswith("enum:"):
        code = ((v & 0xFFFFFFFF) ^ 0x80000000) - 0x80000000  # int32 truncate
        if proto_version == 2:
            return code
        name = registry.enums[ftype[5:]].name_of(code)
        return name if name is not None else str(code)
    if ftype in ("sint32", "sint64"):
        return py_unzigzag(v)
    if ftype == "bool":
        return v != 0
    if ftype in ("int32", "int64") and v >= 1 << 63:
        return v - (1 << 64)
    return v


def naive_decode(buf, registry, message, proto_version=3, depth=4):
    if depth <= 0:
        raise ValueError(W.WIRE_ERROR)
    spec = registry.messages[message]
    by_num = dict(spec.wire_fields())
    out = {}
    for f in spec.fields:
        if f.repeated:
            out[f.name] = []
        elif f.type.startswith("map<"):
            out[f.name] = {}
        elif f.oneof or f.type == "struct" or f.type.startswith("message:"):
            out[f.name] = None
        elif f.type.startswith("enum:"):
            e = registry.enums[f.type[5:]]
            out[f.name] = e.default_name if proto_version == 3 else 0
        else:
            out[f.name] = _SCALAR_DEFAULTS[f.type]
    chosen = {}
    pos, n = 0, len(buf)
    while pos < n:
        tag, pos = W.read_varint(buf, pos)
        fnum, wt = tag >> 3, tag & 7
        if fnum == 0:
            raise ValueError(W.WIRE_ERROR)
        if wt == 0:
            raw, pos = W.read_varint(buf, pos)
            data = None
        elif wt == 1:
            if pos + 8 > n:
                raise ValueError(W.WIRE_ERROR)
            data, pos = buf[pos:pos + 8], pos + 8
        elif wt == 5:
            if pos + 4 > n:
                raise ValueError(W.WIRE_ERROR)
            data, pos = buf[pos:pos + 4], pos + 4
        elif wt == 2:
            ln, pos = W.read_varint(buf, pos)
            if pos + ln > n:
                raise ValueError(W.WIRE_ERROR)
            data, pos = buf[pos:pos + ln], pos + ln
        else:
            raise ValueError(W.WIRE_ERROR)
        f = by_num.get(fnum)
        if f is None:
            continue
        if wt == 0:
            if W._scalar_kind(f.type) != "varint":
                raise ValueError(W.WIRE_ERROR)
            val = _naive_typed_varint(raw, f.type, registry, proto_version)
            if f.repeated:
                out[f.name].append(val)
            else:
                out[f.name] = val
        elif wt == 1:
            if f.type != "double":
                continue
            val = _struct.unpack("<d", data)[0]
            if f.repeated:
                out[f.name].append(val)
            else:
                out[f.name] = val
        elif wt == 5:
            if f.type != "float":
                continue
            val = _struct.unpack("<f", data)[0]
            if f.repeated:
                out[f.name].append(val)
            else:
                out[f.name] = val
        else:
            if f.type == "string":
                try:
                    val = data.decode("utf-8")
                except UnicodeDecodeError as e:
                    raise ValueError(W.WIRE_ERROR) from e
            elif f.type == "bytes":
                val = data
            elif f.type == "struct":
                val = _json.dumps(W._decode_struct(data), sort_keys=True,
                                  separators=(",", ":"))
            elif f.type.startswith("message:"):
                val = naive_decode(data, registry, f.type[8:], proto_version,
                                   depth - 1)
            elif f.type.startswith("map<"):
                k, v = (t.strip() for t in f.type[4:-1].split(",", 1))
                out[f.name].update(
                    W._decode_map_entry(data, k, v, registry, proto_version))
                continue
            elif f.repeated and W._scalar_kind(f.type) in (
                    "varint", "fixed32", "fixed64"):
                out[f.name].extend(
                    W._decode_packed(data, f.type, registry, proto_version))
                continue
            else:
                raise ValueError(W.WIRE_ERROR)
            if f.repeated:
                out[f.name].append(val)
            else:
                out[f.name] = val
        if f.oneof:
            prev = chosen.get(f.oneof)
            if prev is not None and prev != f.name:
                out[prev] = None
            chosen[f.oneof] = f.name
    out["_pb_oneof"] = chosen
    return out


def _nan_norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, dict):
        return {k: _nan_norm(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_nan_norm(x) for x in v]
    return v


_utf8ish = st.one_of(
    st.text(max_size=12).map(lambda s: s.encode("utf-8")),
    st.binary(max_size=12),
)


def _record(fnum, wt, payload):
    return py_varint((fnum << 3) | wt) + payload


_token = st.one_of(
    # varint record (valid or unknown field, any value incl. 10-byte)
    st.tuples(st.integers(1, 14), st.just(0),
              st.integers(0, 2**64 - 1)).map(
        lambda t: _record(t[0], t[1], py_varint(t[2]))),
    # fixed64 / fixed32
    st.tuples(st.integers(1, 14), st.binary(min_size=8, max_size=8)).map(
        lambda t: _record(t[0], 1, t[1])),
    st.tuples(st.integers(1, 14), st.binary(min_size=4, max_size=4)).map(
        lambda t: _record(t[0], 5, t[1])),
    # length-delimited: utf-8 text, raw bytes (nested garbage / packed)
    st.tuples(st.integers(1, 14), _utf8ish).map(
        lambda t: _record(t[0], 2, py_varint(len(t[1])) + t[1])),
    # illegal wire types 3/4/6/7
    st.tuples(st.integers(1, 14), st.sampled_from([3, 4, 6, 7])).map(
        lambda t: _record(t[0], t[1], b"")),
)

_payload = st.lists(_token, max_size=8).map(b"".join)


@st.composite
def _fuzz_case(draw):
    buf = draw(_payload)
    # sometimes truncate mid-record: both decoders must fail identically
    if draw(st.booleans()) and buf:
        buf = buf[:draw(st.integers(0, len(buf) - 1))]
    msg = draw(st.sampled_from(
        ["turn_wire", "unicorn", "contact", "dns_message",
         "ping_ipv4_result", "user_agent", "send_json_request"]))
    pv = draw(st.sampled_from([3, 3, 3, 2]))
    return buf, msg, pv


@given(_fuzz_case())
@settings(max_examples=1500, deadline=None)
def test_fast_decode_matches_naive_decode_on_fuzzed_payloads(case):
    buf, msg, pv = case
    try:
        fast = W.py_decode(buf, REG, msg, proto_version=pv)
        fast_err = None
    except ValueError as e:
        fast, fast_err = None, str(e)
    try:
        naive = naive_decode(buf, REG, msg, proto_version=pv)
        naive_err = None
    except ValueError as e:
        naive, naive_err = None, str(e)
    assert (fast_err is None) == (naive_err is None), \
        (buf.hex(), msg, pv, fast_err, naive_err, fast, naive)
    if fast_err is None:
        assert _nan_norm(fast) == _nan_norm(naive), (buf.hex(), msg, pv)
    else:
        assert fast_err == naive_err == W.WIRE_ERROR


def test_decode_plan_template_never_aliases_containers():
    """The precomputed row template uses list/dict ctor sentinels — two
    decodes must never share a container object (an aliasing bug would
    accumulate repeated values across payloads)."""
    buf = py_varint((5 << 3) | 0) + py_varint(3)  # unicorn.favourite_numbers
    a = W.py_decode(buf, REG, "unicorn")
    b = W.py_decode(b"", REG, "unicorn")
    assert a["favourite_numbers"] == [3]
    assert b["favourite_numbers"] == []
    assert a["favourite_numbers"] is not b["favourite_numbers"]


def _sensor_registry():
    """A message with repeated double/float fields — absent from the built-in
    fixture registry, present here so the fuzz covers the repeated-fixed
    decode class (unpacked records must APPEND; packed blobs must split)."""
    from logstash_codec_protobuf_spark.schema import (
        FieldSpec, MessageSpec, SchemaRegistry,
    )

    reg = SchemaRegistry()
    reg.register_message(MessageSpec("sensor", (
        FieldSpec("name", "string"),
        FieldSpec("readings", "double", repeated=True),
        FieldSpec("gains", "float", repeated=True),
        FieldSpec("bias", "double"),
    )))
    return reg


SENSOR_REG = _sensor_registry()


def test_repeated_fixed_fields_append_unpacked_and_split_packed():
    """proto3 spec: a repeated double/float field may arrive as N unpacked
    wt=1/5 records (proto2 writers, forward compat) or one packed wt=2 blob
    — both decode to the full list, never a last-value clobber."""
    unpacked = (
        _record(2, 1, _struct.pack("<d", 1.5))
        + _record(3, 5, _struct.pack("<f", 0.25))
        + _record(2, 1, _struct.pack("<d", -2.0))
        + _record(3, 5, _struct.pack("<f", 4.0))
        + _record(4, 1, _struct.pack("<d", 9.0))
    )
    d = W.py_decode(unpacked, SENSOR_REG, "sensor")
    assert d["readings"] == [1.5, -2.0]
    assert d["gains"] == [0.25, 4.0]
    assert d["bias"] == 9.0

    packed = (
        _record(2, 2, py_varint(16) + _struct.pack("<dd", 1.5, -2.0))
        + _record(3, 2, py_varint(8) + _struct.pack("<ff", 0.25, 4.0))
    )
    p = W.py_decode(packed, SENSOR_REG, "sensor")
    assert p["readings"] == [1.5, -2.0]
    assert p["gains"] == [0.25, 4.0]

    # ragged packed blob (len not a multiple of the element width) is a
    # wire error, identically in the naive reference
    ragged = _record(2, 2, py_varint(9) + b"\x00" * 9)
    for dec in (lambda b: W.py_decode(b, SENSOR_REG, "sensor"),
                lambda b: naive_decode(b, SENSOR_REG, "sensor")):
        try:
            dec(ragged)
            raise AssertionError("ragged packed blob must be a wire error")
        except ValueError as e:
            assert str(e) == W.WIRE_ERROR


@given(_payload, st.booleans())
@settings(max_examples=500, deadline=None)
def test_fast_decode_matches_naive_on_repeated_fixed_message(buf, trunc):
    if trunc and buf:
        buf = buf[: len(buf) // 2]
    try:
        fast, fast_err = W.py_decode(buf, SENSOR_REG, "sensor"), None
    except ValueError as e:
        fast, fast_err = None, str(e)
    try:
        naive, naive_err = naive_decode(buf, SENSOR_REG, "sensor"), None
    except ValueError as e:
        naive, naive_err = None, str(e)
    assert (fast_err is None) == (naive_err is None), (buf.hex(), fast_err,
                                                      naive_err)
    if fast_err is None:
        assert _nan_norm(fast) == _nan_norm(naive), buf.hex()


# ---------------------------------------------------------------------------
# the flat (numpy) decoder vs the row decoder, batch for batch: the flat
# batch function (the walker, its hand-off rows re-decoded by the row
# decoder and put back in place) must equal the row decoder's batch function
# (py_decode per payload) on the same BinaryArray, NaN equal to NaN —
# including the error and int64-representability boundaries.
# ---------------------------------------------------------------------------

import functools as _functools

import pyarrow as _pa
from pyspark.sql.pandas.types import to_arrow_type

from logstash_codec_protobuf_spark.operators.pb_wire_vec import (
    build_flat_plan, flat_decode,
)


# a varint past uint64: ten bytes, the last one > 1
_PAST_U64 = b"\xff" * 9 + b"\x7f"


def _fx(num: int, wt: int, data: bytes) -> bytes:
    return bytes([(num << 3) | wt]) + data


@_functools.cache
def _decoders(message, proto_version=3, reg=REG):
    """(flat batch function, row batch function, plan, Arrow type) of the
    decoded struct of ``message``, as ``decode_message`` builds them."""
    schema = W._with_error(W.decoded_schema(reg, message, proto_version,
                                            W.MAX_RECURSION_DEPTH))
    rows = W._row_decode_batch(reg, message, proto_version, schema)
    plan = build_flat_plan(reg, message, proto_version)
    assert plan is not None, message  # the walker owns this shape
    return (W._flat_decode_batch(plan, schema, rows), rows, plan,
            to_arrow_type(schema))


def _assert_batch_parity(payloads, message="turn_wire", proto_version=3,
                         reg=REG):
    """Both batch functions over one BinaryArray of ``payloads``; returns
    the flat batch as Python rows."""
    flat, rows = _decoders(message, proto_version, reg)[:2]
    batch = _pa.array(payloads, _pa.binary())
    got, want = flat(batch).to_pylist(), rows(batch).to_pylist()
    assert len(got) == len(want) == len(payloads)
    for i, p in enumerate(payloads):
        assert _nan_norm(got[i]) == _nan_norm(want[i]), (
            f"row {i}: flat={got[i]!r} rows={want[i]!r} payload={p!r}")
    return got


@given(st.lists(turn_values, min_size=1, max_size=8))
@settings(max_examples=100, deadline=None)
def test_vector_decoder_matches_scalar_on_encoded_turns(vs):
    _assert_batch_parity([W.py_encode_turn(v) for v in vs])


@given(st.lists(st.one_of(st.none(), st.binary(max_size=40)),
                min_size=1, max_size=16))
@settings(max_examples=200, deadline=None)
def test_vector_decoder_matches_scalar_on_junk(bufs):
    """Arbitrary byte soup: both decoders must agree row-for-row on decode
    vs dead-letter, for pb3 AND pb2 dialects."""
    _assert_batch_parity(bufs, proto_version=3)
    _assert_batch_parity(bufs, proto_version=2)


# wire-shaped generator: records with valid tags for the turn schema plus
# unknown fields — much denser coverage of the decoder's branch space than
# uniform junk (mirrors the naive_decode fuzz above)
_known_varint = st.sampled_from([2, 5, 6, 8, 9])
_known_string = st.sampled_from([1, 3, 4, 10])
_turnrec = st.one_of(
    st.tuples(_known_varint, u64).map(lambda t: py_field_varint(*t)),
    st.tuples(_known_string, st.binary(max_size=12)).map(
        lambda t: py_field_len(t[0], t[1])),
    st.tuples(st.integers(min_value=11, max_value=99), u64).map(
        lambda t: py_field_varint(*t)),          # unknown varint field
    st.tuples(_known_varint, st.binary(max_size=6)).map(
        lambda t: py_field_len(*t)),             # wt2 on scalar: WIRE_ERROR
    st.binary(min_size=1, max_size=6),           # raw splice (may truncate)
)


@given(st.lists(st.lists(_turnrec, max_size=9).map(b"".join),
                min_size=1, max_size=12))
@settings(max_examples=300, deadline=None)
# varints past uint64 on every varint field kind: int32 wraps to 32 bits,
# the sint64 value does not fit its LONG column (a dead-letter), the enum
# code wraps to int32
@example([_fx(k, 0, _PAST_U64) for k in (2, 5, 6, 8)])
def test_vector_decoder_matches_scalar_on_wire_shaped(payloads):
    _assert_batch_parity(payloads, proto_version=3)
    _assert_batch_parity(payloads, proto_version=2)

# ---------------------------------------------------------------------------
# string member inside a oneof (no such shape in turn_wire): a string that
# LOSES the oneof must still get its UTF-8 validated — py_decode validates
# every occurrence in wire order, so the walker hands losers off to the row
# decoder
# ---------------------------------------------------------------------------

import pytest

from logstash_codec_protobuf_spark.schema import (
    FieldSpec, MessageSpec, SchemaRegistry,
)

_OF_REG = SchemaRegistry()
_OF_REG.register_message(MessageSpec("of_str", (
    FieldSpec("a", "string", oneof="pick", number=1),
    FieldSpec("b", "int64", oneof="pick", number=2),
    FieldSpec("tag", "string", number=3),
)))
_BAD_UTF8 = b"\xff\xfe"


def test_oneof_string_loser_still_utf8_validated():
    p_invalid_then_b = py_field_len(1, _BAD_UTF8) + py_field_varint(2, 7)
    p_valid_then_b = py_field_string(1, "hi") + py_field_varint(2, 7)
    p_invalid_b_revalid = (py_field_len(1, _BAD_UTF8) + py_field_varint(2, 7)
                           + py_field_string(1, "ok"))
    p_valid_only = py_field_string(1, "solo")
    f = _assert_batch_parity([p_invalid_then_b, p_valid_then_b,
                              p_invalid_b_revalid, p_valid_only],
                             "of_str", reg=_OF_REG)
    # py_decode parity: the invalid LOSER dead-letters the row
    with pytest.raises(ValueError):
        W.py_decode(p_invalid_then_b, _OF_REG, "of_str")
    assert f[0]["error"] == W.WIRE_ERROR and f[0]["a"] is None
    # a valid loser: row decodes, b wins, a is nulled
    d1 = W.py_decode(p_valid_then_b, _OF_REG, "of_str")
    assert d1 == {"a": None, "b": 7, "tag": "", "_pb_oneof": {"pick": "b"}}
    assert f[1] == {"a": None, "b": 7, "tag": "", "oneof_pick": "b",
                    "error": None}
    # re-occurrence after a sibling win: earlier invalid bytes still error
    with pytest.raises(ValueError):
        W.py_decode(p_invalid_b_revalid, _OF_REG, "of_str")
    assert f[2]["error"] == W.WIRE_ERROR
    # control: plain valid string decodes on the fast path
    assert f[3] == {"a": "solo", "b": None, "tag": "", "oneof_pick": "a",
                    "error": None}


@given(st.lists(st.one_of(
    st.tuples(st.just(1), st.binary(max_size=8)).map(
        lambda t: py_field_len(*t)),
    st.tuples(st.just(3), st.binary(max_size=8)).map(
        lambda t: py_field_len(*t)),
    st.tuples(st.just(2), u64).map(lambda t: py_field_varint(*t)),
), max_size=8).map(b"".join))
@settings(max_examples=300, deadline=None)
def test_oneof_string_loser_fuzz_matches_py_decode(buf):
    """Random interleavings of oneof string/varint members + a plain string:
    the flat and row decoders agree on decode vs dead-letter and values."""
    _assert_batch_parity([buf], "of_str", reg=_OF_REG)

# ---------------------------------------------------------------------------
# one NESTING level + fixed32/64 floats in the walker — probe_result.task
# (singular nested message; rum_pb.rb ProbeResult shape) and user_agent's
# non-contiguous fixed32 floats, including sub-level wire errors (which kill
# the parent row), duplicate submessages (last wins), presence vs empty, and
# >uint64 varint hand-offs at either level.
# ---------------------------------------------------------------------------


_subrec = st.one_of(
    st.tuples(st.just(2), u64).map(lambda t: py_field_varint(*t)),  # status
    st.binary(min_size=8, max_size=8).map(lambda b: _fx(3, 1, b)),  # latency
    st.tuples(st.sampled_from([4, 5, 6]), st.binary(max_size=8)).map(
        lambda t: py_field_len(*t)),                                # strings
    st.tuples(st.just(3), st.binary(max_size=6)).map(
        lambda t: py_field_len(*t)),            # wt2 on double: WIRE_ERROR
    st.binary(min_size=1, max_size=5),          # raw splice (may truncate)
)

_proberec = st.one_of(
    st.tuples(st.just(1), st.binary(max_size=10)).map(
        lambda t: py_field_len(*t)),                                # uuid
    st.lists(_subrec, max_size=5).map(
        lambda rs: py_field_len(2, b"".join(rs))),                  # task
    st.tuples(st.just(2), u64).map(
        lambda t: py_field_varint(*t)),         # varint on task: WIRE_ERROR
    st.binary(min_size=8, max_size=8).map(lambda b: _fx(1, 1, b)),  # skip
    st.binary(min_size=4, max_size=4).map(lambda b: _fx(9, 5, b)),  # unknown
    st.binary(min_size=1, max_size=6),
)


@given(st.lists(st.one_of(
    st.none(),
    st.lists(_proberec, max_size=6).map(b"".join)),
    min_size=1, max_size=10))
@settings(max_examples=300, deadline=None)
def test_vector_decoder_matches_scalar_on_nested_probe(payloads):
    _assert_batch_parity(payloads, "probe_result")


_uarec = st.one_of(
    st.tuples(st.sampled_from([1, 3, 7]), st.binary(max_size=8)).map(
        lambda t: py_field_len(*t)),                              # strings
    st.binary(min_size=4, max_size=4).map(lambda b: _fx(2, 5, b)),  # major
    st.binary(min_size=4, max_size=4).map(lambda b: _fx(4, 5, b)),  # minor
    st.binary(min_size=8, max_size=8).map(lambda b: _fx(2, 1, b)),  # skip
    st.tuples(st.just(4), u64).map(
        lambda t: py_field_varint(*t)),        # varint on float: WIRE_ERROR
    st.binary(min_size=1, max_size=5),
)


@given(st.lists(st.lists(_uarec, max_size=6).map(b"".join),
                min_size=1, max_size=10))
@settings(max_examples=300, deadline=None)
def test_vector_decoder_matches_scalar_on_fixed32_floats(payloads):
    _assert_batch_parity(payloads, "user_agent")


# ---------------------------------------------------------------------------
# one fixed batch with every hand-off class between fast-path rows, at both
# levels: each handed-off row must come back at its own position
# ---------------------------------------------------------------------------

# a uint32 value >= 2^63: fits the varint, not the int64 column
_U32_HIGH = py_varint(1 << 63)

_OF_REG.register_message(MessageSpec("ho_inner", (
    FieldSpec("a", "string", oneof="pick", number=1),
    FieldSpec("b", "int64", oneof="pick", number=2),
    FieldSpec("u", "uint32", number=3),
    FieldSpec("s", "string", number=4),
)))
_OF_REG.register_message(MessageSpec("ho_outer", (
    FieldSpec("a", "string", oneof="pick", number=1),
    FieldSpec("b", "int64", oneof="pick", number=2),
    FieldSpec("u", "uint32", number=3),
    FieldSpec("s", "string", number=4),
    FieldSpec("sub", "message:ho_inner", number=5),
)))


def _assert_handoffs_in_place(message, reg, cases):
    """``cases``: (payload, handed off?) in batch order. The walker must hand
    off exactly the flagged rows, and the flat batch must equal the row
    decoder's at every position (each row decodes to a distinct value, so a
    row put back at the wrong index fails)."""
    payloads = [p for p, _ in cases]
    _, rows, plan, atype = _decoders(message, 3, reg)
    _, handoff = flat_decode(_pa.array(payloads, _pa.binary()), plan, atype)
    assert [bool(h) for h in handoff] == [h for _, h in cases]
    got = _assert_batch_parity(payloads, message, reg=reg)
    decoded = [repr(_nan_norm(r)) for r in got if r["error"] is None]
    assert len(set(decoded)) == len(decoded)
    for i, p in enumerate(payloads):
        alone = rows(_pa.array([p], _pa.binary())).to_pylist()[0]
        assert _nan_norm(got[i]) == _nan_norm(alone), i


def test_flat_decoder_puts_every_handoff_back_in_place_probe_result():
    def task(i, *recs):
        return py_field_len(2, py_field_string(4, f"10.0.0.{i}")
                            + b"".join(recs))

    def uuid(i):
        return py_field_string(1, f"r{i}")

    ok = py_field_varint(2, 1) + _fx(3, 1, _struct.pack("<d", 2.5))
    _assert_handoffs_in_place("probe_result", REG, [
        (uuid(0) + task(0, ok), False),
        (py_field_string(1, "x") + uuid(1) + task(1), True),  # dup string
        (uuid(2), False),                                   # absent task
        (uuid(3) + task(30) + task(3, ok), True),           # dup message
        (None, False),                                      # dead-letter
        (uuid(5) + py_field_len(2, b""), False),            # empty task
        (uuid(6) + _fx(9, 0, _PAST_U64) + task(6), True),   # unknown > u64
        (b"\x0a\x05r7", False),                             # overrun length
        (uuid(8) + task(8, _fx(2, 0, _PAST_U64)), True),    # sub > u64
        (uuid(9) + task(9, py_field_string(5, "a"),
                        py_field_string(5, "b")), True),    # sub dup string
        (uuid(10) + task(10, _fx(3, 1, _struct.pack("<d", math.nan))),
         False),
        (uuid(11) + task(11, py_field_len(6, _BAD_UTF8)), False),
    ])


def test_flat_decoder_puts_every_handoff_back_in_place_oneof_uint32():
    def inner(i, *recs):
        return py_field_len(5, py_field_string(4, f"in{i}") + b"".join(recs))

    def s(i):
        return py_field_string(4, f"r{i}")

    _assert_handoffs_in_place("ho_outer", _OF_REG, [
        (s(0) + py_field_string(1, "x") + inner(0), False),
        (s(1) + py_field_string(1, "x") + py_field_varint(2, 1), True),
        (s(2) + _fx(3, 0, _U32_HIGH), True),              # uint32 >= 2^63
        (s(3) + py_field_varint(3, (1 << 63) - 1), False),  # largest fit
        (s(4) + inner(4, py_field_string(1, "y"), py_field_varint(2, 4)),
         True),                                           # sub oneof loser
        (s(5) + inner(5, py_field_varint(2, 5), py_field_string(1, "z")),
         False),                                          # string wins
        (s(6) + inner(6, _fx(3, 0, _U32_HIGH)), True),    # sub uint32
        (s(7) + py_field_len(1, _BAD_UTF8) + py_field_varint(2, 7), True),
        (s(8) + inner(8, py_field_varint(3, 1 << 40)), False),
    ])


# ---------------------------------------------------------------------------
# Arrow encode kernel == py_encode_turn == DuckDB turn_wire_hex, no Spark:
# the kernel is called directly on pyarrow batches
# ---------------------------------------------------------------------------

import duckdb as _duckdb

from logstash_codec_protobuf_spark.functions.portable import DUCK

_ENC_TYPES = {
    "conv_id": _pa.string(), "turn_idx": _pa.int64(), "role": _pa.string(),
    "tool": _pa.string(), "colour": _pa.int32(), "cents": _pa.int64(),
    "body_type": _pa.string(), "horn": _pa.int64(), "wings": _pa.int64(),
    "msg": _pa.string(),
}
# bound edges written out independently of TURN_WIRE_VARINT_GROUPS:
# int32 fields < 2^35 (5 groups), colour < 2^7, zigzag(cents) < 2^42,
# string UTF-8 length < 2^14
_IDX_EDGES = [0, 1, 127, 128, 2**35 - 1, 2**35, -1, -5, -(2**31)]
_CENTS_EDGES = [0, 1, -1, 2**41 - 1, 2**41, -(2**41), -(2**41) - 1]
_LONG_STRINGS = ["x" * (2**14 - 1), "x" * 2**14,
                 "é" * (2**13 - 1) + "x", "é" * 2**13]


def _nullable(s):
    return st.one_of(st.none(), s)


_enc_text = st.one_of(st.just(""), st.text(max_size=12),
                      st.sampled_from(["héllo", "日本",
                                       "\U0001f984"] + _LONG_STRINGS))
_enc_idx = st.one_of(st.sampled_from(_IDX_EDGES),
                     st.integers(min_value=-(2**40), max_value=2**40))
_enc_row = st.fixed_dictionaries({
    "conv_id": _nullable(_enc_text), "turn_idx": _nullable(_enc_idx),
    "role": _nullable(_enc_text), "tool": _nullable(_enc_text),
    "colour": _nullable(st.sampled_from([0, 1, 6, 127, 128, -1, -5])),
    "cents": _nullable(st.one_of(
        st.sampled_from(_CENTS_EDGES),
        st.integers(min_value=-(2**60), max_value=2**60))),
    "body_type": st.sampled_from(["unicorn", "pegasus", None, "other"]),
    "horn": _nullable(_enc_idx), "wings": _nullable(_enc_idx),
    "msg": _nullable(_enc_text),
})


def _over_bound(v) -> bool:
    chosen = {"horn": v["body_type"] == "unicorn",
              "wings": v["body_type"] == "pegasus"}
    if any(len(v[k].encode()) >= 2**14 for k in ("conv_id", "role", "tool",
                                                   "msg") if v[k]):
        return True
    if v["colour"] and v["colour"] >= 2**7:
        return True
    if v["cents"] and py_zigzag(v["cents"]) >= 2**42:
        return True
    return any(
        v[k] is not None and v[k] >= 2**35
        for k in ("turn_idx", "horn", "wings") if chosen.get(k, True))


def _assert_encode_parity(rows):
    table = _pa.table({c: _pa.array([r[c] for r in rows], t)
                       for c, t in _ENC_TYPES.items()})
    got = W.turn_wire_encode_arrow(
        *[table[c].combine_chunks() for c in W.TURN_ENCODE_INPUTS])
    assert got.type == _pa.binary() and len(got) == len(rows)
    got = got.to_pylist()
    con = _duckdb.connect()
    con.register("t", table.append_column(
        "rid", _pa.array(range(len(rows)), _pa.int64())))
    hex_sql = W.turn_wire_hex(DUCK, {c: c for c in _ENC_TYPES})
    duck = [None if h is None else bytes.fromhex(h) for (h,) in con.execute(
        f"SELECT {hex_sql} FROM t ORDER BY rid").fetchall()]
    con.close()
    for i, v in enumerate(rows):
        want = None if _over_bound(v) else W.py_encode_turn(v)
        assert got[i] == want, (i, v, got[i], want)
        assert duck[i] == want, (i, v, duck[i], want)


def test_encode_kernel_parity_on_edge_batch():
    """Every edge in one batch: NULLs, '', zero scalars, a default-valued
    oneof winner (horn=0 on unicorn), multi-byte UTF-8, each bound edge
    +-1, and negatives (-1, -5) that must poison instead of corrupting."""
    base = {"conv_id": "c", "turn_idx": 1, "role": "user", "tool": "sql",
            "colour": 2, "cents": 9, "body_type": "unicorn", "horn": 1,
            "wings": None, "msg": "m"}
    rows = [dict.fromkeys(_ENC_TYPES),
            {**dict.fromkeys(_ENC_TYPES, 0), **dict.fromkeys(
                ("conv_id", "role", "tool", "msg"), ""), "body_type": None},
            {**base, "horn": 0},
            {**base, "body_type": "pegasus", "horn": -5, "wings": 0},
            {**base, "msg": "héllo 日本 \U0001f984"}]
    rows += [{**base, "turn_idx": x} for x in _IDX_EDGES]
    rows += [{**base, "horn": x} for x in _IDX_EDGES]
    rows += [{**base, "body_type": "pegasus", "wings": x} for x in _IDX_EDGES]
    rows += [{**base, "colour": x} for x in (127, 128, -1)]
    rows += [{**base, "cents": x} for x in _CENTS_EDGES]
    rows += [{**base, "msg": s} for s in _LONG_STRINGS]
    _assert_encode_parity(rows)
    assert W.py_encode_turn({**base, "turn_idx": -1}) is None
    assert W.py_encode_turn({**base, "horn": -5}) is None


@given(st.lists(_enc_row, min_size=1, max_size=24))
@settings(max_examples=150, deadline=None)
def test_encode_kernel_matches_python_and_duckdb(rows):
    _assert_encode_parity(rows)
