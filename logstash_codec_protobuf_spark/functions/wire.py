"""Protobuf binary wire format — Python reference encoder and the portable
SQL oracle template.

The reference codec's actual job is protobuf wire bytes in and out
(`@pb_builder.decode(data)`, protobuf.rb:212-218; `serialize_to_string`,
protobuf.rb:635-636). This module holds two renderings of the encoder, and
neither is the one Spark runs:

- ``py_*``: a pure-Python reference encoder, checked in tests against
  hand-computed byte vectors from the protobuf encoding spec (e.g. field 1 =
  varint 150 -> 08 96 01); also the fixture builder.
- SQL templates rendering the payload as a lowercase hex string in one
  portable dialect (functions.portable pattern). DuckDB runs them as the
  bit-exact oracle of ``operators.pb_wire.encode_turn_wire``:

  - ``varint_hex``   : base-128 varint of a non-negative int64, unrolled to
                       a bounded number of groups (plain intdiv/mod
                       arithmetic — no engine-specific bit ops); a value out
                       of bound, or negative, poisons the payload to NULL.
  - ``zigzag``       : sint zigzag mapping as a CASE (2x / -2x-1), no shifts.
  - ``string_field`` : tag + varint(byte_length) + hex(utf8 bytes).
  - proto3 field presence: scalar fields are omitted at their default
    (0 / ''), oneof members are ALWAYS emitted when chosen — even at the
    default value (spec/codecs/pb3_decode_spec.rb:519-546).

Spark used to run these templates too. The rendered turn_wire expression
fused into a whole-stage-codegen method of 35,725 bytes, and HotSpot never
JIT-compiles a method over 8,000 bytes (``HugeMethodLimit``), so it ran in
the bytecode interpreter: a median 3.1 CPU-s per 50k rows on a 4-core host.
Spark now encodes with the Arrow-batch kernel
``operators.pb_wire_vec.flat_encode`` (1.1 CPU-s for the same rows);
``tests/test_codegen_size.py`` guards the limit.
"""

from __future__ import annotations

from .portable import Dialect

_HEXCHARS = "0123456789abcdef"

# wire types (protobuf encoding spec)
WT_VARINT = 0
WT_FIXED64 = 1
WT_LEN = 2
WT_FIXED32 = 5


# ---------------------------------------------------------------------------
# pure-Python reference implementation (test anchor + fixture builder)
# ---------------------------------------------------------------------------

def py_varint(n: int) -> bytes:
    """Base-128 varint of an unsigned value (negatives enter as two's
    complement uint64, the proto3 int64 rule)."""
    if n < 0:
        n += 1 << 64
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def py_zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63) if n < 0 else n << 1


def py_unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def py_tag(field_num: int, wire_type: int) -> bytes:
    return py_varint((field_num << 3) | wire_type)


def py_field_varint(field_num: int, value: int) -> bytes:
    return py_tag(field_num, WT_VARINT) + py_varint(value)


def py_field_sint(field_num: int, value: int) -> bytes:
    return py_tag(field_num, WT_VARINT) + py_varint(py_zigzag(value))


def py_field_len(field_num: int, payload: bytes) -> bytes:
    return py_tag(field_num, WT_LEN) + py_varint(len(payload)) + payload


def py_field_string(field_num: int, value: str) -> bytes:
    return py_field_len(field_num, value.encode("utf-8"))


def py_field_double(field_num: int, value: float) -> bytes:
    """fixed64 IEEE-754 little-endian (wire type 1)."""
    import struct as _struct

    return py_tag(field_num, WT_FIXED64) + _struct.pack("<d", value)


def py_field_float(field_num: int, value: float) -> bytes:
    """fixed32 IEEE-754 little-endian (wire type 5); value is rounded to
    float32 by the pack, exactly as a real proto encoder does."""
    import struct as _struct

    return py_tag(field_num, WT_FIXED32) + _struct.pack("<f", value)


# -- google.protobuf.Struct (well-known type) -------------------------------
# Struct { map<string, Value> fields = 1 }
# Value  { oneof kind: null_value=1, number_value(double)=2, string_value=3,
#          bool_value=4, struct_value=5, list_value=6 }
# ListValue { repeated Value values = 1 }

def py_value(v) -> bytes:
    """One google.protobuf.Value message. oneof members are emitted even at
    their default (False / 0.0 / '') — the chosen-member rule."""
    import struct as _struct

    if v is None:
        return py_field_varint(1, 0)  # NullValue.NULL_VALUE
    if isinstance(v, bool):  # before int: bool is an int subclass
        return py_field_varint(4, 1 if v else 0)
    if isinstance(v, (int, float)):
        return py_tag(2, WT_FIXED64) + _struct.pack("<d", float(v))
    if isinstance(v, str):
        return py_field_string(3, v)
    if isinstance(v, dict):
        return py_field_len(5, py_struct(v))
    if isinstance(v, (list, tuple)):
        return py_field_len(
            6, b"".join(py_field_len(1, py_value(x)) for x in v)
        )
    raise TypeError(f"unsupported Struct value: {type(v)}")


def py_struct(d: dict) -> bytes:
    """google.protobuf.Struct wire bytes: each fields entry is a map entry
    message {1: key(string), 2: value(Value)}."""
    buf = b""
    for k, v in d.items():
        entry = py_field_string(1, k) + py_field_len(2, py_value(v))
        buf += py_field_len(1, entry)
    return buf


# ---------------------------------------------------------------------------
# portable SQL templates (hex-string output)
# ---------------------------------------------------------------------------

def byte_hex(d: Dialect, b: str) -> str:
    """Two lowercase hex digits of an int expression in [0, 255]."""
    hi = f"CAST({d.intdiv(f'({b})', '16')} AS INTEGER) + 1"
    lo = f"CAST(({b}) % 16 AS INTEGER) + 1"
    return (f"(substring('{_HEXCHARS}', {hi}, 1) || "
            f"substring('{_HEXCHARS}', {lo}, 1))")


def varint_hex(d: Dialect, x: str, max_bytes: int = 9) -> str:
    """Varint of a NON-NEGATIVE int64 expression (< 2^63) as lowercase hex.

    Unrolled to ``max_bytes`` base-128 groups; group i is present iff
    x >= 128^i, and carries a continuation bit iff x >= 128^(i+1). All
    intdiv/mod arithmetic — identical in both engines for non-negative
    operands.

    ``max_bytes`` < 9 declares a per-field value bound (x < 128^max_bytes):
    the expression tree shrinks proportionally — the full 9-group unroll
    across every field made whole-stage codegen compilation the DOMINANT
    first-run cost of the encoder (~8 s Janino compile at 10 fields x 9
    groups). Out-of-bound values poison the result to NULL (NULL || s is
    NULL in both engines), so a violated bound surfaces as a dead-letter
    payload, never silent truncation. A bounded varint also poisons a
    NEGATIVE value: a conformant encoder writes it as a 10-byte two's
    complement varint, which the group arithmetic here would instead
    corrupt silently (-1 came out as ``00``).
    """
    parts = []
    for i in range(max_bytes):
        lo_t = 128 ** i
        hi_t = 128 ** (i + 1)
        group = f"({d.intdiv(f'({x})', str(lo_t))} % 128)"
        if i < 8:  # group 8 of an int64 < 2^63 never has a continuation bit
            byte = f"({group} + CASE WHEN ({x}) >= {hi_t} THEN 128 ELSE 0 END)"
        else:
            byte = group
        term = byte_hex(d, byte)
        if i == 0:
            parts.append(term)
        else:
            parts.append(f"CASE WHEN ({x}) >= {lo_t} THEN {term} ELSE '' END")
    if max_bytes < 9:
        parts.append(
            f"CASE WHEN ({x}) >= {128 ** max_bytes} OR ({x}) < 0 "
            "THEN NULL ELSE '' END"
        )
    return "(" + " || ".join(parts) + ")"


def zigzag(d: Dialect, x: str) -> str:
    """sint zigzag as pure arithmetic: n>=0 -> 2n, n<0 -> -2n-1."""
    return (f"(CASE WHEN ({x}) >= 0 THEN 2 * ({x}) "
            f"ELSE -2 * ({x}) - 1 END)")


def strlen_bytes(d: Dialect, s: str) -> str:
    """UTF-8 byte length of a string expression."""
    return f"octet_length({s})" if d.name == "spark" else f"strlen({s})"


def hex_utf8(d: Dialect, s: str) -> str:
    """Lowercase hex of a string's UTF-8 bytes (hex() in both engines)."""
    return f"lower(hex({s}))"


def tag_hex(field_num: int, wire_type: int) -> str:
    """Field tag as a hex literal (constant per field — folded in Python)."""
    return py_tag(field_num, wire_type).hex()


def varint_field_hex(d: Dialect, field_num: int, x: str,
                     when: str | None = None, max_bytes: int = 9) -> str:
    """Varint-typed field. Default presence rule: omit when 0/NULL (proto3
    implicit-presence scalars); pass `when` to override (oneof members emit
    whenever chosen, even at the default value). ``max_bytes`` bounds the
    unroll (see varint_hex)."""
    cond = when if when is not None else f"({x}) IS NOT NULL AND ({x}) <> 0"
    return (f"CASE WHEN {cond} THEN '{tag_hex(field_num, WT_VARINT)}' || "
            f"{varint_hex(d, x, max_bytes)} ELSE '' END")


def sint_field_hex(d: Dialect, field_num: int, x: str,
                   when: str | None = None, max_bytes: int = 9) -> str:
    cond = when if when is not None else f"({x}) IS NOT NULL AND ({x}) <> 0"
    return (f"CASE WHEN {cond} THEN '{tag_hex(field_num, WT_VARINT)}' || "
            f"{varint_hex(d, zigzag(d, x), max_bytes)} ELSE '' END")


def string_field_hex(d: Dialect, field_num: int, s: str,
                     when: str | None = None, max_len_bytes: int = 9) -> str:
    cond = when if when is not None else f"({s}) IS NOT NULL AND ({s}) <> ''"
    return (f"CASE WHEN {cond} THEN '{tag_hex(field_num, WT_LEN)}' || "
            f"{varint_hex(d, strlen_bytes(d, s), max_len_bytes)} || "
            f"{hex_utf8(d, s)} ELSE '' END")


def concat_fields_hex(parts: list[str]) -> str:
    """Message hex = ordered concatenation of field encodings. Every part is
    ''-defaulting (CASE ... ELSE ''), so NULL can never poison the concat."""
    return "(" + " || ".join(f"({p})" for p in parts) + ")"
