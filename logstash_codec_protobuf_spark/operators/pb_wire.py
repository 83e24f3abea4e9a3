"""Protobuf binary wire format: one registry-driven codec for every message.

This is the engine's re-expression of the reference codec's real hot path:
``@pb_builder.decode(data)`` (protobuf.rb:212-218) consuming actual varint /
length-delimited bytes, and ``serialize_to_string`` (protobuf.rb:635-636)
producing them. Like the reference, there is no per-message code: the
registry spec drives both directions.

- ``encode_message`` / ``decode_message``: any registered message, from a
  struct column shaped like the spec to wire bytes and back to a
  ``decoded`` struct (``decoded_schema``: fields in wire order, one
  ``oneof_<group>`` slot per oneof, then ``error``). ``py_encode`` and
  ``py_decode`` are the per-row cores and the reference the tests compare
  against; decode picks the numpy record-transposed walker
  (``pb_wire_vec``) whenever the message shape allows.
- turn_wire, the transcript turn, has its own fast encoder:
  ``encode_turn_wire`` is one Arrow-batch kernel (``pb_wire_vec.
  flat_encode``: numpy varints, Arrow string buffers), and
  ``functions.wire`` renders the same bytes as portable SQL, which DuckDB
  runs as the bit-exact oracle. ``decode_turn_wire`` is ``decode_message``
  over turn_wire.
- ``impl='jvm_dynamic'`` decodes JVM-side (zero Python workers): a
  vendored Java UDF parses with the protobuf-java runtime the Spark
  Connect jar ships shaded, so no spark-protobuf jar is needed.

Wire parser semantics mirrored from the reference:
- unknown fields are skipped by wire type (forward compatibility),
- pb3 enums decode to NAMES, pb2 to ints (protobuf.rb:330-331); codes are
  int32-truncated like protobuf-java, and an UNREGISTERED pb3 code decodes
  to its decimal string (type-stable forward compatibility — identical
  across the arrow and jvm_dynamic impls),
- proto3 defaults are emitted for absent scalars (protobuf.rb:297),
- the oneof discriminator is whichever member was last seen on the wire —
  recorded as metadata, value preserved even when it equals the default
  (spec/codecs/pb3_decode_spec.rb:519-546),
- malformed payloads raise -> error row -> dead-letter route
  (protobuf.rb:225-233), original bytes preserved.
"""

from __future__ import annotations

import base64
import functools
import json
import os
import struct
from decimal import Decimal
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, functions as F, types as T

from ..functions.portable import DUCK, Dialect
from ..functions.wire import (
    concat_fields_hex,
    py_unzigzag,
    sint_field_hex,
    string_field_hex,
    varint_field_hex,
)
from ..schema import SchemaRegistry, default_registry

WIRE_ERROR = "payload does not match pb3 wire format"
# Nested message levels below the root that decode_message unrolls for a
# SELF-REFERENCING message. The reference's recursion is unbounded
# (spec/helpers/pb2/human.pb.rb:16-17 self-referencing Human;
# protobuf.rb:287-336 recursive walk); a columnar engine must bound the
# OUTPUT SCHEMA depth. A deeper payload dead-letters LOUDLY under its own
# tag, DEPTH_ERROR — routable separately from malformed bytes — instead of
# erroring as generic wire garbage or truncating silently.
MAX_RECURSION_DEPTH = 3
DEPTH_ERROR = "message nesting exceeds max_recursion_depth"

_VARINT_TYPES = {"int32", "int64", "uint32", "uint64", "sint32", "sint64",
                 "bool"}


# ---------------------------------------------------------------------------
# pure-Python wire parser (runs inside the Arrow batch UDF)
# ---------------------------------------------------------------------------

def read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    n = len(buf)
    result = 0
    shift = 0
    while True:
        if pos >= n or shift > 63:
            raise ValueError(WIRE_ERROR)
        b = buf[pos]
        result |= (b & 0x7F) << shift
        pos += 1
        if not b & 0x80:
            return result, pos
        shift += 7


def _varint_value(v: int, ftype: str):
    """Interpret a raw varint per declared scalar type."""
    if ftype in ("sint32", "sint64"):
        return py_unzigzag(v)
    if ftype == "bool":
        return v != 0
    if ftype in ("int32", "int64") and v >= 1 << 63:
        return v - (1 << 64)  # two's-complement negatives ride as uint64
    return v  # uint32/uint64 and non-negative ints


def _scalar_kind(ftype: str) -> str:
    if ftype in _VARINT_TYPES or ftype.startswith("enum:"):
        return "varint"
    if ftype in ("string", "bytes", "struct"):
        return "len"
    if ftype == "float":
        return "fixed32"
    if ftype == "double":
        return "fixed64"
    if ftype.startswith("message:") or ftype.startswith("map<"):
        return "len"
    raise ValueError(f"unsupported wire type: {ftype}")


def _decode_packed(data: bytes, ftype: str, registry: SchemaRegistry,
                   proto_version: int) -> list:
    """Packed repeated numerics (proto3 default packing: varint AND
    fixed32/64 scalar kinds both arrive as one length-delimited blob)."""
    if ftype == "double":
        if len(data) % 8:
            raise ValueError(WIRE_ERROR)
        return [v[0] for v in struct.iter_unpack("<d", data)]
    if ftype == "float":
        if len(data) % 4:
            raise ValueError(WIRE_ERROR)
        return [v[0] for v in struct.iter_unpack("<f", data)]
    out = []
    pos = 0
    while pos < len(data):
        v, pos = read_varint(data, pos)
        out.append(_typed_varint(v, ftype, registry, proto_version))
    return out


def _typed_varint(v: int, ftype: str, registry: SchemaRegistry,
                  proto_version: int):
    if ftype.startswith("enum:"):
        # enum codes are int32: truncate the raw varint exactly like
        # protobuf-java/C++ do (a conformant encoder sign-extends negative
        # codes to 64 bits, so this also recovers them). Codes therefore
        # ALWAYS fit the declared column — forward-compat payloads carrying
        # unregistered codes never dead-letter and never widen past int32.
        code = ((v & 0xFFFFFFFF) ^ 0x80000000) - 0x80000000
        if proto_version == 2:
            return code
        name = registry.enums[ftype[5:]].name_of(code)
        # unknown code: decimal-string passthrough — keeps the StringType
        # column type-stable (JsonFormat prints the number; the JVM row
        # path stringifies the synthetic descriptor's number identically)
        return name if name is not None else str(code)
    return _varint_value(v, ftype)


def _decode_plan(registry: SchemaRegistry, message: str, proto_version: int
                 ) -> tuple[dict, dict, tuple]:
    """(field_number->spec, scalar-defaults base dict, container-ctor items)
    for one message. Built once per (registry, message) and cached on the
    registry object — rebuilding the number map and the proto3 defaults per
    PAYLOAD dominated the Arrow-batch decode cost (string-prefix checks +
    enum lookups per row)."""
    cache = getattr(registry, "_wire_plans", None)
    if cache is None:
        cache = {}
        registry._wire_plans = cache  # SchemaRegistry is a plain class
    key = (message, proto_version)
    if key in cache:
        return cache[key]
    from ..schema import _SCALAR_DEFAULTS

    spec = registry.messages[message]
    by_num = dict(spec.wire_fields())
    template: dict = {}
    for f in spec.fields:
        if f.repeated or f.type.startswith("map<"):
            template[f.name] = list if f.repeated else dict  # sentinel ctor
        elif f.oneof or f.type == "struct" or f.type.startswith("message:"):
            template[f.name] = None
        elif f.type.startswith("enum:"):
            enum = registry.enums[f.type[5:]]
            template[f.name] = enum.default_name if proto_version == 3 else 0
        else:
            template[f.name] = _SCALAR_DEFAULTS[f.type]
    # pre-split the template so the per-payload row build is one C-speed
    # dict() copy plus a short ctor loop (the dictcomp with per-key sentinel
    # checks showed up in the decode profile). Sentinel positions hold None
    # in the base so key ORDER survives the overwrite.
    base = {k: (None if v is list or v is dict else v)
            for k, v in template.items()}
    ctors = tuple((k, v) for k, v in template.items()
                  if v is list or v is dict)
    cache[key] = (by_num, base, ctors)
    return cache[key]


def py_decode(buf: bytes, registry: SchemaRegistry, message: str,
              proto_version: int = 3,
              depth: int = MAX_RECURSION_DEPTH + 1) -> dict:
    """bytes -> dict per the registered message spec (pb3_to_hash semantics,
    protobuf.rb:287-336). Raises ValueError(WIRE_ERROR) on malformed input;
    ValueError(DEPTH_ERROR) when nesting exceeds the depth budget (``depth``
    counts message levels INCLUDING the root, so ``depth = n + 1`` allows
    n nested levels; the default is ``decode_message``'s bound)."""
    if depth <= 0:
        raise ValueError(DEPTH_ERROR)
    by_num, base, ctors = _decode_plan(registry, message, proto_version)

    # proto3 default emission for absent scalars (protobuf.rb:297); list/dict
    # sentinels instantiate fresh containers per row
    out = dict(base)
    for _k, _c in ctors:
        out[_k] = _c()
    chosen: dict[str, str] = {}  # oneof group -> chosen member field

    pos = 0
    n = len(buf)
    while pos < n:
        # single-byte fast path: tags and small values dominate real
        # payloads, and the read_varint call was ~25% of decode time
        b = buf[pos]
        if b < 0x80:
            tag = b
            pos += 1
        else:
            tag, pos = read_varint(buf, pos)
        fnum, wt = tag >> 3, tag & 7
        if fnum == 0:
            raise ValueError(WIRE_ERROR)
        if wt == 0:
            b = buf[pos] if pos < n else 0x80
            if b < 0x80:
                raw = b
                pos += 1
            else:
                raw, pos = read_varint(buf, pos)
            data = None
        elif wt == 1:
            if pos + 8 > n:
                raise ValueError(WIRE_ERROR)
            data = buf[pos:pos + 8]
            pos += 8
            raw = None
        elif wt == 5:
            if pos + 4 > n:
                raise ValueError(WIRE_ERROR)
            data = buf[pos:pos + 4]
            pos += 4
            raw = None
        elif wt == 2:
            b = buf[pos] if pos < n else 0x80
            if b < 0x80:
                ln = b
                pos += 1
            else:
                ln, pos = read_varint(buf, pos)
            if pos + ln > n:
                raise ValueError(WIRE_ERROR)
            data = buf[pos:pos + ln]
            pos += ln
            raw = None
        else:
            raise ValueError(WIRE_ERROR)  # groups (3/4): not in proto3

        f = by_num.get(fnum)
        if f is None:
            continue  # unknown field: skipped, forward-compatible

        if wt == 0:
            if _scalar_kind(f.type) != "varint":
                raise ValueError(WIRE_ERROR)
            val = _typed_varint(raw, f.type, registry, proto_version)
            if f.repeated:
                out[f.name].append(val)
            else:
                out[f.name] = val
        elif wt == 1:
            if f.type != "double":
                continue  # skip: declared type doesn't use fixed64
            val = struct.unpack("<d", data)[0]
            if f.repeated:  # unpacked repeated double: append, never clobber
                out[f.name].append(val)
            else:
                out[f.name] = val
        elif wt == 5:
            if f.type != "float":
                continue
            val = struct.unpack("<f", data)[0]
            if f.repeated:
                out[f.name].append(val)
            else:
                out[f.name] = val
        else:  # wt == 2
            if f.type == "string":
                try:
                    val = data.decode("utf-8")
                except UnicodeDecodeError as e:
                    raise ValueError(WIRE_ERROR) from e
            elif f.type == "bytes":
                val = data
            elif f.type == "struct":
                # google.protobuf.Struct (protobuf.rb:290-294): arbitrary
                # JSON in the well-known map<string,Value> encoding —
                # surfaced as a canonical (sorted-key) JSON string.
                val = json.dumps(_decode_struct(data), sort_keys=True,
                                 separators=(",", ":"))
            elif f.type.startswith("message:"):
                val = py_decode(data, registry, f.type[8:], proto_version,
                                depth - 1)
            elif f.type.startswith("map<"):
                k, v = (t.strip() for t in f.type[4:-1].split(",", 1))
                entry = _decode_map_entry(data, k, v, registry, proto_version)
                out[f.name].update(entry)
                continue
            elif f.repeated and _scalar_kind(f.type) in (
                    "varint", "fixed32", "fixed64"):
                out[f.name].extend(
                    _decode_packed(data, f.type, registry, proto_version)
                )
                continue
            else:
                raise ValueError(WIRE_ERROR)
            if f.repeated:
                out[f.name].append(val)
            else:
                out[f.name] = val

        if f.oneof:
            group = f.oneof
            prev = chosen.get(group)
            if prev is not None and prev != f.name:
                out[prev] = None  # last oneof member on the wire wins
            chosen[group] = f.name
    out["_pb_oneof"] = chosen
    return out


_STRUCT_MAX_DEPTH = 64  # bound Value recursion: a hostile deeply-nested
# payload must dead-letter (WIRE_ERROR), not blow the Python stack with a
# RecursionError that would escape the UDF's error handling


def _decode_struct(data: bytes, depth: int = _STRUCT_MAX_DEPTH) -> dict:
    """google.protobuf.Struct -> Python dict. Struct is
    ``map<string, Value> fields = 1``; each entry is a message {1:k, 2:Value}."""
    if depth <= 0:
        raise ValueError(WIRE_ERROR)
    out: dict = {}
    pos = 0
    while pos < len(data):
        tag, pos = read_varint(data, pos)
        fnum, wt = tag >> 3, tag & 7
        if fnum != 1 or wt != 2:
            raise ValueError(WIRE_ERROR)
        ln, pos = read_varint(data, pos)
        if pos + ln > len(data):
            raise ValueError(WIRE_ERROR)
        entry = data[pos:pos + ln]
        pos += ln
        key, val = "", None
        epos = 0
        while epos < len(entry):
            etag, epos = read_varint(entry, epos)
            efnum, ewt = etag >> 3, etag & 7
            if ewt != 2:
                raise ValueError(WIRE_ERROR)
            eln, epos = read_varint(entry, epos)
            if epos + eln > len(entry):
                raise ValueError(WIRE_ERROR)
            chunk = entry[epos:epos + eln]
            epos += eln
            if efnum == 1:
                key = chunk.decode("utf-8")
            elif efnum == 2:
                val = _decode_value(chunk, depth - 1)
        out[key] = val
    return out


def _decode_value(buf: bytes, depth: int = _STRUCT_MAX_DEPTH):
    """One google.protobuf.Value: a oneof over null/number/string/bool/
    struct/list — last member on the wire wins (the general oneof rule)."""
    if depth <= 0:
        raise ValueError(WIRE_ERROR)
    pos = 0
    val = None
    while pos < len(buf):
        tag, pos = read_varint(buf, pos)
        fnum, wt = tag >> 3, tag & 7
        if wt == 0:
            raw, pos = read_varint(buf, pos)
            if fnum == 1:
                val = None          # NullValue
            elif fnum == 4:
                val = raw != 0      # bool_value
            # else: unknown varint field from a newer Value — skip (already
            # consumed).  Unknown fields are skipped by wire type for forward
            # compatibility, same rule as the message-level parser.
        elif wt == 1:
            if pos + 8 > len(buf):
                raise ValueError(WIRE_ERROR)
            if fnum == 2:
                val = struct.unpack("<d", buf[pos:pos + 8])[0]  # number_value
            pos += 8
        elif wt == 2:
            ln, pos = read_varint(buf, pos)
            if pos + ln > len(buf):
                raise ValueError(WIRE_ERROR)
            chunk = buf[pos:pos + ln]
            pos += ln
            if fnum == 3:
                val = chunk.decode("utf-8")        # string_value
            elif fnum == 5:
                val = _decode_struct(chunk, depth - 1)      # struct_value
            elif fnum == 6:
                val = _decode_list_value(chunk, depth - 1)  # list_value
            # else: unknown length-delimited field — skipped above
        elif wt == 5:
            if pos + 4 > len(buf):
                raise ValueError(WIRE_ERROR)
            pos += 4                # unknown fixed32 — skip
        else:
            raise ValueError(WIRE_ERROR)
    return val


def _decode_list_value(data: bytes, depth: int = _STRUCT_MAX_DEPTH) -> list:
    """ListValue { repeated Value values = 1 }."""
    if depth <= 0:
        raise ValueError(WIRE_ERROR)
    out = []
    pos = 0
    while pos < len(data):
        tag, pos = read_varint(data, pos)
        if tag >> 3 != 1 or tag & 7 != 2:
            raise ValueError(WIRE_ERROR)
        ln, pos = read_varint(data, pos)
        if pos + ln > len(data):
            raise ValueError(WIRE_ERROR)
        out.append(_decode_value(data[pos:pos + ln], depth - 1))
        pos += ln
    return out


def _decode_map_entry(data: bytes, ktype: str, vtype: str,
                      registry: SchemaRegistry, proto_version: int) -> dict:
    """One map entry = a message {1: key, 2: value}."""
    key = "" if ktype == "string" else 0
    val: object = "" if vtype == "string" else 0
    pos = 0
    while pos < len(data):
        tag, pos = read_varint(data, pos)
        fnum, wt = tag >> 3, tag & 7
        if wt == 0:
            raw, pos = read_varint(data, pos)
            if fnum == 1:
                key = _varint_value(raw, ktype)
            elif fnum == 2:
                val = _typed_varint(raw, vtype, registry, proto_version)
        elif wt == 2:
            ln, pos = read_varint(data, pos)
            if pos + ln > len(data):
                raise ValueError(WIRE_ERROR)
            chunk = data[pos:pos + ln]
            pos += ln
            if fnum == 1 and ktype == "string":
                key = chunk.decode("utf-8")
            elif fnum == 2 and vtype == "string":
                val = chunk.decode("utf-8")
        else:
            raise ValueError(WIRE_ERROR)
    return {key: val}


# ---------------------------------------------------------------------------
# generic registry-driven encoder (the encode twin of py_decode)
# ---------------------------------------------------------------------------

def _enc_varint_val(v, ftype: str, registry: SchemaRegistry) -> int:
    """Value -> raw varint payload per declared type (inverse of
    _typed_varint)."""
    from ..functions.wire import py_zigzag

    if ftype.startswith("enum:"):
        if isinstance(v, str):
            code = registry.enums[ftype[5:]].code_of(v)
            if code is None:
                try:
                    # decimal-string passthrough: a decoded forward-compat
                    # code ("99") round-trips back to the wire unchanged
                    return int(v, 10)
                except ValueError:
                    raise ValueError(
                        f"unknown enum name {v!r} for {ftype}") from None
            return code
        return int(v)
    if ftype in ("sint32", "sint64"):
        return py_zigzag(int(v))
    if ftype == "bool":
        return 1 if v else 0
    return int(v)


def py_encode(value: dict, registry: SchemaRegistry, message: str,
              proto_version: int = 3) -> bytes:
    """dict -> wire bytes per the registered message spec — the generic
    inverse of ``py_decode`` (the reference's ``serialize_to_string`` seat,
    protobuf.rb:635-636). Presence rules:

    - proto3 scalars are omitted at their default (0 / '' / False / b''),
    - oneof members are emitted whenever the key is present and non-None
      (chosen-member rule, even at the default value),
    - message fields are emitted whenever non-None (explicit presence),
    - repeated varint/enum fields use proto3 PACKED encoding; repeated
      strings/bytes/messages emit one tag per element,
    - maps emit one {1: key, 2: value} entry message per item,
    - a ``struct`` (google.protobuf.Struct) field takes a dict of JSON-like
      values and is emitted whenever non-None.
    """
    from ..functions.wire import (
        py_field_len, py_field_varint, py_struct, py_varint,
    )

    spec = registry.messages[message]
    out = b""
    for num, f in spec.wire_fields():
        v = value.get(f.name)
        if v is None:
            continue
        if f.type.startswith("map<"):
            ktype, vtype = (t.strip() for t in f.type[4:-1].split(",", 1))
            # a dict, or (key, value) pairs: how pyarrow's to_pylist()
            # hands over an Arrow map
            for k, mv in (v.items() if isinstance(v, dict) else v):
                entry = b""
                if k != ("" if ktype == "string" else 0):
                    entry += (py_field_len(1, k.encode("utf-8"))
                              if ktype == "string"
                              else py_field_varint(
                                  1, _enc_varint_val(k, ktype, registry)))
                if mv != ("" if vtype == "string" else 0):
                    entry += (py_field_len(2, mv.encode("utf-8"))
                              if vtype == "string"
                              else py_field_varint(
                                  2, _enc_varint_val(mv, vtype, registry)))
                out += py_field_len(num, entry)
            continue
        if f.repeated:
            if not v:
                continue
            if any(x is None for x in v):
                raise ValueError(f"NULL element in repeated {f.name}")
            kind = _scalar_kind(f.type)
            if kind == "varint":
                if proto_version == 2:
                    # proto2 repeated numerics default to UNPACKED: one
                    # tag+varint per element (ColourTestcase's repeated
                    # enum/bool dialect, spec/codecs/pb2_spec.rb:82-104)
                    for x in v:
                        out += py_field_varint(
                            num, _enc_varint_val(x, f.type, registry))
                else:
                    out += py_field_len(num, b"".join(
                        py_varint(_enc_varint_val(x, f.type, registry))
                        for x in v
                    ))
            elif f.type.startswith("message:"):
                for x in v:
                    out += py_field_len(num, py_encode(
                        x, registry, f.type[8:], proto_version))
            elif f.type == "string":
                for x in v:
                    out += py_field_len(num, x.encode("utf-8"))
            elif f.type == "bytes":
                for x in v:
                    out += py_field_len(num, bytes(x))
            else:
                raise ValueError(f"unsupported repeated type: {f.type}")
            continue
        if f.type.startswith("message:"):
            out += py_field_len(num, py_encode(v, registry, f.type[8:],
                                               proto_version))
            continue
        if f.type == "struct":  # explicit presence, like a message field
            out += py_field_len(num, py_struct(
                v if isinstance(v, dict) else dict(v)))
            continue
        kind = _scalar_kind(f.type)
        if kind == "varint":
            raw = _enc_varint_val(v, f.type, registry)
            if raw == 0 and not f.oneof:
                continue  # proto3 implicit presence
            out += py_field_varint(num, raw)
        elif f.type == "string":
            if v == "" and not f.oneof:
                continue
            out += py_field_len(num, v.encode("utf-8"))
        elif f.type == "bytes":
            if len(v) == 0 and not f.oneof:
                continue
            out += py_field_len(num, bytes(v))
        elif f.type == "double":
            if v == 0.0 and not f.oneof:
                continue
            out += py_tag_bytes(num, 1) + struct.pack("<d", float(v))
        elif f.type == "float":
            if v == 0.0 and not f.oneof:
                continue
            out += py_tag_bytes(num, 5) + struct.pack("<f", float(v))
        else:
            raise ValueError(f"unsupported type: {f.type}")
    return out


def py_tag_bytes(field_num: int, wire_type: int) -> bytes:
    from ..functions.wire import py_tag

    return py_tag(field_num, wire_type)


# ---------------------------------------------------------------------------
# turn_wire: the transcript turn as real protobuf bytes
# ---------------------------------------------------------------------------

# Per-field varint bound of turn_wire, in base-128 groups: a varint field's
# value, or a string field's UTF-8 byte length, must be < 128**groups. int32
# fields need 5 groups, the enum 1, the sint64 cents 6 (|cents| < 2^41),
# string lengths 2 (< 16 KiB). A value outside its bound, or a negative
# int32/enum value, poisons the payload to NULL: a dead-letter, never
# truncated bytes. Read by BOTH encoders: the Arrow kernel that runs in
# Spark (pb_wire_vec.flat_encode) and the SQL oracle template below.
TURN_WIRE_VARINT_GROUPS = {
    "conv_id": 2, "turn_idx": 5, "role": 2, "tool": 2, "colour": 1,
    "cents": 6, "horn": 5, "wings": 5, "msg": 2,
}

# oneof ``body`` member -> the ``body_type`` discriminator value choosing it
TURN_WIRE_BODY = {"horn": "unicorn", "wings": "pegasus"}


def turn_wire_hex(d: Dialect, c: dict[str, str]) -> str:
    """Hex of the turn_wire message (schema.default_registry 'turn_wire'),
    rendered as portable SQL — the DuckDB oracle of ``encode_turn_wire``.

    ``c`` maps logical field -> SQL expression in dialect ``d``. Scalar fields
    follow proto3 implicit presence (omitted at 0/''); the oneof member is
    emitted whenever chosen, even at value 0 (default-valued winner,
    spec/codecs/pb3_decode_spec.rb:519-546). Field numbers and kinds come
    from the registry spec, bounds from ``TURN_WIRE_VARINT_GROUPS``.
    """
    parts = []
    for num, f in default_registry().messages["turn_wire"].wire_fields():
        x, g = c[f.name], TURN_WIRE_VARINT_GROUPS[f.name]
        when = (f"({c['body_type']}) = '{TURN_WIRE_BODY[f.name]}' "
                f"AND ({x}) IS NOT NULL") if f.oneof else None
        if f.type == "string":
            parts.append(string_field_hex(d, num, x, max_len_bytes=g))
        elif f.type.startswith("sint"):
            parts.append(sint_field_hex(d, num, x, when, max_bytes=g))
        else:
            parts.append(varint_field_hex(d, num, x, when, max_bytes=g))
    return concat_fields_hex(parts)


def py_encode_turn(v: dict) -> bytes | None:
    """Pure-Python twin of ``turn_wire_hex`` (test anchor): same field order,
    same presence rules. Returns None where the engine's encoders poison the
    payload for a negative turn_idx/colour/horn/wings; the per-field group
    bounds are NOT applied here (this is the unbounded spec encoder)."""
    from ..functions.wire import (
        py_field_sint, py_field_string, py_field_varint,
    )

    horn = v.get("horn") if v.get("body_type") == "unicorn" else None
    wings = v.get("wings") if v.get("body_type") == "pegasus" else None
    if any(x is not None and x < 0
           for x in (v.get("turn_idx"), v.get("colour"), horn, wings)):
        return None
    out = b""
    if v.get("conv_id"):
        out += py_field_string(1, v["conv_id"])
    if v.get("turn_idx"):
        out += py_field_varint(2, v["turn_idx"])
    if v.get("role"):
        out += py_field_string(3, v["role"])
    if v.get("tool"):
        out += py_field_string(4, v["tool"])
    if v.get("colour"):
        out += py_field_varint(5, v["colour"])
    if v.get("cents"):
        out += py_field_sint(6, v["cents"])
    if horn is not None:
        out += py_field_varint(8, horn)
    if wings is not None:
        out += py_field_varint(9, wings)
    if v.get("msg"):
        out += py_field_string(10, v["msg"])
    return out


DUCK_TURN_COLS = {
    "conv_id": "'conv-' || conv_key", "turn_idx": "turn_idx", "role": "role",
    "tool": "tool", "colour": "colour", "cents": "cents",
    "body_type": "oneof_kind", "horn": "horn", "wings": "wings",
    "msg": "'m' || CAST(event_id AS STRING)",
}

# encode_turn_wire's input columns, in the kernel's argument order
TURN_ENCODE_INPUTS = ("conv_id", "turn_idx", "role", "tool", "colour",
                      "cents", "body_type", "horn", "wings", "msg")


@functools.cache
def _turn_encode_plan():
    from .pb_wire_vec import build_encode_plan

    return build_encode_plan(default_registry(), "turn_wire",
                             TURN_WIRE_VARINT_GROUPS)


def turn_wire_encode_arrow(*arrays):
    """The encode kernel over one Arrow batch: ``pa.Array`` per column of
    ``TURN_ENCODE_INPUTS`` -> ``pa.binary()`` payloads (NULL = poisoned)."""
    import pyarrow.compute as pc

    from .pb_wire_vec import flat_encode

    cols = dict(zip(TURN_ENCODE_INPUTS, arrays))
    body = cols.pop("body_type")
    chosen = {m: pc.fill_null(pc.equal(body, v), False)
              .to_numpy(zero_copy_only=False)
              for m, v in TURN_WIRE_BODY.items()}
    return flat_encode(cols, _turn_encode_plan(), chosen)


def encode_turn_wire(df: DataFrame, binary: bool = True) -> DataFrame:
    """Append ``payload_hex`` (and BinaryType ``payload`` when ``binary``).

    ``payload`` is ONE Arrow UDF call (``turn_wire_encode_arrow``: numpy
    varints, Arrow string buffers, one element-wise binary join per batch);
    ``payload_hex`` is ``lower(hex(payload))`` of that same output, so a
    consumer touching both columns encodes once. ``turn_wire_hex`` renders
    the same bytes in DuckDB SQL and is the oracle.

    Why not SQL in Spark as well: the rendered hex expression fused into a
    whole-stage-codegen method of 35,725 bytes, and HotSpot never compiles a
    method over 8,000 bytes (``HugeMethodLimit``), so the encode ran in the
    bytecode interpreter. Encoding the 50k-row perfbench ``wire_codec``
    input to a noop sink on a 4-core host (driver JVM + Python workers, 10
    jobs per side) took a median 3.1 CPU-s that way and 1.1 CPU-s with the
    kernel. ``tests/test_codegen_size.py`` keeps every generated method
    under the limit."""
    payload = F.arrow_udf(turn_wire_encode_arrow, T.BinaryType())(
        *TURN_ENCODE_INPUTS)
    if not binary:
        return df.withColumn("payload_hex", F.lower(F.hex(payload)))
    return df.withColumn("payload", payload).withColumn(
        "payload_hex", F.lower(F.hex(F.col("payload"))))



# ---------------------------------------------------------------------------
# the decoded shape: one StructType per (message, dialect), every backend
# ---------------------------------------------------------------------------

# turn_wire's ``decoded`` contract (what ``decoded_schema`` builds for it,
# plus ``error``): pinned because downstream consumers fingerprint it
TURN_WIRE_DECODED = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("role", T.StringType()),
    T.StructField("tool", T.StringType()),
    T.StructField("colour", T.StringType()),   # pb3: enum NAME
    T.StructField("cents", T.LongType()),
    T.StructField("horn", T.IntegerType()),
    T.StructField("wings", T.IntegerType()),
    T.StructField("msg", T.StringType()),
    T.StructField("oneof_body", T.StringType()),  # chosen member field name
    T.StructField("error", T.StringType()),
])

# pb2 dialect: enum codes pass through as ints (protobuf.rb:134-136,
# spec/codecs/pb2_spec.rb:96-99) — same struct, colour is a LONG.
TURN_WIRE_DECODED_PB2 = T.StructType([
    T.StructField(f.name, T.LongType() if f.name == "colour" else f.dataType)
    for f in TURN_WIRE_DECODED
])

_ROW_TYPES = {
    "string": T.StringType(), "int32": T.IntegerType(),
    "sint32": T.IntegerType(), "int64": T.LongType(),
    "sint64": T.LongType(), "bool": T.BooleanType(),
    "double": T.DoubleType(), "float": T.FloatType(),
    "bytes": T.BinaryType(),
    # unsigned widths widen so every value fits
    "uint32": T.LongType(), "fixed32": T.LongType(),
    "uint64": T.DecimalType(20, 0), "fixed64": T.DecimalType(20, 0),
    # google.protobuf.Struct: canonical sorted-key JSON text
    "struct": T.StringType(),
}


def _scalar_type(ftype: str, proto_version: int) -> T.DataType:
    if ftype.startswith("enum:"):
        return T.StringType() if proto_version == 3 else T.LongType()
    t = _ROW_TYPES.get(ftype)
    if t is None:
        raise NotImplementedError(f"unsupported field type {ftype}")
    return t


def decoded_schema(registry: SchemaRegistry, message: str,
                   proto_version: int = 3, depth: int | None = None,
                   _stack: tuple[str, ...] = ()) -> T.StructType:
    """The ``decoded`` struct of ``message`` without its trailing ``error``:
    wire fields in descriptor order (what ``Descriptor.getFields()`` yields
    for the set ``descriptors.descriptor_set_bytes`` emits) — nested
    singular messages as nested structs, repeated fields as arrays,
    ``map<k,v>`` fields as ``array<struct<key,value>>`` in first-seen key
    order — then one ``oneof_<group>`` string slot per oneof.

    ``depth`` is a nesting bound (``decode_message`` passes
    ``MAX_RECURSION_DEPTH``): message fields more than
    ``depth`` levels below the root are dropped, which gives the recursive
    ``unicorn`` and ``human`` a finite shape (``py_decode`` dead-letters a
    deeper payload with DEPTH_ERROR, so nothing is lost silently).
    ``depth=None`` refuses a recursive message graph instead (the JVM row
    path has no depth bound)."""
    if depth is None and message in _stack:
        raise NotImplementedError(
            f"recursive message type {message} (via {' -> '.join(_stack)}) "
            "has no finite struct schema — use the arrow impl")
    stack = _stack + (message,)
    sub = None if depth is None else depth - 1
    fields = []
    groups: list[str] = []
    for _num, f in registry.messages[message].wire_fields():
        if f.type.startswith("message:"):
            if depth == 0:
                continue  # below the recursion bound
            t: T.DataType = decoded_schema(registry, f.type[8:],
                                           proto_version, sub, stack)
        elif f.type.startswith("map<"):
            kt, vt = (s.strip() for s in f.type[4:-1].split(",", 1))
            vtype = (decoded_schema(registry, vt[8:], proto_version, sub,
                                    stack)
                     if vt.startswith("message:")
                     else _scalar_type(vt, proto_version))
            t = T.ArrayType(T.StructType([
                T.StructField("key", _scalar_type(kt, proto_version)),
                T.StructField("value", vtype),
            ]))
        else:
            t = _scalar_type(f.type, proto_version)
        if f.repeated and not f.type.startswith("map<"):
            t = T.ArrayType(t)
        fields.append(T.StructField(f.name, t))
        if f.oneof and f.oneof not in groups:
            groups.append(f.oneof)
    for g in groups:
        fields.append(T.StructField(f"oneof_{g}", T.StringType()))
    return T.StructType(fields)


def _with_error(schema: T.StructType) -> T.StructType:
    return T.StructType(list(schema.fields)
                        + [T.StructField("error", T.StringType())])


def _decoded_or_dead_letter(df: DataFrame, raw: Column,
                            schema: T.StructType) -> DataFrame:
    """Append ``decoded`` from a JVM-side parse ``raw`` (NULL when the
    bytes do not parse): its fields plus a NULL ``error``, else the
    dead-letter row — every field NULL, ``error`` WIRE_ERROR — with the
    original bytes left in place. ``raw`` is materialized once as a column
    so a non-deterministic UDF runs once per row however often the
    projection references it."""
    p = F.col("_pb")
    ok = F.when(p.isNull(), F.lit(None)).otherwise(F.struct(
        *[p[f.name].alias(f.name) for f in schema.fields[:-1]],
        F.lit(None).cast("string").alias("error")))
    dead = F.struct(*[
        (F.lit(WIRE_ERROR) if f.name == "error" else F.lit(None))
        .cast(f.dataType).alias(f.name) for f in schema])
    return (df.withColumn("_pb", raw)
            .withColumn("decoded", F.coalesce(ok.cast(schema), dead))
            .drop("_pb"))


# ---------------------------------------------------------------------------
# the registry-driven codec: one encoder and one decoder for every message
# ---------------------------------------------------------------------------

def encode_message(value: Column, message: str,
                   registry: SchemaRegistry | None = None,
                   proto_version: int = 3) -> Column:
    """Wire bytes of ``value``, a struct column shaped like the registry
    message (the reference's ``serialize_to_string`` seat,
    protobuf.rb:635-636): one Arrow UDF running ``py_encode`` per row.
    Enum fields take names or codes, maps take Spark maps, ``struct``
    fields take a struct of JSON-like values. A NULL row, or a value
    ``py_encode`` refuses (an unknown enum name), gives a NULL payload,
    which decodes to the WIRE_ERROR dead-letter."""
    reg = registry if registry is not None else default_registry()

    def _encode(values):
        import pyarrow as pa

        out = []
        for v in values.to_pylist():
            try:
                out.append(None if v is None
                           else py_encode(v, reg, message, proto_version))
            except ValueError:
                out.append(None)
        return pa.array(out, pa.binary())

    return F.arrow_udf(_encode, T.BinaryType())(value)


def decode_message(df: DataFrame, payload_col: str, message: str,
                   registry: SchemaRegistry | None = None,
                   proto_version: int = 3, impl: str = "arrow") -> DataFrame:
    """BinaryType payload -> ``df`` plus a ``decoded`` struct of
    ``decoded_schema(registry, message, proto_version)`` then ``error``
    (NULL on success; WIRE_ERROR, or DEPTH_ERROR past
    ``MAX_RECURSION_DEPTH`` nested levels, with every field NULL and the
    original bytes kept) — the reference's recursive walk
    (protobuf.rb:212-218, 287-336) for any registered message.

    ``impl='arrow'``: one Arrow UDF. A message ``build_flat_plan`` compiles
    (flat scalars plus at most one level of singular nesting, e.g.
    turn_wire, probe_result, user_agent) decodes through the numpy
    record-transposed walker; any other runs ``py_decode`` per payload.

    ``impl='jvm_dynamic'``: a vendored Java UDF (``jvm/src/.../
    WireDecodeRow``, compiled against the protobuf-java runtime the Spark
    Connect jar ships shaded) parses the bytes with ``DynamicMessage``
    against the registry's descriptor set (``descriptors.
    descriptor_set_bytes``) and returns the row directly: zero Python
    workers, no spark-protobuf jar needed. pb3 symbolizes enums and emits
    proto3 defaults; pb2 passes codes through. Recursive messages (no
    finite schema without a depth bound) and ``struct`` fields (no
    descriptor) are refused."""
    reg = registry if registry is not None else default_registry()
    if impl == "jvm_dynamic":
        row_schema = decoded_schema(reg, message, proto_version)
        name = _ensure_jvm_row_udf(df.sparkSession, message, proto_version,
                                   row_schema)
        cfg = _jvm_wire_cfg(reg, proto_version, message)
        return _decoded_or_dead_letter(
            df, F.call_udf(name, F.col(payload_col), F.lit(cfg)),
            _with_error(row_schema))
    if impl != "arrow":
        raise ValueError(f"unknown decode impl: {impl}")
    schema = _with_error(decoded_schema(reg, message, proto_version,
                                        MAX_RECURSION_DEPTH))
    from .pb_wire_vec import build_flat_plan

    plan = build_flat_plan(reg, message, proto_version)
    if plan is not None and "uint64" not in _plan_types(plan):
        udf = _flat_decode_udf(plan, schema)
    else:
        udf = _row_decode_udf(reg, message, proto_version, schema)
    return df.withColumn("decoded", udf(F.col(payload_col)))


def _plan_types(plan) -> set[str]:
    out = {f.ftype for f in plan.varints}
    for sub in plan.subplans.values():
        out |= _plan_types(sub)
    return out


def _arrow_column(c, typ):
    """One ``flat_decode_frame`` column as a ``pa.Array`` of ``typ``.
    Masked (Int64 / Float64) columns keep their numpy values and the
    kernel's mask, so a NaN double stays NaN; only the mask is NULL."""
    if isinstance(c, pd.Series):  # the scalar-fallback patch-up's frame
        c = c.array
        if c.dtype == object:
            c = [None if v is pd.NA else v for v in c]
    if isinstance(c, pd.api.extensions.ExtensionArray) \
            and c.dtype != object:
        a = pa.array(c)  # __arrow_array__: values + mask, no NaN sniffing
    else:
        a = pa.array(c, pa.int64() if pa.types.is_integer(typ) else typ,
                     from_pandas=False)
    # int32 fields come back int64: wrap like protobuf-java's readInt32
    return a if a.type == typ else a.cast(typ, safe=False)


def _flat_arrays(cols: dict, plan, atype, prefix: str = "") -> list:
    """``flat_decode_frame`` columns -> the child arrays of ``atype``, the
    decoded struct's Arrow type: a nested message is a child struct array
    re-assembled from its flattened ``<field>.<sub>`` columns, NULL where
    ``<field>._present`` is not true; ``oneof_<group>`` reads the kernel's
    ``_pb_oneof_<group>`` column."""
    out = []
    for f in atype:
        if f.name in plan.subplans:
            pre = f"{prefix}{f.name}."
            present = np.asarray(cols[pre + "_present"]) == True  # noqa: E712
            out.append(pa.StructArray.from_arrays(
                _flat_arrays(cols, plan.subplans[f.name], f.type, pre),
                fields=list(f.type), mask=pa.array(~present)))
        elif f.name.startswith("oneof_") \
                and f.name[6:] in plan.oneof_groups:
            out.append(_arrow_column(
                cols[f"{prefix}_pb_oneof_{f.name[6:]}"], f.type))
        else:
            out.append(_arrow_column(cols[prefix + f.name], f.type))
    return out


def _batch_decode_udf(decode_batch, schema: T.StructType, name: str):
    """``decode_batch`` (payload ``BinaryArray`` -> decoded ``StructArray``)
    as an Arrow UDF named ``name``.

    An iterator UDF, not a scalar one: Spark chains a scalar Arrow UDF
    into a scalar Arrow UDF that feeds it and then evaluates the inner one
    twice per row (once for its own column, once inside the chain), so
    ``decode(encode(x))`` in one plan would encode every row twice."""
    def udf(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        for payload in batches:
            yield decode_batch(payload)

    udf.__name__ = name
    return F.arrow_udf(udf, schema)


def _flat_decode_udf(plan, schema: T.StructType):
    """The Arrow-batch decode over the numpy record-transposed walker
    (``pb_wire_vec``): same semantics as ``py_decode`` (fuzz-pinned in
    tests/test_wire_property.py), no per-payload Python byte walk. The
    payload ``BinaryArray``'s offsets and data buffers feed the kernel
    directly (``flat_decode_frame``'s ``_pre`` seam) and each batch goes
    back as one ``pa.StructArray``: no pandas frame on either side. The
    plan (registry included) rides in the closure, pickled to each
    executor once."""
    from pyspark.sql.pandas.types import to_arrow_type

    from .pb_wire_vec import flat_decode_frame

    atype = to_arrow_type(schema)

    def _decode_batch(payload):
        n = len(payload)
        _, offs, data = payload.buffers()
        offsets = (np.frombuffer(offs, np.int32, n + 1, 4 * payload.offset)
                   .astype(np.int64) if n else np.zeros(1, np.int64))
        arr = (np.frombuffer(data, np.uint8) if data is not None
               else np.zeros(0, np.uint8))
        isnull = payload.is_null().to_numpy(zero_copy_only=False)
        cols = flat_decode_frame(None, plan, _pre=(
            arr, offsets[:-1].copy(), offsets[1:], isnull,
            lambda i: payload[i].as_py()))
        return pa.StructArray.from_arrays(
            _flat_arrays(cols, plan, atype), fields=list(atype))

    return _batch_decode_udf(_decode_batch, schema, "_decode_vec")


def _cell(v, dt: T.DataType):
    """One ``py_decode`` value -> its value in the decoded shape."""
    if v is None:
        return None
    if isinstance(dt, T.StructType):
        return _row(v, dt)
    if isinstance(dt, T.ArrayType):
        et = dt.elementType
        if isinstance(v, dict):  # map: entries in first-seen key order
            vt = et["value"].dataType
            return [{"key": k, "value": _cell(x, vt)} for k, x in v.items()]
        return [_cell(x, et) for x in v]
    if isinstance(dt, T.IntegerType):
        # int32 truncation, like protobuf-java's readInt32
        return ((v & 0xFFFFFFFF) ^ 0x80000000) - 0x80000000
    if isinstance(dt, T.LongType) and not -(1 << 63) <= v < (1 << 63):
        raise ValueError(WIRE_ERROR)  # a varint past the int64 column
    if isinstance(dt, T.DecimalType):
        if not 0 <= v < (1 << 64):
            raise ValueError(WIRE_ERROR)
        return Decimal(v)
    return v


def _row(d: dict, schema: T.StructType) -> dict:
    chosen = d["_pb_oneof"]
    return {f.name: (_cell(d[f.name], f.dataType) if f.name in d
                     else chosen.get(f.name[6:]))  # oneof_<group> slot
            for f in schema}


def _row_decode_udf(registry: SchemaRegistry, message: str,
                    proto_version: int, schema: T.StructType):
    """The Arrow-batch decode that runs ``py_decode`` per payload: maps,
    repeated and recursive messages, bytes, uint64, Struct."""
    fields = T.StructType(schema.fields[:-1])

    def _decode(payload):
        from pyspark.sql.pandas.types import to_arrow_type

        rows = []
        for buf in payload.to_pylist():
            try:
                if buf is None:
                    raise ValueError(WIRE_ERROR)
                d = py_decode(buf, registry, message, proto_version)
                rows.append({**_row(d, fields), "error": None})
            except ValueError as e:
                # keep the tag: DEPTH_ERROR routes apart from malformed bytes
                rows.append({"error": DEPTH_ERROR if str(e) == DEPTH_ERROR
                             else WIRE_ERROR})
        return pa.array(rows, to_arrow_type(schema))

    return _batch_decode_udf(_decode, schema, "_decode")


# ---------------------------------------------------------------------------
# the JVM path: the vendored DynamicMessage harness
# ---------------------------------------------------------------------------

def spark_protobuf_available(spark) -> bool:
    """True when the spark-protobuf jar is on the JVM classpath (cluster
    deployments add ``org.apache.spark:spark-protobuf_2.13``). No engine
    path reads it: its only caller is the benchmark's host stamp
    (``perfbench/run.py``)."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.protobuf.ProtobufDataToCatalyst"
        )
        return True
    except Exception:
        return False


_JVM_WIRE_JAR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "jvm", "sparkgraft-jvm-wire.jar",
)


def jvm_dynamic_available(spark) -> bool:
    """True when the protobuf-java runtime the Spark Connect jar shades
    (``org.sparkproject.connect.protobuf``) is on the JVM classpath — the
    only prerequisite of the vendored ``jvm_dynamic`` decode path (the
    engine's own harness jar rides along in the package)."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.sparkproject.connect.protobuf.DynamicMessage"
        )
        return True
    except Exception:
        return False


def _register_java_udf(spark, name: str, cls_name: str,
                       return_type: T.DataType) -> None:
    """Register a vendored Java UDF2 marked NON-DETERMINISTIC.

    The flag is a plan-shape statement, not a semantics one (the decoders
    are pure functions): deterministic ScalaUDF output columns get
    SUBSTITUTED through projections by filter pushdown / projection
    collapse, so ``decoded.error IS NULL`` above a fused
    encode->decode plan re-inlines the whole UDF-plus-encode expression
    into the Filter — evaluated twice per row and heavy enough to knock the
    stage out of whole-stage codegen (measured 70x on the fused roundtrip:
    6.5s -> 0.09s warm at 97k rows). asNondeterministic() pins exactly-once
    evaluation. Cost: filters no longer push through the decode projection
    — which is the hot-path-correct trade, since every downstream predicate
    references the decode output anyway.

    Registration goes through ``functions.udf(UDF2, DataType)`` via
    explicit reflection (the typed overload py4j's resolver misses);
    ``registerJavaFunction`` is the deterministic fallback if the internal
    surface drifts."""
    gw = spark.sparkContext._gateway
    jvm = spark._jvm
    try:
        loader = spark._jsparkSession.sharedState().jarClassLoader()
        inst = loader.loadClass(cls_name).newInstance()
        jdt = jvm.org.apache.spark.sql.types.DataType.fromJson(
            return_type.json())
        fcls = jvm.java.lang.Class.forName(
            "org.apache.spark.sql.functions")
        udf2cls = jvm.java.lang.Class.forName(
            "org.apache.spark.sql.api.java.UDF2")
        dtcls = jvm.java.lang.Class.forName(
            "org.apache.spark.sql.types.DataType")
        params = gw.new_array(jvm.java.lang.Class, 2)
        params[0], params[1] = udf2cls, dtcls
        method = fcls.getMethod("udf", params)
        args = gw.new_array(jvm.java.lang.Object, 2)
        args[0], args[1] = inst, jdt
        judf = method.invoke(None, args).asNondeterministic()
        spark._jsparkSession.udf().register(name, judf)
    except Exception:
        spark.udf.registerJavaFunction(name, cls_name, return_type)


def _ensure_jvm_row_udf(spark, message: str, proto_version: int,
                        schema: T.StructType) -> str:
    """Idempotently ADD JAR the vendored harness and register the
    Row-returning Java UDF under a per-(message, dialect) name — the
    registered return type is part of the function, so each shape gets its
    own. ``ADD JAR`` lands on the session's shared classloader, so the path
    works on sessions the engine did not itself create (e.g. the
    correctness driver's)."""
    name = f"sg_pb_row_{message}_pb{proto_version}"
    seen = getattr(spark, "_sg_jvm_wire_udfs", None)
    if seen is None:
        seen = set()
        spark._sg_jvm_wire_udfs = seen
    if name not in seen:
        spark.sql(f"ADD JAR '{_JVM_WIRE_JAR}'")
        _register_java_udf(spark, name, "org.sparkgraft.WireDecodeRow",
                           schema)
        seen.add(name)
    return name


def _jvm_wire_cfg(reg: SchemaRegistry, proto_version: int,
                  message: str) -> str:
    from ..descriptors import PACKAGE, descriptor_set_bytes

    dialect = "pb3" if proto_version == 3 else "pb2"
    # the set is proto3 syntax for BOTH dialects: the engine's pb2 contract
    # keeps proto3-style default emission (decode-plan template,
    # _decode_plan) and differs only in enum passthrough, carried by the
    # dialect flag
    desc = descriptor_set_bytes(reg, [message])
    return (base64.b64encode(desc).decode("ascii")
            + f"|{PACKAGE}.{message}|" + dialect)


def decode_turn_wire(df: DataFrame, payload_col: str = "payload",
                     registry: SchemaRegistry | None = None,
                     proto_version: int = 3, impl: str = "arrow",
                     oneof_metainfo: bool = True) -> DataFrame:
    """BinaryType payload -> ``decoded`` struct column (1:1 projection) of
    shape ``TURN_WIRE_DECODED`` (``TURN_WIRE_DECODED_PB2`` under
    ``proto_version=2``, which keeps enum codes as ints). Pass ``registry``
    to decode with schema specs loaded from disk.

    ``impl``: ``decode_message``'s, 'arrow' (the default) or 'jvm_dynamic';
    any other value raises ``ValueError``.

    ``oneof_metainfo``: mirrors the reference's ``pb3_set_oneof_metainfo``
    config (protobuf.rb:110-116, spec/codecs/pb3_decode_spec.rb:347-452 —
    whose DEFAULT is false): when disabled the chosen-member discriminator
    column is nulled; member values themselves always decode."""
    out = decode_message(df, payload_col, "turn_wire", registry,
                         proto_version, impl)
    if not oneof_metainfo:
        schema = (TURN_WIRE_DECODED if proto_version == 3
                  else TURN_WIRE_DECODED_PB2)
        out = out.withColumn("decoded", F.struct(*[
            (F.lit(None).cast("string") if f.name == "oneof_body"
             else F.col("decoded")[f.name]).alias(f.name)
            for f in schema
        ]))
    return out
