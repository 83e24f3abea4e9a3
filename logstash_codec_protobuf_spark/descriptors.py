"""Compile a SchemaRegistry to a protobuf FileDescriptorSet (binary).

This is what the JVM decoder, ``decode_message(impl='jvm_dynamic')``,
parses against: the vendored ``WireDecodeRow`` builds a protobuf-java
``DynamicMessage`` descriptor from the serialized
``google.protobuf.FileDescriptorSet`` — the bytes a ``protoc
--descriptor_set_out`` run produces, and the ``binaryDescriptorSet`` that
spark-protobuf's ``from_protobuf`` takes.

The sandbox ships neither protoc nor the protobuf Python package, so the
descriptor set is serialized with the engine's OWN wire encoder
(functions.wire py_field_* helpers) against the public descriptor.proto
schema — descriptors are themselves just protobuf messages. Field numbers
below are from the published google/protobuf/descriptor.proto:

  FileDescriptorSet   { repeated FileDescriptorProto file = 1 }
  FileDescriptorProto { name=1 package=2 message_type=4 enum_type=5 syntax=12 }
  DescriptorProto     { name=1 field=2 oneof_decl=8 }
  FieldDescriptorProto{ name=1 number=3 label=4 type=5 type_name=6
                        oneof_index=9 json_name=10 }
  EnumDescriptorProto { name=1 value=2 }
  EnumValueDescriptorProto { name=1 number=2 }
  OneofDescriptorProto{ name=1 }

The reference plugin solves the same problem one layer up: it loads compiled
``_pb.rb`` descriptor classes into the Google::Protobuf descriptor pool
(protobuf.rb:164-199); this module is that compilation step, targeting
a JVM descriptor-set entry point instead of a Ruby VM.

``map<k,v>`` fields compile to the canonical protoc lowering: a synthetic
nested ``<FieldName>Entry`` message (key=1, value=2) with
``options.map_entry = true`` and the field itself repeated — protobuf-java
then reports ``FieldDescriptor.isMapField()`` exactly as for a protoc
set. google.protobuf.Struct fields are not emitted (the Arrow decoder
remains the implementation for those).
"""

from __future__ import annotations

from .functions.wire import py_field_len, py_field_string, py_field_varint
from .schema import MessageSpec, SchemaRegistry

# FieldDescriptorProto.Type enum values (descriptor.proto)
_TYPE_CODES = {
    "double": 1, "float": 2, "int64": 3, "uint64": 4, "int32": 5,
    "bool": 8, "string": 9, "bytes": 12, "uint32": 13,
    "sint32": 17, "sint64": 18,
}
_LABEL_OPTIONAL = 1
_LABEL_REPEATED = 3
_TYPE_ENUM = 14
_TYPE_MESSAGE = 11
# the set is one proto3 file, all messages and enums in one package; the
# pb2 dialect differs only in enum passthrough (pb_wire._jvm_wire_cfg)
PACKAGE = "sparkgraft"
SYNTAX = "proto3"


def _entry_name(field_name: str) -> str:
    """protoc's synthetic map-entry message name: CamelCase + 'Entry'."""
    return "".join(p.capitalize() for p in field_name.split("_")) + "Entry"


def _map_kv(ftype: str) -> tuple[str, str]:
    k, v = ftype[4:-1].split(",", 1)
    return k.strip(), v.strip()


def _field_descriptor(spec_field, number: int, oneof_index: int | None,
                      msg_name: str = "") -> bytes:
    f = spec_field
    buf = py_field_string(1, f.name)
    buf += py_field_varint(3, number)
    is_map = f.type.startswith("map<")
    buf += py_field_varint(
        4, _LABEL_REPEATED if (f.repeated or is_map) else _LABEL_OPTIONAL
    )
    if f.type in _TYPE_CODES:
        buf += py_field_varint(5, _TYPE_CODES[f.type])
    elif f.type.startswith("enum:"):
        buf += py_field_varint(5, _TYPE_ENUM)
        buf += py_field_string(6, f".{PACKAGE}.{f.type[5:]}")
    elif f.type.startswith("message:"):
        buf += py_field_varint(5, _TYPE_MESSAGE)
        buf += py_field_string(6, f".{PACKAGE}.{f.type[8:]}")
    elif is_map:
        buf += py_field_varint(5, _TYPE_MESSAGE)
        buf += py_field_string(
            6, f".{PACKAGE}.{msg_name}.{_entry_name(f.name)}")
    else:
        raise ValueError(f"descriptor set: unsupported field type {f.type}")
    if oneof_index is not None:
        # descriptor.proto is proto2 (explicit presence): index 0 is encoded
        # on the wire, not omitted — py_field_varint emits unconditionally
        buf += py_field_varint(9, oneof_index)
    buf += py_field_string(10, f.name)  # json_name
    return buf


def _map_entry_descriptor(f) -> bytes:
    """The synthetic nested DescriptorProto protoc lowers a map field to:
    message <Name>Entry { options.map_entry = true; K key = 1; V value = 2 }
    """
    ktype, vtype = _map_kv(f.type)
    buf = py_field_string(1, _entry_name(f.name))
    for num, (fname, ftype) in enumerate([("key", ktype), ("value", vtype)],
                                         start=1):
        fb = py_field_string(1, fname)
        fb += py_field_varint(3, num)
        fb += py_field_varint(4, _LABEL_OPTIONAL)
        if ftype in _TYPE_CODES:
            fb += py_field_varint(5, _TYPE_CODES[ftype])
        elif ftype.startswith("enum:"):
            fb += py_field_varint(5, _TYPE_ENUM)
            fb += py_field_string(6, f".{PACKAGE}.{ftype[5:]}")
        elif ftype.startswith("message:"):
            fb += py_field_varint(5, _TYPE_MESSAGE)
            fb += py_field_string(6, f".{PACKAGE}.{ftype[8:]}")
        else:
            raise ValueError(f"descriptor set: unsupported map type {ftype}")
        fb += py_field_string(10, fname)  # json_name
        buf += py_field_len(2, fb)
    # DescriptorProto.options (7) -> MessageOptions.map_entry (7) = true
    buf += py_field_len(7, py_field_varint(7, 1))
    return buf


def _message_descriptor(msg: MessageSpec) -> bytes:
    groups: list[str] = []
    for f in msg.fields:
        if f.oneof and f.oneof not in groups:
            groups.append(f.oneof)
    buf = py_field_string(1, msg.name)
    for num, f in msg.wire_fields():
        idx = groups.index(f.oneof) if f.oneof else None
        buf += py_field_len(
            2, _field_descriptor(f, num, idx, msg.name))
        if f.type.startswith("map<"):  # nested_type = 3
            buf += py_field_len(3, _map_entry_descriptor(f))
    for g in groups:
        buf += py_field_len(8, py_field_string(1, g))
    return buf


def _enum_descriptor(name: str, values: dict[int, str]) -> bytes:
    buf = py_field_string(1, name)
    for code, vname in sorted(values.items()):
        v = py_field_string(1, vname) + py_field_varint(2, code)
        buf += py_field_len(2, v)
    return buf


def descriptor_set_bytes(registry: SchemaRegistry,
                         messages: list[str] | None = None) -> bytes:
    """Serialize (a subset of) the registry as a binary FileDescriptorSet —
    the ``binaryDescriptorSet`` of ``from_protobuf``, which the
    ``jvm_dynamic`` decoder parses too."""
    names = list(messages) if messages is not None else sorted(registry.messages)
    # Transitively close over message-typed fields: a type_name reference to
    # a message absent from the set is unresolvable on the JVM from_protobuf
    # path, so every message: dependency (and its enums) must be emitted too.
    seen = set(names)
    frontier = list(names)
    while frontier:
        spec = registry.messages[frontier.pop()]
        for f in spec.fields:
            ftype = f.type
            if ftype.startswith("map<"):  # a message-typed map VALUE is a dep
                ftype = _map_kv(ftype)[1]
            if ftype.startswith("message:"):
                dep = ftype[8:]
                if dep not in seen:
                    if dep not in registry.messages:
                        raise ValueError(
                            f"descriptor set: unknown message dependency {dep}"
                        )
                    seen.add(dep)
                    names.append(dep)
                    frontier.append(dep)
    file_proto = py_field_string(1, f"{PACKAGE}.proto")
    file_proto += py_field_string(2, PACKAGE)
    enums_needed: list[str] = []
    for m in names:
        spec = registry.messages[m]
        for f in spec.fields:
            if f.type.startswith("enum:") and f.type[5:] not in enums_needed:
                enums_needed.append(f.type[5:])
        file_proto += py_field_len(4, _message_descriptor(spec))
    for e in enums_needed:
        file_proto += py_field_len(
            5, _enum_descriptor(e, registry.enums[e].values)
        )
    file_proto += py_field_string(12, SYNTAX)
    return py_field_len(1, file_proto)
