"""Descriptor-set compilation (the from_protobuf swap-in seam).

The generated FileDescriptorSet is validated structurally by decoding it with
the engine's OWN wire parser against hand-registered descriptor.proto message
specs (field numbers from the published google/protobuf/descriptor.proto) —
descriptors are just protobuf messages, so the parser that decodes unicorns
decodes descriptors too."""

from __future__ import annotations

from logstash_codec_protobuf_spark.descriptors import descriptor_set_bytes
from logstash_codec_protobuf_spark.operators import pb_wire as W
from logstash_codec_protobuf_spark.schema import (
    FieldSpec, MessageSpec, SchemaRegistry, default_registry,
)


def _descriptor_registry() -> SchemaRegistry:
    reg = SchemaRegistry()
    reg.register_message(MessageSpec("field_proto", (
        FieldSpec("name", "string", number=1),
        FieldSpec("number", "int32", number=3),
        FieldSpec("label", "int32", number=4),
        FieldSpec("type", "int32", number=5),
        FieldSpec("type_name", "string", number=6),
        FieldSpec("oneof_index", "int32", oneof="_presence", number=9),
        FieldSpec("json_name", "string", number=10),
    )))
    reg.register_message(MessageSpec("oneof_proto", (
        FieldSpec("name", "string", number=1),
    )))
    reg.register_message(MessageSpec("message_proto", (
        FieldSpec("name", "string", number=1),
        FieldSpec("field", "message:field_proto", repeated=True, number=2),
        FieldSpec("oneof_decl", "message:oneof_proto", repeated=True,
                  number=8),
    )))
    reg.register_message(MessageSpec("enum_value_proto", (
        FieldSpec("name", "string", number=1),
        FieldSpec("number", "int32", number=2),
    )))
    reg.register_message(MessageSpec("enum_proto", (
        FieldSpec("name", "string", number=1),
        FieldSpec("value", "message:enum_value_proto", repeated=True,
                  number=2),
    )))
    reg.register_message(MessageSpec("file_proto", (
        FieldSpec("name", "string", number=1),
        FieldSpec("package", "string", number=2),
        FieldSpec("message_type", "message:message_proto", repeated=True,
                  number=4),
        FieldSpec("enum_type", "message:enum_proto", repeated=True, number=5),
        FieldSpec("syntax", "string", number=12),
    )))
    reg.register_message(MessageSpec("file_set", (
        FieldSpec("file", "message:file_proto", repeated=True, number=1),
    )))
    return reg


def test_descriptor_set_structure():
    raw = descriptor_set_bytes(default_registry(), ["turn_wire"])
    d = W.py_decode(raw, _descriptor_registry(), "file_set", proto_version=2)
    (f,) = d["file"]
    assert f["name"] == "sparkgraft.proto" and f["package"] == "sparkgraft"
    assert f["syntax"] == "proto3"
    (msg,) = f["message_type"]
    assert msg["name"] == "turn_wire"
    by_name = {fd["name"]: fd for fd in msg["field"]}
    assert by_name["conv_id"]["number"] == 1
    assert by_name["conv_id"]["type"] == 9          # TYPE_STRING
    assert by_name["turn_idx"]["type"] == 5         # TYPE_INT32
    assert by_name["cents"]["number"] == 6
    assert by_name["cents"]["type"] == 18           # TYPE_SINT64
    assert by_name["colour"]["type"] == 14          # TYPE_ENUM
    assert by_name["colour"]["type_name"] == ".sparkgraft.Colour"
    # oneof members carry index 0 EXPLICITLY (descriptor.proto is proto2)
    assert by_name["horn"]["oneof_index"] == 0
    assert by_name["wings"]["oneof_index"] == 0
    assert by_name["msg"]["oneof_index"] is None    # non-member: absent
    assert [o["name"] for o in msg["oneof_decl"]] == ["body"]
    # the referenced enum is included with explicit zero-valued numbers
    (en,) = f["enum_type"]
    assert en["name"] == "Colour"
    assert [(v["name"], v["number"]) for v in en["value"]][:3] == [
        ("UNDEFINED", 0), ("BLUE", 1), ("PINK", 2),
    ]


def test_descriptor_nested_and_repeated_labels():
    raw = descriptor_set_bytes(default_registry(),
                               ["dns_message", "dns_question"])
    d = W.py_decode(raw, _descriptor_registry(), "file_set", proto_version=2)
    msgs = {m["name"]: m for m in d["file"][0]["message_type"]}
    q = {fd["name"]: fd for fd in msgs["dns_message"]["field"]}["question"]
    assert q["label"] == 3                          # LABEL_REPEATED
    assert q["type"] == 11                          # TYPE_MESSAGE
    assert q["type_name"] == ".sparkgraft.dns_question"
    ident = {fd["name"]: fd for fd in msgs["dns_message"]["field"]}["id"]
    assert ident["type"] == 4                       # TYPE_UINT64


def test_descriptor_set_transitive_message_closure():
    """descriptor_set_bytes must transitively include message-typed
    dependencies (and their enums): probe_result references
    ping_ipv4_result which references the PingStatus enum — a set missing
    either is unresolvable on the JVM from_protobuf path."""
    from logstash_codec_protobuf_spark.descriptors import descriptor_set_bytes
    from logstash_codec_protobuf_spark.schema import default_registry

    reg = default_registry()
    buf = descriptor_set_bytes(reg, ["probe_result"])
    # names appear as length-delimited strings in the serialized set
    assert b"ping_ipv4_result" in buf
    assert b"PingStatus" in buf

    import pytest

    from logstash_codec_protobuf_spark.schema import (
        FieldSpec, MessageSpec, SchemaRegistry,
    )

    bad = SchemaRegistry()
    bad.register_message(MessageSpec("orphan", (
        FieldSpec("x", "message:nowhere"),)))
    with pytest.raises(ValueError, match="unknown message dependency"):
        descriptor_set_bytes(bad, ["orphan"])
