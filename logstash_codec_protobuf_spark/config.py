"""Pipeline configuration.

Re-expresses the reference codec's config knobs
(lib/logstash/codecs/protobuf.rb:87-154) for a columnar
engine. Four of them are ``CodecConfig`` fields:

- ``protobuf_version``  -> ``proto_version``: 2 => enums stay ints, strict encode
                           errors (protobuf.rb:633-643); 3 => enums symbolize to
                           names, lenient encode with dead-letter (protobuf.rb:376-402)
- ``stop_on_error``     -> same: raise on first parse failure instead of routing to
                           the dead-letter sink (protobuf.rb:139-140,227-228,429-431)
- ``pb3_set_oneof_metainfo`` -> ``set_oneof_metainfo``: expose chosen-oneof-option
                           names in a `_meta` struct column (protobuf.rb:145-154,221-223).
                           Default FALSE, matching the reference's default
                           (protobuf.rb:110-116) — queries that assert on the
                           discriminator opt in explicitly.
- ``pb3_encoder_autoconvert_types`` -> ``encoder_autoconvert_types``: default
                           TRUE (protobuf.rb:143). False = schema_align treats
                           mismatched leaves as type errors (null ->
                           dead-letter / strict raise, protobuf.rb:410-420)
                           instead of converting; exact-type values still
                           encode (spec/codecs/pb3_encode_spec.rb:180-207).

The others have no field. ``class_file``, ``include_path`` and
``protobuf_root_directory`` are the parameters of ``schema.register_codec``,
which loads message specs into a registry. ``class_name`` picks the message
a payload parses as: the pipeline parses one message format
(``operators.parse``), and the wire codec takes the message per call
(``pb_wire.decode_message``). The reference's recursive walk has no nesting
bound; the engine's, for self-referencing messages, is the constant
``pb_wire.MAX_RECURSION_DEPTH``, because a columnar output schema has a
fixed depth.
"""

from __future__ import annotations

from dataclasses import dataclass

DEAD_LETTER_TAG = "_protobufdecodefailure"  # protobuf.rb:231
DEAD_LETTER_SINK = "dead_letter"


def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal (backslash escapes, the parser's
    default), for expressions built as SQL text."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


@dataclass(frozen=True)
class CodecConfig:
    proto_version: int = 3
    stop_on_error: bool = False
    set_oneof_metainfo: bool = False  # reference default (protobuf.rb:110-116)
    # pb3_encoder_autoconvert_types (protobuf.rb:143, reference default TRUE):
    # False = mismatched-type leaves are type errors (null -> dead-letter /
    # strict raise), never conversions; exact-type values still encode
    encoder_autoconvert_types: bool = True
