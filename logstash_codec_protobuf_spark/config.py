"""Pipeline configuration.

Mirrors the reference codec's 8 config knobs
(/root/reference/lib/logstash/codecs/protobuf.rb:87-154) re-expressed for a
columnar engine:

- ``class_name``        -> ``message``: which registered message spec parses `text`
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
"""

from __future__ import annotations

from dataclasses import dataclass, field

DEAD_LETTER_TAG = "_protobufdecodefailure"  # protobuf.rb:231
DEAD_LETTER_SINK = "dead_letter"


def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal (backslash escapes, the parser's
    default), for expressions built as SQL text."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


@dataclass(frozen=True)
class CodecConfig:
    message: str = "turn_payload"
    proto_version: int = 3
    stop_on_error: bool = False
    set_oneof_metainfo: bool = False  # reference default (protobuf.rb:110-116)
    # pb3_encoder_autoconvert_types (protobuf.rb:143, reference default TRUE):
    # False = mismatched-type leaves are type errors (null -> dead-letter /
    # strict raise), never conversions; exact-type values still encode
    encoder_autoconvert_types: bool = True
    # Nesting bound for SELF-REFERENCING messages (human.pb.rb:16-17; the
    # reference's recursive walk protobuf.rb:287-336 is unbounded, but a
    # columnar output schema has a fixed depth). Payloads nested deeper than
    # this dead-letter LOUDLY with pb_wire.DEPTH_ERROR — a distinct tag from
    # malformed-bytes WIRE_ERROR, so pipelines can route/alert on them —
    # never a silent truncation. Raise it to widen the decoded lineage.
    max_recursion_depth: int = 3
    sinks: tuple[str, ...] = field(
        default=("sink_a", "sink_b", "sink_c", "sink_d", DEAD_LETTER_SINK)
    )
