"""PySpark-native transcript pipeline engine.

A brand-new engine (NOT a port) with the query/data-processing capabilities of
logstash-plugins/logstash-codec-protobuf (reference at /root/reference), re-expressed
Spark-first: the codec's per-message decode/encode stages become vectorized columnar
parse/serialize over a DataFrame of conversation transcripts
(conv_id, turn_idx, role, text, tool, ts), followed by dictionary-lookup enrichment,
tag-based fan-out routing to per-sink tables, and per-conversation aggregates.

Reference semantics anchored throughout via file:line citations into
/root/reference/lib/logstash/codecs/protobuf.rb.
"""

__version__ = "0.1.0"

from .config import CodecConfig  # noqa: F401
