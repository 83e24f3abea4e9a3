"""Enrichment: role and tool dictionary lookups as one projection.

The reference probes its dictionaries per record with a hash lookup
(@metainfo_messageclasses[class_name], protobuf.rb:654-657). Here each output
column is the same probe as SQL text, ``element_at(map(...), key)`` rendered
from ``sources/dims`` (`TOOL_LOOKUPS`, `ROLE_LOOKUPS`): a narrow projection
Catalyst fuses into the parse stage, with no join, no broadcast job and no
hash-table build for a dictionary of a few rows.

Unknown keys are NOT dropped: like the codec's keep-original-on-error stance
(protobuf.rb:229-233), a row whose tool or role misses the dictionary keeps
NULL lookups (a left join's residue), and routing sends a NULL sink to the
dead-letter sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.dims import ROLE_LOOKUPS, TOOL_LOOKUPS


def enrich(df: DataFrame, spark: SparkSession | None = None,
           tag_unknown: bool = False) -> DataFrame:
    """Adds `tool_family` and `sink` (by `tool`), `role_group` and
    `is_agent` (by `role`). ``spark`` is unused and ``tag_unknown=True``
    raises; both stay in the signature because the benchmark's traced
    replay (``perfbench/workloads.py``) passes them."""
    if tag_unknown:
        raise ValueError("enrich no longer tags unknown keys")
    return df.selectExpr("*", *TOOL_LOOKUPS, *ROLE_LOOKUPS)


def join_tools(df: DataFrame) -> DataFrame:
    """The tools lookups alone: adds `tool_family` and `sink`, all that
    routing reads."""
    return df.selectExpr("*", *TOOL_LOOKUPS)
