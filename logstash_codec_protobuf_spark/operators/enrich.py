"""Broadcast-join enrichment against role/tool dimension tables.

Generalizes the reference's per-record dictionary probes
(@metainfo_messageclasses[class_name], protobuf.rb:654-657) to the canonical Spark
shape: ``df.join(F.broadcast(dim), key, "left")``. The dims are a few rows; a
broadcast hash join costs zero shuffle on the 100 TB fact side — Catalyst keeps
the whole parse→enrich pipeline in one stage.

Unknown keys are NOT dropped: like the codec's keep-original-on-error stance
(protobuf.rb:229-233), rows whose tool/role misses the dictionary get a tag and
fall through to the dead-letter sink in routing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.dims import roles_df, tools_df
from .normalize import add_tag

UNKNOWN_TOOL_TAG = "_unknown_tool"
UNKNOWN_ROLE_TAG = "_unknown_role"


def enrich(df: DataFrame, spark: SparkSession, tag_unknown: bool = True) -> DataFrame:
    """Left-broadcast-join roles + tools; optionally tag unmatched keys.

    Expects columns `role` and `tool` (the parsed/raw transcript columns).
    Adds `role_group`, `is_agent`, `tool_family`, `sink`, and (if tagging)
    `tags`.
    """
    out = join_tools(
        df.join(F.broadcast(roles_df(spark)), on="role", how="left"), spark)
    if tag_unknown:
        tags = F.coalesce(
            F.col("tags") if "tags" in df.columns else F.lit(None).cast("array<string>"),
            F.array().cast("array<string>"),
        )
        tags = F.when(F.col("sink").isNull(), add_tag(tags, UNKNOWN_TOOL_TAG)).otherwise(tags)
        tags = F.when(F.col("role_group").isNull(), add_tag(tags, UNKNOWN_ROLE_TAG)).otherwise(tags)
        out = out.withColumn("tags", F.when(F.size(tags) > 0, tags))
    return out


def join_tools(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Left-broadcast-join the tools dictionary alone: adds `tool_family` and
    `sink`, all that routing reads."""
    return df.join(F.broadcast(tools_df(spark)), on="tool", how="left")


def unmatched_keys(df: DataFrame, spark: SparkSession, key: str = "tool") -> DataFrame:
    """left_anti residue — keys with no dictionary entry (used by tests and by
    dead-letter accounting; the broadcast left_anti is shuffle-free)."""
    dim = tools_df(spark) if key == "tool" else roles_df(spark)
    return df.join(F.broadcast(dim), on=key, how="left_anti")
