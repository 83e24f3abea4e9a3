"""Enrichment dimension tables (broadcast dictionaries).

Generalizes the reference's constant-size field/enum dictionaries probed per record
(@metainfo_messageclasses lookup, protobuf.rb:654-657; descriptor-pool lookups
:455,477,487) into small dimension tables joined with an explicit broadcast hash
join — the canonical Spark shape for a per-row map probe. Single source of truth:
the Python rows below render one VALUES text per dictionary, and that one SQL
text feeds both engines — the DuckDB oracles inline it as a CTE, and Spark
plans it as a ``LocalRelation``. Building a dim is analysis only: no Python
worker, no RDD, no job until the broadcast reads the rows from the driver.

`tools.sink` drives the tag-based fan-out routing (FIXTURES.md §2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..schema import default_registry

ROLES_ROWS = [
    # (role, role_group, is_agent)
    ("user", "human", False),
    ("assistant", "agent", True),
    ("system", "control", False),
]

TOOLS_ROWS = [
    # (tool, tool_family, sink)
    ("none", "core", "sink_a"),
    ("search", "web", "sink_b"),
    ("browser", "web", "sink_b"),
    ("calc", "math", "sink_c"),
    ("code", "dev", "sink_c"),
    ("sql", "dev", "sink_d"),
]


def _values_cte(rows, cols) -> str:
    def lit(v):
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return str(v)

    vals = ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    return f"(SELECT * FROM (VALUES {vals}) AS t({', '.join(cols)}))"


ROLES_SQL = _values_cte(ROLES_ROWS, ["role", "role_group", "is_agent"])
TOOLS_SQL = _values_cte(TOOLS_ROWS, ["tool", "tool_family", "sink"])
ENUMS_SQL = _values_cte(
    default_registry().enum_rows(), ["enum_class", "code", "name"]
)


def roles_df(spark: SparkSession) -> DataFrame:
    return spark.sql(f"SELECT * FROM {ROLES_SQL}")


def tools_df(spark: SparkSession) -> DataFrame:
    return spark.sql(f"SELECT * FROM {TOOLS_SQL}")


def enums_df(spark: SparkSession) -> DataFrame:
    return spark.sql(f"SELECT * FROM {ENUMS_SQL}")
