"""Enrichment dictionaries: role and tool lookups, and the enum dimension.

Generalizes the reference's constant-size field/enum dictionaries probed per
record (@metainfo_messageclasses lookup, protobuf.rb:654-657; descriptor-pool
lookups :455,477,487). Single source of truth: the Python rows below render
both the VALUES texts the DuckDB oracles inline as CTEs and, per output
column, the SQL map lookup ``element_at(map(k1, v1, ...), <key>)`` that
``operators/enrich`` projects. A lookup is the codec's per-record hash probe
with nothing around it: no join, no broadcast job. ``element_at`` gives NULL
for a key the map lacks and for a NULL key, which is the left join's
unknown-dictionary residue. ``enums_df`` plans ``ENUMS_SQL`` as a
``LocalRelation`` for the query that joins it.

`tools.sink` drives the tag-based fan-out routing (FIXTURES.md §2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..config import sql_str
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

# a duplicate key makes a map literal raise where a join would multiply rows
for _rows in (ROLES_ROWS, TOOLS_ROWS):
    if len({r[0] for r in _rows}) != len(_rows):
        raise ValueError(f"duplicate dictionary key: {_rows}")


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


def _lookups(rows, key: str, cols: list[str]) -> list[str]:
    """One ``element_at(map(...), key) AS col`` text per value column."""
    def lit(v):
        if isinstance(v, bool):
            return "true" if v else "false"
        return sql_str(v)

    return [
        f"element_at(map({', '.join(f'{lit(r[0])}, {lit(r[i])}' for r in rows)}),"
        f" {key}) AS {col}"
        for i, col in enumerate(cols, start=1)
    ]


TOOL_LOOKUPS = _lookups(TOOLS_ROWS, "tool", ["tool_family", "sink"])
ROLE_LOOKUPS = _lookups(ROLES_ROWS, "role", ["role_group", "is_agent"])


def enums_df(spark: SparkSession) -> DataFrame:
    return spark.sql(f"SELECT * FROM {ENUMS_SQL}")
