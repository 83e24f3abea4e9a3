"""Enrichment dictionaries: role and tool lookups, and the enum dimension.

Generalizes the reference's constant-size field/enum dictionaries probed per
record (@metainfo_messageclasses lookup, protobuf.rb:654-657; descriptor-pool
lookups :455,477,487). Single source of truth: the Python rows below render
both the VALUES texts the DuckDB oracles inline as CTEs and, per output
column, the SQL map lookup ``element_at(map(k1, v1, ...), <key>)`` that
``operators/enrich`` projects. A lookup is the codec's per-record hash probe
with nothing around it: no join, no broadcast job. ``element_at`` gives NULL
for a key the map lacks and for a NULL key, which is the left join's
unknown-dictionary residue. ``enums_df`` plans the enum rows as a
``LocalRelation`` for the query that joins it.

The VALUES texts are rendered twice, once per SQL dialect: DuckDB doubles
a ``'`` and keeps ``\\`` as is, while Spark's parser reads ``\\`` as an
escape. ``ROLES_SQL`` / ``TOOLS_SQL`` / ``ENUMS_SQL`` are the DuckDB texts;
whatever Spark parses goes through ``config.sql_str``.

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


def _duck_str(s: str) -> str:
    """``s`` as a DuckDB string literal (``'`` doubled, ``\\`` verbatim)."""
    return "'" + s.replace("'", "''") + "'"


def _lit(v, quote=sql_str) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return quote(v)
    return str(v)


def _values_cte(rows, cols, quote=_duck_str) -> str:
    """``rows`` as a VALUES subquery; ``quote`` renders a string literal in
    the dialect that parses the text (DuckDB's by default)."""
    vals = ", ".join(
        "(" + ", ".join(_lit(v, quote) for v in r) + ")" for r in rows)
    return f"(SELECT * FROM (VALUES {vals}) AS t({', '.join(cols)}))"


_ENUMS = (default_registry().enum_rows(), ["enum_class", "code", "name"])
ROLES_SQL = _values_cte(ROLES_ROWS, ["role", "role_group", "is_agent"])
TOOLS_SQL = _values_cte(TOOLS_ROWS, ["tool", "tool_family", "sink"])
ENUMS_SQL = _values_cte(*_ENUMS)
_ENUMS_SPARK_SQL = _values_cte(*_ENUMS, sql_str)


def _lookups(rows, key: str, cols: list[str]) -> list[str]:
    """One ``element_at(map(...), key) AS col`` text per value column."""
    return [
        f"element_at(map({', '.join(f'{_lit(r[0])}, {_lit(r[i])}' for r in rows)}),"
        f" {key}) AS {col}"
        for i, col in enumerate(cols, start=1)
    ]


TOOL_LOOKUPS = _lookups(TOOLS_ROWS, "tool", ["tool_family", "sink"])
ROLE_LOOKUPS = _lookups(ROLES_ROWS, "role", ["role_group", "is_agent"])


def enums_df(spark: SparkSession) -> DataFrame:
    return spark.sql(f"SELECT * FROM {_ENUMS_SPARK_SQL}")
