"""Enrich's dictionary lookups on dirty keys.

The clean fixtures never miss a dictionary, so the oracles cannot see how
unknown, NULL or quote-bearing keys enrich. The reference here is the shape
the lookups replaced: a left join against the VALUES text of each
dictionary."""

from __future__ import annotations

import datetime
import itertools
import re

from logstash_codec_protobuf_spark.operators.enrich import enrich
from logstash_codec_protobuf_spark.operators.parse import parse_turns
from logstash_codec_protobuf_spark.operators.route import route_all
from logstash_codec_protobuf_spark.sources.dims import (
    ROLES_ROWS, ROLES_SQL, TOOLS_ROWS, TOOLS_SQL, _lookups)
from logstash_codec_protobuf_spark.streaming.stream import (
    read_transcript_stream, streaming_parse_route)

DIRTY = ["unknown", None, "it's", "back\\slash", "", "SQL"]
TOOLS = [r[0] for r in TOOLS_ROWS] + DIRTY
ROLES = [r[0] for r in ROLES_ROWS] + DIRTY


def _left_joined(spark, df):
    return (df.join(spark.sql(f"SELECT * FROM {TOOLS_SQL}"), "tool", "left")
            .join(spark.sql(f"SELECT * FROM {ROLES_SQL}"), "role", "left"))


def _by_id(df, cols):
    rows = df.select("id", *cols).collect()
    out = {r["id"]: tuple(r[c] for c in cols) for r in rows}
    assert len(out) == len(rows)  # no row multiplied
    return out


def test_lookups_equal_left_joins_on_dirty_keys(spark):
    """Every known, unknown, NULL, empty, wrong-case and quote- or
    backslash-bearing tool and role, in every combination: the lookups give
    what the left joins give, NULL for every miss, one row per input row."""
    df = spark.createDataFrame(
        [(i, t, r) for i, (t, r) in enumerate(itertools.product(TOOLS, ROLES))],
        "id int, tool string, role string")
    cols = ["tool", "role", "tool_family", "sink", "role_group", "is_agent"]
    got = _by_id(enrich(df), cols)
    assert got == _by_id(_left_joined(spark, df), cols)
    assert len(got) == len(TOOLS) * len(ROLES)
    assert got[TOOLS.index(None) * len(ROLES)][2:4] == (None, None)


def test_map_literal_escapes_quote_and_backslash_keys(spark):
    """A dictionary whose keys and values carry `'` and `\\` renders a map
    literal that looks them up verbatim."""
    rows = [("it's", "a\\b"), ("back\\slash", "q'q"), ("plain", "p")]
    df = spark.createDataFrame(
        [(k,) for k, _ in rows] + [("its",), (None,)], "k string")
    got = {r["k"]: r["v"]
           for r in df.selectExpr("k", *_lookups(rows, "k", ["v"])).collect()}
    assert got == {**dict(rows), "its": None, None: None}


def test_streaming_route_enriches_dirty_tools_like_the_left_join(spark, tmp_path):
    """The streaming twin routes a dirty `tool` column as the batch left
    join would: a known tool to its sink, every miss to dead_letter. Its
    plan looks the tools up with no join and no broadcast."""
    text = ("PB3|conv=conv-d|turn={i}|role=user|tool=calc|colour=1|cents=5"
            "|oneof=unicorn|horn=1|wings=2|msg=m{i}")
    ts = datetime.datetime(2024, 1, 1)
    src = str(tmp_path / "dirty_tr")
    spark.createDataFrame(
        [("conv-d", i, "user", text.format(i=i), t, ts)
         for i, t in enumerate(TOOLS)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp").write.parquet(src)

    routed = streaming_parse_route(read_transcript_stream(spark, src))
    q = (routed.select("turn_idx", "sink").writeStream.format("memory")
         .queryName("dirty_tools_routed").trigger(availableNow=True).start())
    q.awaitTermination(120)
    plan = q._jsq.explainInternal(False)
    assert "element_at(map(" in plan, plan
    assert not re.search(r"Join|BroadcastExchange", plan), plan
    got = {r["turn_idx"]: r["sink"]
           for r in spark.table("dirty_tools_routed").collect()}

    batch = parse_turns(spark.read.parquet(src)).join(
        spark.sql(f"SELECT * FROM {TOOLS_SQL}"), "tool", "left")
    want = {r["turn_idx"]: r["sink"]
            for r in route_all(batch).select("turn_idx", "sink").collect()}
    assert got == want and len(got) == len(TOOLS)
    assert {got[i] for i in range(len(TOOLS_ROWS), len(TOOLS))} == {
        "dead_letter"}


def test_values_text_reads_back_the_same_in_spark_and_duckdb(spark):
    """A dictionary string with a quote and a backslash reads back as
    written from the text Spark parses (the one ``enums_df`` plans) and
    from the DuckDB text the oracles inline: the two dialects escape a
    backslash differently."""
    import duckdb

    from logstash_codec_protobuf_spark.config import sql_str
    from logstash_codec_protobuf_spark.sources.dims import _values_cte

    rows = [("it's", "a\\b")]
    in_spark = spark.sql(
        f"SELECT * FROM {_values_cte(rows, ['k', 'v'], sql_str)}").collect()
    in_duck = duckdb.sql(f"SELECT * FROM {_values_cte(rows, ['k', 'v'])}")
    assert [tuple(r) for r in in_spark] == rows
    assert in_duck.fetchall() == rows
