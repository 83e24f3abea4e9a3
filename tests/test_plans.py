"""Physical-plan guards: the properties that keep this engine viable at 100 TB
must not regress silently. Each assertion pins a plan shape, not a timing."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from logstash_codec_protobuf_spark.operators.enrich import enrich
from logstash_codec_protobuf_spark.operators.parse import parse_turns
from logstash_codec_protobuf_spark.operators.route import route_all
from logstash_codec_protobuf_spark.sources.transcripts import transcripts_df

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def tr_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "tr")
    transcripts_df(spark, SF_DIR).write.mode("overwrite").parquet(path)
    return path


@pytest.fixture(scope="module")
def tr(spark, tr_path):
    """Transcripts as a parquet source (so scan-level assertions apply)."""
    return spark.read.parquet(tr_path)


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _no_join(plan: str) -> bool:
    return not re.search(r"Join|BroadcastExchange", plan)


def test_enrich_is_map_lookups_without_join_or_broadcast(spark, tr):
    """The dictionaries are map lookups in a projection: the enrich path
    plans no join of any kind and no broadcast. A join here (a hash-table
    build and a broadcast job for a dictionary of a few rows) or a
    sort-merge join (a full shuffle of the fact side at scale) fails it."""
    plan = _executed(route_all(enrich(parse_turns(tr))))
    assert _no_join(plan), plan
    assert "element_at(map(" in plan, plan


def test_route_counts_has_single_data_shuffle(spark, tr):
    """parse -> enrich -> sink-count: exactly one exchange (the
    partial->final aggregation) and no broadcast; everything upstream is
    pipeline-fused."""
    counts = route_all(enrich(parse_turns(tr))).groupBy("sink").count()
    plan = _executed(counts)
    data_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    broadcast_exchanges = len(re.findall(r"BroadcastExchange", plan))
    assert data_exchanges == 1, plan
    assert broadcast_exchanges == 0, plan


def test_enrich_dictionaries_are_local_relations_no_python(spark, tr):
    """The enrich path forks no Python worker: the role and tool lookups
    are SQL literals, and the enum dimension is a VALUES text planned as a
    local relation. A dim built from a Python list plans as `Scan
    ExistingRDD` over a PythonRDD and costs a 4-task job per read."""
    from logstash_codec_protobuf_spark.schema import default_registry
    from logstash_codec_protobuf_spark.sources.dims import enums_df

    plan = _executed(route_all(enrich(parse_turns(tr))))
    assert not re.search(r"ExistingRDD|EvalPython|InPandas", plan), plan

    df = enums_df(spark)
    assert ", ".join(f"{n} {t}" for n, t in df.dtypes) == (
        "enum_class string, code int, name string")
    assert "LocalTableScan" in _executed(df)
    assert [tuple(r) for r in df.collect()] == default_registry().enum_rows()


def test_wave_plan_has_no_join_broadcast_or_role_lookup(spark, tr_path):
    """run_pipeline's wave plan reads the tools dictionary as map lookups:
    no join and no BroadcastExchange, so a wave launches no broadcast job.
    It reads only what routing needs (`tools.sink`): no role lookup, which
    would add a probe per row for no written column."""
    from logstash_codec_protobuf_spark.config import CodecConfig
    from logstash_codec_protobuf_spark.plans.pipeline import _routed_wave

    plan = _executed(_routed_wave(spark, SF_DIR, CodecConfig(), 8,
                                  transcripts_path=tr_path))
    assert _no_join(plan), plan
    assert "role_group" not in plan, plan


def test_wave_write_parses_each_row_once_without_cache(spark, tr_path):
    """One wave's write plan, as run_pipeline builds it: one RLIKE and one
    split per row, no regexp_extract (the routed store reads only
    parsed.error and parsed.cents), nothing cached, and the wave's _bucket
    filter directly on the scan, below the parse — each wave parses only
    its own rows."""
    from logstash_codec_protobuf_spark.config import CodecConfig
    from logstash_codec_protobuf_spark.plans.pipeline import (
        _routed_wave, _wave_frame)

    routed = _routed_wave(spark, SF_DIR, CodecConfig(), 8,
                          transcripts_path=tr_path)
    plan = _executed(_wave_frame(routed, [4, 5, 6, 7]))
    assert plan.count("RLIKE") == 1, plan
    assert plan.count("split(") == 1, plan
    assert "regexp_extract" not in plan, plan
    assert "InMemoryRelation" not in plan, plan
    assert "InMemoryTableScan" not in plan, plan
    lines = [re.sub(r"^[\s:+\-|]*(\*\(\d+\) )?", "", line)
             for line in plan.splitlines()]
    at = [i for i, line in enumerate(lines) if line.startswith("Filter")
          and "pmod(crc32(" in line]
    assert len(at) == 1, plan
    below = [line.split(" ")[0] for line in lines[at[0] + 1:at[0] + 3]
             if not line.startswith("ColumnarToRow")]
    assert below[0] == "FileScan", plan
    assert all("RLIKE" not in line for line in lines[at[0]:]), plan


def test_parse_scan_prunes_to_referenced_columns(spark, tr):
    """Selecting one parsed field must read ONLY `text` from parquet — the
    struct projection cannot force a full-row scan."""
    pruned = parse_turns(tr).select(F.col("parsed.turn_idx"))
    m = re.search(r"ReadSchema: ([^\n]*)", _executed(pruned))
    assert m and m.group(1).strip() == "struct<text:string>", m


def test_conv_filter_pushed_to_parquet(spark, tr):
    f = tr.filter(F.col("conv_id") == "conv-hot").select("turn_idx")
    plan = _executed(f)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "EqualTo(conv_id,conv-hot)" in m.group(1), plan


def test_conv_stats_partial_agg_below_its_one_exchange(spark, tr):
    """conv_stats is one partial/final aggregate: exactly one exchange, with
    the partial_ functions (map-side combine) below it, so the shuffle
    carries one row per (conversation, map task), not rows. A salted
    two-phase rewrite would plan a second exchange."""
    from logstash_codec_protobuf_spark.operators import aggregate as agg

    good = parse_turns(tr).filter(F.col("parsed.error").isNull()).select(
        "conv_id", "turn_idx", F.col("parsed.cents").alias("cents")
    )
    plan = _executed(agg.conv_stats(good))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    below = plan[plan.index("Exchange hashpartitioning"):]
    assert "partial_count" in below and "partial_sum" in below, plan


def test_wire_encode_is_one_arrow_batch(spark, tr):
    """The wire ENCODER is exactly one ArrowEvalPython (the Arrow-batch
    kernel), never row-at-a-time BatchEvalPython, and ``payload_hex`` is
    derived from that one output rather than encoding a second time."""
    from logstash_codec_protobuf_spark.operators import pb_wire as PW
    from logstash_codec_protobuf_spark.operators.parse import split_dead_letter

    good, _ = split_dead_letter(parse_turns(tr))
    p = F.col("parsed")
    flat = good.select(*[p[c].alias(c) for c in (
        "conv_id", "turn_idx", "role", "tool", "colour", "cents",
        "body_type", "horn", "wings", "msg")])
    plan = _executed(PW.encode_turn_wire(flat))
    assert plan.count("ArrowEvalPython") == 1, plan[:500]
    assert plan.count("turn_wire_encode_arrow(") == 1, plan[:500]
    assert "BatchEvalPython" not in plan


def test_wire_decode_is_arrow_batched(spark, tr):
    """The wire DECODER is exactly one ArrowEvalPython (vectorized batch
    exchange), never row-at-a-time BatchEvalPython; the encoder feeding it
    is the plan's only other one."""
    from logstash_codec_protobuf_spark.operators import pb_wire as PW
    from logstash_codec_protobuf_spark.operators.parse import split_dead_letter

    good, _ = split_dead_letter(parse_turns(tr))
    p = F.col("parsed")
    flat = good.select(*[p[c].alias(c) for c in (
        "conv_id", "turn_idx", "role", "tool", "colour", "cents",
        "body_type", "horn", "wings", "msg")])
    plan = _executed(PW.decode_turn_wire(PW.encode_turn_wire(flat)))
    assert plan.count("ArrowEvalPython") == 2, plan[:500]
    assert plan.count("_decode_vec(") == 1, plan[:500]
    assert plan.count("turn_wire_encode_arrow(") == 1, plan[:500]
    assert "BatchEvalPython" not in plan


def test_row_decode_over_encode_encodes_once(spark):
    """decode_message(encode_message(v)) for a message the per-row decoder
    serves (contact has a map) plans the encoder once. Both decoders are
    iterator Arrow UDFs, which Spark does not chain into the scalar
    encoder: a chain evaluates the inner UDF a second time per row."""
    from logstash_codec_protobuf_spark.operators import pb_wire as PW

    i = F.col("id")
    enc = spark.range(3).select(PW.encode_message(F.struct(
        F.concat(F.lit("c"), i.cast("string")).alias("name"),
        F.create_map(F.lit("h"), i.cast("int")).alias("phone_numbers")),
        "contact").alias("payload"))
    plan = _executed(PW.decode_message(enc, "payload", "contact"))
    assert plan.count("_encode(") == 1, plan
    assert plan.count("_decode(") == 1, plan


def test_segmented_sessionize_windows_on_segment_key(spark, tr):
    """The per-row windows of the segmented sessionizer must partition on
    (conv_id, segment) — partitioning on conv_id alone would reintroduce the
    hot-conversation single-task sort."""
    from logstash_codec_protobuf_spark.operators import aggregate as agg

    plan = _executed(agg.sessionize_segmented(tr))
    assert re.search(r"Window .*partitionBy.*_seg|hashpartitioning\(conv_id[^)]*_seg",
                     plan), plan[:1000]


def test_tpch_q5_broadcasts_dims_and_pushes_date_filter(spark):
    """The 6-table join must broadcast the small dims (region/nation/supplier)
    and push the order-date range to the parquet scan."""
    from logstash_codec_protobuf_spark.queries import tpch_q5_local_supply

    plan = _executed(tpch_q5_local_supply(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2, plan[:800]
    m = re.search(r"PushedFilters: \[([^\]]*GreaterThanOrEqual\(o_orderdate[^\]]*)\]",
                  plan)
    assert m, "o_orderdate range not pushed to scan"


def test_segmented_rank_broadcasts_offsets(spark, tr):
    """turn_order_segmented must (a) window on (conv_id, segment) — never
    conv_id alone — and (b) BROADCAST the per-segment offsets back onto the
    rows: an SMJ there re-sorts the entire input on the join key (measured
    slower than the naive plan it replaces)."""
    from logstash_codec_protobuf_spark.operators import aggregate as agg

    plan = _executed(agg.turn_order_segmented(tr))
    assert "BroadcastHashJoin" in plan, plan[:800]
    assert "SortMergeJoin" not in plan, plan[:800]
    assert re.search(
        r"Window .*partitionBy.*_seg|hashpartitioning\(conv_id[^)]*_seg", plan
    ), plan[:1000]


def test_tpch_q3_pushes_all_three_scan_filters(spark):
    """Q3's segment + both date predicates must reach their parquet scans."""
    from logstash_codec_protobuf_spark.queries import tpch_q3_shipping

    plan = _executed(tpch_q3_shipping(spark, SF_DIR))
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert re.search(r"LessThan\(o_orderdate", plan), "orders date not pushed"
    assert re.search(r"GreaterThan\(l_shipdate", plan), "ship date not pushed"
    assert "SortMergeJoin" not in plan


def test_tpch_q7_broadcasts_nation_pair(spark):
    """Q7's two 2-row nation dims must broadcast; the ship-date range must
    reach the lineitem scan."""
    from logstash_codec_protobuf_spark.queries import tpch_q7_volume

    plan = _executed(tpch_q7_volume(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 3, plan[:800]
    assert re.search(r"GreaterThanOrEqual\(l_shipdate", plan)


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """The 100 TB co-location lever: both join sides written bucketBy the
    join key -> the sort-merge join reads pre-bucketed files and plans NO
    exchange. This is the layout fan-in tables use at warehouse scale
    (SURVEY 4: partition/bucket pruning built-ins)."""
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    import shutil
    shutil.rmtree("spark-warehouse/b_orders", ignore_errors=True)
    shutil.rmtree("spark-warehouse/b_lineitem", ignore_errors=True)
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    ln = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    (o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
     .saveAsTable("b_orders"))
    (ln.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
     .saveAsTable("b_lineitem"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        ).groupBy("o_orderstatus").count()
        plan = _executed(joined)
        # the JOIN itself must not shuffle either side; the only exchange
        # allowed is the final aggregation's
        assert "SortMergeJoin" in plan, plan[:1200]
        assert "SelectedBucketsCount" in plan
        assert "Exchange hashpartitioning(l_orderkey" not in plan, plan[:1200]
        assert "Exchange hashpartitioning(o_orderkey" not in plan, plan[:1200]
        # and the result is still right
        n = joined.agg(F.sum("count")).first()[0]
        assert n == ln.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_cosine_topk_broadcasts_queries_not_corpus(spark):
    """Exact top-k is O(n*q) work but must never put the CORPUS on the
    build/broadcast side, and must cut the scored stream with a partial
    top-k before the q-key window (else q tasks rank q*n rows)."""
    from logstash_codec_protobuf_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _executed(cosine_topk(emb, n_queries=8, k=5))
    # exactly one broadcast: the filtered 8-row query side (vec_id < 8
    # appears under the BroadcastExchange's subtree in the formatted plan)
    assert plan.count("BroadcastExchange") == 1, plan[:1500]
    assert "BroadcastNestedLoopJoin" in plan, plan[:1500]
    # the partial top-k reduction sits between scoring and the window
    assert "MapInPandas" in plan, plan[:1500]
    # window input must be the reduced stream: the plan orders
    # MapInPandas BEFORE the Window operator in execution (bottom-up text:
    # Window appears above/before MapInPandas in toString)
    assert plan.index("Window") < plan.index("MapInPandas"), plan[:1500]


def test_star_edges_plan_has_no_cartesian_and_no_pairwise_blowup(spark):
    """The star-edge candidate graph (round 5) must stay an equi-join plan:
    no CartesianProduct / BroadcastNestedLoopJoin anywhere, and no
    band-frame SELF-join (the all-pairs shape it exists to replace) — its
    joins are bands x bucket-min aggregate and docs x content-group, both
    key-equi."""
    from logstash_codec_protobuf_spark.operators import dedup as DD
    from logstash_codec_protobuf_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    plan = _executed(DD.minhash_star_edges(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_guarded_pairs_excludes_oversize_without_reshuffling_bands(spark):
    """The oversize-bucket guard must attach as a left_anti join against the
    (tiny) oversize-key frame — with AQE it becomes a broadcast anti join,
    never a second full shuffle of the band frame."""
    from logstash_codec_protobuf_spark import cache
    from logstash_codec_protobuf_spark.operators import dedup as DD
    from logstash_codec_protobuf_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    pairs = DD.minhash_pairs(docs)
    # force AQE finalization so the anti-join strategy is the real one
    pairs.count()
    plan = _executed(pairs)
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan) or \
        "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan
    cache.release_tracked()
