"""Structured Streaming twin of the batch pipeline: same operators, windowed
aggregates under watermark, checkpointed resume."""

from __future__ import annotations

from pyspark.sql import functions as F

from logstash_codec_protobuf_spark.sources.transcripts import transcripts_df
from logstash_codec_protobuf_spark.streaming.stream import (
    read_transcript_stream,
    run_stream_to_sinks,
    streaming_parse_route,
    streaming_windowed_counts,
)

from .conftest import SF_DIR
from .parity import duck_connection
from .test_pipeline import EXPECTED_SINK_SQL


def _staged_transcripts(spark, tmp_path) -> str:
    src = str(tmp_path / "tr_src")
    transcripts_df(spark, SF_DIR).write.mode("overwrite").parquet(src)
    return src


def test_stream_fanout_matches_batch_counts(spark, tmp_path):
    """Draining the stream (availableNow) must land exactly the batch
    pipeline's per-sink routed-row counts."""
    src = _staged_transcripts(spark, tmp_path)
    out = str(tmp_path / "stream_out")
    q = run_stream_to_sinks(spark, src, out)
    q.awaitTermination(120)
    landed = {
        r["sink"]: r["count"]
        for r in spark.read.parquet(f"{out}/routed").groupBy("sink").count().collect()
    }
    expected = dict(duck_connection(SF_DIR).execute(EXPECTED_SINK_SQL).fetchall())
    assert landed == expected


def test_stream_restart_is_exactly_once(spark, tmp_path):
    """Restarting with the same checkpoint must not duplicate rows."""
    src = _staged_transcripts(spark, tmp_path)
    out = str(tmp_path / "stream_out2")
    run_stream_to_sinks(spark, src, out).awaitTermination(120)
    n1 = spark.read.parquet(f"{out}/routed").count()
    # restart over the same (fully-consumed) source + checkpoint
    run_stream_to_sinks(spark, src, out).awaitTermination(120)
    n2 = spark.read.parquet(f"{out}/routed").count()
    assert n1 == n2


def test_windowed_counts_under_watermark(spark, tmp_path):
    """Tumbling-hour counts per sink from the stream equal the batch
    hourly aggregation."""
    src = _staged_transcripts(spark, tmp_path)
    routed = streaming_parse_route(read_transcript_stream(spark, src))
    win = streaming_windowed_counts(routed, window="1 hour", watermark="2 hours")
    q = (
        win.writeStream.format("memory").queryName("win_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_win"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT CAST(window_start AS STRING) h, sink, n_turns FROM win_counts"
    ).collect()
    # batch twin on the same data (good rows only go to tool sinks; dead ones
    # to dead_letter — identical route_all semantics)
    from logstash_codec_protobuf_spark.operators.enrich import enrich
    from logstash_codec_protobuf_spark.operators.parse import parse_turns
    from logstash_codec_protobuf_spark.operators.route import route_all

    batch = route_all(enrich(parse_turns(spark.read.parquet(src))))
    expected = {
        (str(r["h"]), r["sink"]): r["n"]
        for r in batch.groupBy(
            F.date_trunc("hour", "ts").alias("h"), "sink"
        ).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    got_map = {(r["h"], r["sink"]): r["n_turns"] for r in got}
    # append mode emits only windows the watermark has closed; every emitted
    # window must match the batch truth, and most windows must have emitted
    assert got_map, "no windows emitted"
    for key, n in got_map.items():
        assert expected.get(key) == n, f"window {key}: {n} != {expected.get(key)}"
    assert len(got_map) >= len(expected) - 3  # tail windows may stay open


def test_stateful_sessionize_stream_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionization must reproduce the batch
    sessionizer exactly when the stream drains in event order."""
    from logstash_codec_protobuf_spark.operators import aggregate as agg
    from logstash_codec_protobuf_spark.streaming.stream import sessionize_stream

    src = str(tmp_path / "sess_src")
    tr = transcripts_df(spark, SF_DIR)
    # one file in turn order: the file-source batch then delivers in-order
    tr.orderBy("conv_id", "turn_idx").coalesce(1).write.mode(
        "overwrite").parquet(src)
    stream = read_transcript_stream(spark, src)
    q = (
        sessionize_stream(stream).writeStream.format("memory")
        .queryName("sess_stream").outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r["conv_id"], r["turn_idx"]): r["session_seq"]
           for r in spark.sql("SELECT * FROM sess_stream").collect()}
    expected = {(r["conv_id"], r["turn_idx"]): r["session_seq"]
                for r in agg.sessionize(tr).select(
                    "conv_id", "turn_idx", "session_seq").collect()}
    assert got == expected


def test_session_state_carries_across_chunks():
    """Multi-micro-batch continuation: feeding the updater in two chunks must
    equal feeding it all rows at once (state carries last_ts + seq)."""
    import pandas as pd

    from logstash_codec_protobuf_spark.streaming.stream import (
        make_session_updater,
    )

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    MIN = 60 * 1_000_000
    # gaps: 10m (same), 40m (new), 5m (same), 90m (new) -> seqs 0,0,1,1,2
    us = [0, 10 * MIN, 50 * MIN, 55 * MIN, 145 * MIN]
    rows = pd.DataFrame({"turn_idx": range(1, 6), "_us": us})

    def run(chunks):
        st = FakeState()
        fn = make_session_updater(gap_minutes=30)
        out = []
        for chunk in chunks:
            out.extend(
                df for df in fn(("conv-x",), iter([chunk]), st)
            )
        return list(pd.concat(out)["session_seq"])

    whole = run([rows])
    split = run([rows.iloc[:2], rows.iloc[2:]])
    assert whole == [0, 0, 1, 1, 2]
    assert split == whole


def test_streaming_wire_decode_matches_batch(spark, tmp_path):
    """The wire decode UDF over readStream must produce the batch decode."""
    from pyspark.sql import functions as F

    from logstash_codec_protobuf_spark.operators import pb_wire as PW
    from logstash_codec_protobuf_spark.operators.parse import (
        parse_turns, split_dead_letter,
    )
    from logstash_codec_protobuf_spark.streaming.stream import (
        streaming_wire_decode,
    )

    good, _ = split_dead_letter(parse_turns(transcripts_df(spark, SF_DIR)))
    p = F.col("parsed")
    flat = good.select(*[p[c].alias(c) for c in (
        "conv_id", "turn_idx", "role", "tool", "colour", "cents",
        "body_type", "horn", "wings", "msg")])
    enc = PW.encode_turn_wire(flat).select("payload")
    src = str(tmp_path / "wire_src")
    enc.write.mode("overwrite").parquet(src)

    stream = (spark.readStream.schema("payload binary")
              .option("maxFilesPerTrigger", "4").parquet(src))
    dec = streaming_wire_decode(stream).select("decoded.*")
    q = (
        dec.writeStream.format("memory").queryName("wire_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_wire"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["conv_id"], r["turn_idx"], r["colour"], r["cents"], r["msg"])
        for r in spark.sql("SELECT * FROM wire_stream").collect()
    )
    expected = sorted(
        (r["conv_id"], r["turn_idx"], r["colour"], r["cents"], r["msg"])
        for r in PW.decode_turn_wire(spark.read.parquet(src))
        .select("decoded.*").collect()
    )
    assert got == expected and len(got) > 900


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark must collapse replayed payloads (byte-
    identical rows) to one row each while keeping all distinct events — and
    two DISTINCT turns that happen to share identical text must BOTH survive
    (the drop key is full event identity + content hash, not text alone)."""
    from logstash_codec_protobuf_spark.streaming.stream import dedup_stream

    src = str(tmp_path / "dedup_src")
    tr = transcripts_df(spark, SF_DIR).limit(200)
    # plant a natural text collision: two distinct (conv_id, turn_idx) rows
    # carrying the same short tool output
    collide = tr.limit(2).select(
        F.concat(F.lit("collide-"), F.col("conv_id")).alias("conv_id"),
        "turn_idx", "role", F.lit("OK").alias("text"), "tool", "ts")
    base = tr.union(collide)
    # replay every row twice (ingestion retry twin)
    base.union(base).coalesce(1).write.mode("overwrite").parquet(src)
    stream = read_transcript_stream(spark, src)
    q = (
        dedup_stream(stream).writeStream.format("memory")
        .queryName("dedup_stream_t").outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT conv_id, turn_idx, text_hash, count(*) c FROM dedup_stream_t "
        "GROUP BY conv_id, turn_idx, text_hash").collect()
    n_events = base.select("conv_id", "turn_idx", F.md5("text")) \
        .distinct().count()
    assert len(got) == n_events  # every retry collapsed, no real event lost
    assert all(r["c"] == 1 for r in got)
    # both planted shared-text turns survived
    n_collide = sum(1 for r in got if r["conv_id"].startswith("collide-"))
    assert n_collide == 2


def test_stateful_session_survives_restart(spark, tmp_path):
    """Exactly-once stateful continuation: drain half the input, restart the
    query with the SAME checkpoint over the full input — the state store must
    resume (no duplicate rows, final sessions equal the batch truth)."""
    from logstash_codec_protobuf_spark.operators import aggregate as agg
    from logstash_codec_protobuf_spark.streaming.stream import sessionize_stream

    src = str(tmp_path / "restart_src")
    tr = transcripts_df(spark, SF_DIR)
    ordered = tr.orderBy("conv_id", "turn_idx").limit(2000).coalesce(1)
    # phase 1: first file only
    ordered.filter(F.col("turn_idx") <= 3).coalesce(1).write.mode(
        "overwrite").parquet(src)
    ckpt = str(tmp_path / "ckpt_restart")
    out = str(tmp_path / "restart_out")

    def drain():
        stream = read_transcript_stream(spark, src)
        q = (
            sessionize_stream(stream).writeStream
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start(out)
        )
        q.awaitTermination(120)

    drain()
    n1 = spark.read.parquet(out).count()
    # phase 2: append the rest, restart with the same checkpoint
    ordered.filter(F.col("turn_idx") > 3).coalesce(1).write.mode(
        "append").parquet(src)
    drain()
    got = spark.read.parquet(out)
    assert got.count() > n1
    # no duplicates across restarts
    assert got.groupBy("conv_id", "turn_idx").count() \
        .filter(F.col("count") > 1).isEmpty()
    # final assignment equals the batch sessionizer on the same rows
    expected = agg.sessionize(ordered).select(
        "conv_id", "turn_idx", "session_seq")
    assert expected.exceptAll(got).isEmpty() and \
        got.exceptAll(expected).isEmpty()


def test_streaming_jvm_decode_matches_batch(spark, tmp_path):
    """The vendored JVM DynamicMessage decode must compose with readStream
    exactly like the Arrow UDF (the Kafka-at-scale shape: zero Python
    workers inside the micro-batch plan)."""
    from pyspark.sql import functions as F

    from logstash_codec_protobuf_spark.operators import pb_wire as PW
    from logstash_codec_protobuf_spark.operators.parse import (
        parse_turns, split_dead_letter,
    )
    from logstash_codec_protobuf_spark.streaming.stream import (
        streaming_wire_decode,
    )

    if not PW.jvm_dynamic_available(spark):
        import pytest
        pytest.skip("shaded protobuf runtime not on the JVM classpath")

    good, _ = split_dead_letter(parse_turns(transcripts_df(spark, SF_DIR)))
    p = F.col("parsed")
    flat = good.select(*[p[c].alias(c) for c in (
        "conv_id", "turn_idx", "role", "tool", "colour", "cents",
        "body_type", "horn", "wings", "msg")]).limit(400)
    enc = PW.encode_turn_wire(flat).select("payload")
    src = str(tmp_path / "wire_src_jvm")
    enc.write.mode("overwrite").parquet(src)

    stream = (spark.readStream.schema("payload binary")
              .option("maxFilesPerTrigger", "4").parquet(src))
    dec = streaming_wire_decode(stream, impl="jvm_dynamic") \
        .select("decoded.*")
    q = (
        dec.writeStream.format("memory").queryName("wire_stream_jvm")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_wire_jvm"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["conv_id"], r["turn_idx"], r["colour"], r["cents"], r["msg"])
        for r in spark.sql("SELECT * FROM wire_stream_jvm").collect()
    )
    batch = PW.decode_turn_wire(
        spark.read.parquet(src), impl="arrow").select("decoded.*")
    want = sorted(
        (r["conv_id"], r["turn_idx"], r["colour"], r["cents"], r["msg"])
        for r in batch.collect()
    )
    assert len(got) > 300 and got == want
