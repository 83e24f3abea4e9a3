"""Structured Streaming variant of the parse -> enrich -> route pipeline.

The reference codec is transport-agnostic and stateless per message (no
watermarks/windows/state, SURVEY.md §2.10), so the batch engine is the primary
target; this module exists because the codec's natural seat in production IS a
stream (Kafka -> Logstash pipeline, protobuf.rb:30-43). The same operator
functions are reused verbatim — parse_turns / join_tools / route_all are all
narrow transformations, so they compose with readStream unchanged. Streaming
adds exactly two things the batch path doesn't have:

- **watermarked tumbling-window aggregates** (late data handling): counts per
  (window, sink) with a configurable lateness bound;
- **incremental sink writes** with checkpointing (exactly-once per sink dir via
  the streaming commit log — the streaming twin of plans.checkpoint).

At cluster scale the source is Kafka or an Iceberg CDC stream; in the sandbox
the file source over a transcripts parquet directory exercises the identical
logical plan (Trigger.AvailableNow drains it deterministically for tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.enrich import join_tools
from ..operators.parse import parse_turns
from ..operators.route import route_all
from ..storage import PARQUET_CODEC


# the transcripts contract a stream source declares (a file stream cannot
# infer it)
TRANSCRIPT_SCHEMA = ("conv_id string, turn_idx int, role string, "
                     "text string, tool string, ts timestamp")


def read_transcript_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", "8")  # bounded micro-batches
        .parquet(source_dir)
    )


def streaming_parse_route(stream: DataFrame) -> DataFrame:
    """The batch operators, unchanged, over an unbounded frame."""
    return route_all(join_tools(parse_turns(stream)))


def streaming_windowed_counts(routed: DataFrame, window: str = "1 hour",
                              watermark: str = "2 hours") -> DataFrame:
    """Per-(window, sink) routed-row counts with late-data tolerance.

    The watermark bounds state: rows later than `watermark` behind the max
    seen ts are dropped from the aggregation (and would be dead-lettered by a
    monitoring query); everything else updates its window exactly once under
    the append output mode."""
    return (
        routed.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("sink"))
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(F.col("win.start").alias("window_start"), "sink", "n_turns")
    )


SESSION_OUT_SCHEMA = "conv_id string, turn_idx int, session_seq int"
SESSION_STATE_SCHEMA = "last_us long, seq int"


def make_session_updater(gap_minutes: int = 30):
    """State-update function for streaming sessionization — factored out so
    tests can drive multi-batch state continuation directly.

    State per conversation: (timestamp of last seen turn, current session
    sequence). Each incoming chunk is processed in turn order; a gap larger
    than the threshold bumps the sequence. Exactly the batch ``sessionize``
    recurrence, carried across micro-batches by the state store."""
    gap_us = gap_minutes * 60 * 1_000_000

    def update(key, pdfs, state):
        import pandas as pd

        last_us, seq = state.get if state.exists else (None, 0)
        # concatenate the batch's chunks BEFORE sorting: post-shuffle
        # intra-group row order is not turn order, and a conversation larger
        # than the Arrow chunk size would otherwise be sorted piecewise —
        # the whole-conversation sort is exactly what grouped-map already
        # costs in memory, and state across BATCHES stays one (ts, seq) pair
        pdf = pd.concat(list(pdfs)).sort_values("turn_idx")
        seqs = []
        for us in pdf["_us"]:
            us = int(us)
            if last_us is not None and us - last_us > gap_us:
                seq += 1
            seqs.append(seq)
            last_us = us
        state.update((last_us, seq))
        yield pd.DataFrame({
            "conv_id": key[0],
            "turn_idx": pdf["turn_idx"].astype("int32"),
            "session_seq": pd.Series(seqs, dtype="int32", index=pdf.index),
        })

    return update


def sessionize_stream(stream: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Custom stateful operator: gap-based sessionization over an unbounded
    stream via ``applyInPandasWithState`` (SURVEY.md §2.10 — the codec itself
    is stateless; this is the north-star per-conversation session operator in
    its streaming form). State is one (last_ts, seq) pair per conversation —
    O(#conversations), not O(#rows); at cluster scale the state store
    partitions by conv_id exactly like the batch shuffle."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    d = stream.withColumn(
        "_us", F.unix_micros(F.col("ts").cast("timestamp"))
    ).select("conv_id", "turn_idx", "_us")
    return d.groupBy("conv_id").applyInPandasWithState(
        make_session_updater(gap_minutes),
        SESSION_OUT_SCHEMA, SESSION_STATE_SCHEMA,
        "append", GroupStateTimeout.NoTimeout,
    )


def dedup_stream(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup: drop repeated payloads within the watermark
    horizon (`dropDuplicatesWithinWatermark` keys the state store on the
    content hash and expires entries once the watermark passes — bounded
    state, unlike an unbounded dropDuplicates). The streaming twin of
    dedup_exact for ingestion pipelines where replays/retries duplicate
    events.

    The drop key is the FULL event identity (conv_id, turn_idx) plus the
    content hash — replays are byte-identical rows, so this still collapses
    every retry, while two genuinely distinct turns that happen to carry
    identical text (e.g. repeated short tool outputs) both survive. Keying
    on text_hash alone would silently drop real events on any corpus with
    natural text collisions."""
    return (
        stream.withColumn("text_hash", F.md5("text"))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["conv_id", "turn_idx", "text_hash"])
    )


def streaming_wire_decode(stream: DataFrame, payload_col: str = "payload",
                          registry=None, impl: str = "arrow") -> DataFrame:
    """Wire-format decode over an unbounded stream: the decode is a
    stateless 1:1 projection, so it composes with readStream unchanged —
    the streaming twin of the codec's Kafka seat (protobuf.rb:30-43).
    Both impls work here: with ``impl='jvm_dynamic'`` the vendored Java
    UDF registers on the stream's own session, and the micro-batch plan has
    zero Python workers — the Kafka-at-100TB shape."""
    from ..operators.pb_wire import decode_turn_wire

    return decode_turn_wire(stream, payload_col, registry, impl=impl)


def run_stream_to_sinks(spark: SparkSession, source_dir: str, out_dir: str):
    """Continuous fan-out: routed rows land partitioned by sink, in the
    batch engine's parquet codec, with streaming checkpointing (resume =
    restart with the same checkpoint dir).

    Unlike the batch writes, this sink still lands v1 pages through
    Hadoop's forking ``chmod``: ``FileStreamSink`` takes its Hadoop conf
    from the session, not from writer options, so ``storage.WRITE_OPTIONS``'
    page version and local FileSystem cannot be set per write here (see
    ``storage``)."""
    routed = streaming_parse_route(read_transcript_stream(spark, source_dir))
    return (
        routed.writeStream
        .option("checkpointLocation", f"{out_dir}/_checkpoint")
        .option("compression", PARQUET_CODEC)
        .partitionBy("sink")
        .trigger(availableNow=True)
        .start(f"{out_dir}/routed")
    )
