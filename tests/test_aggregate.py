"""Aggregate semantics + skew handling."""

from __future__ import annotations

from pyspark.sql import functions as F

from logstash_codec_protobuf_spark.operators import aggregate as agg
from logstash_codec_protobuf_spark.operators.parse import parse_turns, split_dead_letter
from logstash_codec_protobuf_spark.sources.transcripts import transcripts_df

from .conftest import SF_DIR


def _flat(spark):
    tr = transcripts_df(spark, SF_DIR)
    good, _ = split_dead_letter(parse_turns(tr))
    return good.select(
        "conv_id", "turn_idx", "ts", "text",
        F.col("parsed")["cents"].alias("cents"),
    )


def test_hot_conversation_exists(spark):
    """The synthetic input must actually exercise skew: one conv >= 25% of rows."""
    flat = _flat(spark)
    total = flat.count()
    top = flat.groupBy("conv_id").count().orderBy(F.desc("count")).first()
    assert top["conv_id"] == "conv-hot"
    assert top["count"] / total > 0.25


def test_segmented_sessionize_equals_naive(spark):
    """Segment-and-merge sessionization must be row-identical to the naive
    single-window plan — tiny seg_size forces many segment boundaries (the
    merge path), including boundaries that do and don't start sessions."""
    tr = transcripts_df(spark, SF_DIR)
    naive = agg.sessionize(tr, gap_minutes=30).select(
        "conv_id", "turn_idx", "session_seq"
    )
    for seg_size in (7, 1024):
        seg = agg.sessionize_segmented(
            tr, gap_minutes=30, seg_size=seg_size
        ).select("conv_id", "turn_idx", "session_seq")
        assert naive.exceptAll(seg).isEmpty() and seg.exceptAll(naive).isEmpty(), (
            f"seg_size={seg_size} diverges from naive sessionize"
        )


def test_turn_rank_is_total_and_stable(spark):
    """Stable (conv_id, turn_idx) ordering: rank == turn_idx for every row."""
    tr = transcripts_df(spark, SF_DIR)
    checked = agg.turn_order_check(tr)
    assert checked.filter(F.col("turn_rank") != F.col("turn_idx")).isEmpty()


def test_segmented_turn_order_equals_naive(spark):
    """Segment-and-merge rank must be row-identical to the naive window —
    tiny seg_size forces many segment boundaries (the offset-merge path)."""
    tr = transcripts_df(spark, SF_DIR)
    naive = agg.turn_order_check(tr).select("conv_id", "turn_idx", "turn_rank")
    for seg_size in (7, 1024):
        seg = agg.turn_order_segmented(tr, seg_size=seg_size).select(
            "conv_id", "turn_idx", "turn_rank"
        )
        assert naive.exceptAll(seg).isEmpty() and seg.exceptAll(naive).isEmpty(), (
            f"seg_size={seg_size} diverges from naive rank"
        )
