"""Per-conversation and windowed aggregates.

The reference has no aggregation (SURVEY.md §2.7); the north star adds
per-conversation and per-sink aggregates over 10^12 turns. Everything here is
native hash aggregation — Catalyst plans partial (map-side) + final agg
automatically, so the shuffle carries only one row per (group, partition).

Skew: the planted hot conversation (~30% of rows) needs no salting for
``conv_stats`` or ``hourly_stats``. Count, max and sum are algebraic, so the
map-side partial aggregate already collapses a hot key to one row per map
task before the one exchange. A salted two-phase rewrite only adds a second
exchange: on 5M rows with 30% on one key it took about twice the wall and
CPU time of the plain aggregate (ROADMAP direction 11). The windowed operators below are
different: a window cannot pre-aggregate, so they segment the hot key.

The aggregates are SQL text: each composed Column would cost py4j round
trips per call, and these run on every ``run_pipeline`` call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def conv_stats(df: DataFrame) -> DataFrame:
    """Per-conversation turn count, last turn and cents total."""
    return df.groupBy(F.expr("conv_id")).agg(
        F.expr("count(1) AS n_turns"),
        F.expr("max(turn_idx) AS max_turn"),
        F.expr("sum(cents) AS sum_cents"),
    )


def hourly_stats(df: DataFrame) -> DataFrame:
    """Tumbling-hour aggregates (batch twin of the streaming windowed agg).

    Uses date_trunc — semantically F.window(ts, '1 hour').start, but shared
    with the DuckDB oracle dialect."""
    return df.groupBy(
        F.expr("date_trunc('hour', ts) AS hour"), F.expr("sink"),
    ).agg(F.expr("count(1) AS n_turns"))


def turn_order_check(df: DataFrame) -> DataFrame:
    """Stable-turn-ordering invariant (input_hint: per-turn text equality under
    stable (conv_id, turn_idx) ordering): recompute each row's rank within its
    conversation and surface it with the text, so the oracle can verify the
    ordering is total and the text matches turn-by-turn."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return df.select(
        "conv_id", "turn_idx", "text",
        F.row_number().over(w).cast("int").alias("turn_rank"),
    )


def turn_order_segmented(df: DataFrame, seg_size: int = 1024) -> DataFrame:
    """Result-identical to ``turn_order_check`` without the hot-key sort wall.

    ``row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx)`` funnels
    every row of the planted hot conversation (~30% of the table,
    sources/transcripts.py) through ONE task's sort. rank is a prefix COUNT —
    the same parallel-scan decomposition as ``sessionize_segmented``:

    1. within-segment row_number over (conv_id, floor((turn_idx-1)/seg_size))
       — bounded sorts, hot key spread over n/seg_size tasks;
    2. per-segment row counts (seg_size-fold reduction);
    3. cumulative count of earlier segments per conversation = the offset;
    4. broadcast-join offsets back (tiny: one row per segment — an SMJ here
       would re-sort the whole input, measured on sessionize).

    rank(row) = offset(segment) + within-segment row_number. Exact whenever
    turn_idx is unique per conversation — the same determinism the naive
    window (and any SQL oracle of it) already requires.
    """
    d = df.withColumn("_seg", F.floor((F.col("turn_idx") - 1) / seg_size))
    w = Window.partitionBy("conv_id", "_seg").orderBy("turn_idx")
    d = d.withColumn("_r", F.row_number().over(w))
    segs = d.groupBy("conv_id", "_seg").agg(F.count(F.lit(1)).alias("_n"))
    ws = Window.partitionBy("conv_id").orderBy("_seg")
    offsets = segs.select(
        "conv_id", "_seg",
        F.coalesce(
            F.sum("_n").over(ws.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("_offset"),
    )
    return (
        d.join(F.broadcast(offsets), ["conv_id", "_seg"])
        .withColumn("turn_rank", (F.col("_r") + F.col("_offset")).cast("int"))
        .drop("_seg", "_r", "_offset")
    )


def sessionize(df: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based session assignment within each conversation: a turn more than
    `gap_minutes` after its predecessor starts a new session. The lag +
    running-sum shape shuffles once on conv_id and sorts within partitions —
    the canonical sessionization plan (no state store needed in batch;
    streaming uses the watermarked window twin)."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    # integer microseconds: identical arithmetic in the DuckDB oracle
    # (epoch_us), no float timestamps. ts arrives as TIMESTAMP_NTZ from
    # parquet; the cast interprets it in the (UTC-pinned) session zone,
    # matching DuckDB's naive-timestamp epoch.
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    new_session = F.when(gap > gap_minutes * 60 * 1_000_000, 1).otherwise(0)
    seq = F.sum(new_session).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn("session_seq", seq.cast("int"))


def sessionize_segmented(df: DataFrame, gap_minutes: int = 30,
                         seg_size: int = 1024) -> DataFrame:
    """Result-identical to ``sessionize`` without the hot-key sort wall.

    ``Window.partitionBy(conv_id)`` puts EVERY row of a conversation through
    one task's sort — the planted hot conversation (~30% of rows,
    sources/transcripts.py) makes that a single-task bottleneck at scale.
    Sessionization is a running sum of gap flags, i.e. a prefix sum — so it
    decomposes like a parallel scan:

    1. split each conversation into contiguous ``seg_size``-turn segments
       (floor((turn_idx-1)/seg_size)); window per (conv_id, segment) computes
       within-segment gap flags + running counts — the hot key now spreads
       over n/seg_size tasks with bounded sort size;
    2. per-segment summaries (head/tail timestamp, flag count) — one row per
       segment, a seg_size-fold reduction;
    3. a window over the summaries per conversation resolves each segment
       head's flag (gap vs previous segment's tail) and the cumulative
       session offset — same shape one level up, on 1/seg_size of the rows
       (recurse with a larger seg_size if even that is too hot);
    4. co-partitioned join of offsets back onto (conv_id, segment).

    Exactness: session_seq(row) = offset(segment) + within-segment running
    flag count, where offset = all flags in earlier segments + this segment
    head's own flag. Verified row-identical to ``sessionize`` in tests and by
    the session_stats oracle."""
    gap_us = gap_minutes * 60 * 1_000_000
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    d = df.withColumn(
        "_seg", F.floor((F.col("turn_idx") - 1) / seg_size)
    ).withColumn("_us", us)
    w = Window.partitionBy("conv_id", "_seg").orderBy("turn_idx")
    lag_us = F.lag("_us").over(w)
    flag = F.when(
        lag_us.isNotNull() & ((F.col("_us") - lag_us) > gap_us), 1
    ).otherwise(0)
    d = d.withColumn("_flag", flag).withColumn(
        "_run",
        F.sum("_flag").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    # NOTE(r8): the offsets branch below re-derives this subtree (Catalyst
    # does not share it across the join's two sides — the plan shows the
    # scan+window chain twice). A persist barrier was A/B'd and LOST at
    # bench scale (0.93s vs 0.73s min-of-5 interleaved): materializing the
    # full windowed frame costs more than recomputing a cheap narrow
    # window. At a scale where the recompute dominates, cache.track(d)
    # here is the one-line fix.
    segs = d.groupBy("conv_id", "_seg").agg(
        F.min_by("_us", "turn_idx").alias("_head_us"),
        F.max_by("_us", "turn_idx").alias("_tail_us"),
        F.sum("_flag").alias("_n_within"),
    )
    ws = Window.partitionBy("conv_id").orderBy("_seg")
    prev_tail = F.lag("_tail_us").over(ws)
    head_flag = F.when(
        prev_tail.isNotNull() & ((F.col("_head_us") - prev_tail) > gap_us), 1
    ).otherwise(0)
    segs = segs.withColumn("_head_flag", head_flag)
    cum_before = F.sum(F.col("_n_within") + F.col("_head_flag")).over(
        ws.rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = segs.select(
        "conv_id", "_seg",
        (F.coalesce(cum_before, F.lit(0)) + F.col("_head_flag"))
        .alias("_offset"),
    )
    # BROADCAST the offsets: one row per segment (a seg_size-fold reduction),
    # so a sort-merge join here would re-sort the ENTIRE input on the join
    # key — measured slower than the naive plan it replaces. At scales where
    # even offsets outgrow the broadcast threshold, drop the hint and bucket
    # both sides by (conv_id, _seg); the window output is already partitioned
    # that way, so only the summary side shuffles.
    return (
        d.join(F.broadcast(offsets), ["conv_id", "_seg"])
        .withColumn("session_seq",
                    (F.col("_run") + F.col("_offset")).cast("int"))
        .drop("_seg", "_us", "_flag", "_run", "_offset")
    )


def session_stats(df: DataFrame, gap_minutes: int = 30,
                  segmented: bool = True) -> DataFrame:
    """Per-(conversation, session) stats over the sessionized frame. Uses the
    segment-and-merge sessionizer by default (hot-conversation safe); pass
    ``segmented=False`` for the naive single-window plan (bench comparison)."""
    s = (sessionize_segmented(df, gap_minutes) if segmented
         else sessionize(df, gap_minutes))
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    return s.groupBy("conv_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.min(us).alias("start_us"),
        F.max(us).alias("end_us"),
    )


def conv_first_last(df: DataFrame) -> DataFrame:
    """First/last message per conversation via ordered aggregation —
    max_by/min_by avoid a full window sort (single hash agg, no per-partition
    sort at 100 TB)."""
    return df.groupBy("conv_id").agg(
        F.min_by("text", "turn_idx").alias("first_text"),
        F.max_by("text", "turn_idx").alias("last_text"),
        F.count(F.lit(1)).alias("n_turns"),
    )
