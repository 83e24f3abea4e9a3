"""The end-to-end job: parse -> enrich -> route -> aggregate, checkpointed.

One logical plan per lineage wave; Catalyst fuses scan+parse+enrich (the
dictionary lookups are a projection, no join) into a single stage, so the
only exchanges are the explicit pre-route repartition and one per aggregate.

Each row's work is done once, and only the work the routed store keeps:

- **No persist.** A wave's ``_bucket IN (...)`` filter is over
  ``pmod(crc32(conv_id), n)``, an input column, so Catalyst pushes it down
  to sit directly on the scan, below the parse: each wave parses only its
  own rows. The cost is one more input scan per extra wave; at scale the
  cached frame it replaces would have spilled the whole parsed input anyway,
  and its build, compression and cache scan are gone.
- **A parse Catalyst can prune.** The routed store reads ``parsed.error``
  and ``parsed.cents``; ``parse_turns``' native path is a ``named_struct``
  over shared ``_perr`` / ``_parts`` columns, so the wave runs one RLIKE
  and one split per row and no ``regexp_extract``.
- **Counts from the footers.** The manifest's per-(bucket, sink) counts are
  the row counts in the parquet footers the wave's write just committed,
  not metrics evaluated per row during the write.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import CodecConfig, DEAD_LETTER_SINK, sql_str
from ..operators import aggregate as agg
from ..operators.enrich import join_tools
from ..operators.parse import parse_turns, split_dead_letter
from ..operators.route import SINK_INDEX, probe_repartition, route_all
from ..sources.dims import SINKS
from ..sources.transcripts import transcripts_df
from .checkpoint import CheckpointManifest

# The engine's parquet codec, not the session default: every file
# run_pipeline and its streaming twin write is zstd. On the routed rows it
# measured 30.4 B/row against snappy's 44.6 (-32%) at no write-wall cost.
PARQUET_CODEC = "zstd"


def _parquet_writer(df: DataFrame):
    """``df.write`` with the engine's parquet codec."""
    return df.write.option("compression", PARQUET_CODEC)


def run_parse_stage(
    spark: SparkSession, sf_dir: str, cfg: CodecConfig | None = None,
) -> tuple[DataFrame, DataFrame]:
    """parse + dead-letter split, honoring stop_on_error
    (protobuf.rb:139-140,227-228)."""
    cfg = cfg or CodecConfig()
    tr = transcripts_df(spark, sf_dir)
    good, dead = split_dead_letter(parse_turns(tr))
    if cfg.stop_on_error:
        first = dead.select("decoder_exception", "message").take(1)
        if first:
            raise ValueError(
                f"decode failed (stop_on_error): {first[0]['decoder_exception']}"
                f" on payload {first[0]['message']!r}"
            )
    return good, dead


def _routed_wave(spark: SparkSession, sf_dir: str, cfg: CodecConfig,
                 n_buckets: int,
                 transcripts_path: str | None = None) -> DataFrame:
    """Full-row routed frame with lineage bucket column (no action yet).

    Nothing here is cached: ``_bucket`` is a function of the input's
    ``conv_id``, so a wave's filter on it is pushed down to the scan and
    each wave parses, enriches and routes only its own buckets' rows."""
    if transcripts_path is not None:
        tr = spark.read.parquet(transcripts_path)
    else:
        tr = transcripts_df(spark, sf_dir)
    parsed = parse_turns(tr)
    if cfg.stop_on_error:
        first = parsed.filter(F.col("parsed.error").isNotNull()) \
            .select("parsed.error", "text").take(1)
        if first:
            raise ValueError(
                f"decode failed (stop_on_error): {first[0]['error']}"
                f" on payload {first[0]['text']!r}"
            )
    # route_all reads only tools.sink: the role lookups would add a map
    # probe per row for no written column
    routed = route_all(join_tools(parsed))
    return routed.withColumn(
        "_bucket", F.pmod(F.crc32(F.col("conv_id")), F.lit(n_buckets)).cast("int")
    )


def _combos_per_partition(sf_dir: str, transcripts_path: str | None) -> int:
    """Salt-combo density for the pre-write probe repartition, derived from
    INPUT SIZE (round-8, verdict item 1): at headline scale the +29% clean-
    bench e2e regression was file-count overhead — combos_per_partition=4
    wrote 160 files where 40 carry the same rows, and the extra writer
    opens/commits cost ~0.5s against a 2s write (A/B in
    OPTIMIZATION_r08.md). At 20M-turn scale the wider combo space is what
    averages hot-combo mass across tasks, so size, not parallelism, picks
    the density. Threshold: staged 20M-turn input is ~3 GB, the headline
    derivation input is ~2 MB; 64 MB splits them with orders of magnitude
    of margin."""
    import os

    try:
        if transcripts_path is not None:
            # the whole tree: a Hive-partitioned input keeps its files
            # under key=value/ subdirectories
            size = sum(
                os.path.getsize(os.path.join(root, f))
                for root, _, files in os.walk(transcripts_path)
                for f in files
                if f.endswith(".parquet")
            )
        else:
            size = os.path.getsize(os.path.join(sf_dir, "events.parquet"))
    except OSError:
        return 4  # unknown input: keep the mass-averaging default
    return 1 if size < (64 << 20) else 4


def _wave_frame(routed_all: DataFrame, wave: list[int],
                combos_per_partition: int) -> DataFrame:
    """The frame one wave writes: the rows of ``routed_all`` in the wave's
    buckets, repartitioned for the write.

    The pre-write repartition is DETERMINISTICALLY balanced (round-7,
    round-6 verdict item 1 — the 8->32 e2e gap): the old
    repartition(n, _bucket, sink, salt) had two failure modes, both
    measured on 20M turns (BENCH/e2e_decompose_r7*):
    1. pmod(crc32(conv_id), 4) was fully determined by _bucket =
       pmod(crc32(conv_id), 8) — zero salt entropy, one task per
       (bucket, sink), 46.3s vs 22.6s at local[32];
    2. even with an independent salt, hashing a small combo space into n
       tasks is a murmur3 lottery (22.6-57.9s for the SAME mass
       distribution). probe_repartition assigns combos to partitions
       round-robin via driver-computed probe integers: balance and
       files-per-task both hold by construction at any parallelism.
    """
    n = int(routed_all.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    group_idx = f"_bucket * {len(SINKS)} + {SINK_INDEX}"
    in_wave = routed_all.filter(
        F.expr(f"_bucket IN ({', '.join(map(str, wave))})"))
    return probe_repartition(in_wave, n, group_idx,
                             len(wave) * len(SINKS),
                             combos_per_partition=combos_per_partition)


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    cfg: CodecConfig | None = None,
    n_buckets: int = 8,
    wave_size: int = 4,
    fail_after_waves: int | None = None,
    transcripts_path: str | None = None,
) -> dict:
    """Checkpointed parse→enrich→route job + final aggregates.

    Buckets are processed in waves; each wave is one Spark action whose sink
    writes land under `_bucket=<b>/sink=<s>/` before the bucket's manifest entry
    commits. A killed run (simulated by ``fail_after_waves``) resumes by
    pruning completed buckets from the scan — completed data is never re-parsed
    or re-written. The parse is ``parse_turns``' native path, the one that
    starts no Python worker.

    Every job the call launches carries a ``run_pipeline: ...`` job
    description, and the caller's job group, also from the aggregate threads;
    the caller's own description is restored on return.
    """
    cfg = cfg or CodecConfig()
    sc = spark.sparkContext
    caller_description = sc.getLocalProperty("spark.job.description")
    try:
        sc.setJobDescription("run_pipeline: plan")
        return _run_pipeline(spark, sf_dir, out_dir, cfg, n_buckets,
                             wave_size, fail_after_waves,
                             transcripts_path)
    finally:
        sc.setJobDescription(caller_description)


def _run_pipeline(spark: SparkSession, sf_dir: str, out_dir: str,
                  cfg: CodecConfig, n_buckets: int, wave_size: int,
                  fail_after_waves: int | None,
                  transcripts_path: str | None) -> dict:
    sc = spark.sparkContext
    data_dir = f"{out_dir}/routed"
    cpp = _combos_per_partition(sf_dir, transcripts_path)
    manifest = CheckpointManifest(f"{out_dir}/manifest")
    done = manifest.completed()
    todo = [b for b in range(n_buckets) if b not in done]
    for b in todo:
        manifest.clear_partial_output(data_dir, b)

    routed_all = _routed_wave(spark, sf_dir, cfg, n_buckets,
                              transcripts_path=transcripts_path)
    waves = [todo[i:i + wave_size] for i in range(0, len(todo), wave_size)]
    for wi, wave in enumerate(waves):
        if fail_after_waves is not None and wi >= fail_after_waves:
            raise RuntimeError("simulated kill")
        sc.setJobDescription(f"run_pipeline: wave {wi} write routed")
        t0 = time.time()
        (
            _parquet_writer(_wave_frame(routed_all, wave, cpp))
            .mode("append").partitionBy("_bucket", "sink")
            .parquet(data_dir)
        )
        dt = time.time() - t0
        # per-(bucket, sink) counts from the footers of the files the write
        # just committed: Spark's commit protocol publishes task output
        # atomically with the action, so these ARE the landed rows, and a
        # failed action raises before the manifest entry commits. No
        # per-row metric expression, no read of the data itself.
        for b in wave:
            counts = manifest.landed_counts(data_dir, b)
            manifest.complete(b, {
                "sinks": counts,
                "rows": int(sum(counts.values())),
                "wave_wall_sec": dt,
            })

    # final aggregates over the routed store (reads back only needed
    # columns), with the schema this call just wrote: no schema-inference
    # job over routed/. The two aggregate writes are independent jobs —
    # submit them from two driver threads so the second back-fills the
    # first's task tail instead of waiting for it (guide §2.6; actions are
    # sequential only because driver code calls them sequentially).
    sc.setJobDescription("run_pipeline: read back routed")
    routed = spark.read.schema(routed_all.schema).parquet(data_dir)
    good = routed.filter(F.expr(f"sink != {sql_str(DEAD_LETTER_SINK)}"))
    from concurrent.futures import ThreadPoolExecutor

    group = sc.getLocalProperty("spark.jobGroup.id")

    def write_aggregate(name, df):
        # a pool thread starts without the caller's local properties: put
        # its jobs in the caller's job group and name them
        sc.setLocalProperty("spark.jobGroup.id", group)
        sc.setJobDescription(f"run_pipeline: aggregate {name}")
        _parquet_writer(df).mode("overwrite").parquet(f"{out_dir}/{name}")

    aggregates = {"conv_stats": agg.conv_stats(good),
                  "hourly_stats": agg.hourly_stats(good)}
    with ThreadPoolExecutor(max_workers=2) as pool:
        for f in [pool.submit(write_aggregate, name, df)
                  for name, df in aggregates.items()]:
            f.result()

    metrics = manifest.completed()
    total = sum(m["rows"] for m in metrics.values())
    return {"buckets": len(metrics), "rows": total, "out_dir": out_dir}
