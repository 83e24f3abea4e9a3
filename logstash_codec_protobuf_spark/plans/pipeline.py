"""The end-to-end job: parse -> enrich -> route -> aggregate, checkpointed.

One logical plan per lineage wave; Catalyst fuses scan+parse+enrich (broadcast
joins are shuffle-free) into a single stage, so the only exchanges are the
explicit pre-route repartition and the aggregate shuffles — exactly the two the
north star budgets for.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import CodecConfig, DEAD_LETTER_SINK
from ..operators import aggregate as agg
from ..operators.enrich import join_tools
from ..operators.parse import parse_turns, split_dead_letter
from ..operators.route import probe_repartition, route_all
from ..sources.transcripts import transcripts_df
from .checkpoint import CheckpointManifest

# The engine's parquet codec, not the session default: every file
# run_pipeline and its streaming twin write is zstd. On the routed rows it
# measured 30.4 B/row against snappy's 44.6 (-32%) at no write-wall cost.
PARQUET_CODEC = "zstd"


def _parquet_writer(df: DataFrame):
    """``df.write`` with the engine's parquet codec."""
    return df.write.option("compression", PARQUET_CODEC)


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def run_parse_stage(
    spark: SparkSession, sf_dir: str, cfg: CodecConfig | None = None,
    impl: str = "native",
) -> tuple[DataFrame, DataFrame]:
    """parse + dead-letter split, honoring stop_on_error
    (protobuf.rb:139-140,227-228)."""
    cfg = cfg or CodecConfig()
    tr = transcripts_df(spark, sf_dir)
    good, dead = split_dead_letter(parse_turns(tr, cfg, impl=impl), cfg)
    if cfg.stop_on_error:
        first = dead.select("decoder_exception", "message").take(1)
        if first:
            raise ValueError(
                f"decode failed (stop_on_error): {first[0]['decoder_exception']}"
                f" on payload {first[0]['message']!r}"
            )
    return good, dead


def _routed_wave(spark: SparkSession, sf_dir: str, cfg: CodecConfig,
                 n_buckets: int, impl: str,
                 transcripts_path: str | None = None) -> DataFrame:
    """Full-row routed frame with lineage bucket column (no action yet)."""
    if transcripts_path is not None:
        tr = spark.read.parquet(transcripts_path)
    else:
        tr = transcripts_df(spark, sf_dir)
    parsed = parse_turns(tr, cfg, impl=impl)
    if cfg.stop_on_error:
        first = parsed.filter(F.col("parsed.error").isNotNull()) \
            .select("parsed.error", "text").take(1)
        if first:
            raise ValueError(
                f"decode failed (stop_on_error): {first[0]['error']}"
                f" on payload {first[0]['text']!r}"
            )
    # route_all reads only tools.sink: the roles join would add a broadcast
    # job per call and a hash probe per row for no written column
    routed = route_all(join_tools(parsed, spark))
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


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    cfg: CodecConfig | None = None,
    n_buckets: int = 8,
    wave_size: int = 4,
    impl: str = "native",
    fail_after_waves: int | None = None,
    transcripts_path: str | None = None,
) -> dict:
    """Checkpointed parse→enrich→route job + final aggregates.

    Buckets are processed in waves; each wave is one Spark action whose sink
    writes land under `_bucket=<b>/sink=<s>/` before the bucket's manifest entry
    commits. A killed run (simulated by ``fail_after_waves``) resumes by
    pruning completed buckets from the scan — completed data is never re-parsed
    or re-written.

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
                             wave_size, impl, fail_after_waves,
                             transcripts_path)
    finally:
        sc.setJobDescription(caller_description)


def _run_pipeline(spark: SparkSession, sf_dir: str, out_dir: str,
                  cfg: CodecConfig, n_buckets: int, wave_size: int,
                  impl: str, fail_after_waves: int | None,
                  transcripts_path: str | None) -> dict:
    sc = spark.sparkContext
    data_dir = f"{out_dir}/routed"
    cpp = _combos_per_partition(sf_dir, transcripts_path)
    manifest = CheckpointManifest(f"{out_dir}/manifest")
    done = manifest.completed()
    todo = [b for b in range(n_buckets) if b not in done]
    for b in todo:
        manifest.clear_partial_output(data_dir, b)

    routed_all = _routed_wave(spark, sf_dir, cfg, n_buckets, impl,
                              transcripts_path=transcripts_path)
    waves = [todo[i:i + wave_size] for i in range(0, len(todo), wave_size)]
    if len(waves) > 1:
        # parse once, not once per wave: the wave filters then hit cached rows.
        # (Resume across PROCESSES still prunes completed buckets at the scan.)
        routed_all = routed_all.persist()
    try:
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        sinks = ", ".join(_sql_str(s) for s in cfg.sinks)
        group_idx = F.expr(
            f"_bucket * {len(cfg.sinks)} + array_position(array({sinks}), sink)"
            " - 1")
        for wi, wave in enumerate(waves):
            if fail_after_waves is not None and wi >= fail_after_waves:
                raise RuntimeError("simulated kill")
            sc.setJobDescription(f"run_pipeline: wave {wi} write routed")
            t0 = time.time()
            wave_df = routed_all.filter(F.col("_bucket").isin(wave))
            # per-(bucket, sink) counts via the observe API: collected DURING
            # the write action, no post-write read-back (which doubled the
            # write-path IO at scale). Spark's file commit protocol stages
            # task output and commits atomically with the action, so on a
            # successful write the observed counts ARE the landed rows; a
            # failed action raises before the manifest entry commits. The
            # metric set is bounded: wave_size buckets x |cfg.sinks|. Each
            # metric is SQL text: a composed Column costs ~70 py4j round
            # trips for call-site capture, F.expr a few.
            from pyspark.sql import Observation

            obs = Observation(f"wave_{wi}")
            metric_exprs = [
                F.expr(f"count_if(_bucket = {b} AND sink = {_sql_str(s)})"
                       f" AS `c_{b}_{s}`")
                for b in wave for s in cfg.sinks
            ]
            wave_df = wave_df.observe(obs, *metric_exprs)
            # explicit pre-write repartition, DETERMINISTICALLY balanced
            # (round-7, round-6 verdict item 1 — the 8->32 e2e gap): the
            # old repartition(n, _bucket, sink, salt) had two failure
            # modes, both measured on 20M turns (BENCH/e2e_decompose_r7*):
            # 1. pmod(crc32(conv_id), 4) was fully determined by _bucket =
            #    pmod(crc32(conv_id), 8) — zero salt entropy, one task per
            #    (bucket, sink), 46.3s vs 22.6s at local[32];
            # 2. even with an independent salt, hashing a small combo
            #    space into n tasks is a murmur3 lottery (22.6-57.9s for
            #    the SAME mass distribution). probe_repartition assigns
            #    combos to partitions round-robin via driver-computed
            #    probe integers: balance and files-per-task both hold by
            #    construction at any parallelism.
            (
                _parquet_writer(probe_repartition(
                    wave_df, n, group_idx, len(wave) * len(cfg.sinks),
                    combos_per_partition=cpp))
                .mode("append").partitionBy("_bucket", "sink")
                .parquet(data_dir)
            )
            got = obs.get  # available once the write action completed
            dt = time.time() - t0
            for b in wave:
                counts = {s: int(got[f"c_{b}_{s}"]) for s in cfg.sinks
                          if got[f"c_{b}_{s}"]}
                manifest.complete(b, {
                    "sinks": counts,
                    "rows": int(sum(counts.values())),
                    "wave_wall_sec": dt,
                })
    finally:
        if len(waves) > 1:
            routed_all.unpersist()

    # final aggregates over the routed store (reads back only needed
    # columns), with the schema this call just wrote: no schema-inference
    # job, no footer reads. The two aggregate writes are independent jobs —
    # submit them from two driver threads so the second back-fills the
    # first's task tail instead of waiting for it (guide §2.6; actions are
    # sequential only because driver code calls them sequentially).
    sc.setJobDescription("run_pipeline: read back routed")
    routed = spark.read.schema(routed_all.schema).parquet(data_dir)
    good = routed.filter(F.col("sink") != DEAD_LETTER_SINK)
    from concurrent.futures import ThreadPoolExecutor

    group = sc.getLocalProperty("spark.jobGroup.id")

    def write_aggregate(name, df):
        # a pool thread starts without the caller's local properties: put
        # its jobs in the caller's job group and name them
        sc.setLocalProperty("spark.jobGroup.id", group)
        sc.setJobDescription(f"run_pipeline: aggregate {name}")
        _parquet_writer(df).mode("overwrite").parquet(f"{out_dir}/{name}")

    aggregates = {"conv_stats": agg.conv_stats_salted(good, cfg),
                  "hourly_stats": agg.hourly_stats(good)}
    with ThreadPoolExecutor(max_workers=2) as pool:
        for f in [pool.submit(write_aggregate, name, df)
                  for name, df in aggregates.items()]:
            f.result()

    metrics = manifest.completed()
    total = sum(m["rows"] for m in metrics.values())
    return {"buckets": len(metrics), "rows": total, "out_dir": out_dir}
