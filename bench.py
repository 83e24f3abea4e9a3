#!/usr/bin/env python
"""Headline benchmark: run the 16 headline pipeline leaves on the tables in
$SPARK_GRAFT_SF_DIR (default: the sf0.1 test tables), best of two rounds, on
a local[N] session sized from the host, and print ONE JSON line.

Run: ``python bench.py 2>/dev/null | tail -1``. It takes no arguments.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import tempfile
import time

ROUNDS = 2
# 1-minute load average above which the record is flagged contended
LOAD_MAX = 4.0
# session default, used by the staged inputs; the engine's own writes are
# zstd whatever it says (plans.pipeline.PARQUET_CODEC)
PARQUET_CODEC = "snappy"
# shuffle/broadcast block codec: at the headline's 100k-turn scale the
# shuffles are tiny, and zstd's CPU cost was pure overhead (+7% composite,
# BENCH/bench_r7_clean_run*.log)
IO_CODEC = "lz4"
# split-size cap: without it a ~3GB staged input packs into ~24 scan splits
# (128MB default) and a wide local[N] can never saturate its cores
MAX_PARTITION_BYTES = "16m"


def _host_size() -> tuple[int, str]:
    """Usable cores and a driver heap of half of RAM, capped at 24 GiB."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    return cores, f"{min(24 << 10, mem_kb // 2048)}m"


def make_spark():
    from pyspark.sql import SparkSession

    cpus, heap = _host_size()
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"bench-{cpus}")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", heap)
        .config("spark.sql.parquet.compression.codec", PARQUET_CODEC)
        .config("spark.sql.files.maxPartitionBytes", MAX_PARTITION_BYTES)
        # shuffle blocks on tmpfs: on a one-disk host routing's explicit
        # shuffle would serialize on it at every parallelism level — a real
        # cluster shuffles through per-executor local NVMe
        .config("spark.local.dir",
                os.environ.get("SPARK_GRAFT_LOCAL_DIR",
                               "/dev/shm/spark_local"
                               if os.path.isdir("/dev/shm") else "/tmp"))
        .config("spark.io.compression.codec", IO_CODEC)
        .getOrCreate()
    )


def _consume(df) -> int:
    """Force full computation of every row without collecting data."""
    return df.count()


def _loadavg() -> float:
    """1-minute load average — the contention guard. Round-3's official bench
    ran beside a load-average-4 neighbor and recorded a 36% regression that
    a clean repeat didn't reproduce; every run now samples /proc/loadavg so
    the artifact itself proves (or disproves) external load."""
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError):  # non-Linux fallback
        return -1.0


def bench_queries(spark, sf_dir: str, rounds: int = ROUNDS
                  ) -> tuple[dict[str, float], list[dict], int]:
    from pyspark.sql import functions as F

    from logstash_codec_protobuf_spark.operators import aggregate as agg
    from logstash_codec_protobuf_spark.operators.encode import serialize_turns
    from logstash_codec_protobuf_spark.operators.enrich import enrich
    from logstash_codec_protobuf_spark.operators.parse import parse_turns, split_dead_letter
    from logstash_codec_protobuf_spark.operators.route import route_all
    from logstash_codec_protobuf_spark.plans.pipeline import run_pipeline
    from logstash_codec_protobuf_spark.sources.transcripts import transcripts_df
    from logstash_codec_protobuf_spark.storage import parquet_writer

    # materialize the transcripts input once so per-query timings measure the
    # engine, not the synthetic derivation (at scale the table pre-exists)
    tr_path = tempfile.mkdtemp(prefix="bench_tr_")
    parquet_writer(transcripts_df(spark, sf_dir)).mode("overwrite") \
        .parquet(tr_path)
    tr = spark.read.parquet(tr_path)
    n_turns = tr.count()

    def routed_counts(impl):
        def run():
            routed = route_all(enrich(parse_turns(tr, impl=impl)))
            return routed.groupBy("sink").count().collect()
        return run

    def conv_stats_run():
        good, _ = split_dead_letter(parse_turns(tr, impl="native"))
        flat = good.select("conv_id", "turn_idx",
                           F.col("parsed")["cents"].alias("cents"))
        return _consume(agg.conv_stats(flat))

    def hourly_run():
        routed = route_all(enrich(parse_turns(tr, impl="native")))
        return _consume(agg.hourly_stats(
            routed.filter(F.col("decoder_exception").isNull())))

    def encode_run():
        good, _ = split_dead_letter(parse_turns(tr, impl="native"))
        out = serialize_turns(good)
        return _consume(out.filter(F.col("payload") == F.col("text")))

    def e2e_run():
        out = tempfile.mkdtemp(prefix="bench_e2e_")
        try:
            # full checkpointed job incl. fan-out writes + aggregates
            return run_pipeline(spark, sf_dir, out, n_buckets=8, wave_size=8)
        finally:
            shutil.rmtree(out, ignore_errors=True)

    # hot-key window comparison: the planted conv-hot (~30% of rows) flows
    # through Window.partitionBy(conv_id) — naive pays one task's sort for
    # 30% of the data; segmented bounds every sort at seg_size rows. At bench
    # SF the naive sort still fits one task easily, so the headline here is
    # "segmented costs little when small"; the 100x argument is structural
    # (see sessionize_segmented docstring) and the equivalence is tested.
    def session_run(segmented: bool):
        def run():
            return _consume(agg.session_stats(tr, segmented=segmented))
        return run

    # training-data ops over the documents/embeddings tables so perf
    # regressions in the dedup/ANN tier are visible per round
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))

    def dedup_run():
        from logstash_codec_protobuf_spark.operators import dedup as DD
        return _consume(DD.ngram_jaccard_pairs(docs, threshold=0.5))

    def simhash_run():
        from logstash_codec_protobuf_spark.operators import dedup as DD
        return _consume(DD.simhash_neardup_pairs(docs))

    def ann_run():
        from logstash_codec_protobuf_spark.operators import similarity as SIM
        return _consume(SIM.lsh_topk(emb))

    def embdup_run():
        from logstash_codec_protobuf_spark.operators import similarity as SIM
        return _consume(SIM.neardup_pairs(emb, threshold=0.3))

    def clusters_run():
        # star contraction over the sf corpus pair graph (round-4 verdict
        # item 4): the dedup tier's ITERATIVE operator in the headline
        # number, not only in side artifacts — end-to-end from star-edge
        # candidate generation to converged component labels
        from logstash_codec_protobuf_spark.operators import dedup as DD
        return _consume(DD.dedup_clusters_star(docs))

    def pb_wire_run():
        from logstash_codec_protobuf_spark.operators import pb_wire as PW
        good, _ = split_dead_letter(parse_turns(tr, impl="native"))
        p = F.col("parsed")
        # persist: the encode expression references every flat column ~40x;
        # without the barrier projection collapse re-runs the regexp parse
        # once per reference (measured 7x slower)
        flat = good.select(
            *[p[c].alias(c) for c in ("conv_id", "turn_idx", "role", "tool",
                                      "colour", "cents", "body_type", "horn",
                                      "wings", "msg")]
        ).persist()
        dec = PW.decode_turn_wire(PW.encode_turn_wire(flat))
        try:
            return _consume(dec.filter(F.col("decoded")["error"].isNull()))
        finally:
            flat.unpersist()

    # the at-scale ingest shape: wire payloads pre-exist in storage (Kafka /
    # parquet), decode is scan -> decode -> consume. Staged once like the
    # transcripts table, replicated x10 so per-payload decode work dominates
    # per-task fixed costs (raw sf0.1 is ~3k rows/task — pure scheduling).
    # The JVM DynamicMessage path (zero Python workers,
    # BENCH/jvm_wire_decode_r6.md) is the headline, the Arrow vector path
    # rides as the per-round comparison twin.
    from logstash_codec_protobuf_spark.operators import pb_wire as _PW
    pay_path = tempfile.mkdtemp(prefix="bench_pay_")
    _good0, _ = split_dead_letter(parse_turns(tr, impl="native"))
    _p0 = F.col("parsed")
    _payloads = _PW.encode_turn_wire(_good0.select(
        *[_p0[c].alias(c) for c in ("conv_id", "turn_idx", "role", "tool",
                                    "colour", "cents", "body_type", "horn",
                                    "wings", "msg")],
        F.explode(F.sequence(F.lit(1), F.lit(10))).alias("_rep"),
    ).drop("_rep")).select("payload").repartition(64)
    parquet_writer(_payloads).mode("overwrite").parquet(pay_path)
    payloads_stored = spark.read.parquet(pay_path)

    def decode_stored_run(impl):
        def run():
            dec = _PW.decode_turn_wire(payloads_stored, impl=impl)
            return _consume(dec.filter(F.col("decoded")["error"].isNull()))
        return run

    cases = {
        "parse_route_native": routed_counts("native"),
        "parse_route_arrow": routed_counts("arrow"),
        "conv_stats": conv_stats_run,
        "hourly_stats": hourly_run,
        "encode_roundtrip": encode_run,
        "pb_wire_roundtrip": pb_wire_run,
        **({"pb_wire_decode_stored_jvm": decode_stored_run("jvm_dynamic")}
           if _PW.jvm_dynamic_available(spark) else {}),
        "pb_wire_decode_stored_arrow": decode_stored_run("arrow"),
        "session_stats_naive_window": session_run(False),
        "session_stats_segmented": session_run(True),
        "dedup_jaccard_lsh": dedup_run,
        "dedup_clusters_star": clusters_run,
        "simhash_neardup": simhash_run,
        "ann_lsh_topk": ann_run,
        "embedding_neardup": embdup_run,
        "e2e_fanout_write": e2e_run,
    }
    # warm the JVM/codegen/python-worker pools so case timings measure the
    # engine, not first-query initialization
    routed_counts("native")()
    routed_counts("arrow")()

    from logstash_codec_protobuf_spark import cache

    # best-of-N with every round logged: one slow case under a transient
    # load spike no longer poisons the official record, and the per-round
    # log keeps the accounting honest (caches are still released at every
    # case boundary, so no case ever rides another's persisted frames).
    runs: list[dict] = []
    for _ in range(rounds):
        times: dict[str, float] = {}
        load0 = _loadavg()
        for name, fn in cases.items():
            # query boundary: drop the previous case's persisted
            # intermediates (same lifecycle as the @query wrapper)
            cache.release_tracked()
            times[name] = round(_timed(fn), 3)
        runs.append({"times": times, "loadavg_start": load0})
    shutil.rmtree(tr_path, ignore_errors=True)
    shutil.rmtree(pay_path, ignore_errors=True)
    best = {
        name: min(r["times"][name] for r in runs)
        for name in runs[0]["times"]
    }
    return best, runs, n_turns


def run_once(sf_dir: str) -> dict:
    spark = make_spark()
    try:
        times, runs, n_turns = bench_queries(spark, sf_dir)
        return {"times": times, "runs": runs, "n_turns": n_turns}
    finally:
        spark.stop()


def _timed(fn) -> float:
    t0 = time.time()
    fn()
    return time.time() - t0


def main() -> None:
    argparse.ArgumentParser(description=__doc__).parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    load_start = _loadavg()
    r = run_once(sf_dir)
    total = sum(r["times"].values())
    out = {
        "metric": "pipeline_wall_sec",
        "value": round(total, 3),
        "unit": "sec",
        "queries": r["times"],
        "runs": r["runs"],
        "loadavg_start": load_start,
        # contention annotation, not an abort: the record carries the flag
        # and every round's per-case times
        "load_contended": load_start > LOAD_MAX,
        "sf": sf,
        "n_turns": r["n_turns"],
        "turns_per_sec_e2e": round(r["n_turns"] / max(r["times"]["e2e_fanout_write"], 1e-9)),
        "turns_per_sec_parse_route": round(
            r["n_turns"] / max(r["times"]["parse_route_native"], 1e-9)
        ),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
