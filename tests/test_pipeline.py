"""End-to-end checkpointed pipeline: routing counts, resume-without-reparse."""

from __future__ import annotations

import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from logstash_codec_protobuf_spark.plans.pipeline import run_pipeline
from logstash_codec_protobuf_spark.plans.checkpoint import CheckpointManifest

from .conftest import SF_DIR
from .parity import duck_connection

from logstash_codec_protobuf_spark.sources.transcripts import TRANSCRIPTS_CTE
from logstash_codec_protobuf_spark.sources.dims import TOOLS_SQL

EXPECTED_SINK_SQL = f"""
WITH {TRANSCRIPTS_CTE}, tools AS {TOOLS_SQL}
SELECT sink, CAST(count(*) AS BIGINT) AS n FROM (
  SELECT CASE WHEN t.text LIKE 'CORRUPT%' THEN 'dead_letter'
              ELSE coalesce(tl.sink, 'dead_letter') END AS sink
  FROM transcripts t LEFT JOIN tools tl ON tl.tool = t.tool
) GROUP BY sink
"""


def _expected_sinks(sf_dir: str) -> dict[str, int]:
    con = duck_connection(sf_dir)
    return dict(con.execute(EXPECTED_SINK_SQL).fetchall())


def test_full_run_counts_match_oracle(spark, tmp_path):
    out = str(tmp_path / "job")
    result = run_pipeline(spark, SF_DIR, out, n_buckets=4, wave_size=4)
    landed = {
        r["sink"]: r["count"]
        for r in spark.read.parquet(f"{out}/routed").groupBy("sink").count().collect()
    }
    assert landed == _expected_sinks(SF_DIR)
    assert result["rows"] == sum(landed.values())
    # per-bucket lineage metrics recorded
    manifest = CheckpointManifest(f"{out}/manifest").completed()
    assert len(manifest) == 4
    assert sum(m["rows"] for m in manifest.values()) == result["rows"]


def test_empty_lineage_buckets_are_fine(spark, tmp_path):
    """More buckets than populated hash slots: empty buckets must be recorded
    as zero-row manifests, not crash the landed-count read-back."""
    out = str(tmp_path / "job_sparse")
    result = run_pipeline(spark, SF_DIR, out, n_buckets=64, wave_size=64)
    manifest = CheckpointManifest(f"{out}/manifest").completed()
    assert len(manifest) == 64
    assert sum(m["rows"] for m in manifest.values()) == result["rows"]
    assert any(m["rows"] == 0 for m in manifest.values())  # sparse at sf0.001


def test_killed_run_resumes_without_reprocessing(spark, tmp_path):
    out = str(tmp_path / "job2")
    with pytest.raises(RuntimeError, match="simulated kill"):
        run_pipeline(spark, SF_DIR, out, n_buckets=4, wave_size=2,
                     fail_after_waves=1)
    manifest = CheckpointManifest(f"{out}/manifest")
    done_before = set(manifest.completed())
    assert len(done_before) == 2  # first wave committed

    # resume: completes and the union of data is exactly right (no dupes)
    run_pipeline(spark, SF_DIR, out, n_buckets=4, wave_size=2)
    done_after = manifest.completed()
    assert set(done_after) == {0, 1, 2, 3}
    landed = {
        r["sink"]: r["count"]
        for r in spark.read.parquet(f"{out}/routed").groupBy("sink").count().collect()
    }
    assert landed == _expected_sinks(SF_DIR)


def test_stop_on_error_raises_before_any_bucket_commits(spark, tmp_path):
    """stop_on_error (protobuf.rb:139-140,227-228): the input has corrupt
    payloads, so the call raises on the first one and commits no bucket."""
    from logstash_codec_protobuf_spark.config import CodecConfig

    out = str(tmp_path / "strict")
    with pytest.raises(ValueError, match=r"decode failed \(stop_on_error\)"):
        run_pipeline(spark, SF_DIR, out, CodecConfig(stop_on_error=True),
                     n_buckets=4, wave_size=2)
    assert not list(Path(out, "manifest").glob("bucket=*.json"))


def _landed_by_bucket_sink(spark, out) -> dict[int, dict[str, int]]:
    """Rows read back from each routed/_bucket=<b>/sink=<s>/ directory."""
    got: dict[int, dict[str, int]] = {}
    for r in spark.read.parquet(f"{out}/routed") \
            .groupBy("_bucket", "sink").count().collect():
        got.setdefault(r["_bucket"], {})[r["sink"]] = r["count"]
    return got


def test_manifest_counts_equal_landed_rows(spark, tmp_path):
    """Each bucket's per-sink manifest counts equal the rows read back from
    its _bucket=<b>/sink=<s>/ directories, for a fresh run and for a
    resume after a kill; sinks without rows stay absent. The resume
    rewrites the manifest entries of the resumed buckets only."""
    fresh = str(tmp_path / "fresh")
    run_pipeline(spark, SF_DIR, fresh, n_buckets=4, wave_size=2)
    manifest = CheckpointManifest(f"{fresh}/manifest").completed()
    landed = _landed_by_bucket_sink(spark, fresh)
    assert {b: m["sinks"] for b, m in manifest.items()} == {
        b: landed.get(b, {}) for b in range(4)}
    assert all(m["rows"] == sum(m["sinks"].values())
               for m in manifest.values())
    assert all(n > 0 for m in manifest.values() for n in m["sinks"].values())

    out = str(tmp_path / "resumed")
    with pytest.raises(RuntimeError, match="simulated kill"):
        run_pipeline(spark, SF_DIR, out, n_buckets=4, wave_size=2,
                     fail_after_waves=1)
    paths = {b: Path(CheckpointManifest(f"{out}/manifest")._path(b))
             for b in range(4)}
    first = {b: p.read_text() for b, p in paths.items() if p.exists()}
    assert len(first) == 2
    run_pipeline(spark, SF_DIR, out, n_buckets=4, wave_size=2)
    assert {b: paths[b].read_text() for b in first} == first
    resumed = CheckpointManifest(f"{out}/manifest").completed()
    landed = _landed_by_bucket_sink(spark, out)
    assert {b: m["sinks"] for b, m in resumed.items()} == {
        b: landed.get(b, {}) for b in range(4)}
    assert {b: m["sinks"] for b, m in resumed.items()} == {
        b: m["sinks"] for b, m in manifest.items()}


def test_fan_out_parquet_and_writeto(spark, tmp_path):
    """fan_out writes through BOTH sinks behind the same shuffle plan:
    parquet partitionBy directories, and the DataFrameWriterV2 (writeTo)
    catalog path — Iceberg on a cluster, the built-in session catalog here
    (same API seam either way)."""
    from logstash_codec_protobuf_spark.operators.route import fan_out

    df = spark.range(200).select(
        F.concat(F.lit("conv-"), (F.col("id") % 9).cast("string"))
        .alias("conv_id"),
        F.col("id").alias("turn_idx"),
        F.when(F.col("id") % 3 == 0, "sink_a")
        .when(F.col("id") % 3 == 1, "sink_b")
        .otherwise("dead_letter").alias("sink"),
    )
    # parquet path
    fan_out(df, str(tmp_path / "out"))
    back = spark.read.parquet(str(tmp_path / "out"))
    assert back.count() == 200
    assert back.select("sink").distinct().count() == 3
    # writeTo path: first write creates partitioned-by-sink, second appends
    spark.sql("DROP TABLE IF EXISTS fanout_v2_test")
    import shutil
    shutil.rmtree("spark-warehouse/fanout_v2_test", ignore_errors=True)
    fan_out(df, table="fanout_v2_test")
    assert spark.table("fanout_v2_test").count() == 200
    fan_out(df, table="fanout_v2_test")
    assert spark.table("fanout_v2_test").count() == 400
    parts = spark.sql("SHOW CREATE TABLE fanout_v2_test").first()[0]
    assert "PARTITIONED BY (sink)" in parts
    spark.sql("DROP TABLE fanout_v2_test")


def test_combos_density_sizes_nested_partitioned_input(tmp_path):
    """A Hive-partitioned input keeps its parquet under key=value/ dirs; the
    salt-combo density must size the whole tree, not only top-level files.
    The 65 MiB file is sparse, so it takes no disk."""
    from logstash_codec_protobuf_spark.plans.pipeline import _combos_per_partition

    part = tmp_path / "transcripts" / "part=a"
    part.mkdir(parents=True)
    big = part / "f0.parquet"
    big.touch()
    os.truncate(big, 65 << 20)
    assert _combos_per_partition(SF_DIR, str(tmp_path / "transcripts")) == 4
    os.truncate(big, 1 << 20)
    assert _combos_per_partition(SF_DIR, str(tmp_path / "transcripts")) == 1


def _staged(spark, path) -> str:
    from logstash_codec_protobuf_spark.sources.transcripts import transcripts_df

    transcripts_df(spark, SF_DIR).write.mode("overwrite").parquet(str(path))
    return str(path)


def _column_codecs(root) -> set[str]:
    """Codec of every column chunk of every parquet file under ``root``."""
    import pyarrow.parquet as pq

    files = [os.path.join(d, f) for d, _, fs in os.walk(root)
             for f in fs if f.endswith(".parquet")]
    assert files, root
    codecs = set()
    for f in files:
        md = pq.ParquetFile(f).metadata
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            codecs |= {rg.column(j).compression for j in range(rg.num_columns)}
    return codecs


def test_engine_writes_zstd_over_a_snappy_session_default(spark, tmp_path):
    """The parquet codec is the engine's, not the session's: with the
    session default set to snappy, the routed store, both aggregates and
    the streaming twin's routed sink are zstd in every column chunk."""
    from logstash_codec_protobuf_spark.streaming.stream import (
        run_stream_to_sinks)

    key = "spark.sql.parquet.compression.codec"
    prev = spark.conf.get(key)
    spark.conf.set(key, "snappy")
    try:
        out = str(tmp_path / "job")
        run_pipeline(spark, SF_DIR, out, n_buckets=4, wave_size=2)
        for d in ("routed", "conv_stats", "hourly_stats"):
            assert _column_codecs(f"{out}/{d}") == {"ZSTD"}, d
        src = _staged(spark, tmp_path / "tr")
        stream_out = str(tmp_path / "stream")
        run_stream_to_sinks(spark, src, stream_out).awaitTermination(120)
        assert _column_codecs(f"{stream_out}/routed") == {"ZSTD"}
    finally:
        spark.conf.set(key, prev)


# jobs of one warm call over staged transcripts, 8 buckets in two waves:
# the input's schema inference, 2 + 2 for the two wave writes (each runs
# the pre-write exchange and writes; the dictionaries are map lookups, so
# no broadcast job, and nothing is persisted, so each wave scans and parses
# only its own rows) and 2 + 2 for the two aggregates (each a map-side
# partial aggregate feeding its one exchange, then the final aggregate's
# write)
WARM_CALL_JOBS = 9


def test_warm_call_job_budget(spark, tmp_path):
    """Every job one warm call launches is in the caller's job group, also
    from the aggregate threads, and carries a run_pipeline description. The
    read-back uses the schema the call wrote, so no job infers it from the
    files under routed/."""
    src = _staged(spark, tmp_path / "tr")
    run_pipeline(spark, SF_DIR, str(tmp_path / "cold"), n_buckets=8,
                 wave_size=4, transcripts_path=src)
    sc = spark.sparkContext
    sc.setJobGroup("run_pipeline_budget", "caller")
    try:
        run_pipeline(spark, SF_DIR, str(tmp_path / "warm"), n_buckets=8,
                     wave_size=4, transcripts_path=src)
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc._jsc.clearJobGroup()
    ids = set(sc.statusTracker().getJobIdsForGroup("run_pipeline_budget"))

    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    described = {}
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if j.jobId() in ids:
            d = j.description()
            described[j.jobId()] = d.get() if d.isDefined() else None
    assert len(ids) == WARM_CALL_JOBS, described
    assert all(d and d.startswith("run_pipeline: ")
               for d in described.values()), described
    assert "run_pipeline: read back routed" not in described.values(), described
    assert {d for d in described.values() if "aggregate" in d} == {
        "run_pipeline: aggregate conv_stats",
        "run_pipeline: aggregate hourly_stats"}, described
