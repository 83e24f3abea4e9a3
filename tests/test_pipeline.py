"""End-to-end checkpointed pipeline: routing counts, resume-without-reparse."""

from __future__ import annotations

import os
import re
import stat
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


def _files_per_dir(root) -> dict[str, int]:
    """Parquet files per ``_bucket=<b>/sink=<s>`` directory under ``root``."""
    return {os.path.relpath(d, root): n for d, _, fs in os.walk(root)
            if (n := sum(f.endswith(".parquet") for f in fs))}


def test_wave_rebalance_places_groups_by_measured_bytes(spark, tmp_path):
    """A wave's one data exchange is a rebalance on (_bucket, sink), with
    no probe key and no salt. At default settings a small wave lands one
    file per (bucket, sink); with a small advisory partition size a hot
    (bucket, sink) group is split over several files, and the footers
    still count every input row in its own directory."""
    from logstash_codec_protobuf_spark.config import CodecConfig
    from logstash_codec_protobuf_spark.plans.pipeline import (
        _routed_wave, _wave_frame)
    from logstash_codec_protobuf_spark.storage import parquet_writer

    src = _staged(spark, tmp_path / "tr")
    wave = _wave_frame(_routed_wave(spark, SF_DIR, CodecConfig(), 8,
                                    transcripts_path=src), [0, 1, 2, 3])
    plan = wave._jdf.queryExecution().executedPlan().toString()
    exchanges = [line for line in plan.splitlines() if "Exchange " in line]
    assert len(exchanges) == 1, plan
    assert re.search(r"Exchange hashpartitioning\(_bucket#\d+, sink#\d+, \d+\),"
                     r" REBALANCE_PARTITIONS_BY_COL", exchanges[0]), plan
    assert "element_at(array(" not in plan, plan
    assert "xxhash64" not in plan, plan

    small = str(tmp_path / "small")
    parquet_writer(wave).partitionBy("_bucket", "sink").parquet(small)
    files = _files_per_dir(small)
    assert files and set(files.values()) == {1}, files

    # one hot (bucket 1, sink_b) group of 120k rows over eight map tasks,
    # next to small groups in both buckets
    hot = spark.range(0, 160_000, 1, 8).selectExpr(
        "repeat(md5(CAST(id AS STRING)), 2) AS text",
        "CASE WHEN id < 120000 THEN 'sink_b' ELSE element_at("
        "array('sink_a', 'sink_c', 'dead_letter'), CAST(id % 3 + 1 AS INT))"
        " END AS sink",
        "CAST(CASE WHEN id < 120000 THEN 1 ELSE id % 2 END AS INT) AS _bucket")
    expected: dict[int, dict[str, int]] = {}
    for r in hot.groupBy("_bucket", "sink").count().collect():
        expected.setdefault(r["_bucket"], {})[r["sink"]] = r["count"]
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "256k")
    try:
        split = str(tmp_path / "split")
        parquet_writer(_wave_frame(hot, [0, 1])) \
            .partitionBy("_bucket", "sink").parquet(split)
    finally:
        spark.conf.set(key, prev)
    assert _files_per_dir(split)["_bucket=1/sink=sink_b"] >= 2
    manifest = CheckpointManifest(str(tmp_path / "manifest"))
    assert {b: manifest.landed_counts(split, b) for b in (0, 1)} == expected


def _staged(spark, path) -> str:
    from logstash_codec_protobuf_spark.sources.transcripts import transcripts_df

    transcripts_df(spark, SF_DIR).write.mode("overwrite").parquet(str(path))
    return str(path)


def _parquet_files(root) -> list[str]:
    """Every parquet file under ``root``, partition directories included."""
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(root)
                   for f in fs if f.endswith(".parquet"))
    assert files, root
    return files


def _column_chunks(root) -> list[tuple[str, str, frozenset[str]]]:
    """(column, codec, encodings) of every column chunk of every parquet
    file under ``root``."""
    import pyarrow.parquet as pq

    chunks = []
    for f in _parquet_files(root):
        md = pq.ParquetFile(f).metadata
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            for j in range(rg.num_columns):
                c = rg.column(j)
                chunks.append((c.path_in_schema, c.compression,
                               frozenset(c.encodings)))
    return chunks


def _column_codecs(root) -> set[str]:
    """Codec of every column chunk of every parquet file under ``root``."""
    return {codec for _, codec, _ in _column_chunks(root)}


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


def test_engine_writes_v2_pages_with_delta_encodings(spark, tmp_path):
    """Every engine write lands v2 data pages: zstd in every column chunk,
    no v1-only encoding (``PLAIN_DICTIONARY`` pages, ``BIT_PACKED``
    levels), and the routed store's timestamps and ints delta-packed and
    its payload text delta-prefixed instead of PLAIN. The streaming twin's
    sink is not checked here: ``FileStreamSink`` builds its Hadoop conf
    from the session, so the writer's page version never reaches it and
    it stays on v1 pages (its codec is checked in the zstd test above)."""
    from logstash_codec_protobuf_spark.operators.route import fan_out

    out = str(tmp_path / "job")
    run_pipeline(spark, SF_DIR, out, n_buckets=4, wave_size=2)
    df = spark.range(300).selectExpr(
        "id", "concat('payload-', id) AS text",
        "element_at(array('sink_a', 'sink_b', 'dead_letter'),"
        " CAST(id % 3 + 1 AS INT)) AS sink")
    fan_out(df, str(tmp_path / "fan"))
    v1_only = {"PLAIN_DICTIONARY", "BIT_PACKED"}
    chunks = {d: _column_chunks(f"{out}/{d}")
              for d in ("routed", "conv_stats", "hourly_stats")}
    chunks["fan_out"] = _column_chunks(tmp_path / "fan")
    for d, cs in chunks.items():
        assert {codec for _, codec, _ in cs} == {"ZSTD"}, d
        assert not [c for c in cs if c[2] & v1_only], (d, cs)
    by_column: dict[str, set[str]] = {}
    for col, _, encodings in chunks["routed"]:
        by_column.setdefault(col, set()).update(encodings)
    assert "DELTA_BINARY_PACKED" in by_column["ts"], by_column
    assert "DELTA_BINARY_PACKED" in by_column["cents"], by_column
    assert "DELTA_BYTE_ARRAY" in by_column["text"], by_column


def _hive_path_columns(path: str) -> dict[str, str]:
    """``k=v`` partition directories in ``path``, as strings."""
    return dict(p.split("=", 1) for p in path.split(os.sep) if "=" in p)


def _norm_row(row: dict) -> tuple:
    """One row as a tuple in column-name order: partition values and ints
    as strings, timestamps as naive UTC, so all four readers compare."""
    import datetime as dt

    def norm(v):
        if isinstance(v, dt.datetime) and v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        if isinstance(v, (int, str)) and not isinstance(v, bool):
            return str(v)
        return v
    return tuple(norm(row[k]) for k in sorted(row))


def test_engine_output_reads_the_same_in_every_reader(spark, tmp_path):
    """The routed store and both aggregates read back to the same rows
    through Spark's vectorized reader, its row-based reader, pyarrow and
    DuckDB: every consumer of the store decodes the v2 pages' DELTA_*
    encodings. pyarrow gets an explicit file list, since its dataset
    discovery skips the ``_bucket=`` directories (a leading underscore)."""
    from collections import Counter

    import duckdb
    import pyarrow.parquet as pq

    out = str(tmp_path / "job")
    run_pipeline(spark, SF_DIR, out, n_buckets=4, wave_size=2)
    key = "spark.sql.parquet.enableVectorizedReader"
    for d in ("routed", "conv_stats", "hourly_stats"):
        path = f"{out}/{d}"
        readers = {}
        for vectorized in ("true", "false"):
            prev = spark.conf.get(key)
            spark.conf.set(key, vectorized)
            try:
                readers[f"spark vectorized={vectorized}"] = Counter(
                    _norm_row(r.asDict())
                    for r in spark.read.parquet(path).collect())
            finally:
                spark.conf.set(key, prev)
        readers["pyarrow"] = Counter(
            _norm_row({**r, **_hive_path_columns(os.path.relpath(f, path))})
            for f in _parquet_files(path)
            for r in pq.read_table(f).to_pylist())
        con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")
        rel = con.sql(f"SELECT * FROM read_parquet('{path}/**/*.parquet',"
                      " hive_partitioning = true)")
        readers["duckdb"] = Counter(
            _norm_row(dict(zip(rel.columns, r))) for r in rel.fetchall())
        base = readers["spark vectorized=true"]
        assert sum(base.values()) > 0, d
        for name, rows in readers.items():
            assert rows == base, (d, name)


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


def _reaped_child_ticks(spark) -> int:
    """CPU ticks of the driver JVM's reaped children: fields 16-17
    (``cutime``, ``cstime``) of ``/proc/<jvm>/stat``."""
    pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()  # fields 3.. of stat(5)
    return int(fields[13]) + int(fields[14])


def test_warm_call_forks_no_process(spark, tmp_path):
    """Every file, .crc sidecar and directory a call lands gets its mode
    without a forked ``chmod``: over Hadoop's own local FileSystem a warm
    call reaps about 450 children (0.4-0.5 s of CPU) at sf0.001."""
    src = _staged(spark, tmp_path / "tr")
    run_pipeline(spark, SF_DIR, str(tmp_path / "cold"), n_buckets=8,
                 wave_size=4, transcripts_path=src)
    before = _reaped_child_ticks(spark)
    run_pipeline(spark, SF_DIR, str(tmp_path / "warm"), n_buckets=8,
                 wave_size=4, transcripts_path=src)
    assert _reaped_child_ticks(spark) == before


_UUID = re.compile(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}")


def _layout(root) -> dict[str, tuple[bool, int]]:
    """(is a directory, permission bits) of everything under ``root``, keyed
    by relative path with the part files' write UUID blanked."""
    out = {}
    for d, dirs, files in os.walk(root):
        for name in dirs + files:
            st = os.stat(os.path.join(d, name))
            rel = _UUID.sub("*", os.path.relpath(os.path.join(d, name), root))
            out[rel] = (stat.S_ISDIR(st.st_mode), stat.S_IMODE(st.st_mode))
    return out


def test_engine_writes_land_hadoops_layout_and_modes(spark, tmp_path):
    """The engine's FileSystem lands the file set a plain ``df.write``
    lands, with the same modes. A run_pipeline call's outputs each carry
    ``_SUCCESS``, every parquet file its ``.crc``, every file is 0644 and
    every directory 0755 (Hadoop's umask 022), and a read-back verifies
    the checksums."""
    from logstash_codec_protobuf_spark.storage import (
        PARQUET_CODEC, parquet_writer)

    df = spark.range(0, 200, 1, 2).select(
        F.col("id"), F.expr("concat('sink_', id % 3)").alias("sink"))
    parquet_writer(df).partitionBy("sink").parquet(str(tmp_path / "engine"))
    df.write.option("compression", PARQUET_CODEC).partitionBy("sink") \
        .parquet(str(tmp_path / "plain"))
    engine = _layout(tmp_path / "engine")
    assert engine == _layout(tmp_path / "plain")
    # 3 sink dirs, _SUCCESS and its .crc, a file and its .crc per (task, sink)
    assert len(engine) == 3 + 2 + 2 * 3 * 2, engine

    out = tmp_path / "job"
    result = run_pipeline(spark, SF_DIR, str(out), n_buckets=4, wave_size=2)
    for d in ("routed", "conv_stats", "hourly_stats"):
        layout = _layout(out / d)
        assert {"_SUCCESS", "._SUCCESS.crc"} <= set(layout), d
        for name in layout:
            head, base = os.path.split(name)
            if base.endswith(".parquet"):
                assert os.path.join(head, f".{base}.crc") in layout, name
        assert all(mode == (0o755 if is_dir else 0o644)
                   for is_dir, mode in layout.values()), (d, layout)
        assert stat.S_IMODE(os.stat(out / d).st_mode) == 0o755, d
    assert spark.read.parquet(str(out / "routed")).count() == result["rows"]
    # a flipped byte under a valid .crc fails the read: the sidecars the
    # engine's FileSystem wrote are checked on read-back
    part = next(p for p in (out / "conv_stats").iterdir()
                if p.name.endswith(".parquet"))
    data = bytearray(part.read_bytes())
    data[len(data) // 2] ^= 0xFF
    part.write_bytes(bytes(data))
    with pytest.raises(Exception, match="Checksum"):
        spark.read.parquet(str(out / "conv_stats")).collect()
