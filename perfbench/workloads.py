"""The benchmark's workloads.

Each workload states the generated inputs it needs, stages them through the
engine's own functions (``setup``), runs one closed-loop ``job`` that the
harness times, and ``check``s every job's output against expectations fixed
before timing. ``traced`` runs the same work once more as a sequence of
layer spans (see ``trace.Tracer``) and returns that layer's metrics.

``perturb`` names a deliberate corruption applied to a job's output before
its check ('drop_row' or 'flip_byte'); it exists so tests can show that each
check can fail.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import time
import zlib

import pyarrow.parquet as pq

from . import oracles, trace

MB = 1024.0 * 1024.0
N_BUCKETS = 8
WAVE_SIZE = 4  # two waves over eight lineage buckets
SAMPLE = 64  # payloads compared byte for byte with py_encode_turn
STAGE_FILES = 8  # staged transcripts files: the pipeline's scan tasks


class Ctx:
    """What a workload needs at run time."""

    def __init__(self, spark, work: str, inputs: dict, expected: dict,
                 perturb: str | None = None):
        self.spark = spark
        self.work = work
        self.inputs = inputs
        self.expected = expected
        self.perturb = perturb
        self._n = 0

    def fresh_dir(self, prefix: str) -> str:
        self._n += 1
        path = os.path.join(self.work, "out", f"{prefix}_{self._n}")
        shutil.rmtree(path, ignore_errors=True)
        return path


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"),
                            recursive=True))


def _rewrite(table, f: str) -> None:
    """Replace a parquet file Spark wrote, and its checksum sidecar, so the
    change reaches the output check instead of a checksum error."""
    pq.write_table(table, f)
    crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def drop_first_row(path: str) -> None:
    """Rewrite the first non-empty parquet file under ``path`` without its
    first row."""
    for f in parquet_files(path):
        t = pq.read_table(f)
        if t.num_rows:
            _rewrite(t.slice(1), f)
            return


def flip_payload_byte(path: str) -> None:
    """Flip one bit of the first payload in the first non-empty file."""
    import pyarrow as pa

    for f in parquet_files(path):
        t = pq.read_table(f)
        if not t.num_rows:
            continue
        payloads = t.column("payload").to_pylist()
        b = bytearray(payloads[0])
        b[len(b) // 2] ^= 0x01
        payloads[0] = bytes(b)
        i = t.schema.get_field_index("payload")
        _rewrite(t.set_column(i, "payload", pa.array(payloads, pa.binary())),
                 f)
        return


# ---------------------------------------------------------------------------
# pipeline_batch: sources -> parse -> enrich -> route -> write -> aggregate
# ---------------------------------------------------------------------------

class PipelineBatch:
    name = "pipeline_batch"
    sizes = {"default": {"events": 30_000}, "tiny": {"events": 4_000}}

    def expected(self, man: dict) -> dict:
        events = man["paths"]["events"]
        oracles.stage_transcripts(
            events, os.path.join(os.path.dirname(events), "transcripts"),
            STAGE_FILES)
        return oracles.pipeline_expected(events)

    def setup(self, ctx: Ctx) -> None:
        self.in_dir = os.path.dirname(ctx.inputs["paths"]["events"])
        self.stage = os.path.join(self.in_dir, "transcripts")
        self.n_rows = sum(pq.read_metadata(f).num_rows
                          for f in parquet_files(self.stage))

    def job_at(self, ctx: Ctx, out: str) -> None:
        from logstash_codec_protobuf_spark.plans.pipeline import run_pipeline

        run_pipeline(ctx.spark, self.in_dir, out, n_buckets=N_BUCKETS,
                     wave_size=WAVE_SIZE, transcripts_path=self.stage)

    def job(self, ctx: Ctx) -> str:
        out = ctx.fresh_dir("pipeline")
        self.job_at(ctx, out)
        if ctx.perturb == "drop_row":
            drop_first_row(os.path.join(out, "conv_stats"))
        return out

    def check(self, ctx: Ctx, out: str) -> bool:
        return check_pipeline_output(out, ctx.expected)

    def written_bytes(self, out: str) -> int:
        return dir_bytes(out)

    def cleanup(self, out: str) -> None:
        shutil.rmtree(out, ignore_errors=True)

    def traced(self, ctx: Ctx, tr) -> dict:
        """One real ``run_pipeline`` call inside the ``pipeline`` span, then
        a staged replay of its fused front (scan, parse, enrich, route).

        The real call gives the plan, write and aggregate numbers: its jobs
        are reduced from the event log by the directory they write
        (``pipeline@routed`` for the wave writes, ``pipeline@conv_stats``
        and ``pipeline@hourly_stats`` for the aggregates, which
        ``run_pipeline`` submits from a thread pool). Catalyst fuses
        scan -> parse -> enrich -> route into one stage there, so the
        replay calls each layer's public function inside a span of its own
        and persists and counts its output, to split that stage by layer.
        Replay times include the persist barriers and are not part of the
        real job wall."""
        from pyspark.sql import Observation, functions as F

        from logstash_codec_protobuf_spark.config import CodecConfig
        from logstash_codec_protobuf_spark.operators.enrich import enrich
        from logstash_codec_protobuf_spark.operators.parse import parse_turns
        from logstash_codec_protobuf_spark.operators.route import route_all

        out = ctx.fresh_dir("pipeline_traced")
        with tr.span("pipeline"):
            self.job_at(ctx, out)
        wall = tr.walls["pipeline"]
        ok = check_pipeline_output(out, ctx.expected)
        files = parquet_files(out)
        written_mb = dir_bytes(out) / MB
        shutil.rmtree(out, ignore_errors=True)

        spark, cfg = ctx.spark, CodecConfig()
        held = []

        def hold(df):
            held.append(df.persist())
            return held[-1]

        with tr.span("replay.sources"):
            src = hold(spark.read.parquet(self.stage))
            n_rows = src.count()
        with tr.span("replay.parse"):
            obs_p = Observation("parse")
            parsed = hold(parse_turns(src, cfg).observe(
                obs_p, F.count_if(F.col("parsed.error").isNotNull())
                .alias("dead")))
            parsed.count()
        with tr.span("replay.enrich"):
            obs_e = Observation("enrich")
            enriched = hold(enrich(parsed, spark, tag_unknown=False).observe(
                obs_e, F.count_if(F.col("parsed.error").isNull()
                                  & F.col("sink").isNull()).alias("unknown")))
            enriched.count()
        with tr.span("replay.route"):
            routed = hold(route_all(enriched))
            ok = ok and routed.count() == n_rows
        for df in held:
            df.unpersist()

        red = tr.reduce()
        w = tr.walls
        write = red.get("pipeline@routed", trace.new_stats())
        aggs = [red.get(f"pipeline@{d}", trace.new_stats())
                for d in ("conv_stats", "hourly_stats")]
        # the two aggregate writes run at the same time
        agg_s = trace.union_s([iv for a in aggs for iv in a["exec_ms"]])
        # wall of the real call inside the SQL executions of its writes
        in_exec = write["exec_s"] + agg_s
        dead = int(obs_p.get["dead"])
        metrics = {
            "sources.scan_s": w["replay.sources"],
            "sources.read_mb": red["replay.sources"]["input_mb"],
            "sources.rows": n_rows,
            "parse.self_s": w["replay.parse"],
            "parse.cpu_s": red["replay.parse"]["cpu_s"],
            "parse.rows_out": n_rows - dead,
            "parse.dead_letter_rows": dead,
            "enrich.self_s": w["replay.enrich"],
            "enrich.unknown_rows": int(obs_e.get["unknown"]),
            "route.self_s": w["replay.route"],
            "route.shuffle_write_mb": write["shuffle_write_mb"],
            "route.task_skew": write["write_task_skew"],
            "pipeline.write_s": write["exec_s"] - write["compute_stage_s"],
            "pipeline.files_written": len(files),
            "pipeline.bytes_written_mb": written_mb,
            "pipeline.spark_jobs": red["pipeline"]["jobs"],
            "pipeline.other_s": wall - in_exec,
            "aggregate.self_s": agg_s,
            "aggregate.read_back_mb": sum(a["input_mb"] for a in aggs),
            "aggregate.shuffle_write_mb": sum(a["shuffle_write_mb"]
                                              for a in aggs),
            "aggregate.task_skew": max(a["task_skew"] for a in aggs),
        }
        return {"ok": ok, "wall_s": wall, "metrics": metrics,
                "in_exec_s": in_exec, "front_s": write["compute_stage_s"]}


def check_pipeline_output(out: str, expected: dict) -> bool:
    """Per-sink routed counts, ``conv_stats`` and ``hourly_stats`` equal the
    DuckDB oracles. Counts come from parquet footers; aggregates are read
    with pyarrow."""
    counts: dict[str, int] = {}
    for f in parquet_files(os.path.join(out, "routed")):
        sink = [p for p in f.split(os.sep) if p.startswith("sink=")][0][5:]
        counts[sink] = counts.get(sink, 0) + pq.read_metadata(f).num_rows
    if oracles.norm_rows(counts.items()) != expected["route_counts"]:
        return False
    conv = pq.read_table(os.path.join(out, "conv_stats")).select(
        ["conv_id", "n_turns", "max_turn", "sum_cents"])
    if oracles.norm_rows(zip(*[c.to_pylist() for c in conv.columns])) \
            != expected["conv_stats"]:
        return False
    hourly = pq.read_table(os.path.join(out, "hourly_stats")).to_pandas()
    rows = zip(hourly["hour"].dt.strftime("%Y-%m-%d %H:%M:%S"),
               hourly["sink"], hourly["n_turns"].astype(int))
    return oracles.norm_rows(rows) == expected["hourly_stats"]


# ---------------------------------------------------------------------------
# wire_codec: stored flat rows -> encode_turn_wire -> payload parquet ->
# decode_turn_wire (default impl) -> consume
# ---------------------------------------------------------------------------

DECODED_FIELDS = ("rid", "conv_id", "turn_idx", "role", "tool", "colour",
                  "cents", "horn", "wings", "msg", "oneof_body")


def _row_text(values) -> str:
    """One decoded row as text; NULL renders as '~' (no field can be '~')."""
    return "|".join("~" if v is None else str(v) for v in values)


def expected_wire_fingerprint(flat_path: str) -> list:
    """[rows, 0 errors, sum of CRC-32 of each row's text] for the decode
    the generator's fields imply: proto3 enum names, the unset oneof member
    NULL. Pure Python, independent of Spark and of the codec."""
    from logstash_codec_protobuf_spark.schema import default_registry

    names = {int(code): name for cls, code, name
             in default_registry().enum_rows() if cls == "Colour"}
    t = pq.read_table(flat_path).to_pydict()
    total = 0
    for i in range(len(t["rid"])):
        unicorn = t["body_type"][i] == "unicorn"
        total += zlib.crc32(_row_text((
            t["rid"][i], t["conv_id"][i], t["turn_idx"][i], t["role"][i],
            t["tool"][i], names[t["colour"][i]], t["cents"][i],
            t["horn"][i] if unicorn else None,
            None if unicorn else t["wings"][i], t["msg"][i],
            "horn" if unicorn else "wings")).encode())
    return [len(t["rid"]), 0, total]


def _fingerprint(dec) -> list:
    """The same fingerprint over ``decode_turn_wire`` output, in Spark."""
    from pyspark.sql import functions as F

    d = F.col("decoded")
    text = F.concat_ws("|", *[
        F.coalesce((F.col(c) if c == "rid" else d[c]).cast("string"),
                   F.lit("~")) for c in DECODED_FIELDS])
    r = dec.agg(F.count(F.lit(1)).alias("n"),
                F.count_if(d["error"].isNotNull()).alias("errors"),
                F.sum(F.crc32(text)).alias("fp")).first()
    return [int(r["n"]), int(r["errors"]), int(r["fp"] or 0)]


class WireCodec:
    """Both directions of the pb_wire layer through storage: the encode
    lands a payload parquet, the decode scans exactly those bytes."""

    name = "wire_codec"
    sizes = {"default": {"flat": 50_000}, "tiny": {"flat": 5_000}}

    def expected(self, man: dict) -> dict:
        return {"fingerprint": expected_wire_fingerprint(
            man["paths"]["flat"])}

    def setup(self, ctx: Ctx) -> None:
        self.fp = ctx.expected["fingerprint"]
        self.n_rows = self.fp[0]
        rng = random.Random(ctx.inputs["seed"])
        sample = sorted(rng.sample(range(self.n_rows),
                                   min(SAMPLE, self.n_rows)))
        t = pq.read_table(ctx.inputs["paths"]["flat"]).take(sample)
        self.sample_rows = {r["rid"]: r for r in t.to_pylist()}

    def encode(self, ctx: Ctx, out: str) -> None:
        from logstash_codec_protobuf_spark.operators import pb_wire as PW

        flat = ctx.spark.read.parquet(ctx.inputs["paths"]["flat"])
        PW.encode_turn_wire(flat).select("rid", "payload").write.parquet(out)

    def decode(self, ctx: Ctx, out: str) -> list:
        from logstash_codec_protobuf_spark.operators import pb_wire as PW

        return _fingerprint(PW.decode_turn_wire(ctx.spark.read.parquet(out)))

    def job(self, ctx: Ctx):
        out = ctx.fresh_dir("wire")
        self.encode(ctx, out)
        if ctx.perturb == "flip_byte":
            flip_payload_byte(out)
        return out, self.decode(ctx, out)

    def check(self, ctx: Ctx, result) -> bool:
        from logstash_codec_protobuf_spark.operators.pb_wire import (
            py_encode_turn,
        )

        out, fp = result
        if fp != self.fp:
            return False
        landed = pq.read_table(out, filters=[("rid", "in", list(
            self.sample_rows))]).to_pylist()
        if len(landed) != len(self.sample_rows):
            return False
        return all(r["payload"] == py_encode_turn(self.sample_rows[r["rid"]])
                   for r in landed)

    def written_bytes(self, result) -> int:
        return dir_bytes(result[0])

    def cleanup(self, result) -> None:
        shutil.rmtree(result[0], ignore_errors=True)

    def traced(self, ctx: Ctx, tr) -> dict:
        out = ctx.fresh_dir("wire_traced")
        t0 = time.perf_counter()
        tr.clear_udf_profile()
        with tr.span("pb_wire.encode"):
            self.encode(ctx, out)
        with tr.span("pb_wire.decode"):
            fp = self.decode(ctx, out)
        wall = time.perf_counter() - t0
        compute = tr.udf_profile_s()
        ok = self.check(ctx, (out, fp))
        red = tr.reduce()
        enc, dec = red["pb_wire.encode"], red["pb_wire.decode"]
        metrics = {
            "pb_wire.encode_s": tr.walls["pb_wire.encode"],
            "pb_wire.encode_cpu_s": enc["cpu_s"],
            "pb_wire.payload_mb": enc["output_mb"],
            "pb_wire.decode_s": tr.walls["pb_wire.decode"],
            "pb_wire.decode_cpu_s": dec["cpu_s"],
            "pb_wire.udf_transfer_s": max(0.0, dec["py_worker_s"] - compute),
            "pb_wire.udf_compute_s": compute,
            "pb_wire.decode_errors": fp[1],
        }
        shutil.rmtree(out, ignore_errors=True)
        return {"ok": ok, "wall_s": wall, "metrics": metrics}


# ---------------------------------------------------------------------------
# dedup_corpus: text near-dup pairs, clusters and embedding neighbours
# ---------------------------------------------------------------------------

DEDUP_SIZES = {
    "default": {
        "documents": dict(n_background=600, n_families=10, family_size=5,
                          boilerplate=1030),
        "embeddings": dict(n_background=300, n_families=10, family_size=5,
                           noise=0.003),
    },
    "tiny": {
        "documents": dict(n_background=200, n_families=5, family_size=4,
                          boilerplate=1030),
        "embeddings": dict(n_background=200, n_families=5, family_size=4,
                           noise=0.003),
    },
}


def _collect(df) -> list[list]:
    return oracles.norm_rows(tuple(r) for r in df.collect())


def families_recovered(families: dict, got: dict) -> bool:
    """Every planted document family (boilerplate included) is one star
    cluster, and every planted embedding family's pairs are near-dups."""
    cluster = {r[0]: r[1] for r in got["clusters"]}
    for fam in families["documents"]:
        if len({cluster.get(d) for d in fam}) != 1:
            return False
    pairs = {(r[0], r[1]) for r in got["neardup"]}
    return all((a, b) in pairs for fam in families["embeddings"]
               for i, a in enumerate(fam) for b in fam[i + 1:])


class DedupCorpus:
    name = "dedup_corpus"
    sizes = DEDUP_SIZES

    def expected(self, man: dict) -> dict:
        return oracles.dedup_expected(man["paths"]["documents"],
                                      man["paths"]["embeddings"])

    def setup(self, ctx: Ctx) -> None:
        self.docs = ctx.spark.read.parquet(ctx.inputs["paths"]["documents"])
        self.emb = ctx.spark.read.parquet(ctx.inputs["paths"]["embeddings"])
        self.n_rows = (pq.read_metadata(ctx.inputs["paths"]["documents"])
                       .num_rows
                       + pq.read_metadata(ctx.inputs["paths"]["embeddings"])
                       .num_rows)

    def ops(self):
        from logstash_codec_protobuf_spark.operators import dedup as DD
        from logstash_codec_protobuf_spark.operators import similarity as SIM

        return {
            "jaccard": lambda: DD.ngram_jaccard_pairs(self.docs,
                                                      threshold=0.5),
            "clusters": lambda: DD.dedup_clusters_star(self.docs),
            "simhash": lambda: DD.simhash_neardup_pairs(self.docs),
            "neardup": lambda: SIM.neardup_pairs(self.emb),
            "topk": lambda: SIM.lsh_topk(self.emb),
        }

    def job(self, ctx: Ctx) -> dict:
        from logstash_codec_protobuf_spark import cache

        got = {}
        for name, op in self.ops().items():
            cache.release_tracked()
            got[name] = _collect(op())
        cache.release_tracked()
        if ctx.perturb == "drop_row":
            got["jaccard"] = got["jaccard"][1:]
        return got

    def check(self, ctx: Ctx, got: dict) -> bool:
        return (all(got[k] == ctx.expected[k] for k in got)
                and families_recovered(ctx.inputs["families"], got))

    def written_bytes(self, got) -> int:
        return 0

    def cleanup(self, got) -> None:
        pass

    def traced(self, ctx: Ctx, tr) -> dict:
        from pyspark.sql import functions as F

        from logstash_codec_protobuf_spark import cache
        from logstash_codec_protobuf_spark.operators import dedup as DD
        from logstash_codec_protobuf_spark.operators import similarity as SIM

        docs, emb = self.docs, self.emb
        got = {}
        t0 = time.perf_counter()
        with tr.span("dedup.signature"):
            DD.minhash_bands(docs).count()
        with tr.span("dedup.candidates"):
            n_cand = DD.minhash_pairs(docs).count()
        with tr.span("dedup.verify"):
            got["jaccard"] = _collect(DD.ngram_jaccard_pairs(docs, 0.5))
        cache.release_tracked()
        with tr.span("dedup.oversize"):
            n_over = DD.minhash_oversize_buckets(docs).count()
        with tr.span("dedup.cluster"):
            got["clusters"] = _collect(DD.dedup_clusters_star(docs))
        with tr.span("dedup.simhash"):
            got["simhash"] = _collect(DD.simhash_neardup_pairs(docs))
        cache.release_tracked()
        with tr.span("similarity.neardup"):
            got["neardup"] = _collect(SIM.neardup_pairs(emb))
        cache.release_tracked()
        with tr.span("similarity.topk"):
            got["topk"] = _collect(SIM.lsh_topk(emb))
        cache.release_tracked()
        wall = time.perf_counter() - t0
        # bucket sizes are read outside every span: the operator does not
        # expose them
        bucket = F.expr(SIM.lsh_bucket_expr("embedding",
                                            SIM.NEARDUP_PLANES))
        max_bucket = emb.groupBy(bucket.alias("b")).count() \
            .agg(F.max("count")).first()[0]
        ok = self.check(ctx, got)
        red = tr.reduce()
        dd = [k for k in red if k.startswith("dedup.")]
        metrics = {
            "dedup.signature_s": tr.walls["dedup.signature"],
            "dedup.candidate_pairs": n_cand,
            "dedup.verified_pairs": len(got["jaccard"]),
            "dedup.verify_ratio": len(got["jaccard"]) / max(n_cand, 1),
            "dedup.oversize_buckets": n_over,
            "dedup.cluster_s": tr.walls["dedup.cluster"],
            "dedup.cluster_jobs": red["dedup.cluster"]["jobs"],
            "dedup.shuffle_write_mb": sum(red[k]["shuffle_write_mb"]
                                          for k in dd),
            "similarity.neardup_s": tr.walls["similarity.neardup"],
            "similarity.max_bucket_rows": int(max_bucket),
            "similarity.pairs": len(got["neardup"]),
            "similarity.topk_s": tr.walls["similarity.topk"],
        }
        return {"ok": ok, "wall_s": wall, "metrics": metrics}


WORKLOADS = {w.name: w for w in (PipelineBatch, WireCodec, DedupCorpus)}
