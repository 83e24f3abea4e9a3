#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload pipeline_batch --seed 1 \\
        --seconds 10 --trace 0

The command generates its inputs from ``--seed`` (cached per seed under
``.perfbench_work/inputs``), starts one Spark session sized to the host,
stages the inputs through the engine's own functions, runs one untimed
warm-up job and then runs jobs one at a time, each checked, until
``--seconds`` have passed and at least ``MIN_JOBS`` jobs were timed. The last
line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (``END_TO_END``);
with ``--trace 1`` the session also writes a Spark event log and runs the
PySpark UDF profiler, and the metrics are the per-layer ones
(``PER_LAYER``) for every layer of every workload. Lines before the JSON
describe the host and the run for people.

It exits 2 without a result when the engine cannot be imported, e.g. in a
directory that holds only the benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

MIN_JOBS = 4  # timed jobs per run; peak memory is read after the last of them
MIN_JOBS_TRACED = 2
# stop timing early rather than overrun the 180 s a run may take; a traced
# run still has one traced pass per workload to go
MAX_WALL_S = {0: 120.0, 1: 60.0}

END_TO_END = {
    "rows_per_cpu_s": "1/s",
    "peak_mem_mb": "MiB",
    "written_bytes_per_row": "B",
    "setup_s": "s",
}

PER_LAYER = {
    "sources.scan_s": "s", "sources.read_mb": "MiB", "sources.rows": "count",
    "parse.self_s": "s", "parse.cpu_s": "s", "parse.rows_out": "count",
    "parse.dead_letter_rows": "count",
    "enrich.self_s": "s", "enrich.unknown_rows": "count",
    "route.self_s": "s", "route.shuffle_write_mb": "MiB",
    "route.task_skew": "ratio",
    "pipeline.write_s": "s", "pipeline.files_written": "count",
    "pipeline.bytes_written_mb": "MiB", "pipeline.spark_jobs": "count",
    "pipeline.other_s": "s",
    "aggregate.self_s": "s", "aggregate.read_back_mb": "MiB",
    "aggregate.shuffle_write_mb": "MiB", "aggregate.task_skew": "ratio",
    "pb_wire.encode_s": "s", "pb_wire.encode_cpu_s": "s",
    "pb_wire.payload_mb": "MiB",
    "pb_wire.decode_s": "s", "pb_wire.decode_cpu_s": "s",
    "pb_wire.udf_transfer_s": "s", "pb_wire.udf_compute_s": "s",
    "pb_wire.decode_errors": "count",
    "dedup.signature_s": "s", "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count", "dedup.verify_ratio": "ratio",
    "dedup.oversize_buckets": "count", "dedup.cluster_s": "s",
    "dedup.cluster_jobs": "count", "dedup.shuffle_write_mb": "MiB",
    "similarity.neardup_s": "s", "similarity.max_bucket_rows": "count",
    "similarity.pairs": "count", "similarity.topk_s": "s",
    "spark.jobs": "count", "spark.tasks": "count", "spark.gc_s": "s",
    "spark.spill_mb": "MiB", "spark.task_failures": "count",
    "trace.overhead_frac": "ratio", "trace.layer_coverage": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("default", "tiny"), default="default",
                   help="input size preset; 'tiny' is for the tests")
    p.add_argument("--perturb", choices=("drop_row", "flip_byte"),
                   help="corrupt every job's output before its check: "
                   "drop_row (pipeline_batch, dedup_corpus) or flip_byte "
                   "(wire_codec); for the tests")
    return p.parse_args(argv)


def say(msg: str) -> None:
    print(msg, flush=True)


def input_key(workload, size: str) -> str:
    """Hash of everything a cached input is made from: the benchmark's
    generator, oracle and workload code, the size preset and the engine's
    derivation and oracle texts. A change to any of them makes new inputs
    and new expected results instead of reusing stale ones."""
    import hashlib

    from perfbench import oracles

    h = hashlib.sha256()
    for name in ("gen.py", "oracles.py", "workloads.py"):
        with open(os.path.join(HERE, name), "rb") as f:
            h.update(f.read())
    h.update(json.dumps(workload.sizes[size], sort_keys=True).encode())
    for text in oracles.engine_texts():
        h.update(text.encode())
    return h.hexdigest()[:16]


def prepare_inputs(workload, size: str, seed: int) -> tuple[dict, dict]:
    """Generated tables and expected results for one workload and seed,
    made once and cached under a key of what they are made from; the cache
    entry appears atomically."""
    from perfbench import gen

    final = os.path.join(WORK, "inputs", f"{workload.name}-{size}",
                         input_key(workload, size), f"seed_{seed}")
    if not os.path.exists(os.path.join(final, "expected.json")):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(tmp, seed, workload.sizes[size])
        with open(os.path.join(tmp, "manifest.json")) as f:
            man = json.load(f)
        with open(os.path.join(tmp, "expected.json"), "w") as f:
            json.dump(workload.expected(man), f)
        shutil.rmtree(final, ignore_errors=True)
        os.makedirs(os.path.dirname(final), exist_ok=True)
        os.rename(tmp, final)
    with open(os.path.join(final, "manifest.json")) as f:
        man = json.load(f)
    # paths inside the manifest point at the temporary directory it was
    # written in; re-anchor them on the cache entry
    man["paths"] = {k: os.path.join(final, os.path.basename(v))
                    for k, v in man["paths"].items()}
    with open(os.path.join(final, "expected.json")) as f:
        expected = json.load(f)
    return man, expected


def run_job(w, ctx) -> tuple[bool, float, float, int]:
    """One checked job: (ok, wall seconds, CPU seconds, bytes written)."""
    from perfbench import host

    c0, t0 = host.cpu_s(ctx.spark), time.perf_counter()
    try:
        res = w.job(ctx)
    except Exception as e:  # a raising job counts as failed
        say(f"job raised: {type(e).__name__}: {str(e)[:300]}")
        return (False, time.perf_counter() - t0,
                host.cpu_s(ctx.spark) - c0, 0)
    wall = time.perf_counter() - t0
    cpu = host.cpu_s(ctx.spark) - c0
    try:
        ok = bool(w.check(ctx, res))
        written = w.written_bytes(res)
    except Exception as e:
        say(f"check raised: {type(e).__name__}: {str(e)[:300]}")
        ok, written = False, 0
    w.cleanup(res)
    return ok, wall, cpu, written


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit (it exits when
    its stdin closes)."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    from perfbench import host

    t_start_epoch = host.process_start_epoch()
    try:
        import logstash_codec_protobuf_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    from perfbench import workloads as WL

    if args.workload not in WL.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WL.WORKLOADS)}", file=sys.stderr)
        return 2

    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    shutil.rmtree(os.path.join(WORK, "out"), ignore_errors=True)

    names = [args.workload] + ([n for n in WL.WORKLOADS if n != args.workload]
                               if args.trace else [])
    wls = {n: WL.WORKLOADS[n]() for n in names}

    t0 = time.time()
    prepared = {n: prepare_inputs(w, args.size, args.seed)
                for n, w in wls.items()}
    gen_s = time.time() - t0

    trace_dir = None
    if args.trace:
        trace_dir = os.path.join(WORK, "eventlog", f"run_{os.getpid()}")
        shutil.rmtree(trace_dir, ignore_errors=True)
    spark = host.build_session(WORK, trace_dir)
    try:
        return measure(args, spark, wls, prepared, t_start_epoch, gen_s,
                       trace_dir, time.time())
    finally:
        stop_spark(spark)
        shutil.rmtree(os.path.join(WORK, "out"), ignore_errors=True)
        if trace_dir:
            shutil.rmtree(trace_dir, ignore_errors=True)


def measure(args, spark, wls, prepared, t_start_epoch, gen_s,
            trace_dir, t_ready) -> int:
    from logstash_codec_protobuf_spark.operators import pb_wire as PW
    from perfbench import host, workloads as WL

    impl = "jvm" if PW.spark_protobuf_available(spark) else "arrow"
    stamp = host.host_stamp(spark, impl)
    say("host " + json.dumps(stamp))
    ctxs = {}
    for n, w in wls.items():
        man, expected = prepared[n]
        ctxs[n] = WL.Ctx(spark, WORK, man, expected, args.perturb)
        w.setup(ctxs[n])
    t_setup = time.time()
    w, ctx = wls[args.workload], ctxs[args.workload]
    say(f"workload {w.name}: {w.n_rows} input rows per job, seed "
        f"{args.seed}, size {args.size}")

    attempted = failed = 0
    walls: list[float] = []
    cpus: list[float] = []
    per_row_bytes: list[float] = []

    def one() -> tuple[float, float]:
        nonlocal attempted, failed
        ok, wall, cpu, written = run_job(w, ctx)
        attempted += 1
        failed += 0 if ok else 1
        per_row_bytes.append(written / w.n_rows)
        return wall, cpu

    one()  # warm-up: JIT, codegen and Python workers
    t_first = time.time()
    say(f"phase ready {t_ready - t_start_epoch:.2f} s, setup "
        f"{t_setup - t_ready:.2f} s, warm-up {t_first - t_setup:.2f} s, "
        f"inputs {gen_s:.2f} s")
    setup_s = t_first - t_start_epoch - gen_s
    # a traced run only needs the untraced wall to compare against
    min_jobs = MIN_JOBS_TRACED if args.trace else MIN_JOBS
    mem = rss = None
    while True:
        wall, cpu = one()
        walls.append(wall)
        cpus.append(cpu)
        if len(walls) == min_jobs:
            mem, rss = host.peak_mem_mb(spark), host.peak_rss_mb(spark)
        now = time.time()
        if (len(walls) >= min_jobs and now >= t_first + args.seconds) \
                or now >= t_start_epoch + MAX_WALL_S[args.trace]:
            break
    if mem is None:
        mem, rss = host.peak_mem_mb(spark), host.peak_rss_mb(spark)

    say(f"timed jobs: {len(walls)}; job walls s: "
        + ", ".join(f"{x:.3f}" for x in walls) + "; job CPU s: "
        + ", ".join(f"{x:.3f}" for x in cpus))
    say(f"rows_per_s {statistics.median(w.n_rows / x for x in walls):.1f} "
        "1/s (job wall, not bounded: see perfbench/README.md)")
    say(f"failed_frac {failed / attempted:.4f} ({failed}/{attempted} jobs)")
    say(f"written_bytes_per_row {statistics.median(per_row_bytes):.3f} B")
    say(f"peak RSS of the JVM and its workers {rss:.1f} MiB (not bounded: "
        "includes heap G1 committed but did not fill)")

    if not args.trace:
        values = {
            # the least CPU any timed job needed: a busy host only ever
            # adds CPU time (shared caches and cores), never removes it
            "rows_per_cpu_s": w.n_rows / min(cpus),
            "peak_mem_mb": mem,
            "written_bytes_per_row": statistics.median(per_row_bytes),
            "setup_s": setup_s,
        }
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in END_TO_END.items()}
        correct = failed == 0
    else:
        metrics, correct = traced(spark, wls, ctxs, args, walls, trace_dir)
        correct = correct and failed == 0
    for k, m in metrics.items():
        say(f"{k} {m['value']} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


def traced(spark, wls, ctxs, args, untraced_walls, trace_dir):
    """One traced job per workload, the selected workload first; its traced
    wall against the untraced job walls gives the tracing overhead."""
    from perfbench import trace

    tr = trace.Tracer(spark, trace_dir)
    values: dict = {}
    correct = True
    for n, w in wls.items():
        tr.walls.clear()
        res = w.traced(ctxs[n], tr)
        correct = correct and res["ok"]
        say(f"traced {n}: wall {res['wall_s']:.3f} s, check "
            f"{'ok' if res['ok'] else 'FAILED'}")
        if n == args.workload:
            values["trace.overhead_frac"] = (
                res["wall_s"] / statistics.median(untraced_walls) - 1.0)
        if n == "pipeline_batch":
            # share of the job wall inside the SQL executions of the real
            # run_pipeline call's writes, the part the event log can split
            # by layer; the rest is driver time of the plan (other_s)
            say(f"traced pipeline: fused scan-to-route stages "
                f"{res['front_s']:.3f} s, in write executions "
                f"{res['in_exec_s']:.3f} s")
            base = (statistics.median(untraced_walls)
                    if n == args.workload else res["wall_s"])
            values["trace.layer_coverage"] = res["in_exec_s"] / base
        values.update(res["metrics"])
    whole = trace.total(tr.reduce())
    values.update({
        "spark.jobs": whole["jobs"],
        "spark.tasks": whole["tasks"],
        "spark.gc_s": whole["gc_s"],
        "spark.spill_mb": whole["spill_mb"],
        "spark.task_failures": whole["failed_tasks"],
    })
    metrics = {k: {"value": values[k], "unit": u}
               for k, u in PER_LAYER.items()}
    return metrics, correct


if __name__ == "__main__":
    sys.exit(main())
