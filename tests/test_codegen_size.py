"""JIT-limit guard: no whole-stage-codegen method may exceed HotSpot's
``HugeMethodLimit`` (8,000 bytecode bytes). A larger method is never
JIT-compiled and runs in the bytecode interpreter for the life of the JVM:
the SQL-rendered wire encoder fused into a 35,725-byte method and spent
~3 CPU-s per 50k rows that way. The sizes come from Spark's own debug
codegen dump, compiled from the executed (non-adaptive) plan."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import DataFrame, functions as F

from logstash_codec_protobuf_spark import queries as Q
from logstash_codec_protobuf_spark.operators import pb_wire as W

from .conftest import SF_DIR

HUGE_METHOD_LIMIT = 8000

# Known offenders, measured at sf0.001 (local[4], Spark 4.1.2). Every other
# registered query stays at or under 3,566 B; the four pb_wire queries that
# encode were 35-36 KB before the encoder became an Arrow kernel.
OVER_LIMIT = {
    "encode_roundtrip": (
        "40,188 B: suppress_empty's filter is pushed under the projection "
        "and re-inlines parse + serialize into one generated method"),
}


def max_method_code_size(spark, build) -> int:
    """Largest generated method (bytes of bytecode) of the plan ``build()``
    returns, planned with AQE off so every whole-stage-codegen subtree is
    in the executed plan rather than behind an adaptive stage."""
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        df: DataFrame = build()
        plan = df._jdf.queryExecution().executedPlan()
        dump = spark._jvm.org.apache.spark.sql.execution.debug.package \
            .codegenString(plan)
    finally:
        spark.conf.set(key, prev)
    return max((int(m) for m in
                re.findall(r"maxMethodCodeSize:(\d+)", dump)), default=0)


def test_encode_turn_wire_fits_jit_limit(spark):
    flat = Q._good_flat(spark, SF_DIR).drop("ts", "text")
    size = max_method_code_size(spark, lambda: W.encode_turn_wire(flat))
    assert 0 < size <= HUGE_METHOD_LIMIT


@pytest.mark.parametrize("name", [
    pytest.param(n, marks=pytest.mark.xfail(reason=OVER_LIMIT[n],
                                            strict=True))
    if n in OVER_LIMIT else n
    for n in sorted(Q.all_queries())
])
def test_query_fits_jit_limit(spark, name):
    size = max_method_code_size(
        spark, lambda: Q.all_queries()[name](spark, SF_DIR))
    assert size <= HUGE_METHOD_LIMIT, f"{name}: {size} B"


def test_pipeline_plans_fit_jit_limit(spark, tmp_path):
    """run_pipeline's wave plan (scan, parse, enrich, route) and its two
    aggregate plans over the routed store it wrote."""
    from logstash_codec_protobuf_spark.config import (
        DEAD_LETTER_SINK, CodecConfig,
    )
    from logstash_codec_protobuf_spark.operators import aggregate as agg
    from logstash_codec_protobuf_spark.plans.pipeline import (
        _routed_wave, run_pipeline,
    )

    cfg = CodecConfig()
    out = str(tmp_path / "run")
    run_pipeline(spark, SF_DIR, out, cfg)
    good = spark.read.parquet(f"{out}/routed").filter(
        F.col("sink") != DEAD_LETTER_SINK)
    builds = {
        "wave": lambda: _routed_wave(spark, SF_DIR, cfg, 8),
        "conv_stats": lambda: agg.conv_stats(good),
        "hourly_stats": lambda: agg.hourly_stats(good),
    }
    sizes = {k: max_method_code_size(spark, b) for k, b in builds.items()}
    assert all(0 < s <= HUGE_METHOD_LIMIT for s in sizes.values()), sizes
