"""Tag-based fan-out routing to per-sink tables.

The codec's "fan-out" is its error branch: good events yield to the pipeline,
failures become substitute events tagged `_protobufdecodefailure`
(protobuf.rb:224,229-233). The engine generalizes this to N sinks driven by the
`tools.sink` dictionary column, with the dead-letter sink as one more route.

Scale design (north_rule): the routed write is the job's one big shuffle, so it
is made EXPLICIT — ``probe_repartition`` of salted (sink, conversation) combos
over ``spark.sql.shuffle.partitions`` tasks right before the write. The salt
spreads each sink's rows over many tasks (a sink is a low-cardinality hot key
by construction; without the salt all of sink_b lands in one task at 100 TB).
`partitionBy("sink")` on the writer then lays files out per sink directory. A
single ``persist`` lets good/dead flows share the parse stage instead of
re-reading the source per sink (single-pass multi-sink fan-out, SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import DEAD_LETTER_SINK, sql_str
from ..sources.dims import SINKS
from ..storage import parquet_writer

# SQL text: the row's `sink` as its index in SINKS, the fan-out group
SINK_INDEX = ("array_position(array("
              + ", ".join(sql_str(s) for s in SINKS) + "), sink) - 1")


def assign_sink(df: DataFrame) -> DataFrame:
    """Resolve each row's destination sink: dictionary sink for enriched rows,
    dead_letter for unmatched tools (keep-don't-drop, protobuf.rb:229-233)."""
    return df.withColumn("sink", F.coalesce(F.col("sink"), F.lit(DEAD_LETTER_SINK)))


def route_all(parsed_enriched: DataFrame) -> DataFrame:
    """Single-pass routing: every parsed+enriched row (good OR failed) gets its
    sink in one scan — failed parses to dead_letter, good rows to their
    dictionary sink, unmatched dictionary keys to dead_letter.

    This replaces the good/dead union shape, which costs a SECOND full scan of
    the parse pipeline (each union branch re-reads the source) — at 100 TB
    that's the difference between one pass and two. The projection is SQL
    text: a composed Column costs tens of py4j round trips of call-site
    capture per operator, a ``selectExpr`` string a few.
    """
    dead = sql_str(DEAD_LETTER_SINK)
    return parsed_enriched.selectExpr(
        "conv_id", "turn_idx", "ts", "text",
        "CASE WHEN parsed.error IS NULL THEN tool END AS tool",
        "CASE WHEN parsed.error IS NULL THEN parsed.cents END AS cents",
        "parsed.error AS decoder_exception",
        f"CASE WHEN parsed.error IS NOT NULL THEN {dead}"
        f" ELSE coalesce(sink, {dead}) END AS sink",
    )


def route_counts(good: DataFrame, dead: DataFrame) -> DataFrame:
    """Per-sink routed-row counts — the correctness invariant the north star
    pins against the reference fixtures. Partial aggregation (map-side combine)
    makes this a tiny shuffle regardless of input size."""
    g = good.groupBy("sink").agg(F.count(F.lit(1)).alias("n_rows"))
    d = dead.select(F.lit(DEAD_LETTER_SINK).alias("sink")).groupBy("sink").agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    return g.unionByName(d).groupBy("sink").agg(F.sum("n_rows").alias("n_rows"))


def _murmur3_int(x: int, seed: int = 42) -> int:
    """Spark's ``Murmur3_x86_32.hashInt`` (the hash Catalyst
    ``HashPartitioning`` applies to a single INT expression, seed 42),
    reimplemented for driver-side probe search. Returns the SIGNED int32
    Spark produces."""
    m = 0xffffffff
    k = (x & m) * 0xcc9e2d51 & m
    k = ((k << 15) | (k >> 17)) & m
    k = k * 0x1b873593 & m
    h = (seed & m) ^ k
    h = ((h << 13) | (h >> 19)) & m
    h = (h * 5 + 0xe6546b64) & m
    h ^= 4  # fmix with total byte length 4
    h ^= h >> 16
    h = h * 0x85ebca6b & m
    h ^= h >> 13
    h = h * 0xc2b2ae35 & m
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def partition_probe_values(n: int) -> list[int]:
    """probe[p] = the smallest int x with pmod(murmur3(x), n) == p.

    ``repartition(n, probe_col)`` then places a row carrying probe[p] in
    EXACTLY partition p — a deterministic partition assignment the
    DataFrame API otherwise cannot express. Coupon-collector search,
    ~n*ln(n) murmur evaluations, driver-side, microseconds at any
    realistic partition count."""
    probes: list[int | None] = [None] * n
    found, x = 0, 0
    while found < n:
        p = _murmur3_int(x) % n
        if probes[p] is None:
            probes[p] = x
            found += 1
        x += 1
    return probes  # type: ignore[return-value]


def probe_repartition(df: DataFrame, n: int, group_idx: str,
                      n_groups: int, conv_col: str = "conv_id",
                      combos_per_partition: int = 4) -> DataFrame:
    """Deterministically balanced pre-write repartition (round-6 verdict
    item 1 — the 8->32 e2e scaling gap).

    Hash-partitioning a SMALL categorical key space (group x salt combos)
    into n tasks is a murmur3 LOTTERY: measured on 20M turns at local[32],
    the same mass distribution landed anywhere between 22.6s and 57.9s
    depending only on which literal salt values happened to collide
    (BENCH/e2e_decompose_r7*.md — 80-combo layouts at both extremes, and a
    16x-oversized combo space still paid 1.23x over the lucky layout).

    This bypasses the lottery: rows are salted into
    ``combos = n_groups * s`` combos (``s`` sized so combos ~=
    combos_per_partition * n), each combo is assigned round-robin to a
    partition slot, and the slot is materialized as a PROBE INTEGER whose
    murmur3 lands in exactly that partition (``partition_probe_values``).
    Result, at ANY parallelism: every partition holds
    ~combos_per_partition combos from DIFFERENT interleaved groups (mass
    averaging), no partition is empty, and each task writes at most
    ~combos_per_partition files — balance AND file count both bounded by
    construction, not by hash luck.

    ``group_idx`` is SQL text for the row's group in ``[0, n_groups)``;
    the whole partition key is one SQL expression, so building it costs a
    few py4j round trips rather than one call-site capture per operator."""
    import math

    s = max(1, math.ceil(combos_per_partition * n / max(n_groups, 1)))
    salt = f"pmod(xxhash64(`{conv_col}`, 'wsalt'), {s})"
    slot = f"CAST(pmod(({group_idx}) * {s} + {salt}, {n}) AS INT)"
    probes = ", ".join(str(int(p)) for p in partition_probe_values(n))
    pkey = f"CAST(element_at(array({probes}), {slot} + 1) AS INT)"
    return df.repartition(n, F.expr(pkey))


def fan_out(
    df: DataFrame,
    base_path: str | None = None,
    mode: str = "append",
    table: str | None = None,
) -> None:
    """Write rows to per-sink storage in ONE pass.

    Two sinks behind the same shuffle plan:

    - ``table`` set: DataFrameWriterV2 (``writeTo``) against a catalog table
      — the Iceberg path at cluster scale (north star names Iceberg; any V2
      catalog satisfies the API, so the seam is exercised in the sandbox via
      the built-in session catalog). First write creates the table
      partitioned by sink; later writes append through the table's own
      partition spec.
    - otherwise: parquet ``partitionBy("sink")`` directories at
      ``base_path`` — identical layout and shuffle behavior.
    """
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    routed = probe_repartition(df, n, SINK_INDEX, len(SINKS))
    if table is not None:
        spark = routed.sparkSession
        if mode == "overwrite":
            routed.writeTo(table).partitionedBy(F.col("sink")) \
                .createOrReplace()
            return
        if not spark.catalog.tableExists(table):
            routed.writeTo(table).partitionedBy(F.col("sink")).create()
            return
        try:
            routed.writeTo(table).append()
        except Exception:
            # V1 session-catalog tables don't implement the V2 append
            # capability (Iceberg does) — same rows, same partition layout
            # through the V1 writer
            routed.write.mode("append").partitionBy("sink") \
                .saveAsTable(table)
        return
    if base_path is None:
        raise ValueError("fan_out needs either base_path or table")
    parquet_writer(routed).mode(mode).partitionBy("sink").parquet(base_path)
