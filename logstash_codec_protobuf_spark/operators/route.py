"""Tag-based fan-out routing to per-sink tables.

The codec's "fan-out" is its error branch: good events yield to the pipeline,
failures become substitute events tagged `_protobufdecodefailure`
(protobuf.rb:224,229-233). The engine generalizes this to N sinks driven by the
`tools.sink` dictionary column, with the dead-letter sink as one more route.

Scale design (north_rule): the routed write is the job's one big shuffle,
and it is Spark's own ``REBALANCE`` on the write's partition columns
(``.hint("rebalance", ...)``) right before the write. Rows are hashed on
those columns, so each partition directory's rows meet in one task and
land one file. Under AQE the rebalance then sizes the tasks by the
map-output bytes it measured: partitions smaller than
``spark.sql.adaptive.advisoryPartitionSizeInBytes`` are coalesced, and an
oversized one (a hot sink: a sink is a low-cardinality hot key by
construction) is split over several tasks, each writing its own file.
Without AQE the hint is a plain hash repartition on the same columns: the
same rows land in the same directories, only the hot-key split is lost.
`partitionBy("sink")` on the writer lays files out per sink directory.
``route_all`` gives every parsed row, good or failed, its sink in one
projection over the parse output, so good and dead-letter flows come from
one scan of the source instead of one per sink (single-pass multi-sink
fan-out, SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import DEAD_LETTER_SINK, sql_str
from ..storage import parquet_writer


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
    routed = df.hint("rebalance", "sink")
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
