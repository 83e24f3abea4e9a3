"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  -> flagship parse→enrich→route pipeline at sf0.001.
queries()     -> every implemented operator (SURVEY.md §2) as (spark, sf_dir) -> DataFrame.
oracle_sql()  -> matching DuckDB SQL for each query (exact-match oracles; the
                 transcripts input is derived from `events` by ONE SQL text shared
                 verbatim between Spark and DuckDB).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from logstash_codec_protobuf_spark import queries as Q


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: vectorized decode -> enrich lookups -> tag-based route,
    per-sink routed-row counts (incl. dead_letter)."""
    return Q.route_counts_q(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return Q.all_queries()


def oracle_sql() -> dict[str, str]:
    return Q.all_oracles()
