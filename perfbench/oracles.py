"""Expected results, from the engine's DuckDB oracles on the generated tables.

The oracle SQL texts are the ones ``queries.all_oracles()`` pins the engine
to; here they run on the benchmark's generated parquet instead of the fixed
test data. Results are normalised to sorted lists of tuples (floats rounded
to 9 places, as the engine's own parity suite does) so they compare with
collected Spark rows and survive a JSON round trip.
"""

from __future__ import annotations

import duckdb

PIPELINE_ORACLES = ("route_counts", "conv_stats", "hourly_stats")


def norm_value(v):
    if isinstance(v, float):
        return round(v, 9)
    if hasattr(v, "item"):  # numpy scalar
        return norm_value(v.item())
    return v


def norm_rows(rows) -> list[list]:
    return sorted([norm_value(v) for v in r] for r in rows)


def _connect(paths: dict[str, str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for name, path in paths.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


def _run(con, sql: str) -> list[list]:
    return norm_rows(con.execute(sql).fetchall())


def pipeline_expected(events_path: str) -> dict:
    from logstash_codec_protobuf_spark.queries import all_oracles

    oracles = all_oracles()
    con = _connect({"events": events_path})
    out = {name: _run(con, oracles[name]) for name in PIPELINE_ORACLES}
    con.close()
    return out


def stage_transcripts(events_path: str, out_dir: str, n_files: int) -> None:
    """The engine's transcripts table for ``events``, from the engine's own
    derivation SQL (``TRANSCRIPTS_SQL``, written to run verbatim in Spark
    and DuckDB), as ``n_files`` parquet files split by conversation so a
    scan has one task per file and the hot conversation stays in one file,
    as a Spark-staged table would."""
    import os
    import zlib

    import numpy as np
    import pyarrow.parquet as pq

    from logstash_codec_protobuf_spark.sources.transcripts import (
        TRANSCRIPTS_SQL,
    )

    con = _connect({"events": events_path})
    t = con.execute(TRANSCRIPTS_SQL).fetch_arrow_table()
    con.close()
    part = np.array([zlib.crc32(c.encode()) % n_files
                     for c in t.column("conv_id").to_pylist()])
    os.makedirs(out_dir, exist_ok=True)
    for i in range(n_files):
        pq.write_table(t.filter(part == i),
                       os.path.join(out_dir, f"part-{i:05d}.parquet"))


def components(edges, nodes) -> list[list]:
    """[node, cluster_id, is_canonical] for every node: connected components
    of ``edges`` labelled by their smallest node, by union-find."""
    parent = {n: n for n in nodes}

    def find(n):
        while parent[n] != n:
            parent[n] = parent[parent[n]]
            n = parent[n]
        return n

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return norm_rows((n, find(n), n == find(n)) for n in nodes)


def dedup_sql() -> dict[str, str]:
    """The DuckDB oracles of the five dedup/similarity operators; 'edges'
    is the star-edge graph the clusters are closed from."""
    from logstash_codec_protobuf_spark.operators import dedup as DD
    from logstash_codec_protobuf_spark.operators import similarity as SIM

    return {
        "jaccard": DD.ngram_jaccard_oracle(threshold=0.5),
        "simhash": DD.simhash_neardup_oracle(max_hamming=1),
        "neardup": SIM.neardup_pairs_oracle(),
        "topk": SIM.lsh_topk_oracle(),
        "edges": DD.minhash_star_edges_oracle(),
    }


def engine_texts() -> list[str]:
    """Everything of the engine's that the cached inputs and expected
    results are derived from: the transcripts derivation, every oracle SQL
    text and the enum dictionary the wire fingerprint names codes by."""
    from logstash_codec_protobuf_spark.queries import all_oracles
    from logstash_codec_protobuf_spark.schema import default_registry
    from logstash_codec_protobuf_spark.sources.transcripts import (
        TRANSCRIPTS_SQL,
    )

    sql = {**all_oracles(), **{f"dedup.{k}": v for k, v
                               in dedup_sql().items()}}
    return ([TRANSCRIPTS_SQL] + [f"{k}\n{sql[k]}" for k in sorted(sql)]
            + [repr(default_registry().enum_rows())])


def dedup_expected(documents_path: str, embeddings_path: str) -> dict:
    """The DuckDB oracles of the five dedup/similarity operators. Clusters
    close the oracle's star-edge graph (``minhash_star_edges_oracle``) with
    union-find instead of ``dedup_clusters_star_oracle``'s recursive CTE,
    which takes minutes on a boilerplate family of 1,000+ documents; the
    components are the same by definition."""
    sql = dedup_sql()
    edges_sql = sql.pop("edges")
    con = _connect({"documents": documents_path,
                    "embeddings": embeddings_path})
    out = {k: _run(con, q) for k, q in sql.items()}
    edges = con.execute(edges_sql).fetchall()
    nodes = [r[0] for r in con.execute("SELECT doc_id FROM documents")
             .fetchall()]
    out["clusters"] = components(edges, nodes)
    con.close()
    return out
