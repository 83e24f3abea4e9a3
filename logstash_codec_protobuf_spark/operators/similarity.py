"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``      : brute-force exact top-k — the correctness baseline.
                         O(corpus x queries) work by definition, but shaped
                         for scale anyway: the CORPUS is the scanned side
                         (only the small query set is broadcast — never the
                         corpus), and a per-Arrow-batch partial top-k
                         reduces the scored stream from q*n rows to
                         q*k per batch BEFORE the per-query window, so the
                         q-key window funnel sees a few thousand rows no
                         matter the corpus size. The oracle is exact because
                         both engines fold the dot product in identical
                         index order in double precision.
- ``lsh_topk``         : random-hyperplane LSH bucketing — the scale path.
                         Corpus hashed once into 2^n_planes buckets; each query
                         probes only its own bucket (plus optional hamming-1
                         neighbors). Cost O(corpus/2^planes) per query instead
                         of O(corpus). Hyperplanes are deterministic pseudo-
                         random literals, so results are reproducible.
- ``neardup_pairs``    : LSH-bucket-blocked embedding near-duplicate pairs
                         (cosine >= threshold) — embedding-space dedup.
                         Candidates are same-or-adjacent-bucket pairs, so
                         block sizes are balanced by construction (no skewed
                         label key, no O(block^2) blowup).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F, types as T

from .. import cache
from ..functions.portable import DUCK, SPARK
from .dedup import spread

DIM = 64  # driver embeddings are 64-d


@F.pandas_udf(T.DoubleType())
def _dot_seq_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Index-order dot product, Arrow-vectorized.

    Bit-identical to the SQL fold template (portable.Dialect.dot) and hence
    to the DuckDB oracle: each pair accumulates acc = acc + a_i*b_i in
    DIMENSION ORDER (the per-dimension loop keeps the sequential IEEE tree —
    np.dot's pairwise/SIMD summation would NOT match). Exists because
    Catalyst's aggregate() higher-order function is interpreted per element
    (no whole-stage codegen), which made per-PAIR dots the hot cost of the
    similarity joins; per-VECTOR work (norms, bucket signatures) stays in SQL
    where its O(n) cost is irrelevant."""
    import numpy as np

    A = np.stack(a.to_numpy()).astype(np.float64)
    B = np.stack(b.to_numpy()).astype(np.float64)
    acc = np.zeros(len(A), dtype=np.float64)
    for i in range(A.shape[1]):
        acc = acc + A[:, i] * B[:, i]
    return pd.Series(acc)


def pair_dot(a: str | Column, b: str | Column) -> Column:
    """Arrow-batched exact dot for per-pair scoring."""
    return _dot_seq_udf(F.col(a) if isinstance(a, str) else a,
                        F.col(b) if isinstance(b, str) else b)


def _nrm_np(V: "object") -> "object":
    """Per-vector norm with the SQL fold's exact IEEE tree: acc = 0.0;
    acc += CAST(v_i AS DOUBLE)^2 in index order; sqrt."""
    import numpy as np

    acc = np.zeros(len(V), dtype=np.float64)
    for i in range(V.shape[1]):
        acc = acc + V[:, i] * V[:, i]
    return np.sqrt(acc)


def _bucket_nrm_udf(n_planes: int):
    """FUSED (bucket, nrm) kernel (round-8): the SQL rendering of the
    hyperplane signature is n_planes interpreted 64-term aggregate() folds
    per row — measured as the dominant cost of every LSH consumer. The
    numpy twin folds in the identical index order against the identical
    double literals, so bucket ids and norms are bit-equal to the SQL
    template (pinned by test_bucket_nrm_kernel_matches_sql_template),
    dirty components included: a NULL one makes the SQL fold NULL (bucket
    0, NULL norm), a NaN one makes it NaN (every bit set, since NaN >= 0
    is TRUE in Spark SQL and DuckDB; NaN norm). An Arrow UDF, because the
    pandas boundary would turn a NaN norm into NULL."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    P = np.array(_hyperplanes(n_planes), dtype=np.float64)  # (p, dim)

    def kernel(emb):
        V = np.stack(emb.to_numpy(zero_copy_only=False)).astype(np.float64)
        null = (pc.is_null(emb.flatten()).to_numpy(zero_copy_only=False)
                .reshape(V.shape).any(axis=1))
        bucket = np.zeros(len(V), dtype=np.int64)
        for p in range(P.shape[0]):
            acc = np.zeros(len(V), dtype=np.float64)
            for i in range(V.shape[1]):
                acc = acc + V[:, i] * P[p, i]
            bucket |= (np.isnan(acc) | (acc >= 0)).astype(np.int64) << p
        bucket[null] = 0
        return pa.StructArray.from_arrays(
            [pa.array(bucket), pa.array(_nrm_np(V), mask=null)],
            names=["bucket", "nrm"])

    return F.arrow_udf(kernel, T.StructType([
        T.StructField("bucket", T.LongType()),
        T.StructField("nrm", T.DoubleType()),
    ]))


def _local_topk(k: int):
    """Per-Arrow-batch partial top-k under the FINAL total order
    (score desc, neighbor_id asc): every global top-k row is top-k within
    its own batch, so keeping k per (query, batch) is a lossless reduction —
    the map-side combine the q-key window cannot do for itself.

    NULL alignment: a zero-norm vector scores NULL (try_divide), which
    Spark's `ORDER BY score DESC` puts LAST; pandas sees NULL as NaN, whose
    native sort position is type-dependent — so the sort runs on a
    -inf-filled key to pin NULLs last exactly like the window will."""
    import numpy as np

    def fn(batches):
        for pdf in batches:
            if len(pdf):
                pdf = (pdf.assign(_sk=pdf["score"].fillna(-np.inf))
                       .sort_values(["query_id", "_sk", "neighbor_id"],
                                    ascending=[True, False, True]))
                yield (pdf.groupby("query_id", sort=False).head(k)
                       .drop(columns="_sk"))
    return fn


def cosine_topk(emb: DataFrame, n_queries: int = 8, k: int = 5) -> DataFrame:
    """Exact top-k neighbors (excluding self) for query vectors vec_id < n.

    Scale shape (even though exact search is O(n*q) by definition): the
    corpus is SCANNED, the query rows are the broadcast side — broadcasting
    the corpus (the tempting one-liner) dies at the first real corpus. The
    scored stream is then cut to <= q*k rows per Arrow batch by a
    mapInPandas partial top-k before the per-query window, so the window's
    q-key shuffle — which would otherwise funnel q*n rows into q tasks —
    ranks a few thousand survivors regardless of corpus size."""
    d = SPARK
    nrm = F.expr(f"sqrt({d.dot('embedding', 'embedding')})")
    h = emb.withColumn("nrm", nrm)
    q = h.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"),
        F.col("nrm").alias("q_nrm"),
    )
    c = h.select(F.col("vec_id").alias("neighbor_id"),
                 F.col("embedding").alias("cv"),
                 F.col("nrm").alias("c_nrm"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                F.try_divide(pair_dot("qv", "cv"),
                             F.col("q_nrm") * F.col("c_nrm"))
                .alias("score"))
    )
    reduced = scored.mapInPandas(_local_topk(k), schema=scored.schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        reduced.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id",
                F.expr(SPARK.trunc6("score")).alias("score"), "rank")
    )


def cosine_topk_oracle(n_queries: int = 8, k: int = 5) -> str:
    d = DUCK
    cos = d.cosine("q.embedding", "c.embedding")
    return f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {cos} AS score
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < {n_queries}
), ranked AS (
  SELECT query_id, neighbor_id, score,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, neighbor_id) AS INTEGER)
             AS rank
  FROM scored
)
SELECT query_id, neighbor_id, {d.trunc6("score")} AS score, rank
FROM ranked WHERE rank <= {k}
"""


NEARDUP_PLANES = 4  # 16 buckets; candidates = same-or-adjacent (hamming<=1)


def neardup_pairs(emb: DataFrame, threshold: float = 0.9,
                  n_planes: int = NEARDUP_PLANES) -> DataFrame:
    """Embedding-space near-duplicates: candidates are pairs whose hyperplane-
    LSH buckets differ in at most one sign bit (one side probes its bucket
    plus each 1-bit flip — symmetric, so every hamming<=1 pair is generated
    exactly once); exact cosine verifies. The bucket is a deterministic
    expression, so the contract 'bucket-adjacent pairs with cosine >= t' has
    an exact DuckDB oracle. Replaces label-blocking: labels are few and
    skewed (O(block^2) blowup), buckets are balanced by construction and the
    plane count tunes block size independent of the data."""
    import numpy as np

    # Round-8 shape (guide §8: decide with small rows, move big rows once):
    # the old plan materialized every candidate PAIR through a join — both
    # 64-float vectors shipped to Python per pair (~650k pairs x 128 doubles
    # at bench SF, the case's dominant cost). Instead, each vector now
    # travels once per probe (1 + n_planes small rows), candidates are
    # grouped by the bucket they meet in, and one Arrow task scores a whole
    # bucket block with vectorized index-order folds — arithmetic identical
    # to the pair_dot/try_divide/trunc6 expression tree, pinned by the
    # exact DuckDB oracle. Each vector carries the norm the bucket kernel
    # folded (the same fold as _nrm_np), so no block recomputes it. Block
    # memory is bounded by chunking the probe side, so a hot bucket can
    # never OOM a task. A NULL vector's cosine is NULL in the oracle, so it
    # never passes the threshold: drop it before the kernels, whose
    # np.stack cannot take a missing row.
    h = cache.track(
        spread(emb.select("vec_id", "embedding")
               .filter(F.col("embedding").isNotNull())).select(
            "vec_id", "embedding",
            _bucket_nrm_udf(n_planes)(F.col("embedding")).alias("_bn"))
        .select("vec_id", "embedding", F.col("_bn.bucket").alias("bucket"),
                F.col("_bn.nrm").alias("nrm"))
    )
    probes = "array(bucket" + "".join(
        f" , bucket ^ {1 << p}" for p in range(n_planes)
    ) + ")"
    a = h.select(F.lit(0).alias("side"), F.col("vec_id").alias("id"),
                 "embedding", "nrm", F.explode(F.expr(probes)).alias("g"))
    b = h.select(F.lit(1).alias("side"), F.col("vec_id").alias("id"),
                 "embedding", "nrm", F.col("bucket").alias("g"))
    thr = float(threshold)

    def score_block(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"a_id": pd.Series(dtype="int64"),
                              "b_id": pd.Series(dtype="int64"),
                              "score": pd.Series(dtype="float64")})
        A = pdf[pdf["side"] == 0]
        B = pdf[pdf["side"] == 1]
        if not len(A) or not len(B):
            return empty
        Av = np.stack(A["embedding"].to_numpy()).astype(np.float64)
        Bv = np.stack(B["embedding"].to_numpy()).astype(np.float64)
        a_ids = A["id"].to_numpy()
        b_ids = B["id"].to_numpy()
        a_nrm = A["nrm"].to_numpy(dtype=np.float64)
        b_nrm = B["nrm"].to_numpy(dtype=np.float64)
        out = []
        step = max(1, (1 << 22) // max(len(b_ids), 1))  # <=4M cells/chunk
        for lo in range(0, len(a_ids), step):
            Ab = Av[lo:lo + step]
            # index-order fold across dims, vectorized across the block —
            # the same IEEE tree as the per-pair dot
            acc = np.zeros((len(Ab), len(b_ids)), dtype=np.float64)
            for i in range(Ab.shape[1]):
                acc = acc + Ab[:, i, None] * Bv[None, :, i]
            denom = a_nrm[lo:lo + step, None] * b_nrm[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                score = np.floor(acc / denom * 1000000.0) / 1000000.0
            keep = ((a_ids[lo:lo + step, None] < b_ids[None, :])
                    & (denom != 0.0) & (score >= thr))
            ai, bi = np.nonzero(keep)
            if len(ai):
                out.append(pd.DataFrame({
                    "a_id": a_ids[lo:lo + step][ai], "b_id": b_ids[bi],
                    "score": score[ai, bi]}))
        return pd.concat(out) if out else empty

    return (
        a.unionByName(b)
        .groupBy("g")
        .applyInPandas(score_block, "a_id long, b_id long, score double")
    )


def neardup_pairs_oracle(threshold: float = 0.9,
                         n_planes: int = NEARDUP_PLANES) -> str:
    d = DUCK
    bucket = lsh_bucket_expr("embedding", n_planes, d)
    probes = "\nUNION ALL\n".join(
        ["SELECT vec_id, embedding, bucket AS probe FROM hashed"]
        + [f"SELECT vec_id, embedding, {d.bxor('bucket', str(1 << p))} FROM hashed"
           for p in range(n_planes)]
    )
    cos = d.cosine("a.embedding", "b.embedding")
    return f"""
WITH hashed AS (SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings),
probes AS ({probes})
SELECT a.vec_id AS a_id, b.vec_id AS b_id, {d.trunc6(cos)} AS score
FROM probes a JOIN hashed b ON a.probe = b.bucket AND a.vec_id < b.vec_id
WHERE {d.trunc6(cos)} >= {threshold}
"""


# ---------------------------------------------------------------------------
# LSH scale path (Spark-only; validated against brute force in tests)
# ---------------------------------------------------------------------------

def _hyperplanes(n_planes: int, dim: int = DIM) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG over plane*dim+i)."""
    planes = []
    for p in range(n_planes):
        row = []
        for i in range(dim):
            x = (1103515245 * (p * dim + i + 1) + 12345) % 2**31
            row.append(((x % 2001) - 1000) / 1000.0)
        planes.append(row)
    return planes


def lsh_bucket_expr(vec_col: str, n_planes: int = 6,
                    d: "Dialect" = SPARK) -> str:
    """Bucket id = sign-bit signature against fixed hyperplanes (renders in
    either dialect — the hyperplanes are deterministic literals)."""
    terms = []
    for p, plane in enumerate(_hyperplanes(n_planes)):
        body = ", ".join(f"CAST({v} AS DOUBLE)" for v in plane)
        lit = f"array({body})" if d.name == "spark" else f"[{body}]"
        dot = d.dot(vec_col, lit)
        terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def lsh_topk(emb: DataFrame, n_queries: int = 8, k: int = 5,
             n_planes: int = 4, multiprobe: bool = True) -> DataFrame:
    """Approximate top-k: probe the query's LSH bucket (+ hamming-1 buckets
    with ``multiprobe`` — the standard recall boost: a true neighbor lying
    just across one hyperplane is found in a flipped-bit bucket).

    At 100 TB the corpus side is written bucketed-by(bucket) so each probe is
    a partition-pruned scan; here it is a co-partitioned equi-join on bucket.
    Per-query cost: (1 + n_planes)/2^n_planes of the corpus instead of 100%.
    """
    # SQL-expr bucket/nrm here, NOT the numpy kernel: at the probe join's
    # scale (a handful of query rows x one bucket each) the corpus hashing
    # is a single cheap pass, and an interleaved A/B measured the kernel's
    # extra exchange + Arrow hop as a net loss (0.56s -> 0.96s, r8) —
    # neardup_pairs keeps the kernel because every corpus vector there
    # feeds 1+n_planes probe rows and a bucket-block scorer.
    d = SPARK
    bucket = F.expr(lsh_bucket_expr("embedding", n_planes))
    nrm = F.expr(f"sqrt({d.dot('embedding', 'embedding')})")
    hashed = cache.track(
        emb.withColumn("bucket", bucket).withColumn("nrm", nrm)
    )
    q = hashed.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"),
        F.col("nrm").alias("q_nrm"), F.col("bucket"),
    )
    if multiprobe:
        probes = "array(bucket" + "".join(
            f", bucket ^ {1 << p}" for p in range(n_planes)
        ) + ")"
        q = q.withColumn("bucket", F.explode(F.expr(probes)))
    c = hashed.select(F.col("vec_id").alias("neighbor_id"),
                      F.col("embedding").alias("cv"),
                      F.col("nrm").alias("c_nrm"), F.col("bucket"))
    scored = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                F.try_divide(pair_dot("qv", "cv"),
                             F.col("q_nrm") * F.col("c_nrm"))
                .alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id",
                F.expr(SPARK.trunc6("score")).alias("score"), "rank")
    )


def lsh_topk_oracle(n_queries: int = 8, k: int = 5, n_planes: int = 4,
                    multiprobe: bool = True) -> str:
    """Exact DuckDB rendering of lsh_topk: the hyperplanes, bucket signature,
    probe set, and tie-break ordering are all deterministic, so even this
    'approximate' operator gets a full rows+schema+hash oracle."""
    d = DUCK
    bucket = lsh_bucket_expr("embedding", n_planes, d)
    probe_selects = ["SELECT query_id, qv, bucket AS probe FROM q"]
    if multiprobe:
        probe_selects += [
            f"SELECT query_id, qv, {d.bxor('bucket', str(1 << p))} FROM q"
            for p in range(n_planes)
        ]
    probes = "\nUNION ALL\n".join(probe_selects)
    cos = d.cosine("p.qv", "c.embedding")
    return f"""
WITH hashed AS (SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings),
q AS (
  SELECT vec_id AS query_id, embedding AS qv, bucket
  FROM hashed WHERE vec_id < {n_queries}
),
probes AS ({probes}),
scored AS (
  SELECT p.query_id, c.vec_id AS neighbor_id, {cos} AS score
  FROM probes p JOIN hashed c ON p.probe = c.bucket
  WHERE p.query_id <> c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, score,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, neighbor_id) AS INTEGER)
             AS rank
  FROM scored
)
SELECT query_id, neighbor_id, {d.trunc6("score")} AS score, rank
FROM ranked WHERE rank <= {k}
"""
