"""Deduplication operators for training-data pipelines.

Four tiers, cheapest to most robust, each with an exact cross-engine oracle via
the portable expression templates (functions.portable):

- exact        : md5(text) group — one shuffle on the hash, scales linearly.
- minhash LSH  : 16-permutation MinHash signature over char-4-gram shingle
                 hashes, banded 4x4; candidates = band-key join. This is the
                 candidate generator: cost is O(n * bands), never pairwise, and
                 the band join shuffles on a high-cardinality key.
- ngram_jaccard: MinHash-LSH candidates verified by character-3-gram Jaccard —
                 the generate-then-verify production shape. No all-pairs stage
                 anywhere; Jaccard touches candidate pairs only.
- simhash      : 32-bit SimHash fingerprint over the same shingle-hash basis;
                 near-dups = small hamming distance (bit_count(xor) <= r),
                 candidates from pigeonhole banding (r+1 blocks, guaranteed
                 recall for hamming <= r).

MinHash permutation constants are fixed literals (a*H + b mod p): deterministic
across runs and engines, coefficients < 2^17 so products stay well inside int64.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .. import cache
from ..functions.portable import DUCK, MOD, SPARK, Dialect

# 16 fixed (a, b) permutation constants — odd multipliers, distinct offsets.
MINHASH_PERMS = [
    (40503, 12345), (10657, 54321), (23173, 7919), (48611, 104729),
    (19937, 31337), (28657, 1299), (75571, 9176), (99991, 60493),
    (14867, 25301), (37199, 71993), (54983, 3089), (67139, 44017),
    (81799, 58111), (91009, 16127), (31847, 86413), (62989, 27689),
]
# 4 bands x 4 rows over char-shingle hashes: P(candidate) = 1-(1-j^4)^4.
# True near-dups (j >= 0.9) are caught with p > 0.99; recall is the LSH
# stage's job — precision comes from verifying candidates with real Jaccard.
N_BANDS = 4
ROWS_PER_BAND = 4

# All-pairs emission guard (round-4 verdict item 2): a bucket of n identical
# or boilerplate docs emits n(n-1)/2 candidate pairs — at a million-copy
# crawl page that is a job-killer. Buckets larger than this are EXCLUDED
# from pairwise emission, with loud logged accounting (never a silent cap);
# the clustering consumer uses minhash_star_edges instead, which emits O(n)
# per bucket and needs no cap at all.
LSH_MAX_BUCKET = 1024

_LOG = __import__("logging").getLogger(__name__)


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Exact dedup: canonical id + copy count per content hash."""
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("canonical_id"),
             F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard with (lang, length-band) blocking
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.5,
                        k: int = 3,
                        max_bucket: int = LSH_MAX_BUCKET,
                        accounting: str = "lazy") -> DataFrame:
    """Near-dup pairs by character k-gram Jaccard, candidates from MinHash LSH.

    The candidate generator is ``minhash_pairs`` (band-bucket equi-join,
    O(n * bands) — never all-pairs); Jaccard is computed ONLY for candidate
    pairs, as the precision verifier. This is the production near-dup shape:
    recall is the LSH stage's property (P(candidate) = 1-(1-j^4)^4, > 0.99 at
    j >= 0.9), precision is exact. The operator's contract is therefore
    'LSH-candidate pairs with Jaccard >= t', mirrored exactly by the oracle.
    """
    d = SPARK
    cand = minhash_pairs(docs, max_bucket=max_bucket, accounting=accounting)
    # packed int64 shingles whenever they fit (k <= 3): intersection SIZE is
    # all Jaccard consumes, and the packing is a bijection, so the verifier
    # intersects long arrays at a fraction of the string-array cost
    shingle_fn = _shingles_packed_udf(k) if 21 * k <= 63 else _shingles_udf(k)
    shingle_col = shingle_fn(F.col("text"))
    sh = spread(docs.select("doc_id", "text")).select(
        "doc_id", shingle_col.alias("shingles")
    ).select(
        "doc_id", "shingles", F.size("shingles").alias("n_sh")
    )
    sh = cache.track(sh)  # probed twice (a- and b-side of the candidate join)
    a = sh.select(F.col("doc_id").alias("a_id"),
                  F.col("shingles").alias("a_sh"), F.col("n_sh").alias("a_n"))
    b = sh.select(F.col("doc_id").alias("b_id"),
                  F.col("shingles").alias("b_sh"), F.col("n_sh").alias("b_n"))
    # materialize the intersection size per candidate pair BEFORE the
    # threshold filter — pushdown would re-substitute the array_intersect
    # into the filter and compute it twice per pair
    inters = (
        cand.join(a, "a_id").join(b, "b_id")
        .select("a_id", "b_id",
                F.expr("size(array_intersect(a_sh, b_sh))").alias("n_int"),
                "a_n", "b_n")
    )
    inters = cache.track(inters)
    ja = F.col("n_int").cast("double") / (
        F.col("a_n") + F.col("b_n") - F.col("n_int")
    )
    return (
        inters.select(
            "a_id", "b_id",
            (F.floor(ja * 1000000) / 1000000).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_oracle(threshold: float = 0.5, k: int = 3) -> str:
    d = DUCK
    sh = d.shingles("text", k)
    inter = "CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)"
    ja = (f"floor({inter} / (len(a.shingles) + len(b.shingles) "
          f"- len(list_intersect(a.shingles, b.shingles))) * 1000000) "
          f"/ 1000000")
    return f"""
WITH cand AS ({minhash_pairs_oracle()}),
sh AS (SELECT doc_id, {sh} AS shingles FROM documents)
SELECT c.a_id, c.b_id, {ja} AS jaccard
FROM cand c
JOIN sh a ON a.doc_id = c.a_id
JOIN sh b ON b.doc_id = c.b_id
WHERE {ja} >= {threshold}
"""


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------

MINHASH_SHINGLE_K = 4  # char shingles discriminate where word-sets saturate


def _sig_exprs(d: Dialect, basis: str = "_hb") -> list[str]:
    """Permutation minima over a PRE-COMPUTED hash-basis column. Interpolating
    the full shingle-hash expression into each of the 16 permutations would
    recompute the (expensive) hashing 16x per row — the two-stage projection
    (basis column first, fingerprints over the column) is the difference
    between O(hash) and O(16 * hash) per document."""
    return [d.minhash_term(basis, a, b) for a, b in MINHASH_PERMS]


def _band_exprs(d: Dialect, basis: str = "_hb") -> list[str]:
    sigs = _sig_exprs(d, basis)
    bands = []
    for bi in range(N_BANDS):
        parts = sigs[bi * ROWS_PER_BAND:(bi + 1) * ROWS_PER_BAND]
        joined = " || '_' || ".join(f"CAST({p} AS STRING)" for p in parts)
        bands.append(joined)
    return bands


import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
from numpy.lib.stride_tricks import sliding_window_view  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

# Horner-expanded poly-hash weights for a k=4 window: the per-char loop
# acc = (acc*31 + c) % MOD is congruent to (c0*31^3 + c1*31^2 + c2*31 + c3)
# % MOD, and every intermediate stays < 2^38 (codepoints < 2^21), so one
# int64 matmul replaces the Python char loop exactly.
_POLY_W = np.array([31 ** 3, 31 ** 2, 31, 1], dtype=np.int64)
# Exact 64-bit pack of a 4-char window when every codepoint is BMP
# (< 2^16) — turns string-level dedup into a 1-D np.unique. The matmul
# wraps mod 2^64 for lead codepoints >= 0x8000 (numpy int64 overflow is
# C-style wraparound), but the pack is a BIJECTION window<->64-bit pattern
# either way, so uniqueness is still exact (pinned by the chr(0xFFFF) edge
# test). Non-BMP texts fall back to row-wise unique; equality is on the
# CHARACTERS either way, so hash collisions between distinct shingles are
# preserved, same as the dict.fromkeys original.
_PACK_W = np.array([1 << 48, 1 << 32, 1 << 16, 1], dtype=np.int64)
_BIT_SHIFTS = np.arange(32, dtype=np.int64)
_PERM_A = np.array([a for a, _ in MINHASH_PERMS], dtype=np.int64)
_PERM_B = np.array([b for _, b in MINHASH_PERMS], dtype=np.int64)


def _codepoints(t: str) -> "np.ndarray":
    # surrogatepass: lone surrogates (e.g. surrogateescape-decoded dirty
    # bytes) must hash like the ord() loop did, not crash the Arrow batch
    return np.frombuffer(t.encode("utf-32-le", "surrogatepass"),
                         dtype=np.uint32).astype(np.int64)


@F.pandas_udf(T.ArrayType(T.LongType()))
def _shingle_hashes_udf(text: pd.Series) -> pd.Series:
    """Arrow-vectorized twin of _shingle_hashes: distinct char-4-gram poly
    hashes + two Lehmer rounds, EXACT integer arithmetic identical to the SQL
    template (all intermediates < 2^47). Exists because transform/aggregate
    higher-order functions are interpreted per element in Catalyst — the
    basis was the dominant cost of every fingerprint operator. The kernel is
    numpy end-to-end: utf-32 decode -> sliding windows -> packed-key string
    dedup -> one matmul poly hash (no per-char Python)."""
    k = MINHASH_SHINGLE_K
    out = []
    for t in text:
        if t is None:  # NULL text null-propagates like the SQL template
            out.append(None)
            continue
        c = _codepoints(t)
        if len(c) < k:
            out.append([])
            continue
        w = sliding_window_view(c, k)
        if c.max() < 65536:
            _, idx = np.unique(w @ _PACK_W, return_index=True)
            w = w[idx]
        else:
            w = np.unique(w, axis=0)
        h = (w @ _POLY_W) % MOD
        out.append((h * 48271 % MOD * 48271 % MOD).tolist())
    return pd.Series(out)


def _shingles_udf(k: int):
    """Distinct char-k-grams, first-occurrence order (== array_distinct of
    the substring map in the SQL template), as an Arrow-batch UDF for ANY k
    — the interpreted higher-order-function template this replaces was the
    dominant Jaccard cost, and vectorizing only k=3 left a perf trap for
    anyone tuning k."""
    @F.pandas_udf(T.ArrayType(T.StringType()))
    def shingles(text: pd.Series) -> pd.Series:
        # NULL text null-propagates, matching the SQL template this kernel
        # replaces (len(None) would kill the whole Arrow batch instead)
        return pd.Series(
            [None if t is None else
             list(dict.fromkeys(t[i:i + k] for i in range(len(t) - k + 1)))
             for t in text]
        )
    return shingles


def _shingles_packed_udf(k: int):
    """Distinct char-k-grams PACKED into int64 — a bijection window<->code
    for k*21 <= 63 bits (every Unicode codepoint, lone surrogates included,
    is < 2^21), so set sizes and intersection sizes equal the string
    kernel's exactly while the candidate-pair verifier intersects narrow
    long arrays instead of string arrays (round-8: the intersect stage was
    ~2/3 of dedup_jaccard_lsh wall). Only the SIZES of these arrays ever
    reach a result, so the packing is invisible to the oracle contract."""
    assert 21 * k <= 63, "packed shingles require k <= 3"
    w = (1 << np.arange(21 * (k - 1), -1, -21, dtype=np.int64)).astype(np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def shingles(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            if t is None:  # NULL text null-propagates like the SQL template
                out.append(None)
                continue
            c = _codepoints(t)
            if len(c) < k:
                out.append([])
                continue
            out.append(np.unique(sliding_window_view(c, k) @ w).tolist())
        return pd.Series(out)
    return shingles


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition a NARROW source up to the session's default
    parallelism before a per-row Arrow kernel — scale-adaptive (guide §2.2):
    a small input packs into one scan split (documents.parquet at bench SF
    is one 0.6 MB file, the embeddings one 0.8 MB file), which serializes
    every per-row UDF on a single task; an input already wider than the
    core count is left untouched, so no shuffle is ever added at real
    scale. Callers select only the columns the kernel needs first, so the
    exchange never moves derived arrays."""
    n = df.sparkSession.sparkContext.defaultParallelism
    try:
        cur = df.rdd.getNumPartitions()
    except Exception:
        return df
    return df.repartition(n) if cur < n else df


@F.pandas_udf(T.ArrayType(T.LongType()))
def _minhash_sigs_udf(hb: pd.Series) -> pd.Series:
    """16 permutation minima per basis array — exact int64 arithmetic
    (hash < 2^31, multiplier < 2^17 -> products < 2^48), identical to the
    SQL minhash_term template."""
    out = []
    for hs in hb:
        if hs is None:  # NULL basis (NULL text) null-propagates
            out.append(None)
            continue
        arr = np.asarray(hs, dtype=np.int64)
        # one (n,16) matrix per row instead of 16 tiny passes
        out.append(((arr[:, None] * _PERM_A + _PERM_B) % MOD).min(0).tolist())
    return pd.Series(out)


def _basis_arr(t: str) -> "np.ndarray | None":
    """Distinct shingle-hash basis of one text as an int64 array — the numpy
    core shared by the fused text->fingerprint kernels. None for NULL text
    (null-propagation), empty for texts shorter than the shingle width."""
    if t is None:
        return None
    c = _codepoints(t)
    if len(c) < MINHASH_SHINGLE_K:
        return np.empty(0, dtype=np.int64)
    w = sliding_window_view(c, MINHASH_SHINGLE_K)
    if c.max() < 65536:
        _, idx = np.unique(w @ _PACK_W, return_index=True)
        w = w[idx]
    else:
        w = np.unique(w, axis=0)
    h = (w @ _POLY_W) % MOD
    return h * 48271 % MOD * 48271 % MOD


@F.pandas_udf(T.ArrayType(T.LongType()))
def _minhash_sigs_text_udf(text: pd.Series) -> pd.Series:
    """FUSED text -> 16 permutation minima (round-8): the chained
    basis-then-sigs pandas UDFs serialized the full shingle-hash array
    JVM->Python->JVM between two ArrowEvalPython nodes — the basis is ~n
    longs per doc and only 16 minima ever leave Python. Arithmetic is the
    _shingle_hashes_udf + _minhash_sigs_udf composition verbatim."""
    out = []
    for t in text:
        arr = _basis_arr(t)
        if arr is None:
            out.append(None)
        elif len(arr) == 0:
            # amin over an empty array is NULL in the SQL template
            out.append(None)
        else:
            out.append(((arr[:, None] * _PERM_A + _PERM_B) % MOD)
                       .min(0).tolist())
    return pd.Series(out)


def minhash_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_key) — the LSH bucket assignment. One narrow
    projection + explode; no shuffle until the candidate join. The 16
    signatures come from ONE fused Arrow kernel (text in, 16 longs out) —
    no basis array ever crosses the Python boundary."""
    sigs = spread(docs.select("doc_id", "text")).select(
        "doc_id", _minhash_sigs_text_udf(F.col("text")).alias("_sigs")
    )
    items = ", ".join(
        "named_struct('band_idx', {i}, 'band_key', {key})".format(
            i=bi,
            key=" || '_' || ".join(
                f"CAST(element_at(_sigs, {bi * ROWS_PER_BAND + j + 1}) "
                f"AS STRING)"
                for j in range(ROWS_PER_BAND)
            ),
        )
        for bi in range(N_BANDS)
    )
    return sigs.select(
        "doc_id", F.expr(f"explode(array({items})) AS band")
    ).select("doc_id", F.col("band.band_idx").alias("band_idx"),
             F.col("band.band_key").alias("band_key"))


def minhash_bands_oracle(source: str = "documents") -> str:
    """``source`` is any (doc_id, text)-shaped relation — the star-edge
    oracle feeds the exact-dedup representatives through the same banding."""
    d = DUCK
    bands = _band_exprs(d)
    selects = [
        f"SELECT doc_id, {i} AS band_idx, {b} AS band_key FROM _hb_basis"
        for i, b in enumerate(bands)
    ]
    basis = f"SELECT doc_id, {_shingle_hashes(d)} AS _hb FROM {source}"
    return (f"WITH _hb_basis AS ({basis})\n"
            + "\nUNION ALL\n".join(selects))


def minhash_oversize_buckets(docs: DataFrame,
                             max_bucket: int = LSH_MAX_BUCKET) -> DataFrame:
    """The bucket-guard's exclusions as a FIRST-CLASS queryable frame:
    (band_idx, band_key, n_docs) for every LSH band bucket whose membership
    exceeds ``max_bucket`` — exactly the buckets ``minhash_pairs`` drops
    from pairwise emission. A pipeline routes these to exact dedup /
    star-edge clustering explicitly instead of trusting a log line: the
    guard's recall loss is observable, joinable (back to doc_ids via
    ``minhash_bands``), and alertable. One hash-agg shuffle on the same key
    the candidate join uses; output is tiny by construction (only
    pathological buckets qualify)."""
    return (
        minhash_bands(docs)
        .groupBy("band_idx", "band_key")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > max_bucket)
    )


def minhash_oversize_buckets_oracle(max_bucket: int = LSH_MAX_BUCKET) -> str:
    return f"""
WITH bands AS ({minhash_bands_oracle()})
SELECT band_idx, band_key, count(*) AS n_docs FROM bands
GROUP BY band_idx, band_key HAVING count(*) > {max_bucket}
"""


def _guard_oversize_buckets(bucketed: DataFrame, keys: list[str],
                            max_bucket: int, what: str,
                            accounting: str = "lazy") -> DataFrame:
    """Drop bucket keys whose membership exceeds ``max_bucket`` from pairwise
    emission. The exclusion is a left_anti against the tiny oversize-key
    frame — no extra shuffle on the big side (AQE broadcasts it); the
    per-bucket groupBy is the same shuffle key the candidate join uses.

    ``accounting``: the DEFAULT is 'lazy' — construction stays plan-only
    (round-5 ADVICE: the old eager probe fired a full banding job even for
    explain/dry-run composition, and the round-6 idle-host A/B priced it at
    +25.7%/+11.3% on dedup_jaccard_lsh/simhash_neardup — far past the
    verdict's 5% lazy-trigger; BENCH/guard_ab_r6.md). The exclusions are NOT silent: they are a first-class
    queryable dead-letter frame (``minhash_oversize_buckets``) pipelines
    route/alert on. 'eager' restores the construction-time probe + WARNING
    log (one extra action; also pre-builds the tracked bucket cache)."""
    if accounting not in ("lazy", "eager"):
        raise ValueError(f"unknown accounting mode: {accounting}")
    sizes = bucketed.groupBy(*keys).agg(F.count(F.lit(1)).alias("_bn"))
    over = sizes.filter(F.col("_bn") > max_bucket)
    if accounting == "eager":
        stats = over.agg(F.count(F.lit(1)).alias("b"),
                         F.sum("_bn").alias("d")).first()
        if stats["b"]:
            _LOG.warning(
                "%s: %d bucket(s) over max_bucket=%d (%d docs) excluded "
                "from pairwise emission — route them through star edges / "
                "exact dedup", what, stats["b"], max_bucket, stats["d"])
    return bucketed.join(over.select(*keys), keys, "left_anti")


def minhash_pairs(docs: DataFrame,
                  max_bucket: int = LSH_MAX_BUCKET,
                  accounting: str = "lazy") -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band bucket. The band
    frame is persisted — both self-join sides would otherwise recompute the
    16-permutation signatures. Buckets larger than ``max_bucket`` are
    excluded from the all-pairs join (see LSH_MAX_BUCKET) — the
    identical-boilerplate pathology belongs to dedup_exact +
    minhash_star_edges, not to an O(n^2) pair join. Accounting is LAZY by
    default (construction is plan-only); ``minhash_oversize_buckets`` is
    the queryable exclusion frame, ``accounting='eager'`` restores the
    construction-time probe + warning log.

    RECALL NOTE: genuine near-dup pairs inside an excluded bucket are never
    emitted — this is deliberate recall loss on pathological buckets, priced
    against the O(bucket^2) blowup. The exclusions are queryable via
    ``minhash_oversize_buckets`` (same cap): route those buckets to exact
    dedup / star-edge clustering, which keep their components intact."""
    bands = cache.track(minhash_bands(docs))
    ok = _guard_oversize_buckets(bands, ["band_idx", "band_key"],
                                 max_bucket, "minhash_pairs",
                                 accounting=accounting)
    a, b = ok.alias("a"), ok.alias("b")
    return (
        a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
               & (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )


def minhash_pairs_oracle(max_bucket: int = LSH_MAX_BUCKET) -> str:
    return f"""
WITH bands AS ({minhash_bands_oracle()}),
bsz AS (
  SELECT band_idx, band_key FROM bands
  GROUP BY band_idx, band_key HAVING count(*) <= {max_bucket}
),
ok AS (
  SELECT b.* FROM bands b JOIN bsz USING (band_idx, band_key)
)
SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
FROM ok a JOIN ok b
  ON a.band_idx = b.band_idx AND a.band_key = b.band_key
 AND a.doc_id < b.doc_id
"""


def minhash_star_edges(docs: DataFrame) -> DataFrame:
    """Candidate edges for the CLUSTERING consumer, O(bucket) per bucket:
    every doc links to the MIN doc_id of each of its LSH band buckets —
    a star per bucket instead of all pairs. Connected components over these
    edges equal components over the all-pairs candidate graph (every bucket
    member reaches every other through the bucket min), so cluster labels
    are IDENTICAL while a million-copy bucket emits 10^6 rows, not 10^11.

    Composes with exact dedup as the first tier: only one representative per
    distinct content (min doc_id of the md5 group) enters banding at all —
    identical docs attach to their representative by direct (rep, doc)
    edges. Identical text produces identical signatures, so pruning exact
    copies provably changes no component. This removes the identical-
    boilerplate pathology from the LSH stage entirely and shrinks the
    banding input to |distinct contents|; no bucket cap is needed on this
    path (output is linear in bucket size by construction)."""
    h = docs.select("doc_id", F.md5("text").alias("_h"), "text")
    # representative = min doc_id over the content group, as an unordered
    # window aggregate (round-8): the old groupBy + equi-join re-keyed the
    # corpus on _h twice (agg + join); the window pays exactly ONE exchange
    # on _h — and at a scale where the rep table outgrows a broadcast, the
    # join would shuffle the corpus on _h anyway PLUS aggregate and join.
    # Skew exposure is identical (both shapes co-locate each content group).
    withrep = cache.track(h.withColumn(
        "rep", F.min("doc_id").over(Window.partitionBy("_h"))))
    exact_edges = (
        withrep.filter(F.col("doc_id") != F.col("rep"))
        .select(F.col("rep").alias("a_id"), F.col("doc_id").alias("b_id"))
    )
    rep_docs = withrep.filter(F.col("doc_id") == F.col("rep")) \
                      .select("doc_id", "text")
    bands = cache.track(minhash_bands(rep_docs))
    bmin = bands.groupBy("band_idx", "band_key") \
                .agg(F.min("doc_id").alias("mn"))
    star_edges = (
        bands.join(bmin, ["band_idx", "band_key"])
        .filter(F.col("doc_id") != F.col("mn"))
        .select(F.col("mn").alias("a_id"), F.col("doc_id").alias("b_id"))
    )
    return exact_edges.union(star_edges).distinct()


def minhash_star_edges_oracle() -> str:
    return f"""
WITH g AS (
  SELECT md5(text) AS _h, MIN(doc_id) AS rep FROM documents GROUP BY md5(text)
),
withrep AS (
  SELECT d.doc_id, d.text, g.rep FROM documents d JOIN g ON md5(d.text) = g._h
),
exact_edges AS (
  SELECT rep AS a_id, doc_id AS b_id FROM withrep WHERE doc_id <> rep
),
bands AS ({minhash_bands_oracle("(SELECT doc_id, text FROM withrep "
                                "WHERE doc_id = rep)")}),
bmin AS (
  SELECT band_idx, band_key, MIN(doc_id) AS mn FROM bands
  GROUP BY band_idx, band_key
),
star_edges AS (
  SELECT m.mn AS a_id, b.doc_id AS b_id
  FROM bands b JOIN bmin m USING (band_idx, band_key)
  WHERE b.doc_id <> m.mn
)
SELECT DISTINCT a_id, b_id FROM (
  SELECT * FROM exact_edges UNION ALL SELECT * FROM star_edges
)
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def _shingle_hashes(d: Dialect) -> str:
    """char-shingle hash basis — shared with MinHash; word-token sets saturate
    on small-vocabulary corpora and make fingerprints degenerate.

    The raw poly hash of a 4-char shingle never exceeds ~2^22 (127 * (31^3 +
    31^2 + 31 + 1)), leaving the top 9 bits permanently zero — that makes
    SimHash's high bits degenerate (every doc lands in one high-16 block: a
    quadratic blocking disaster) and under-mixes the MinHash permutations.
    Two Lehmer scramble rounds (h * 48271 mod 2^31-1, the classic MINSTD
    multiplier) spread the basis over the full 31-bit range; products stay
    < 2^47, comfortably inside int64, identical in both engines."""
    raw = d.amap(d.shingles("text", MINHASH_SHINGLE_K),
                 f"s -> {d.poly_hash_str('s')}")
    return d.amap(raw, f"h -> ((h * 48271 % {MOD}) * 48271) % {MOD}")


@F.pandas_udf(T.LongType())
def _simhash32_udf(hb: pd.Series) -> pd.Series:
    """32-bit majority vote over the basis — same rule as the SQL template
    (bit b set iff 2*count(bit set) > len); one (n,32) bit matrix per row
    instead of 32 tiny passes."""
    out = []
    for hs in hb:
        if hs is None:  # NULL basis (NULL text) null-propagates
            out.append(None)
            continue
        arr = np.asarray(hs, dtype=np.int64)
        n = len(arr)
        if n == 0:
            out.append(0)
            continue
        bits = ((arr[:, None] >> _BIT_SHIFTS) & 1).sum(0)
        out.append(int((((2 * bits > n).astype(np.int64)
                         << _BIT_SHIFTS)).sum()))
    return pd.Series(out)


def _vote32(arr: "np.ndarray") -> int:
    """32-bit majority vote over an int64 hash array — the _simhash32_udf
    rule (bit b set iff 2*count(bit set) > len)."""
    n = len(arr)
    if n == 0:
        return 0
    bits = ((arr[:, None] >> _BIT_SHIFTS) & 1).sum(0)
    return int((((2 * bits > n).astype(np.int64) << _BIT_SHIFTS)).sum())


@F.pandas_udf(T.LongType())
def _simhash32_text_udf(text: pd.Series) -> pd.Series:
    """FUSED text -> 32-bit SimHash (round-8): same boundary cut as
    _minhash_sigs_text_udf — the distinct shingle-hash basis stays inside
    one Python evaluation instead of round-tripping through the JVM between
    two chained pandas UDFs. Composition of _shingle_hashes_udf +
    _simhash32_udf, arithmetic unchanged."""
    out = []
    for t in text:
        arr = _basis_arr(t)
        out.append(None if arr is None else _vote32(arr))
    return pd.Series(out, dtype="object")


def simhash(docs: DataFrame) -> DataFrame:
    """One fused Arrow kernel: text in, 32-bit vote out (the SQL template
    remains the oracle's definition)."""
    return spread(docs.select("doc_id", "text")).select(
        "doc_id", _simhash32_text_udf(F.col("text")).alias("simhash32")
    )


def simhash_oracle() -> str:
    d = DUCK
    return (f"WITH _hb_basis AS (SELECT doc_id, {_shingle_hashes(d)} AS _hb "
            f"FROM documents)\n"
            f"SELECT doc_id, {d.simhash32('_hb')} AS simhash32 FROM _hb_basis")


def dedup_clusters(docs: DataFrame, pairs: DataFrame | None = None,
                   max_iter: int = 20,
                   rounds_out: list[int] | None = None) -> DataFrame:
    """Duplicate-cluster resolution: connected components over the near-dup
    pair graph, labeling every doc with the MIN doc_id of its component
    (the canonical survivor a training-data dedup keeps).

    Pair generation (LSH) finds edges; a real pipeline must still contract
    them into clusters — A~B and B~C must collapse to one survivor even when
    A~C was never a candidate pair. Spark-first shape: iterative min-label
    propagation — each round one join (edges x labels) + one min-aggregate,
    both shuffling on doc_id, materialized per round so lineage stays flat.
    Rounds needed = component diameter; near-dup clusters are shallow (LSH
    bands connect most members directly), so this converges in 2-4 rounds
    with an exact emptiness check (no fixed-point guessing). At 10^12 docs
    swap the propagation for alternating large-star/small-star contraction
    (O(log n) rounds) — same per-round plan, fewer rounds on adversarially
    deep chains.

    Returns (doc_id, cluster_id, is_canonical) for EVERY doc (singletons are
    their own cluster)."""
    if pairs is None:
        pairs = minhash_pairs(docs)
    edges = cache.track(
        pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        .union(pairs.select(F.col("b_id").alias("src"),
                            F.col("a_id").alias("dst")))
    )
    labels = docs.select("doc_id", F.col("doc_id").alias("cluster_id"))
    rounds = 0
    for _ in range(max_iter):
        nbr = (
            edges.join(labels, edges["src"] == labels["doc_id"])
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        new_labels = labels.join(nbr, "doc_id", "left").select(
            "doc_id",
            F.least(F.col("cluster_id"), F.coalesce("nbr_min", "cluster_id"))
            .alias("cluster_id"),
        )
        # CUT THE LINEAGE each round: every iteration references the previous
        # labels twice, so an un-truncated logical plan doubles per round —
        # planning alone OOMs past ~10 rounds. localCheckpoint materializes
        # the round and restarts lineage (on a cluster: checkpoint() to
        # reliable storage so executor loss can't orphan the chain).
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .limit(1).count()  # emptiness probe, not a full count
        )
        labels = new_labels
        rounds += 1
        if changed == 0:
            break
    else:
        # exhausted max_iter with labels still moving: a partial labeling
        # splits components silently — fail loudly instead (deep graphs
        # should use dedup_clusters_star, whose rounds are O(log n))
        raise ValueError(
            f"min-label propagation did not converge in {max_iter} rounds "
            f"(rounds = component diameter; use dedup_clusters_star)")
    if rounds_out is not None:
        rounds_out.append(rounds)
    return labels.select(
        "doc_id", "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


def dedup_clusters_oracle() -> str:
    """Recursive-CTE twin: min reachable doc_id over the undirected pair
    graph == the component minimum."""
    return f"""
WITH RECURSIVE pairs AS ({minhash_pairs_oracle()}),
edges AS (
  SELECT a_id AS s, b_id AS t FROM pairs
  UNION
  SELECT b_id, a_id FROM pairs
),
reach(node, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.t, reach.r FROM edges e JOIN reach ON e.s = reach.node
)
SELECT node AS doc_id, MIN(r) AS cluster_id,
       node = MIN(r) AS is_canonical
FROM reach GROUP BY node
"""


def dedup_clusters_star(docs: DataFrame, pairs: DataFrame | None = None,
                        max_iter: int = 100,
                        rounds_out: list[int] | None = None) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction — the O(log n)-round scale path that `dedup_clusters`'s
    docstring promises for 10^12-doc graphs (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14; public algorithm).

    Min-label propagation needs `diameter` rounds: a 10^6-long chain of
    near-dup docs (crawl mirrors chained by shared boilerplate) needs 10^6
    joins.  Star contraction halves component height every other round, so
    the same chain closes in ~2*log2(n) rounds.  Per round the plan shape is
    identical to one propagation step — a groupBy-min plus an equi-join on
    the node id, both shuffling on the id — so the win is strictly in round
    count, not per-round cost.

      large-star: every node u links its GREATER neighbors to
                  m(u) = min(neighborhood(u) + {u})  — tall trees flatten;
      small-star: orient every edge (max, min); every node u links its
                  smaller neighbors AND ITSELF to the min — stars form.

    Converged when the edge set is a fixed point (two emptiness probes on
    consecutive rounds — an anti-join each way, never a full count).  The
    converged graph is a union of stars centered at each component's min
    doc_id, so the final labeling is one groupBy-min.  Per-round
    ``localCheckpoint`` cuts lineage exactly as in `dedup_clusters` (on a
    real cluster: ``checkpoint()`` to reliable storage).

    Output contract is identical to `dedup_clusters`:
    (doc_id, cluster_id, is_canonical) for EVERY doc.

    Default edges are ``minhash_star_edges`` (round-4 verdict item 2): the
    O(bucket)-output candidate graph with exact-dedup pre-contraction —
    component-identical to the all-pairs candidate graph, immune to the
    identical-boilerplate bucket blowup, and cap-free."""
    if pairs is None:
        pairs = minhash_star_edges(docs)
    edges = (
        pairs.select(F.col("a_id").alias("u"), F.col("b_id").alias("v"))
        .filter(F.col("u") != F.col("v")).distinct()
        .localCheckpoint(eager=False)  # materialized by the count below
    )
    n_edges = edges.count()
    rounds = 0
    converged = n_edges == 0
    for _ in range(max_iter):
        if converged:
            break
        sym = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = (sym.groupBy("u").agg(F.min("v").alias("mn"))
             .select("u", F.least("mn", "u").alias("m")))
        # NOTE: no distinct here (round-8) — duplicates cannot change the
        # small-star step (m2 is a min over u; the trailing distinct below
        # dedupes the edge set), and the dropped exchange was one of four
        # per round on an iterative path where round latency is the cost.
        large = (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        oriented = large.select(F.greatest("u", "v").alias("u"),
                                F.least("u", "v").alias("v"))
        m2 = oriented.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            oriented.join(m2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(m2.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        rounds += 1
        # fixed-point check: both sets are distinct, so equal counts plus
        # one-direction containment proves equality. Round-8 job budget:
        # the count (which also materializes the lazy localCheckpoint
        # above) runs every round; the containment probe — a join against
        # the previous edge set — runs ONLY when the counts tie, i.e. on
        # the candidate-final round. The old shape paid eager checkpoint +
        # count + anti-join every round.
        n_small = small.count()
        converged = n_small == n_edges and (
            small.join(edges, ["u", "v"], "left_semi").count() == n_small
        )
        edges, n_edges = small, n_small
        if converged:
            break
    if not converged:
        # the final star labeling is only valid on a CONVERGED graph —
        # partial contraction would silently split components
        raise ValueError(
            f"star contraction did not converge in {max_iter} rounds "
            f"(rounds grow ~2*log2(n); raise max_iter)")
    if rounds_out is not None:
        rounds_out.append(rounds)
    sym = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    lab = sym.groupBy("u").agg(F.min("v").alias("mn"))
    return (
        docs.select("doc_id")
        .join(lab.select(F.col("u").alias("doc_id"), "mn"), "doc_id", "left")
        .select(
            "doc_id",
            F.least(F.col("doc_id"), F.coalesce("mn", "doc_id"))
            .alias("cluster_id"),
        )
        .select("doc_id", "cluster_id",
                (F.col("doc_id") == F.col("cluster_id"))
                .alias("is_canonical"))
    )


def dedup_clusters_star_oracle() -> str:
    """Recursive-CTE twin over the STAR-EDGE candidate graph (exact-dedup
    pre-contraction + per-bucket star edges). Self-consistent at any scale:
    the star graph is cap-free, so no bucket-guard clause appears here —
    components equal the uncapped all-pairs graph's by construction."""
    return f"""
WITH RECURSIVE pairs AS ({minhash_star_edges_oracle()}),
edges AS (
  SELECT a_id AS s, b_id AS t FROM pairs
  UNION
  SELECT b_id, a_id FROM pairs
),
reach(node, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.t, reach.r FROM edges e JOIN reach ON e.s = reach.node
)
SELECT node AS doc_id, MIN(r) AS cluster_id,
       node = MIN(r) AS is_canonical
FROM reach GROUP BY node
"""


def _shingle_hashes_all(d: Dialect) -> str:
    """Frequency-PRESERVING (non-distinct) shingle-hash multiset — the
    weighted-SimHash basis: every occurrence votes, so each shingle's weight
    is its term frequency (the standard production weighting; tf is the
    corpus-pass-free part of Charikar/Manku-style tf-idf weights). Same poly
    hash + Lehmer scramble as the distinct basis."""
    grams = d.amap(d.seq1(f"length(text) - {MINHASH_SHINGLE_K - 1}"),
                   f"i -> substring(text, i, {MINHASH_SHINGLE_K})")
    raw = d.amap(grams, f"s -> {d.poly_hash_str('s')}")
    return d.amap(raw, f"h -> ((h * 48271 % {MOD}) * 48271) % {MOD}")


@F.pandas_udf(T.ArrayType(T.LongType()))
def _shingle_hashes_all_udf(text: pd.Series) -> pd.Series:
    """Arrow twin of _shingle_hashes_all (no dedup — one hash per occurrence;
    the vote is order-insensitive). Same numpy window matmul as the distinct
    basis, minus the dedup step."""
    k = MINHASH_SHINGLE_K
    out = []
    for t in text:
        if t is None:  # NULL text null-propagates like the SQL template
            out.append(None)
            continue
        c = _codepoints(t)
        if len(c) < k:
            out.append([])
            continue
        h = (sliding_window_view(c, k) @ _POLY_W) % MOD
        out.append((h * 48271 % MOD * 48271 % MOD).tolist())
    return pd.Series(out)


@F.pandas_udf(T.LongType())
def _simhash32_all_text_udf(text: pd.Series) -> pd.Series:
    """Fused weighted twin: frequency-preserving multiset basis + vote in
    one Python evaluation (composition of _shingle_hashes_all_udf +
    _simhash32_udf, arithmetic unchanged)."""
    k = MINHASH_SHINGLE_K
    out = []
    for t in text:
        if t is None:
            out.append(None)
            continue
        c = _codepoints(t)
        if len(c) < k:
            out.append(0)
            continue
        h = (sliding_window_view(c, k) @ _POLY_W) % MOD
        out.append(_vote32(h * 48271 % MOD * 48271 % MOD))
    return pd.Series(out, dtype="object")


def simhash_weighted(docs: DataFrame) -> DataFrame:
    """Weighted (term-frequency) SimHash: the identical majority vote run
    over the frequency-preserving multiset — a shingle occurring 3x casts 3
    votes. One fused Arrow kernel, like the unweighted variant."""
    return spread(docs.select("doc_id", "text")).select(
        "doc_id", _simhash32_all_text_udf(F.col("text")).alias("simhash32_w")
    )


def simhash_weighted_oracle() -> str:
    d = DUCK
    return (f"WITH _hb_basis AS (SELECT doc_id, {_shingle_hashes_all(d)} "
            f"AS _hb FROM documents)\n"
            f"SELECT doc_id, {d.simhash32('_hb')} AS simhash32_w "
            f"FROM _hb_basis")


def _simhash_block_bounds(max_hamming: int) -> list[tuple[int, int]]:
    """Pigeonhole banding: split the 32 bits into max_hamming+1 contiguous
    blocks -> (lo_bit, width) per block. A pair with hamming <= r differs in
    at most r bits, so at least one of the r+1 blocks is identical — blocking
    on every block and unioning the candidate joins has GUARANTEED recall
    (unlike single-block blocking, which misses any pair whose differing bit
    lands inside the block)."""
    n_blocks = max_hamming + 1
    base, extra = divmod(32, n_blocks)
    bounds, lo = [], 0
    for i in range(n_blocks):
        w = base + (1 if i < extra else 0)
        bounds.append((lo, w))
        lo += w
    return bounds


def simhash_neardup_pairs(docs: DataFrame, max_hamming: int = 1,
                          max_bucket: int = LSH_MAX_BUCKET,
                          accounting: str = "lazy") -> DataFrame:
    """Near-dup pairs by SimHash hamming distance (bit_count(xor) <= r).

    Candidates come from pigeonhole banding (see _simhash_block_bounds): each
    doc lands in r+1 block buckets, candidate pairs share any (block_idx,
    block_val) bucket, exact hamming verifies. Cost O(n * (r+1)) bucket rows +
    a high-cardinality equi-join — never all-pairs. Blocks larger than
    ``max_bucket`` are excluded from pairwise emission with logged
    accounting (identical fingerprints — boilerplate — belong to exact
    dedup, not an O(n^2) join). Deterministic integer arithmetic end to end,
    so the DuckDB oracle (simhash_neardup_oracle) is exact."""
    items = ", ".join(
        f"named_struct('block_idx', {i}, 'block_val', "
        f"CAST(simhash32 div {1 << lo} AS BIGINT) % {1 << w})"
        for i, (lo, w) in enumerate(_simhash_block_bounds(max_hamming))
    )
    # materialize fingerprints before the self-join: without persist, BOTH
    # join sides recompute the (expensive) 32-bit vote over every shingle —
    # measured 26x slower. At warehouse scale this persist is a fingerprint
    # table write; here Spark's cache serves the same plan role.
    blk = cache.track(simhash(docs).select(
        "doc_id", "simhash32",
        F.expr(f"explode(array({items})) AS block"),
    ).select("doc_id", "simhash32",
             F.col("block.block_idx").alias("block_idx"),
             F.col("block.block_val").alias("block_val")))
    ok = _guard_oversize_buckets(blk, ["block_idx", "block_val"],
                                 max_bucket, "simhash_neardup_pairs",
                                 accounting=accounting)
    a, b = ok.alias("a"), ok.alias("b")
    ham = F.expr("bit_count(a.simhash32 ^ b.simhash32)")
    return (
        a.join(b, (F.col("a.block_idx") == F.col("b.block_idx"))
               & (F.col("a.block_val") == F.col("b.block_val"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("a_id"),
                F.col("b.doc_id").alias("b_id"),
                ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()  # a pair can match in several blocks
    )


def simhash_neardup_oracle(max_hamming: int = 1,
                           max_bucket: int = LSH_MAX_BUCKET) -> str:
    d = DUCK
    blocks = "\nUNION ALL\n".join(
        f"SELECT doc_id, simhash32, {i} AS block_idx, "
        f"(simhash32 // {1 << lo}) % {1 << w} AS block_val FROM sh"
        for i, (lo, w) in enumerate(_simhash_block_bounds(max_hamming))
    )
    ham = d.bitcount(d.bxor("a.simhash32", "b.simhash32"))
    return f"""
WITH _hb_basis AS (SELECT doc_id, {_shingle_hashes(d)} AS _hb FROM documents),
sh AS (SELECT doc_id, {d.simhash32('_hb')} AS simhash32 FROM _hb_basis),
blk0 AS ({blocks}),
bsz AS (
  SELECT block_idx, block_val FROM blk0
  GROUP BY block_idx, block_val HAVING count(*) <= {max_bucket}
),
blk AS (SELECT b.* FROM blk0 b JOIN bsz USING (block_idx, block_val))
SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST({ham} AS INTEGER) AS hamming
FROM blk a JOIN blk b
  ON a.block_idx = b.block_idx AND a.block_val = b.block_val
 AND a.doc_id < b.doc_id
WHERE {ham} <= {max_hamming}
"""
