"""Dedup + similarity semantics beyond oracle parity: recall sanity,
approximate-vs-exact agreement, multimodal plumbing."""

from __future__ import annotations

from pyspark.sql import Row, functions as F

from logstash_codec_protobuf_spark.operators import dedup as DD
from logstash_codec_protobuf_spark.operators import multimodal as MM
from logstash_codec_protobuf_spark.operators import similarity as SIM
from logstash_codec_protobuf_spark.sources.tables import load_table

from .conftest import SF_DIR


def _docs(spark):
    return load_table(spark, SF_DIR, "documents")


def _union_find_labels(nodes, edges):
    """Component-min label of every node of an undirected graph by
    union-find — the ground truth for the Spark component closure. The
    larger root always attaches under the smaller, so a root is the min of
    its set."""
    parent = {x: x for x in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in nodes}


def test_exact_dedup_finds_planted_duplicates(spark):
    """Planted copies collapse to one canonical id."""
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="aaa"), Row(doc_id=2, text="aaa"),
         Row(doc_id=3, text="bbb")]
    )
    got = {r["canonical_id"]: r["n_copies"]
           for r in DD.dedup_exact(docs).collect()}
    assert got == {1: 2, 3: 1}


def test_minhash_catches_near_identical_docs(spark):
    """A doc and its one-word-edited copy must share an LSH band."""
    base = " ".join(f"tok{i}" for i in range(60))
    edited = base.replace("tok30", "tokX")
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=base), Row(doc_id=2, text=edited),
         Row(doc_id=3, text=" ".join(f"other{i}" for i in range(60)))]
    )
    pairs = {(r["a_id"], r["b_id"]) for r in DD.minhash_pairs(docs).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_close_for_near_identical_far_for_different(spark):
    base = " ".join(f"tok{i}" for i in range(60))
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=base),
         Row(doc_id=2, text=base.replace("tok30", "tokX")),
         Row(doc_id=3, text=" ".join(f"zz{i}" for i in range(60)))]
    )
    sh = {r["doc_id"]: r["simhash32"] for r in DD.simhash(docs).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(sh[1], sh[2]) < ham(sh[1], sh[3])
    assert ham(sh[1], sh[2]) <= 6


def test_lsh_topk_recall_vs_brute_force(spark):
    """Multiprobe LSH must recover a solid fraction of true top-5 neighbors.

    Random 64-d vectors are LSH's worst case (nearest neighbor at cosine
    ~0.37, i.e. ~68 degrees — nearly uncorrelated with any hyperplane side),
    so the bar is recall >= 0.4 with 2 planes + hamming-1 probes; exactness
    is the brute-force path's job."""
    emb = load_table(spark, SF_DIR, "embeddings")
    exact = {(r["query_id"], r["neighbor_id"])
             for r in SIM.cosine_topk(emb).collect()}
    approx = {(r["query_id"], r["neighbor_id"])
              for r in SIM.lsh_topk(emb, n_planes=2).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"LSH recall too low: {recall}"


def test_simhash_neardup_pigeonhole_recall_exact(spark):
    """Pigeonhole banding must find EVERY hamming<=1 pair — compare against
    brute-force all-pairs hamming over the materialized fingerprints."""
    docs = _docs(spark)
    sh = {r["doc_id"]: r["simhash32"] for r in DD.simhash(docs).collect()}
    ids = sorted(sh)
    expected = {
        (a, b)
        for i, a in enumerate(ids) for b in ids[i + 1:]
        if bin(sh[a] ^ sh[b]).count("1") <= 1
    }
    got = {(r["a_id"], r["b_id"])
           for r in DD.simhash_neardup_pairs(docs, max_hamming=1).collect()}
    assert got == expected


def test_candidate_generators_are_efficient(spark):
    """Scale guard: generate-then-verify must prune the comparison space.

    A bucket CAN legitimately hold a whole true-duplicate cluster (those
    comparisons are the answer, not waste), so the invariant is generator
    efficiency, not an absolute bucket cap: candidate pairs must be a small
    fraction of all-pairs AND within a constant factor of the verified pairs
    they feed. A regression to label/degenerate blocking blows both bounds."""
    docs = _docs(spark)
    n = docs.count()
    all_pairs = n * (n - 1) // 2

    cand = DD.minhash_pairs(docs).count()
    verified = DD.ngram_jaccard_pairs(docs, threshold=0.5).count()
    assert cand <= 0.10 * all_pairs, f"minhash candidates {cand} ~ all-pairs"
    assert cand <= 3 * verified + n, f"minhash precision too low: {cand} cand / {verified} true"

    # simhash pigeonhole blocks must be balanced (the degenerate high-16 case
    # put 88% of the corpus in ONE block before the basis scramble)
    sim_blocks = (
        DD.simhash(docs)
        .selectExpr("CAST(simhash32 div 65536 AS BIGINT) AS hi",
                    "simhash32 % 65536 AS lo")
    )
    hi_max = sim_blocks.groupBy("hi").count().agg(F.max("count")).first()[0]
    lo_max = sim_blocks.groupBy("lo").count().agg(F.max("count")).first()[0]
    assert max(hi_max, lo_max) <= max(25, int(n * 0.05))

    emb = load_table(spark, SF_DIR, "embeddings")
    bucket = F.expr(SIM.lsh_bucket_expr("embedding", SIM.NEARDUP_PLANES))
    b_max = (emb.select(bucket.alias("b")).groupBy("b").count()
             .agg(F.max("count")).first()[0])
    n_emb = emb.count()
    # 16 buckets over random signs: expect ~n/16, allow 4x headroom
    assert b_max <= max(25, n_emb // 4), f"lsh bucket {b_max} too large"


def test_multimodal_batch_plumbing(spark):
    """mapInPandas feature extraction: schema, row conservation, determinism."""
    media = MM.with_binary_payload(_docs(spark))
    feats = MM.extract_features(media)
    assert feats.schema == MM.FEATURE_SCHEMA
    rows = feats.orderBy("doc_id").limit(3).collect()
    n_in = media.count()
    assert feats.count() == n_in
    again = MM.extract_features(media).orderBy("doc_id").limit(3).collect()
    assert rows == again  # deterministic stub
    for r in rows:
        assert r["width"] == 64 + r["n_bytes"] % 512
        assert 64 <= r["height"] < 64 + 512


def test_ivf_topk_recall_and_refinement(spark):
    """IVF probing must recover a solid fraction of true top-5 neighbors, and
    Lloyd refinement must not increase quantization error (monotone inertia)."""
    from logstash_codec_protobuf_spark.operators import ivf as IVF

    emb = load_table(spark, SF_DIR, "embeddings")
    exact = {(r["query_id"], r["neighbor_id"])
             for r in SIM.cosine_topk(emb).collect()}
    approx = {(r["query_id"], r["neighbor_id"])
              for r in IVF.ivf_topk(emb, n_probe=3).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"IVF recall too low: {recall}"

    seed = IVF.ivf_refine(emb, iters=0)
    one = IVF.ivf_refine(emb, iters=1)
    two = IVF.ivf_refine(emb, iters=2)
    i0 = IVF.ivf_inertia(emb, seed)
    i1 = IVF.ivf_inertia(emb, one)
    i2 = IVF.ivf_inertia(emb, two)
    assert i1 <= i0 + 1e-9 and i2 <= i1 + 1e-9, (i0, i1, i2)


def test_dedup_clusters_transitive_closure(spark):
    """A~B and B~C must land in ONE cluster even with no A~C edge — the
    property pair-generation alone can't give you."""
    from logstash_codec_protobuf_spark.operators.dedup import dedup_clusters

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(7)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 4), (4, 6), (2, 3)], "a_id long, b_id long"  # chain 1-4-6; 2-3
    )
    got = {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
           for r in dedup_clusters(docs, pairs=pairs).collect()}
    assert got[1] == (1, True) and got[4] == (1, False) and got[6] == (1, False)
    assert got[2] == (2, True) and got[3] == (2, False)
    assert got[0] == (0, True) and got[5] == (5, True)  # singletons


def test_dedup_clusters_deep_chain_converges(spark):
    """A maximally deep chain (worst-case diameter) still converges to one
    component within the iteration bound."""
    from logstash_codec_protobuf_spark.operators.dedup import dedup_clusters

    n = 12
    docs = spark.createDataFrame([(i, "x") for i in range(n)],
                                 "doc_id long, text string")
    chain = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  "a_id long, b_id long")
    out = dedup_clusters(docs, pairs=chain).collect()
    assert {r["cluster_id"] for r in out} == {0}
    assert sum(r["is_canonical"] for r in out) == 1


def test_star_contraction_matches_propagation(spark):
    """dedup_clusters (its default guarded LSH pair graph) and
    dedup_clusters_star over the same pairs must both produce the
    component-min labeling union-find gives — the labels min-label
    propagation converges to — on the real corpus's LSH pair graph; and
    the star path must on a branchy synthetic graph with singletons."""
    docs = _docs(spark)
    pairs = DD.minhash_pairs(docs)
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    labels = _union_find_labels(
        ids, [(r["a_id"], r["b_id"]) for r in pairs.collect()])
    want = {(d, c, d == c) for d, c in labels.items()}
    assert len(want) == len(ids) and not all(c for _, _, c in want)
    got = {(r["doc_id"], r["cluster_id"], r["is_canonical"])
           for r in DD.dedup_clusters(docs).collect()}
    star = {(r["doc_id"], r["cluster_id"], r["is_canonical"])
            for r in DD.dedup_clusters_star(docs, pairs=pairs).collect()}
    assert got == want and star == want

    sdocs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(9)], "doc_id long, text string")
    spairs = spark.createDataFrame(
        [(1, 4), (4, 6), (2, 3), (6, 8), (8, 1)],  # cycle-y chain + pair
        "a_id long, b_id long")
    got = {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
           for r in DD.dedup_clusters_star(sdocs, pairs=spairs).collect()}
    assert got[1] == (1, True) and got[4] == (1, False)
    assert got[6] == (1, False) and got[8] == (1, False)
    assert got[2] == (2, True) and got[3] == (2, False)
    assert got[0] == (0, True) and got[5] == (5, True) and got[7] == (7, True)


def test_star_contraction_logarithmic_rounds_on_deep_chain(spark):
    """The reason the star path exists: a diameter-n chain that costs
    min-label propagation n rounds closes in O(log n) contraction rounds."""
    n = 64
    docs = spark.createDataFrame([(i, "x") for i in range(n)],
                                 "doc_id long, text string")
    chain = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  "a_id long, b_id long")
    rounds: list[int] = []
    out = DD.dedup_clusters_star(docs, pairs=chain, rounds_out=rounds).collect()
    assert {r["cluster_id"] for r in out} == {0}
    assert sum(r["is_canonical"] for r in out) == 1
    # propagation moves the min ONE hop per round -> 63 rounds here; star
    # contraction must close in a logarithmic handful.
    assert rounds[0] <= 2 * n.bit_length() + 2, rounds


def test_star_contraction_matches_union_find_on_random_graphs(spark):
    """Seeded random graphs vs a pure-Python union-find ground truth —
    the adversarial shapes hand-written cases miss (cross edges between
    half-merged stars, multi-hub components, dense cores + pendants)."""
    import random

    rng = random.Random(20260817)
    for trial, (n, n_edges) in enumerate(
            [(30, 15), (40, 60), (25, 8), (50, 30)]):
        edges = {(min(a, b), max(a, b))
                 for a, b in ((rng.randrange(n), rng.randrange(n))
                              for _ in range(n_edges)) if a != b}
        want = _union_find_labels(range(n), edges)
        docs = spark.createDataFrame([(i, "x") for i in range(n)],
                                     "doc_id long, text string")
        pairs = spark.createDataFrame(sorted(edges),
                                      "a_id long, b_id long")
        got = {r["doc_id"]: r["cluster_id"]
               for r in DD.dedup_clusters_star(docs, pairs=pairs).collect()}
        assert got == want, f"trial {trial}: {got} != {want}"


def test_cluster_resolution_raises_on_non_convergence(spark):
    """An exhausted iteration cap must FAIL LOUDLY, never return a partial
    labeling — partial labels silently split components."""
    import pytest

    n = 24
    docs = spark.createDataFrame([(i, "x") for i in range(n)],
                                 "doc_id long, text string")
    chain = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  "a_id long, b_id long")
    with pytest.raises(ValueError, match="did not converge"):
        DD.dedup_clusters_star(docs, pairs=chain, max_iter=2).collect()
    # empty pair graph: converged before round one, all singletons
    empty = spark.createDataFrame([], "a_id long, b_id long")
    out = DD.dedup_clusters_star(docs, pairs=empty, max_iter=1).collect()
    assert all(r["is_canonical"] for r in out) and len(out) == n


def test_cosine_topk_zero_norm_vector_is_null_scored_never_a_crash(spark):
    """A zero-norm corpus vector makes the cosine denominator 0.0 — under
    ANSI mode a plain division KILLS the job (DIVIDE_BY_ZERO). The contract:
    try_divide -> NULL score, ordered LAST by the window (an undefined
    similarity is never a top hit), identical in the oracle's nullif guard
    and in the pandas partial top-k's -inf-filled sort key."""
    rows = [(i, [float(i + 1)] * 4) for i in range(8)]
    rows.append((8, [0.0] * 4))  # zero norm
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = SIM.cosine_topk(emb, n_queries=2, k=3).collect()  # must not raise
    assert len(out) == 6  # k rows per query, ranks contiguous
    assert all(r["neighbor_id"] != 8 for r in out)  # NULL score ranks last
    # and the bucketed near-dup path survives a zero vector too, and a NULL
    # vector: its cosine is NULL in the oracle, so it is in no pair
    with_null = emb.unionByName(spark.createDataFrame(
        [(9, None)], "vec_id long, embedding array<double>"))
    nd = SIM.neardup_pairs(with_null, threshold=0.5).collect()
    assert nd and all({8, 9}.isdisjoint((r["a_id"], r["b_id"])) for r in nd)


def test_fingerprint_kernels_match_reference_on_edge_texts():
    """The numpy kernels (utf-32 windows, packed-key dedup, matmul poly
    hash, matrix vote) must equal the obvious per-char reference on edge
    inputs: non-BMP chars (packed fast path must NOT engage), shorter-than-k
    strings, repeated shingles, single-shingle texts. Runs the fused
    kernels' numpy cores and pandas_udf inner functions directly — no Spark
    session."""
    import numpy as np
    import pandas as pd

    from logstash_codec_protobuf_spark.functions.portable import MOD
    from logstash_codec_protobuf_spark.operators.dedup import (
        MINHASH_PERMS, MINHASH_SHINGLE_K as K, _basis_arr,
        _minhash_sigs_text_udf, _simhash32_all_text_udf, _vote32)

    def ref_hash(s):
        acc = 0
        for ch in s:
            acc = (acc * 31 + ord(ch)) % MOD
        return ((acc * 48271 % MOD) * 48271) % MOD

    def ref_vote(hs):
        ref = 0
        for b in range(32):
            if 2 * sum((h >> b) & 1 for h in hs) > len(hs):
                ref |= 1 << b
        return ref

    texts = [
        "abc",                      # shorter than k -> []
        "abcd",                     # exactly one shingle
        "aaaaaaaa",                 # one distinct shingle, 5 occurrences
        "héllo \U0001F40D wörld \U0001F40D\U0001F40D end",
        "ab" + chr(0xFFFF) + chr(0xFFFE) + "cdef",  # BMP boundary codepoints
        "the quick brown fox " * 4,
    ]
    s = pd.Series(texts)
    sigs = _minhash_sigs_text_udf.func(s)
    votes_all = _simhash32_all_text_udf.func(s)
    for t, sig, vote_all in zip(texts, sigs, votes_all):
        grams = [t[i:i + K] for i in range(len(t) - K + 1)]
        distinct = [ref_hash(g) for g in dict.fromkeys(grams)]
        assert sorted(_basis_arr(t).tolist()) == sorted(distinct)
        if distinct:
            assert list(sig) == [min((h * a + b) % MOD for h in distinct)
                                 for a, b in MINHASH_PERMS]
        else:  # amin over an empty basis is NULL in the SQL template
            assert sig is None
        assert int(vote_all) == ref_vote([ref_hash(g) for g in grams])

    # [1, 2] ties bits 0 and 1 (one of two set): a tie sets no bit
    for hs in ([5, 5, 7], [MOD - 1, 0, 1], [2 ** 30], [1, 2], []):
        assert _vote32(np.array(hs, dtype=np.int64)) == ref_vote(hs)


def test_farthest_point_seeding_beats_first_k_on_clustered_corpus(spark):
    """Farthest-point seeding must straddle every cluster; first-K seeding on
    a corpus whose first K vectors all sit in ONE cluster collapses the
    inverted lists there and loses the other clusters' neighbors. Built so
    vec_ids 0..7 are all cluster-0 members: recall with farthest seeds must
    strictly beat first-K recall."""
    import math

    from pyspark.sql import Row

    from logstash_codec_protobuf_spark.operators import ivf as IVF

    # 4 tight clusters of 12 vectors in 8-d; first 8 ids are ALL cluster 0
    dim, per, k = 8, 12, 4
    rows = []
    vid = 0
    order = [0] * 8 + [c for c in range(4) for _ in range(per)][8:]
    # deterministic jitter via an integer hash, no RNG
    for c in order:
        base = [math.cos(2 * math.pi * c / 4 + j) for j in range(dim)]
        jit = [((vid * 31 + j * 7) % 11 - 5) / 200.0 for j in range(dim)]
        rows.append(Row(vec_id=vid,
                        embedding=[float(b + e) for b, e in zip(base, jit)]))
        vid += 1
    emb = spark.createDataFrame(rows)

    exact = {(r["query_id"], r["neighbor_id"])
             for r in SIM.cosine_topk(emb, n_queries=8, k=5).collect()}

    def recall(seed_ids):
        approx = {(r["query_id"], r["neighbor_id"])
                  for r in IVF.ivf_topk(emb, n_queries=8, k=5,
                                        n_centroids=k, n_probe=1,
                                        seed_ids=seed_ids).collect()}
        return len(exact & approx) / len(exact)

    far = [r["vec_id"]
           for r in IVF.ivf_seed_farthest(emb, k=k).collect()]
    r_first = recall(list(range(k)))   # first-K: all in cluster 0
    r_far = recall(far)
    assert r_far > r_first, (r_first, r_far, far)
    # farthest seeds must cover all 4 clusters
    clusters = {order[v] for v in far}
    assert clusters == {0, 1, 2, 3}, (far, clusters)


def test_seed_farthest_zero_norm_vector_is_last_resort_never_a_crash(spark):
    """ADVICE r4: a zero-norm vector scores NULL maxs via try_divide. Spark's
    F.asc is NULLS FIRST while DuckDB's ORDER BY ASC is NULLS LAST — without
    asc_nulls_last the Spark side would seed the degenerate vector FIRST and
    then crash at float(None). Contract: the zero-norm vector is chosen only
    when every finite-similarity vector is exhausted, with NULL minmax_sim,
    identically in both engines."""
    import duckdb
    import pandas as pd

    from logstash_codec_protobuf_spark.operators import ivf as IVF

    rows = [(i, [float(i + 1), float(2 * i + 1), 1.0]) for i in range(4)]
    rows.append((4, [0.0, 0.0, 0.0]))  # zero norm -> NULL cosine everywhere
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["rank"]: r for r in
           IVF.ivf_seed_farthest(emb, k=5).collect()}  # must not raise
    assert len(out) == 5
    assert out[4]["vec_id"] == 4 and out[4]["minmax_sim"] is None
    assert all(out[r]["vec_id"] != 4 for r in range(4))

    con = duckdb.connect()
    pdf = pd.DataFrame(
        {"vec_id": [r[0] for r in rows], "embedding": [r[1] for r in rows]})
    con.register("embeddings", pdf)
    o_rows = con.execute(IVF.ivf_seed_farthest_oracle(k=5)).fetchall()
    o = {r[0]: r for r in o_rows}
    s = {r["rank"]: (r["rank"], r["vec_id"], r["minmax_sim"]) for r in
         IVF.ivf_seed_farthest(emb, k=5).collect()}
    assert s == o, (s, o)


def test_star_edges_cluster_identically_to_all_pairs_with_planted_dups(spark):
    """Round-4 verdict item 2: the star-edge candidate graph (exact-dedup
    pre-contraction + doc->bucket-min edges) must produce EXACTLY the
    connected components of the uncapped all-pairs candidate graph — while
    emitting O(bucket) rows where all-pairs emits O(bucket^2). Planted
    pathology: 40 byte-identical boilerplate copies plus a near-dup chain."""
    # orderBy before limit: a bare LocalLimit has no stable row choice, and
    # this frame is re-executed by four separate actions below
    base = load_table(spark, SF_DIR, "documents").select("doc_id", "text") \
        .orderBy("doc_id").limit(60)
    boiler = "cookie consent banner please accept all cookies " * 6
    extra = [(100000 + i, boiler) for i in range(40)]
    chain = [(200000 + i, "the quick brown fox chapter %d" % (i // 3) +
              " jumped over the lazy dog again and again")
             for i in range(12)]
    docs = base.union(
        spark.createDataFrame(extra + chain, "doc_id long, text string"))

    allpairs = DD.minhash_pairs(docs, max_bucket=10**9)
    want = {(r["doc_id"], r["cluster_id"])
            for r in DD.dedup_clusters_star(docs, pairs=allpairs).collect()}
    got = {(r["doc_id"], r["cluster_id"])
           for r in DD.dedup_clusters_star(docs).collect()}  # star edges
    assert got == want

    # edge volume: the 40-copy bucket contributes 39 exact edges on the star
    # path vs 40*39/2 = 780 pairs on the uncapped all-pairs path
    star_n = DD.minhash_star_edges(docs).count()
    pair_n = allpairs.count()
    assert star_n < pair_n


def test_oversize_bucket_guard_drops_loudly(spark):
    """Buckets past max_bucket are excluded from pairwise emission, never
    silently: the exclusions are the queryable minhash_oversize_buckets
    frame. 30 identical docs with max_bucket=8: every band bucket is
    oversize, so no pair among them survives; distinct-content docs are
    unaffected. Construction is plan-only (round-6: a construction-time
    probe cost +10% on the idle A/B and fired a full job)."""
    import duckdb
    import pandas as pd

    rows = [(i, "identical boilerplate page body " * 5) for i in range(30)]
    rows += [(100 + i, f"unique document number {i} with its own words {i}")
             for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sc = spark.sparkContext
    sc.setJobGroup("oversize_guard_construction", "construction")
    try:
        frame = DD.minhash_pairs(docs, max_bucket=8)
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup(
        "oversize_guard_construction")) == []
    pairs = frame.collect()
    # the same pairs as the oracle, whose HAVING clause mirrors the cap
    con = duckdb.connect()
    con.register("documents",
                 pd.DataFrame(rows, columns=["doc_id", "text"]))
    assert sorted((r["a_id"], r["b_id"]) for r in pairs) \
        == sorted(con.execute(DD.minhash_pairs_oracle(8)).fetchall())
    over = {(r["band_idx"], r["band_key"]): r["n_docs"] for r in
            DD.minhash_oversize_buckets(docs, max_bucket=8).collect()}
    assert over and all(v == 30 for v in over.values())
    assert all(r["a_id"] >= 100 or r["b_id"] >= 100 for r in pairs) or not pairs
    # the star path needs no cap: the boilerplate component is intact there
    labels = {r["doc_id"]: r["cluster_id"]
              for r in DD.dedup_clusters_star(docs).collect()}
    assert {labels[i] for i in range(30)} == {0}


def test_shingles_udf_matches_oracle_template_for_any_k(spark):
    """The Arrow shingle kernel must equal the DuckDB oracle template for
    every k, not just the k=3 default (round-4 verdict wrong-item 3) —
    set-equal (Jaccard consumes shingles as sets; DuckDB's list_distinct
    order differs), with short-string inputs yielding [] in both engines."""
    import duckdb

    from logstash_codec_protobuf_spark.functions.portable import DUCK as DK

    texts = ["abcdefg", "aaaa", "ab", "", "ababab", "xyzxyzxy"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    con = duckdb.connect()
    for k in (2, 3, 4, 5):
        got = {r["doc_id"]: set(r["s"]) for r in df.select(
            "doc_id", DD._shingles_udf(k)(F.col("text")).alias("s")).collect()}
        want = {i: set(con.execute(
            f"SELECT {DK.shingles('t', k)} FROM (SELECT ? AS t)",
            [t]).fetchone()[0]) for i, t in enumerate(texts)}
        assert got == want, k


def test_ann_recall_floor_at_documented_settings(spark):
    """Recall floor for the approximate ANN tier (round-4 verdict item 5):
    at the documented settings — IVF n_probe=6 of 8 lists; hyperplane LSH
    with 2 planes + 1-bit multiprobe — recall@5 against brute-force cosine
    ground truth must stay >= 0.8 EVEN on this near-uniform synthetic
    corpus (the adversarial regime for partitioned ANN; see
    BENCH/ann_recall.md for the full sweep). A silent recall regression
    fails here, not in a training run."""
    from logstash_codec_protobuf_spark.operators import ivf as IVF

    emb = load_table(spark, SF_DIR, "embeddings")
    n_q, k = 32, 5
    exact = {(r["query_id"], r["neighbor_id"])
             for r in SIM.cosine_topk(emb, n_queries=n_q, k=k).collect()}

    def recall(df):
        approx = {(r["query_id"], r["neighbor_id"]) for r in df.collect()}
        return len(exact & approx) / len(exact)

    r_ivf = recall(IVF.ivf_topk(emb, n_queries=n_q, k=k, n_probe=6))
    r_lsh = recall(SIM.lsh_topk(emb, n_queries=n_q, k=k, n_planes=2))
    assert r_ivf >= 0.8, r_ivf
    assert r_lsh >= 0.8, r_lsh


def test_null_text_null_propagates_through_fingerprint_kernels(spark):
    """A NULL text row must null-propagate through every Arrow fingerprint
    kernel (shingles for any k, minhash signatures, simhash votes,
    weighted votes) exactly like the SQL templates they replace — never
    kill the batch with len(None) (round-5 self-review finding)."""
    docs = spark.createDataFrame(
        [(0, "a real document body here"), (1, None), (2, "another doc")],
        "doc_id long, text string")
    for k in (3, 4):
        rows = {r["doc_id"]: r["s"] for r in docs.select(
            "doc_id", DD._shingles_udf(k)(F.col("text")).alias("s")).collect()}
        assert rows[1] is None and rows[0]
    sigs = {r["doc_id"]: r["s"] for r in docs.select(
        "doc_id",
        DD._minhash_sigs_text_udf(F.col("text")).alias("s"),
    ).collect()}
    assert sigs[1] is None and len(sigs[0]) == 16
    sh = {r["doc_id"]: r["simhash32"]
          for r in DD.simhash(docs).collect()}
    assert sh[1] is None and sh[0] is not None
    w = {r["doc_id"]: r["simhash32_w"]
         for r in DD.simhash_weighted(docs).collect()}
    assert w[1] is None and w[0] is not None


def test_kmeanspar_seeding_covers_clusters_and_is_deterministic(spark):
    """kmeans|| sampled seeding (round-5 verdict item 4): on the planted
    4-cluster corpus it must (a) return exactly k distinct corpus vec_ids,
    (b) cover every cluster (the whole point of d2-weighted sampling),
    (c) reach recall parity with farthest-point seeding at K=8 scale-down,
    and (d) be bit-deterministic across invocations (md5-hash Bernoulli +
    greedy selection — no RNG anywhere)."""
    import math

    from pyspark.sql import Row

    from logstash_codec_protobuf_spark.operators import ivf as IVF

    dim, per, k = 8, 12, 4
    rows, vid = [], 0
    order = [0] * 8 + [c for c in range(4) for _ in range(per)][8:]
    for c in order:
        base = [math.cos(2 * math.pi * c / 4 + j) for j in range(dim)]
        jit = [((vid * 31 + j * 7) % 11 - 5) / 200.0 for j in range(dim)]
        rows.append(Row(vec_id=vid,
                        embedding=[float(b + e) for b, e in zip(base, jit)]))
        vid += 1
    emb = spark.createDataFrame(rows)

    got1 = [(r["rank"], r["vec_id"])
            for r in IVF.ivf_seed_scalable(emb, k=k).collect()]
    got2 = [(r["rank"], r["vec_id"])
            for r in IVF.ivf_seed_scalable(emb, k=k).collect()]
    assert got1 == got2  # deterministic
    seeds = [v for _, v in sorted(got1)]
    assert len(seeds) == k == len(set(seeds))
    assert {order[v] for v in seeds} == {0, 1, 2, 3}, seeds

    # recall parity with farthest seeding on the same corpus
    exact = {(r["query_id"], r["neighbor_id"])
             for r in SIM.cosine_topk(emb, n_queries=8, k=5).collect()}

    def recall(seed_ids):
        approx = {(r["query_id"], r["neighbor_id"])
                  for r in IVF.ivf_topk(emb, n_queries=8, k=5,
                                        n_centroids=k, n_probe=1,
                                        seed_ids=seed_ids).collect()}
        return len(exact & approx) / len(exact)

    far = [r["vec_id"] for r in IVF.ivf_seed_farthest(emb, k=k).collect()]
    assert recall(seeds) >= recall(far) - 1e-9, (recall(seeds), recall(far))


def test_kmeanspar_seeding_scales_to_k64_on_sf_corpus(spark):
    """The large-K contract: K=64 seeding over the sf corpus must complete
    in O(rounds) passes (not K-1 driver rounds) and return 64 distinct
    usable seeds. Farthest-point at K=64 would run 63 sequential driver
    rounds — this is the path that replaces it."""
    from logstash_codec_protobuf_spark.operators import ivf as IVF

    emb = load_table(spark, SF_DIR, "embeddings")
    seeds = IVF.ivf_seed_scalable(emb, k=64, rounds=3).collect()
    ids = [r["vec_id"] for r in seeds]
    assert len(ids) == 64 == len(set(ids))
    n = emb.count()
    assert all(0 <= v < n for v in ids)


def test_pure_bmp_ppm_decode_exact_fixtures():
    """Hand-computable fixtures for the pure decoders: a 2x2 BMP (checking
    BGR order + bottom-up rows) and a 3x1 BMP (checking 4-byte row padding
    is stripped), plus a PPM twin and malformed payloads."""
    import pytest

    # 2x2 BMP, pixels in file order (bottom-up): row0=bottom: (B,G,R)
    # bottom-left=(1,2,3) bottom-right=(4,5,6) top-left=(7,8,9) top-right=(10,11,12)
    px = bytes([1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12])
    d = MM.decode_image_pure(MM.encode_bmp(2, 2, px))
    assert (d["format"], d["width"], d["height"]) == ("bmp", 2, 2)
    assert d["mean_b"] == (1 + 4 + 7 + 10) / 4
    assert d["mean_g"] == (2 + 5 + 8 + 11) / 4
    assert d["mean_r"] == (3 + 6 + 9 + 12) / 4

    # 3x1 BMP: row is 9 bytes -> padded to 12; padding must not leak into means
    px = bytes(range(1, 10))
    raw = MM.encode_bmp(3, 1, px)
    assert len(raw) == 54 + 12  # real padded row
    d = MM.decode_image_pure(raw)
    assert d["width"] == 3 and d["mean_b"] == (1 + 4 + 7) / 3

    # PPM: RGB order, no padding
    d = MM.decode_image_pure(MM.encode_ppm(2, 1, bytes([9, 8, 7, 6, 5, 4])))
    assert (d["format"], d["mean_r"], d["mean_g"], d["mean_b"]) == \
        ("ppm", (9 + 6) / 2, (8 + 5) / 2, (7 + 4) / 2)

    for junk in (b"", b"BM123", b"P6\n2 2\n255\nxx", b"\x89PNG\r\n",
                 MM.encode_bmp(2, 2, px)[:40]):
        with pytest.raises(ValueError, match="image payload"):
            MM.decode_image_pure(junk)


def test_real_image_decode_matches_closed_form_oracle(spark):
    """End-to-end: planted BMP/PPM payloads decoded through mapInPandas must
    match the closed-form oracle that never sees the bytes (tests the real
    header/padding/scanline parsing, not the generator)."""
    import duckdb

    docs = load_table(spark, SF_DIR, "documents").limit(60)
    got = {(r["doc_id"], r["format"], r["width"], r["height"],
            round(r["mean_r"], 9), round(r["mean_g"], 9),
            round(r["mean_b"], 9))
           for r in MM.decode_images(MM.plant_images(docs)).collect()}
    formats = {r[1] for r in got}
    assert formats == {"png", "bmp", "ppm", "gif"}  # all planted containers
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{SF_DIR}/documents.parquet'")
    ids = sorted(r[0] for r in got)
    want = {(r[0], r[1], r[2], r[3], round(r[4], 9), round(r[5], 9),
             round(r[6], 9))
            for r in con.execute(
                "SELECT doc_id, format, width, height, mean_r, mean_g, "
                "mean_b FROM (" + MM.decode_images_oracle() + ") "
                f"WHERE doc_id IN ({','.join(map(str, ids))})").fetchall()}
    assert got == want


def test_png_pure_decode_filters_and_dead_letters():
    """RGB8 PNG: the planted writer filters row y with type y%5, so a 6-row
    image exercises None/Sub/Up/Average/Paeth — means only match when every
    defilter is byte-correct. Chunk CRCs are verified; off-contract IHDRs
    (depth/colour/interlace) and truncations dead-letter."""
    import struct
    import zlib

    import pytest

    w, h = 8, 6  # max planted dims; rows carry filters 0,1,2,3,4,0
    px = bytes((11 * 7 + j) % 256 for j in range(w * h * 3))
    raw = MM.encode_png(w, h, px)
    d = MM.decode_image_pure(raw)
    n = w * h
    assert (d["format"], d["width"], d["height"]) == ("png", w, h)
    assert d["mean_r"] == sum((11 * 7 + 3 * p) % 256 for p in range(n)) / n
    assert d["mean_b"] == sum((11 * 7 + 3 * p + 2) % 256
                              for p in range(n)) / n

    # flipped byte inside IDAT -> CRC mismatch -> dead letter
    bad = bytearray(raw)
    bad[40] ^= 0xFF
    with pytest.raises(ValueError, match="image payload"):
        MM.decode_image_pure(bytes(bad))

    # truncated mid-chunk
    with pytest.raises(ValueError, match="image payload"):
        MM.decode_image_pure(raw[:30])

    # valid CRCs but off-contract IHDR (16-bit depth) -> dead letter
    ihdr16 = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
    fake = (b"\x89PNG\r\n\x1a\n" + MM._png_chunk(b"IHDR", ihdr16)
            + MM._png_chunk(b"IDAT", zlib.compress(b"\x00" * 26))
            + MM._png_chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="image payload"):
        MM.decode_image_pure(fake)


def test_wav_pure_decode_and_dead_letters():
    """RIFF/PCM16 WAV: real chunk walk (word alignment, unknown chunks
    skipped), fmt validation, int16 frame stats; off-contract payloads
    dead-letter."""
    import numpy as np
    import pytest

    vals = [0, 100, -100, 32767, -32768, 7]
    raw = MM.encode_wav(2, 9000, np.array(vals, dtype="<i2").tobytes())
    a = MM.decode_audio_pure(raw)
    assert (a["n_channels"], a["sample_rate"], a["n_frames"]) == (2, 9000, 3)
    assert a["peak_abs"] == 32768
    assert a["mean_sample"] == sum(vals) / len(vals)
    assert a["mean_square"] == sum(v * v for v in vals) / len(vals)

    # unknown odd-length chunk before fmt/data must be skipped word-aligned
    import struct
    chunks = raw[12:]  # fmt + data chunks verbatim
    inner = (b"WAVE" + b"LIST" + struct.pack("<I", 3) + b"abc\x00"  # odd+pad
             + chunks)
    padded = b"RIFF" + struct.pack("<I", len(inner)) + inner
    assert MM.decode_audio_pure(padded)["n_frames"] == 3

    for junk in (b"", b"RIFF\x00\x00\x00\x00WAVE", raw[:20],
                 MM.encode_wav(1, 8000, b""),  # zero samples
                 raw.replace(b"fmt ", b"fmx ")):  # no fmt chunk
        with pytest.raises(ValueError, match="audio payload"):
            MM.decode_audio_pure(junk)


def test_gif_lzw_pure_decode_and_dead_letters():
    """GIF87a: real LZW decompression (variable code width, clear/EOI,
    sub-block framing) + palette mapping; a 300-trial roundtrip fuzz over
    code sizes 2-8 pins the encoder/decoder width-growth pairing."""
    import random

    import pytest

    rng = random.Random(1234)
    for _ in range(300):
        mcs = rng.choice([2, 3, 4, 6, 8])
        n = rng.randrange(1, 400)
        idx = bytes(rng.randrange(1 << mcs) for _ in range(n))
        assert MM._lzw_decode(MM._lzw_encode(idx, mcs), mcs, n) == idx

    pal = bytes(b for i in range(16)
                for b in ((i * 17 + 3) % 256, (i * 29 + 7) % 256,
                          (i * 43 + 11) % 256))
    idx = bytes((5 + p) % 16 for p in range(12))
    g = MM.decode_image_pure(MM.encode_gif(4, 3, idx, pal))
    assert (g["format"], g["width"], g["height"]) == ("gif", 4, 3)
    assert g["mean_r"] == sum(((5 + p) % 16 * 17 + 3) % 256
                              for p in range(12)) / 12

    raw = MM.encode_gif(4, 3, idx, pal)
    for junk in (b"GIF87a", raw[:25], raw[:-5],
                 raw.replace(b"\x2c", b"\x2d", 1)):
        with pytest.raises(ValueError, match="image payload"):
            MM.decode_image_pure(junk)


def test_resize_real_is_geometry_sensitive():
    """The 2x2 nearest-neighbor sample reads SPECIFIC coordinates, so BMP's
    bottom-up scanline order is observable (whole-image means are not):
    flipping the decoded row order must change the sampled means."""
    import numpy as np
    import pytest

    d = 2  # bmp by the plant rule (even, not %3)
    w, h = 4 + d % 5, 3 + d % 4
    px_bytes = bytes((d * 7 + j) % 256 for j in range(w * h * 3))
    fmt, px = MM.decode_pixels(MM.encode_bmp(w, h, px_bytes))
    assert fmt == "bmp"
    ys, xs = (np.arange(2) * h) // 2, (np.arange(2) * w) // 2
    right = px[np.ix_(ys, xs)].mean(axis=(0, 1))
    flipped = px[::-1][np.ix_(ys, xs)].mean(axis=(0, 1))
    assert not np.allclose(right, flipped)  # geometry matters
    assert np.allclose(px.mean(axis=(0, 1)), px[::-1].mean(axis=(0, 1)))

    # dead letter: the pure decoder refuses junk loudly
    with pytest.raises(ValueError, match="image payload"):
        MM.decode_pixels(b"junk")


def test_bucket_nrm_kernel_matches_sql_template(spark):
    """Round-8: the fused numpy (bucket, nrm) kernel must be BIT-equal to
    the SQL hyperplane-signature + norm-fold templates it replaced — the
    bucket id decides candidate membership, so even a one-ulp divergence
    would change neardup/lsh_topk results. Dirty components ride along: a
    NaN dot product sets the bit in SQL (NaN >= 0 is TRUE in Spark and
    DuckDB), an infinite one keeps its sign, and a NULL one makes the fold
    NULL (no bit, NULL norm)."""
    import math

    emb = load_table(spark, SF_DIR, "embeddings")
    base = [float(v) for v in emb.orderBy("vec_id").first()["embedding"]]
    inf = float("inf")
    dirty = []
    for vid, edits in enumerate(({0: math.nan}, {3: inf}, {7: -inf},
                                 {1: inf, 2: -inf}, {5: None}),
                                start=1_000_000):
        vec = list(base)
        for i, v in edits.items():
            vec[i] = v
        dirty.append((vid, vec, 0))
    emb = emb.unionByName(spark.createDataFrame(dirty, emb.schema))
    n_dirty = 0
    for planes in (2, 4):
        sql_bucket = F.expr(SIM.lsh_bucket_expr("embedding", planes))
        sql_nrm = F.expr(
            f"sqrt({SIM.SPARK.dot('embedding', 'embedding')})")
        got = (
            emb.select(
                "vec_id",
                SIM._bucket_nrm_udf(planes)(F.col("embedding")).alias("bn"),
                sql_bucket.alias("sb"), sql_nrm.alias("sn"))
            .selectExpr("vec_id", "bn.bucket AS nb", "bn.nrm AS nn",
                        "sb", "sn")
            .collect()
        )
        for r in got:
            assert r["nb"] == r["sb"], (planes, r)
            if r["sn"] is not None and math.isnan(r["sn"]):
                assert r["nn"] is not None and math.isnan(r["nn"]), (
                    planes, r)
            else:
                assert r["nn"] == r["sn"], (planes, r)  # exact, not approx
            n_dirty += r["vec_id"] >= 1_000_000
    assert n_dirty == 2 * len(dirty)


def test_packed_shingles_bijective_vs_string_kernel(spark):
    """Round-8: the packed int64 3-gram kernel must preserve distinct-set
    SIZES and pairwise intersection sizes exactly (it is a bijection on
    windows), including surrogates, non-BMP chars and repeated shingles —
    the quantities Jaccard consumes."""
    import pandas as pd

    texts = [
        None, "", "ab", "abc", "abcabcabc", "aaaaaa",
        "heéllo woérld", "\U0001F600abc\U0001F600ab",
        "ab\ud800cd\ud800ab",  # lone surrogates
        "xyxyxyxyx", "abcdefghij",
    ]
    s = pd.Series(texts)
    got_packed = DD._shingles_packed_udf(3).func(s)
    got_str = DD._shingles_udf(3).func(s)
    for p, q in zip(got_packed, got_str):
        if p is None or q is None:
            assert p is None and q is None
            continue
        assert len(p) == len(set(p))
        assert len(p) == len(set(q)), (p, q)
    # intersection sizes match the string kernel pairwise
    for i in range(len(texts)):
        for j in range(len(texts)):
            p1, p2 = got_packed[i], got_packed[j]
            s1, s2 = got_str[i], got_str[j]
            if p1 is None or p2 is None:
                continue
            assert len(set(p1) & set(p2)) == len(set(s1) & set(s2)), (i, j)


def test_neardup_bucket_block_chunking_is_boundary_exact(spark):
    """Round-8: neardup's bucket-block scorer chunks the probe side to
    bound task memory (<=4M score cells). At bench SF the chunk loop never
    splits, so force a corpus big enough that it must (one dominant bucket,
    probe side >> chunk step) and pin results against the un-chunked plan:
    same pairs, same scores."""
    import numpy as np
    from pyspark.sql import functions as F

    n = 1200  # one-bucket-heavy corpus: probe side ~6000 rows in bucket 15
    rows = []
    rng_state = 12345
    for i in range(n):
        # deterministic LCG jitter around a fixed positive direction so
        # almost everything lands in the all-ones bucket
        vec = []
        for d in range(64):
            rng_state = (1103515245 * rng_state + 12345) % (1 << 31)
            vec.append(1.0 + ((rng_state % 1000) - 500) / 5000.0)
        rows.append((i, vec))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r["a_id"], r["b_id"]): r["score"]
           for r in SIM.neardup_pairs(emb, threshold=0.99).collect()}
    # un-chunked reference: same index-order fold over the whole block
    pdf = emb.toPandas()
    bucket_expr = SIM.lsh_bucket_expr("embedding", SIM.NEARDUP_PLANES)
    b = {r["vec_id"]: r["bkt"] for r in emb.select(
        "vec_id", F.expr(bucket_expr).alias("bkt")).collect()}
    V = {int(r.vec_id): np.array(r.embedding, dtype=np.float64)
         for r in pdf.itertuples()}
    def nrm(v):
        acc = 0.0
        for x in v:
            acc = acc + x * x
        return acc ** 0.5
    nrms = {k: nrm(v) for k, v in V.items()}
    ref = {}
    ids = sorted(V)
    probes = {k: {b[k]} | {b[k] ^ (1 << p) for p in range(SIM.NEARDUP_PLANES)}
              for k in ids}
    for a in ids:
        for bb in ids:
            if a < bb and b[bb] in probes[a]:
                acc = 0.0
                for i in range(64):
                    acc = acc + V[a][i] * V[bb][i]
                den = nrms[a] * nrms[bb]
                if den == 0.0:
                    continue
                import math
                s = math.floor(acc / den * 1000000.0) / 1000000.0
                if s >= 0.99:
                    ref[(a, bb)] = s
    assert got == ref
    # the corpus really exercised chunking: dominant bucket's probe side
    # exceeds the 4M-cell step for its corpus side
    from collections import Counter
    sizes = Counter(b.values())
    big = sizes.most_common(1)[0][1]
    assert big * 5 > (1 << 22) // big
