"""Seeded input generator for the benchmark.

Every table the engine sees in a benchmark run is made here from one integer
seed: the same seed gives byte-identical tables, another seed gives other
tables. Tables are written with pyarrow as parquet, timestamps as
microseconds (Spark refuses pandas' default nanosecond parquet timestamps).

Tables, one directory per seed:

- ``events``: the engine's source table; the transcripts derivation
  (``sources.transcripts``) turns it into turns. ``user_id % 10 < 3`` folds
  ~30% of rows into ``conv-hot`` and ``event_id % 37 == 0`` makes every 37th
  payload corrupt, so the pipeline sees skew and dead-letter rows.
- ``flat``: flat turn rows (the decoded shape of ``turn_wire``) with a
  unique ``rid``, input of the wire workloads.
- ``documents``: a corpus over a Zipf vocabulary of several thousand random
  words, with planted near-duplicate families and one boilerplate family
  larger than ``dedup.LSH_MAX_BUCKET``.
- ``embeddings``: 64-d vectors, random background plus planted
  near-duplicate families.

The planted family memberships are returned next to the paths, so checks can
test that each family is recovered.
"""

from __future__ import annotations

import json
import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
ROLES = np.array(["user", "assistant", "system"])
TOOLS = np.array(["none", "search", "browser", "calc", "code", "sql"])
EMB_DIM = 64


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per table, so resizing one table leaves the others
    unchanged for the same seed."""
    return np.random.default_rng([seed, sum(map(ord, stream)), len(stream)])


def events_table(seed: int, n: int, n_users: int = 4000) -> pa.Table:
    rng = _rng(seed, "events")
    gaps_us = rng.integers(1, 20_000_000, size=n)  # ~10 s mean gap
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps_us)
    value = rng.integers(0, 10_000, size=n) / 100.0
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, size=n, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, size=n)]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in rng.integers(0, 100, size=n)]),
    })


def flat_table(seed: int, n: int, n_convs: int = 5000) -> pa.Table:
    """Flat turn rows in the parsed ``turn_payload`` column types."""
    rng = _rng(seed, "flat")
    conv = rng.integers(0, n_convs, size=n)
    # dense per-conversation turn numbers, in row order
    order = np.argsort(conv, kind="stable")
    counts = np.bincount(conv, minlength=n_convs)
    starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
    turn = np.empty(n, dtype=np.int32)
    turn[order] = np.arange(n) - np.repeat(starts, counts) + 1
    unicorn = rng.random(n) < 0.5
    horn = rng.integers(0, 10, size=n).astype(np.int32)
    wings = rng.integers(0, 15, size=n).astype(np.int32)
    return pa.table({
        "rid": pa.array(np.arange(n, dtype=np.int64)),
        "conv_id": pa.array([f"conv-{c}" for c in conv]),
        "turn_idx": pa.array(turn),
        "role": pa.array(ROLES[rng.integers(0, 3, size=n)]),
        "tool": pa.array(TOOLS[rng.integers(0, 6, size=n)]),
        "colour": pa.array(rng.integers(0, 7, size=n).astype(np.int32)),
        "cents": pa.array(rng.integers(-10**9, 10**9, size=n,
                                       dtype=np.int64)),
        "body_type": pa.array(np.where(unicorn, "unicorn", "pegasus")),
        "horn": pa.array(horn, mask=~unicorn),
        "wings": pa.array(wings, mask=unicorn),
        "msg": pa.array([f"m{i}" for i in rng.integers(0, 10**9, size=n)]),
    })


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    letters = np.array(list(string.ascii_lowercase))
    words: set[str] = set()
    while len(words) < size:
        k = int(rng.integers(3, 9))
        words.add("".join(letters[rng.integers(0, 26, size=k)]))
    return sorted(words)


def documents_table(seed: int, n_background: int, n_families: int,
                    family_size: int, boilerplate: int,
                    vocab_size: int = 5000) -> tuple[pa.Table, list[list[int]]]:
    """Background docs + planted near-dup families + one boilerplate family.

    Background words are Zipf-distributed over ``vocab_size`` words, so two
    background docs share few character 3-grams and background pairs above
    Jaccard 0.5 are rare. A family member differs from its 80-120 word base
    in one word, so two members share nearly all character 4-shingles and
    MinHash LSH links them with near certainty; the boilerplate family is
    ``boilerplate`` identical copies. Doc ids are shuffled so families are
    not contiguous. Returns the table and the doc-id lists of every family,
    boilerplate last.
    """
    rng = _rng(seed, "documents")
    vocab = np.array(_vocabulary(rng, vocab_size))
    ranks = np.arange(1, vocab_size + 1, dtype=np.float64)
    p = 1.0 / ranks ** 1.05
    p /= p.sum()

    def doc(n_words: int) -> list[str]:
        return list(vocab[rng.choice(vocab_size, size=n_words, p=p)])

    texts: list[str] = [" ".join(doc(int(rng.integers(30, 80))))
                        for _ in range(n_background)]
    groups: list[list[int]] = []
    for _ in range(n_families):
        base = doc(int(rng.integers(80, 120)))
        members = []
        for _ in range(family_size):
            words = list(base)
            words[int(rng.integers(0, len(words)))] = \
                vocab[rng.integers(0, vocab_size)]
            members.append(len(texts))
            texts.append(" ".join(words))
        groups.append(members)
    plate = ("terms of service apply all rights reserved subscribe to our "
             "newsletter for updates cookie policy privacy notice contact us "
             f"about this site edition {seed}")
    groups.append(list(range(len(texts), len(texts) + boilerplate)))
    texts.extend([plate] * boilerplate)

    ids = rng.permutation(len(texts))  # position -> doc_id
    order = np.argsort(ids)
    table = pa.table({
        "doc_id": pa.array(ids[order]),
        "text": pa.array([texts[i] for i in order]),
        "lang": pa.array(["en"] * len(texts)),
        "source": pa.array([f"src{i % 7}" for i in ids[order]]),
        "n_chars": pa.array(np.array([len(texts[i]) for i in order],
                                     dtype=np.int64)),
    })
    families = [sorted(int(ids[i]) for i in g) for g in groups]
    return table, families


def embeddings_table(seed: int, n_background: int, n_families: int,
                     family_size: int, noise: float = 0.02
                     ) -> tuple[pa.Table, list[list[int]]]:
    """Random unit-scale background vectors plus families of a base vector
    with small Gaussian noise (cosine ~0.99 inside a family; random 64-d
    pairs sit near 0)."""
    rng = _rng(seed, "embeddings")
    vecs = [rng.normal(0, 0.125, size=(n_background, EMB_DIM))]
    groups = []
    nxt = n_background
    for _ in range(n_families):
        base = rng.normal(0, 0.125, size=EMB_DIM)
        vecs.append(base + rng.normal(0, noise * 0.125,
                                      size=(family_size, EMB_DIM)))
        groups.append(list(range(nxt, nxt + family_size)))
        nxt += family_size
    mat = np.concatenate(vecs).astype(np.float32)
    perm = rng.permutation(len(mat))  # row -> vec_id
    order = np.argsort(perm)
    flat = pa.array(mat[order].reshape(-1))
    table = pa.table({
        "vec_id": pa.array(np.arange(len(mat), dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, len(flat) + 1, EMB_DIM, dtype=np.int32)),
            flat),
        "label": pa.array((perm[order] % 5).astype(np.int32)),
    })
    families = [sorted(int(perm[i]) for i in g) for g in groups]
    return table, families


def write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=1 << 16)


def generate(out_dir: str, seed: int, sizes: dict) -> dict:
    """Write every table named in ``sizes`` under ``out_dir`` and return a
    manifest: table name -> parquet path, plus the planted families.

    ``sizes`` keys: ``events`` and ``flat`` (row counts), ``documents`` and
    ``embeddings`` (dicts of the generator keyword arguments)."""
    os.makedirs(out_dir, exist_ok=True)
    man: dict = {"seed": seed, "paths": {}, "families": {}}
    if "events" in sizes:
        man["paths"]["events"] = os.path.join(out_dir, "events.parquet")
        write(events_table(seed, sizes["events"]), man["paths"]["events"])
    if "flat" in sizes:
        man["paths"]["flat"] = os.path.join(out_dir, "flat.parquet")
        write(flat_table(seed, sizes["flat"]), man["paths"]["flat"])
    if "documents" in sizes:
        t, fam = documents_table(seed, **sizes["documents"])
        man["paths"]["documents"] = os.path.join(out_dir, "documents.parquet")
        write(t, man["paths"]["documents"])
        man["families"]["documents"] = fam
    if "embeddings" in sizes:
        t, fam = embeddings_table(seed, **sizes["embeddings"])
        man["paths"]["embeddings"] = os.path.join(out_dir,
                                                  "embeddings.parquet")
        write(t, man["paths"]["embeddings"])
        man["families"]["embeddings"] = fam
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(man, f)
    return man
