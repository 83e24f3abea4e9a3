"""The seeded input generator: determinism and the properties the
workloads depend on. No Spark; the transcripts derivation is run through
DuckDB from the engine's own SQL text."""

from __future__ import annotations

import hashlib
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import gen

SIZES = {
    "events": 20_000,
    "flat": 3_000,
    "documents": dict(n_background=100, n_families=4, family_size=3,
                      boilerplate=1030),
    "embeddings": dict(n_background=200, n_families=3, family_size=4,
                       noise=0.003),
}


def _digest(man: dict) -> dict[str, str]:
    out = {}
    for name, path in man["paths"].items():
        t = pq.read_table(path)
        out[name] = hashlib.sha256(
            repr(t.to_pydict()).encode()).hexdigest()
    return out


@pytest.fixture(scope="module")
def seeded(tmp_path_factory):
    root = tmp_path_factory.mktemp("gen")
    return {
        key: gen.generate(str(root / key), seed, SIZES)
        for key, seed in (("a", 7), ("a2", 7), ("b", 8))
    }


def test_same_seed_same_tables(seeded):
    assert _digest(seeded["a"]) == _digest(seeded["a2"])
    assert seeded["a"]["families"] == seeded["a2"]["families"]


def test_other_seed_other_tables(seeded):
    a, b = _digest(seeded["a"]), _digest(seeded["b"])
    assert all(a[k] != b[k] for k in a)


def test_timestamps_are_microseconds(seeded):
    schema = pq.read_schema(seeded["a"]["paths"]["events"])
    assert schema.field("ts").type == pa.timestamp("us")


def test_hot_and_corrupt_shares(seeded):
    from logstash_codec_protobuf_spark.sources.transcripts import (
        TRANSCRIPTS_SQL,
    )

    con = duckdb.connect()
    con.execute("CREATE VIEW events AS SELECT * FROM "
                f"'{seeded['a']['paths']['events']}'")
    n, hot, corrupt = con.execute(
        f"SELECT count(*), count_if(conv_id = 'conv-hot'), "
        f"count_if(text LIKE 'CORRUPT|%') FROM ({TRANSCRIPTS_SQL})"
    ).fetchone()
    assert n == SIZES["events"]
    assert abs(hot / n - 0.30) < 0.02
    assert corrupt == -(-n // 37)  # every 37th event id, from 0


def test_planted_families(seeded):
    from logstash_codec_protobuf_spark.operators.dedup import LSH_MAX_BUCKET

    fam = seeded["a"]["families"]
    docs = pq.read_table(seeded["a"]["paths"]["documents"]).to_pydict()
    text = dict(zip(docs["doc_id"], docs["text"]))
    *planted, plate = fam["documents"]
    assert len(planted) == SIZES["documents"]["n_families"]
    assert all(len(f) == SIZES["documents"]["family_size"] for f in planted)
    # the boilerplate family is larger than the LSH bucket cap, identical
    assert len(plate) > LSH_MAX_BUCKET
    assert len({text[d] for d in plate}) == 1
    # members of a family differ from each other in at most a few words
    for f in planted:
        words = [text[d].split() for d in f]
        assert all(len(w) == len(words[0]) for w in words)
        diff = sum(x != y for x, y in zip(words[0], words[1]))
        assert diff <= 2
    assert len(fam["embeddings"]) == SIZES["embeddings"]["n_families"]


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_planted_document_families_are_recoverable(tmp_path, seed):
    """The oracle's star-edge graph joins every planted family, so the
    benchmark's family check cannot fail on a correct engine."""
    from logstash_codec_protobuf_spark.operators import dedup as DD
    from perfbench import oracles, workloads

    man = gen.generate(str(tmp_path), seed, {
        "documents": workloads.DEDUP_SIZES["default"]["documents"]})
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"'{man['paths']['documents']}'")
    edges = con.execute(DD.minhash_star_edges_oracle()).fetchall()
    nodes = [r[0] for r in con.execute("SELECT doc_id FROM documents")
             .fetchall()]
    cluster = {r[0]: r[1] for r in oracles.components(edges, nodes)}
    for fam in man["families"]["documents"]:
        assert len({cluster[d] for d in fam}) == 1


def test_vocabulary_is_wide(seeded):
    docs = pq.read_table(seeded["a"]["paths"]["documents"]).to_pydict()
    words = {w for t in docs["text"] for w in t.split()}
    assert len(words) > 1000


def test_flat_rows_are_unique_turns(seeded):
    t = pq.read_table(seeded["a"]["paths"]["flat"]).to_pydict()
    keys = set(zip(t["conv_id"], t["turn_idx"]))
    assert len(keys) == SIZES["flat"]
    assert t["rid"] == list(range(SIZES["flat"]))
    # exactly one oneof member is set per row
    assert all((h is None) != (w is None)
               for h, w in zip(t["horn"], t["wings"]))


def test_manifest_paths_exist(seeded):
    assert all(os.path.exists(p) for p in seeded["a"]["paths"].values())
