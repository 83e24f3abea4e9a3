"""Every output check can fail, and the benchmark's metric tables agree with
BENCHMARK.json."""

from __future__ import annotations

import copy
import json
import os
import subprocess
import sys

import pytest

from perfbench import run
from perfbench import workloads as WL

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def test_metric_tables_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} \
        == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} \
        == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(WL.WORKLOADS)


def _dedup_case():
    got = {
        "jaccard": [[1, 2, 0.9], [5, 6, 0.75]],
        "clusters": [[1, 1, True], [2, 1, False], [3, 3, True],
                     [4, 3, False], [5, 5, True], [6, 5, False]],
        "simhash": [[1, 2, 0]],
        "neardup": [[10, 11, 0.99], [10, 12, 0.99], [11, 12, 0.99]],
        "topk": [[0, 10, 0.5, 1]],
    }
    families = {"documents": [[1, 2], [3, 4]],
                "embeddings": [[10, 11, 12]]}

    class Ctx:
        expected = copy.deepcopy(got)
        inputs = {"families": families}

    return Ctx(), got


def test_dedup_check_passes_on_exact_output():
    ctx, got = _dedup_case()
    assert WL.DedupCorpus().check(ctx, got)


@pytest.mark.parametrize("op", ["jaccard", "clusters", "simhash", "neardup",
                                "topk"])
def test_dedup_check_fails_on_a_dropped_row(op):
    ctx, got = _dedup_case()
    got[op] = got[op][1:]
    assert not WL.DedupCorpus().check(ctx, got)


def test_dedup_check_fails_on_a_split_family():
    ctx, got = _dedup_case()
    got["clusters"][3] = [4, 4, True]  # doc 4 leaves doc 3's cluster
    ctx.expected = copy.deepcopy(got)  # even when the oracle agrees
    assert not WL.DedupCorpus().check(ctx, got)


@pytest.mark.parametrize("workload,perturb", [
    ("pipeline_batch", "drop_row"),
    ("wire_codec", "flip_byte"),
])
def test_perturbed_output_raises_failed_frac(workload, perturb):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "1", "--size", "tiny",
         "--perturb", perturb],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["correct"] is False
    assert res["attempted"] >= 1 and res["failed"] == res["attempted"]
    assert f"failed_frac {1:.4f}" in proc.stdout
