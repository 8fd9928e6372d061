"""Tests of the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def _split(lo: int, hi: int, parts: int) -> list[tuple[int, int]]:
    edges = np.linspace(lo, hi, parts + 1).astype(int)
    return list(zip(edges[:-1], edges[1:]))


@pytest.mark.parametrize("parts", [3, 7])
def test_mixture_rows_do_not_depend_on_partitioning(parts):
    whole = gen.mixture_rows(5, gen.BASE, 100, 5000, 16, 8)
    pieces = np.concatenate(
        [gen.mixture_rows(5, gen.BASE, lo, hi, 16, 8) for lo, hi in _split(100, 5000, parts)]
    )
    assert np.array_equal(whole, pieces)


def test_token_rows_do_not_depend_on_partitioning():
    whole = gen.token_rows(3, 0, 3000, 40, 4096)
    for parts in (2, 5):
        pieces = np.concatenate(
            [gen.token_rows(3, lo, hi, 40, 4096) for lo, hi in _split(0, 3000, parts)]
        )
        assert np.array_equal(whole, pieces)


def test_seed_and_stream_change_the_rows():
    a = gen.mixture_rows(1, gen.BASE, 0, 64, 8, 4)
    assert not np.array_equal(a, gen.mixture_rows(2, gen.BASE, 0, 64, 8, 4))
    assert not np.array_equal(a, gen.mixture_rows(1, gen.QUERY, 0, 64, 8, 4))


def test_upserts_replace_original_ids_and_add_fresh_ones():
    inp = gen.VectorInputs(1, 1000, 8, 4, 10, 2, n_replace=50, n_add=50, n_upserts=3)
    ids0, vecs0 = inp.upsert(0)
    ids1, _ = inp.upsert(1)
    assert len(set(ids0[:50].tolist())) == 50 and ids0[:50].max() < 1000
    assert ids0[50:].tolist() == list(range(1000, 1050))
    assert ids1[50:].tolist() == list(range(1050, 1100))
    assert vecs0.shape == (100, 8)


def test_exact_topk_matches_brute_force():
    base = gen.mixture_rows(1, gen.BASE, 0, 300, 8, 4)
    live = gen.LiveBase(base, 400)
    q = gen.mixture_rows(1, gen.QUERY, 0, 5, 8, 4)
    d = ((q[:, None, :].astype(np.float64) - base[None].astype(np.float64)) ** 2).sum(-1)
    assert live.exact_topk(q, 10).tolist() == np.argsort(d, 1, kind="stable")[:, :10].tolist()
    live.upsert(np.array([350]), q[:1])
    assert live.exact_topk(q[:1], 1).tolist() == [[350]]


def test_planted_pairs_cover_each_cluster():
    c = gen.DedupCorpus(4, 2000, 40, 4096, 0.1, 40)
    assert sum(c.sizes) == 200 and max(c.sizes) <= 40
    pairs = c.planted_pairs()
    assert len(pairs) == sum((s + 1) * s // 2 for s in c.sizes)
    assert all(a < b for a, b in pairs)
    texts = c.texts()
    by_id = dict(zip(c.doc_ids.tolist(), texts))
    a, b = next(iter(pairs))
    ta, tb = by_id[a].split(), by_id[b].split()
    assert ta[:40] == tb[:40]


@pytest.mark.parametrize("n, p", [(40, 75), (100, 90), (20, 50), (19, None), (1000, 99)])
def test_tail_percentile(n, p):
    assert stats.tail_percentile(n) == p


def test_tail_percentile_leaves_ten_samples_beyond():
    values = list(range(40))
    cut = stats.nearest_rank(values, stats.tail_percentile(len(values)))
    assert sum(v > cut for v in values) == 10


def test_recall_arithmetic():
    assert stats.recall_at_k([[1, 2, 3, 4]], [[1, 2, 5, 6]]) == 0.5
    assert stats.recall_at_k([[1, 2], [3, 4]], [[1, 2], [5, 6]]) == 0.5
    found = {(1, 2), (3, 4), (7, 8)}
    planted = {(1, 2), (3, 4), (5, 6), (9, 10)}
    assert stats.pair_recall(found, planted) == 0.5


def test_quartile_spread():
    q1, med, q3, spread = stats.quartile_spread([1.0, 2.0, 3.0, 4.0, 5.0])
    assert (q1, med, q3) == (1.5, 3.0, 4.5)
    assert spread == 1.0


def _benchmark():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_and_units():
    b = _benchmark()
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"] + b["workloads"]]
    assert all(name.match(n) for n in names)
    assert len(set(m["name"] for m in b["end_to_end"] + b["per_layer"])) == len(
        b["end_to_end"] + b["per_layer"]
    )
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER


def test_benchmark_json_workloads_exist():
    import workloads

    assert {w["name"] for w in _benchmark()["workloads"]} <= set(workloads.WORKLOADS)
