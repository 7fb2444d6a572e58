"""Tests of the benchmark's own pieces (no Spark session needed). Run
from the repository root, so the engine is importable:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os

import gen
import tracing


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _generate(root: str, seed: int) -> dict[str, bytes]:
    gen.write_etl_days(os.path.join(root, "days"), seed, days=3, per_day=40)
    corpus = gen.make_curate_corpus(seed, docs=300, viral=12, batch=30)
    gen.write_docs(os.path.join(root, "corpus"), corpus["corpus"], parts=2)
    gen.write_docs(os.path.join(root, "batch"), corpus["batch"], parts=1)
    return _tree(root)


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = _generate(str(tmp_path / "a"), seed=7)
    b = _generate(str(tmp_path / "b"), seed=7)
    c = _generate(str(tmp_path / "c"), seed=8)
    assert a == b
    assert a.keys() == c.keys()
    assert all(a[k] != c[k] for k in a)


def test_planted_near_dups_clear_the_threshold():
    from workloads import THRESHOLD, jaccard, shingles

    corpus = gen.make_curate_corpus(3, docs=500, viral=20, batch=50)
    text = dict(corpus["corpus"]) | dict(corpus["batch"])
    pairs = corpus["planted"] + corpus["batch_planted"]
    assert min(jaccard(shingles(text[a]), shingles(text[b])) for a, b in pairs) >= THRESHOLD


def test_stage_time_is_the_union_of_intervals():
    # two overlapping stages and one apart: 0-3 and 2-4 cover 4 s, not 5
    assert tracing.union_length([(0, 3), (2, 4), (10, 11)]) == 5


def test_self_time_subtracts_covered_child_time():
    t = tracing.Tracer("t")
    t.spans = [
        {"id": 1, "parent": None, "name": "outer", "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "name": "inner", "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "name": "inner", "start": 3.0, "end": 6.0},
    ]
    # the children overlap on 3-4: they cover 1-6, 5 s of the outer 10
    assert t.self_times() == {1: 5.0, 2: 3.0, 3: 3.0}


def test_etl_mix_follows_the_documented_shares(tmp_path):
    import json

    e = gen.write_etl_days(str(tmp_path), seed=5, days=4, per_day=2000)
    rows = {}
    for name in sorted(os.listdir(tmp_path)):
        with open(tmp_path / name) as f:
            rows.update((r["_id"], r) for r in map(json.loads, f))
    n = len(rows)
    assert n == e["ids"]
    shares = {k: v / n for k, v in e["labels"].items()}
    assert abs(shares["positive"] - 0.45) < 0.02
    assert abs(shares["neutral"] - 0.30) < 0.03
    assert abs(shares["negative"] - 0.25) < 0.02
    assert abs(e["located"] / n - 0.80) < 0.03
    assert abs(sum(r["location"] is None for r in rows.values()) / n - 0.80) < 0.02
    assert abs(sum(len(r["text"].strip()) < 5 for r in rows.values()) / n - 0.02) < 0.01
