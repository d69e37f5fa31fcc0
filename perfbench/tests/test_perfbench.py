"""Self-tests of the benchmark (no Spark needed):

    python3 -m pytest perfbench/tests -q

* the same seed gives identical workload inputs, another seed other inputs;
* every metric in BENCHMARK.json is well named and has a unit, and the
  metric functions produce exactly the declared sets;
* the oracle comparison accepts a correct answer (ties in any order) and
  flags corrupted ones.  Corruption is applied to the benchmark's
  comparison input, never to the program.
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import workload as W  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _inputs(seed: int) -> dict:
    docs = W.make_corpus(500, seed)
    bands = W.term_bands(docs)
    return {
        "docs": docs,
        "queries": W.make_queries(docs, bands, 50, seed, "pool"),
        "stream": W.search_stream(50, 90, 1.0, seed),
        "rounds": W.make_rounds(docs, 3, 0.02, seed),
    }


def test_same_seed_same_inputs():
    assert _inputs(7) == _inputs(7)


def test_other_seed_other_inputs():
    a, b = _inputs(7), _inputs(8)
    for key in a:
        assert a[key] != b[key], key


def test_stream_repeats_exactly_a_third():
    s = W.search_stream(400, 90, 1.0, 3)
    seen: set[int] = set()
    repeats = 0
    for q in s:
        repeats += q in seen
        seen.add(q)
    assert repeats == 30


def test_rounds_change_the_declared_docs():
    docs = W.make_corpus(300, 5)
    prev = {d.key: d for d in docs}
    for r in W.make_rounds(docs, 3, 0.05, 5):
        cur = {d.key: d for d in r.snapshot}
        assert {d.key for d in r.deleted} == prev.keys() - cur.keys()
        assert {d.key for d in r.added} == cur.keys() - prev.keys()
        assert {d.key for d in r.modified} == {
            k for k in cur.keys() & prev.keys() if cur[k] != prev[k]
        }
        prev = cur


def test_metric_names_and_units():
    spec = _spec()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME.fullmatch(m["name"]), m["name"]
        assert UNIT.fullmatch(m["unit"]), m
        assert m["better"] in ("higher", "lower")
    assert {"name": "setup_s", "unit": "s", "better": "lower"}.items() <= next(
        m for m in spec["end_to_end"] if m["name"] == "setup_s"
    ).items()
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25


def _synthetic_ops() -> list[dict]:
    ops = [
        {"kind": "search", "ms": 100.0 + i, "span": 10 + i, "first": i == 0,
         "segments": 2}
        for i in range(6)
    ]
    ops += [
        {"kind": "update", "ms": 900.0, "span": 20, "changed": 30},
        {"kind": "compact", "ms": 300.0, "span": 21},
    ]
    return ops


def test_metric_functions_match_declared_sets():
    pytest.importorskip("pyspark")
    from perfbench import scenarios as S

    spec = _spec()

    class Fake(S.Workload):
        def __init__(self):
            pass

        def space_amp(self, ctx):
            return 1.5

    setup_ops = [{"kind": "create", "ms": 4000.0, "span": 1}]
    e2e = S.end_to_end(Fake(), None, setup_ops, _synthetic_ops(), 12.0, 2000.0)
    assert set(e2e) == {m["name"] for m in spec["end_to_end"]}
    assert all(v > 0 for v in e2e.values())

    spans = [{"id": 1, "op": 1, "name": "create", "ms": 4000.0},
             {"id": 2, "op": 1, "name": "build", "ms": 3900.0}]
    spans += [{"id": op["span"], "op": op["span"], "name": op["kind"], "ms": op["ms"]}
              for op in _synthetic_ops()]
    spans.append({"id": 99, "op": 11, "name": "cache.get", "ms": 0.1, "hit": True})
    layers = S.layers(spans, setup_ops, _synthetic_ops(), _synthetic_ops(), 5.0, 80.0)
    assert set(layers) == {m["name"] for m in spec["per_layer"]}
    assert layers["cache.hit_ratio"] == 1.0
    assert layers["delta_store.segments"] == 2.0


# -- oracle comparison -------------------------------------------------------


@pytest.fixture(scope="module")
def orc():
    from perfbench.oracle import ReplayOracle

    o = ReplayOracle()
    o.load(
        [
            W.Doc("r", "a.txt", "apple apple banana"),
            W.Doc("r", "b.txt", "apple cherry"),
            W.Doc("r", "c.txt", "apple cherry"),  # ties with b.txt
            W.Doc("r", "d.txt", "banana cherry"),
            W.Doc("r", "e.txt", "kiwi"),
        ]
    )
    return o


def test_compare_accepts_the_oracle_answer(orc):
    from perfbench.oracle import compare

    exp = orc.expected("apple", 10)
    assert [p for p, _ in exp][0] == "r/a.txt"
    assert compare(list(exp), exp, 10) is None
    # equal scores may come back in any order
    swapped = [exp[0], exp[2], exp[1]]
    assert swapped[1][1] == swapped[2][1]
    assert compare(swapped, exp, 10) is None


def test_compare_tie_cut_by_top_k(orc):
    from perfbench.oracle import compare

    exp = orc.expected("apple", 2)
    assert len(exp) == 3  # extended through the tie at rank 2
    assert compare([exp[0], exp[2]], exp, 2) is None
    assert compare([exp[0], ("r/zzz.txt", exp[1][1])], exp, 2) is not None


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda h: h[:-1],  # a hit missing
        lambda h: h + [("r/x.txt", h[-1][1] / 2)],  # an extra hit
        lambda h: [(h[0][0], h[0][1] * (1 + 1e-6))] + h[1:],  # score off
        lambda h: [("r/zzz.txt", h[0][1])] + h[1:],  # wrong path
        lambda h: [h[1], h[0]] + h[2:],  # rank order broken
        lambda h: [h[0], h[1], h[1]] + h[3:],  # duplicate path in a tie
    ],
)
def test_compare_flags_corruption(orc, corrupt):
    from perfbench.oracle import compare

    exp = orc.expected("apple", 10)
    assert compare(corrupt(list(exp)), exp, 10) is not None


def test_replay_matches_a_fresh_load():
    from perfbench.oracle import ReplayOracle, compare

    docs = W.make_corpus(300, 9)
    rounds = W.make_rounds(docs, 2, 0.05, 9)
    replayed = ReplayOracle()
    replayed.load(docs)
    for r in rounds:
        replayed.apply(r)
    fresh = ReplayOracle()
    fresh.load(rounds[-1].snapshot)
    for q in W.make_queries(list(rounds[-1].snapshot), W.term_bands(docs), 20, 9, "t"):
        assert compare(replayed.expected(q, 10)[:10], fresh.expected(q, 10), 10) is None
