"""Round-5 continuation: iterated-MIS greedy coloring (q205), against
a brute-force Python twin."""

import hashlib
import random

import pytest

from python_mecab_ner_spark.operators.graph import mis_coloring


def _pri(v):
    return hashlib.md5(str(v).encode()).hexdigest() + "#" + str(v)


def _py_coloring(edges):
    adj = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    remaining = set(adj)
    out, color = {}, 0
    while remaining:
        color += 1
        active = {v for v in remaining
                  if adj[v] & remaining}  # edge-bearing nodes
        isolated = remaining - active
        mis = set()
        while active:
            win = {v for v in active
                   if all(_pri(v) < _pri(u)
                          for u in adj[v] if u in active)}
            mis |= win
            rem = set()
            for w in win:
                rem |= adj[w] & active
            active -= win | rem
        for v in mis | isolated:
            out[v] = color
        remaining -= mis | isolated
        assert color < 64
    return out


def _run_coloring(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    return {r["node"]: r["color"]
            for r in mis_coloring(df, **kw).collect()}


def test_coloring_random_matches_python(spark):
    rng = random.Random(17)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(80)]
    got = _run_coloring(spark, edges)
    assert got == _py_coloring(edges)
    # proper coloring: no monochromatic edge
    for a, b in edges:
        if a != b:
            assert got[a] != got[b]


def test_coloring_star_two_colors(spark):
    edges = [(0, i) for i in range(1, 12)]
    got = _run_coloring(spark, edges)
    assert got == _py_coloring(edges)
    assert len(set(got.values())) == 2  # hub one color, leaves other


def test_coloring_budget_raises(spark):
    # K4 needs 4 colors; a 2-color budget must raise, not truncate
    edges = [(i, j) for i in range(4) for j in range(i)]
    with pytest.raises(RuntimeError):
        _run_coloring(spark, edges, max_colors=2)


def test_coloring_empty(spark):
    df = spark.createDataFrame([], "src bigint, dst bigint")
    assert mis_coloring(df).count() == 0
