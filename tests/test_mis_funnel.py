"""Round-5 late additions: deterministic Luby MIS (q177) and the
semantic decontamination scan (q180).

Discipline as in test_round5_ops.py: every test recomputes the
expected answer with plain Python on small randomized or hand-built
inputs, so the DuckDB oracles are not the only cross-check.
"""

import hashlib
import random

import pytest

from python_mecab_ner_spark.operators.graph import maximal_independent_set


def _pri(v):
    return hashlib.md5(str(v).encode()).hexdigest() + "#" + str(v)


def _py_mis(edges):
    """Python twin of the deterministic round trajectory."""
    adj = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    active = set(adj)
    out, r = {}, 0
    while active:
        r += 1
        win = {v for v in active
               if all(_pri(v) < _pri(u) for u in adj[v] if u in active)}
        out.update((v, r) for v in win)
        rem = set()
        for w in win:
            rem |= adj[w] & active
        active -= win
        active -= rem
    return out, r


def test_mis_random_graph_matches_python_twin(spark):
    rng = random.Random(17)
    edges = list({(rng.randrange(60), rng.randrange(60))
                  for _ in range(150)})
    edges = [(a, b) for a, b in edges if a != b]
    want, rounds = _py_mis(edges)
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.node: r.mis_round
           for r in maximal_independent_set(df).collect()}
    assert got == want  # round trajectory, not just membership
    # independence: no MIS edge; maximality: every non-member has a
    # MIS neighbor
    mis = set(got)
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    assert not any(a in mis and b in mis for a, b in edges)
    assert all(adj[v] & mis for v in adj if v not in mis)


def test_mis_raises_on_round_exhaustion(spark):
    # a 40-node path needs >1 round; max_rounds=1 must raise, never
    # return a partial (silently non-maximal) set
    edges = [(i, i + 1) for i in range(40)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    with pytest.raises(Exception, match="max_rounds"):
        maximal_independent_set(df, max_rounds=1).collect()


def test_mis_empty_graph(spark):
    df = spark.createDataFrame([(1, 1)], ["src", "dst"])  # self-loop only
    assert maximal_independent_set(df).collect() == []


def test_semantic_decontaminate_python_twin(spark):
    from python_mecab_ner_spark.operators.ann import (
        QUANT_SCALE, semantic_decontaminate)
    rng = random.Random(31)
    dim = 16

    def vec():
        return [rng.uniform(-1, 1) for _ in range(dim)]

    bench = [(i, vec()) for i in range(5)]
    corpus = [(100 + i, vec()) for i in range(40)]
    # plant a paraphrase: corpus 999 = bench 2 + tiny noise
    corpus.append((999, [x + 0.01 for x in bench[2][1]]))
    cdf = spark.createDataFrame(corpus, ["vec_id", "embedding"])
    bdf = spark.createDataFrame(bench, ["vec_id", "embedding"])
    got = {r.vec_id: (r.n_hits, r.max_dot)
           for r in semantic_decontaminate(cdf, bdf, t_num=3,
                                           t_den=10).collect()}

    def q(v):
        import math
        return [max(-128, min(127, math.floor(float(x) * QUANT_SCALE)))
                for x in v]

    want = {}
    for cid, cv in corpus:
        cq = q(cv)
        cn2 = sum(x * x for x in cq)
        hits = []
        for _, bv in bench:
            bq = q(bv)
            bn2 = sum(x * x for x in bq)
            dot = sum(a * b for a, b in zip(cq, bq))
            if dot > 0 and dot * dot * 100 >= 9 * cn2 * bn2:
                hits.append(dot)
        if hits:
            want[cid] = (len(hits), max(hits))
    assert got == want
    assert 999 in got  # the planted paraphrase is flagged
