"""Round-5 late additions: deterministic Luby MIS (q177) and the
first-touch conversion funnel (q178).

Discipline as in test_round5_ops.py: every test recomputes the
expected answer with plain Python on small randomized or hand-built
inputs, so the DuckDB oracles are not the only cross-check.
"""

import datetime
import hashlib
import random

import pytest

from python_mecab_ner_spark.operators.graph import maximal_independent_set
from python_mecab_ner_spark.operators.spans import funnel_steps


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


def _ev(spark, rows):
    t0 = datetime.datetime(2024, 1, 1)
    data = [(u, t0 + datetime.timedelta(seconds=s), et)
            for u, s, et in rows]
    return spark.createDataFrame(data, ["user_id", "ts", "event_type"])


def test_funnel_first_touch_semantics(spark):
    rows = [
        # u1 full chain inside the gaps
        (1, 0, "view"), (1, 50, "click"), (1, 100, "buy"),
        # u2: click too late after the FIRST view; the second view
        # would have converted — documented first-touch miss
        (2, 0, "view"), (2, 500, "view"), (2, 520, "click"),
        # u3 reaches click, buy outside gap2
        (3, 0, "view"), (3, 30, "click"), (3, 1000, "buy"),
        # u4 never views (click alone cannot enter the funnel)
        (4, 0, "click"), (4, 10, "buy"),
    ]
    out = funnel_steps(_ev(spark, rows), ["view", "click", "buy"],
                       [100, 100])
    got = {r.step: r for r in out.collect()}
    assert [got[s].n_users for s in ("view", "click", "buy")] == [3, 2, 1]
    assert got["view"].step_idx == 1
    # 4 distinct users overall -> view conv 750000; click 2/3; buy 1/2
    assert got["view"].conv_prev_ppm == 750_000
    assert got["click"].conv_prev_ppm == 666_666
    assert got["buy"].conv_prev_ppm == 500_000
    assert got["buy"].conv_first_ppm == 333_333
    assert got["view"].conv_first_ppm == 1_000_000


def test_funnel_boundary_is_inclusive_and_strictly_after(spark):
    rows = [
        (1, 0, "a"), (1, 0, "b"),      # same instant: NOT strictly after
        (2, 0, "a"), (2, 100, "b"),    # exactly at the gap: inclusive
        (3, 0, "a"), (3, 101, "b"),    # one past the gap: out
    ]
    out = funnel_steps(_ev(spark, rows), ["a", "b"], [100])
    got = {r.step: r.n_users for r in out.collect()}
    assert got == {"a": 3, "b": 1}


def test_cohort_retention_python_twin(spark):
    from python_mecab_ner_spark.operators.spans import cohort_retention
    rng = random.Random(9)
    t0 = datetime.date(2024, 1, 1)
    rows = [(rng.randrange(25),
             datetime.datetime.combine(
                 t0 + datetime.timedelta(days=rng.randrange(35)),
                 datetime.time(rng.randrange(24))), "e")
            for _ in range(400)]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    got = {(r.cohort_period, r.period_offset):
           (r.n_active, r.retention_ppm)
           for r in cohort_retention(df).collect()}
    # python twin
    per = {}
    for u, ts, _ in rows:
        p = (ts.date() - datetime.date(1970, 1, 1)).days // 7
        per.setdefault(u, set()).add(p)
    first = {u: min(ps) for u, ps in per.items()}
    size = {}
    for u, c in first.items():
        size[c] = size.get(c, 0) + 1
    want = {}
    for u, ps in per.items():
        for p in ps:
            k = (first[u], p - first[u])
            want[k] = want.get(k, 0) + 1
    want = {k: (n, n * 1_000_000 // size[k[0]]) for k, n in want.items()}
    assert got == want
    # every cohort's offset-0 row is exactly 1e6
    assert all(v[1] == 1_000_000 for k, v in got.items() if k[1] == 0)


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


def test_event_transitions_python_twin(spark):
    from python_mecab_ner_spark.operators.spans import event_transitions
    rng = random.Random(3)
    t0 = datetime.datetime(2024, 1, 1)
    rows = [(i, rng.randrange(8),
             t0 + datetime.timedelta(seconds=rng.randrange(50)),
             "t%d" % rng.randrange(4)) for i in range(200)]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts",
                                      "event_type"])
    got = {(r.src_type, r.dst_type): (r.n, r.prob_ppm)
           for r in event_transitions(df,
                                      tiebreak_col="event_id").collect()}
    seqs = {}
    for eid, u, ts, et in sorted(rows, key=lambda r: (r[2], r[0])):
        seqs.setdefault(u, []).append(et)
    n = {}
    for s in seqs.values():
        for a, b in zip(s, s[1:]):
            n[(a, b)] = n.get((a, b), 0) + 1
    tot = {}
    for (a, _), c in n.items():
        tot[a] = tot.get(a, 0) + c
    want = {k: (c, c * 1_000_000 // tot[k[0]]) for k, c in n.items()}
    assert got == want


