"""Round-5 operators: scale-safe global rank, sorted-neighborhood ER
blocking, k-truss peel.

Discipline as in test_graph_ontology_round4.py: every test recomputes
the expected answer with plain Python on small randomized or
hand-built inputs, so the DuckDB oracles (q171, q173) are not the only
cross-check.
"""

import itertools
import random

from python_mecab_ner_spark.operators.dedup import (
    global_rank, sorted_neighborhood_pairs)
from python_mecab_ner_spark.operators.graph import _edge_support, ktruss


# ---------------------------------------------------------------- rank

def test_global_rank_matches_sorted_enumerate(spark):
    rng = random.Random(5)
    rows = [("k%02d" % rng.randrange(20), i) for i in range(300)]
    df = spark.createDataFrame(rows, ["key", "id"]).repartition(7)
    ranked = global_rank(df, ["key", "id"])
    got = {(r.key, r.id): r.rnk for r in ranked.collect()}
    ranked.unpersist_input()
    want = {kv: i + 1 for i, kv in enumerate(sorted(rows))}
    assert got == want


def test_global_rank_explicit_num_parts(spark):
    rows = [("k%02d" % (i % 9), i) for i in range(100)]
    df = spark.createDataFrame(rows, ["key", "id"])
    ranked = global_rank(df, ["key", "id"], num_parts=3)
    got = {(r.key, r.id): r.rnk for r in ranked.collect()}
    ranked.unpersist_input()
    assert got == {kv: i + 1 for i, kv in enumerate(sorted(rows))}


def test_global_rank_single_row_and_release(spark):
    df = spark.createDataFrame([("a", 1)], ["key", "id"])
    ranked = global_rank(df, ["key", "id"])
    assert ranked.collect()[0].rnk == 1
    ranked.unpersist_input()   # leak-free (CLAUDE.md persisted-RDD rule)


# --------------------------------------------- sorted neighborhood ER

def _sn_twin(rows, window):
    order = sorted(rows)   # (key, id) total order
    out = set()
    for i, (ka, ia) in enumerate(order):
        for gap in range(1, window):
            if i + gap < len(order):
                kb, ib = order[i + gap]
                out.add((ia, ib, ka, kb, gap))
    return out


def test_sorted_neighborhood_python_twin(spark):
    rng = random.Random(11)
    rows = [("blk%d" % rng.randrange(8), i) for i in range(120)]
    df = spark.createDataFrame(rows, ["key", "id"]).repartition(5)
    got = sorted_neighborhood_pairs(df, "key", "id", window=4)
    pairs = {(r.id_a, r.id_b, r.key_a, r.key_b, r.gap)
             for r in got.collect()}
    got.unpersist_input()
    assert pairs == _sn_twin(rows, 4)


def test_sorted_neighborhood_pair_count_is_skew_free(spark):
    # the SN contract: ONE hot key value produces exactly the same
    # candidate count as all-distinct keys — (w-1)*n - (1+..+(w-1))
    n, w = 50, 5
    hot = spark.createDataFrame([("same", i) for i in range(n)],
                                ["key", "id"])
    out = sorted_neighborhood_pairs(hot, "key", "id", window=w)
    assert out.count() == (w - 1) * n - sum(range(1, w))
    out.unpersist_input()


# ------------------------------------------------------------ k-truss

def _truss_twin(pairs, k, rounds):
    edges = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}

    def support(es):
        sup = {e: 0 for e in es}
        nodes = sorted({n for e in es for n in e})
        for x, y, z in itertools.combinations(nodes, 3):
            tri = [(x, y), (x, z), (y, z)]
            if all(e in es for e in tri):
                for e in tri:
                    sup[e] += 1
        return sup

    for _ in range(rounds):
        sup = support(edges)
        edges = {e for e in edges if sup[e] >= k - 2}
    sup = support(edges)
    return {(a, b): sup[(a, b)] for a, b in edges}


def test_edge_support_counts_triangles_per_edge(spark):
    # two triangles sharing edge (2,3): that edge has support 2
    pairs = [(1, 2), (2, 3), (1, 3), (3, 4), (2, 4)]
    e = spark.createDataFrame(pairs, ["a", "b"])
    sup = {(r.a, r.b): r.support for r in _edge_support(e).collect()}
    assert sup == {(1, 2): 1, (1, 3): 1, (2, 3): 2, (2, 4): 1, (3, 4): 1}


def test_ktruss_peels_pendants_and_cascades(spark):
    # 4-clique + a triangle hanging off node 4 + a pendant edge.
    # k=4: every 4-clique edge sits in 2 triangles inside the clique;
    # the hanging triangle's edges have support 1 -> removed round 1;
    # the pendant edge has support 0 -> removed round 1.
    clique = [(a, b) for a, b in itertools.combinations([1, 2, 3, 4], 2)]
    extra = [(4, 5), (4, 6), (5, 6), (6, 7)]
    df = spark.createDataFrame(clique + extra, ["src", "dst"])
    got = {(r.a, r.b): r.support
           for r in ktruss(df, k=4, rounds=3).collect()}
    assert got == _truss_twin(clique + extra, 4, 3)
    assert set(got) == set(clique)


def test_ktruss_python_twin_random(spark):
    rng = random.Random(3)
    pairs = list({tuple(sorted((rng.randrange(12), rng.randrange(12))))
                  for _ in range(40)})
    pairs = [p for p in pairs if p[0] != p[1]]
    df = spark.createDataFrame(pairs, ["src", "dst"])
    for k in (3, 4):
        got = {(r.a, r.b): r.support
               for r in ktruss(df, k=k, rounds=3).collect()}
        assert got == _truss_twin(pairs, k, 3)


def test_ktruss_fixpoint_extra_round_is_noop(spark):
    clique = [(a, b) for a, b in itertools.combinations([1, 2, 3, 4], 2)]
    df = spark.createDataFrame(clique + [(4, 5)], ["src", "dst"])
    r3 = sorted(map(tuple, ktruss(df, k=4, rounds=3).collect()))
    r4 = sorted(map(tuple, ktruss(df, k=4, rounds=4).collect()))
    assert r3 == r4


def test_modularity_empty_graph_returns_zero_row(spark):
    # review finding: F.sum over zero edges is NULL and used to trip
    # the overflow assert with a misleading bound message; an empty
    # graph must yield a (0, 0, 0, 0) row instead
    from python_mecab_ner_spark.operators.graph import modularity_ppm
    edges = spark.createDataFrame([], "src long, dst long, w long")
    comm = spark.createDataFrame([], "node long, community long")
    row = modularity_ppm(edges, comm, weight="w").collect()[0]
    assert (row.n_communities, row.w_tot, row.intra_w,
            row.modularity_ppm) == (0, 0, 0, 0)


# ------------------------------------------------ star components

def _cc_twin(pairs):
    comp = {}
    for u, v in pairs:
        comp.setdefault(u, u)
        comp.setdefault(v, v)

    def find(x):
        while comp[x] != x:
            comp[x] = comp[comp[x]]
            x = comp[x]
        return x

    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            comp[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in comp}


def test_star_cc_python_twin_random(spark):
    from python_mecab_ner_spark.operators.graph import \
        connected_components_star
    rng = random.Random(23)
    for trial in range(3):
        pairs = list({tuple(sorted((rng.randrange(60),
                                    rng.randrange(60))))
                      for _ in range(50)})
        pairs = [p for p in pairs if p[0] != p[1]]
        df = spark.createDataFrame(pairs, ["src", "dst"])
        got = {r.id: r.comp
               for r in connected_components_star(df).collect()}
        assert got == _cc_twin(pairs), f"trial {trial}"


def test_star_cc_long_path_beats_diameter(spark):
    # a 300-hop path: min-label propagation needs 300 rounds; the
    # alternating algorithm must finish inside 20 — the whole point
    from python_mecab_ner_spark.operators.graph import \
        connected_components_star
    pairs = [(i, i + 1) for i in range(300)]
    df = spark.createDataFrame(pairs, ["src", "dst"])
    got = {r.id: r.comp
           for r in connected_components_star(df, max_rounds=20)
           .collect()}
    assert got == {i: 0 for i in range(301)}


def test_star_cc_raises_on_round_exhaustion(spark):
    from python_mecab_ner_spark.operators.graph import \
        connected_components_star
    pairs = [(i, i + 1) for i in range(40)]
    df = spark.createDataFrame(pairs, ["src", "dst"])
    import pytest
    with pytest.raises(RuntimeError, match="still moving"):
        connected_components_star(df, max_rounds=1)
