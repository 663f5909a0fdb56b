"""Round-5 gap fills: deterministic maximal matching (q188),
Brandes betweenness (q190) and suffix-prefix stitching (q192).

Discipline as in test_mis_funnel.py: every test recomputes the
expected answer with plain Python on small randomized or hand-built
inputs, so the DuckDB oracles are not the only cross-check.
"""

import hashlib
import random

import pytest

from python_mecab_ner_spark.operators.graph import maximal_matching


def _epri(a, b):
    return (hashlib.md5(f"{a}#{b}".encode()).hexdigest()
            + f"#{a}#{b}")


def _py_matching(edges):
    """Python twin of the deterministic round trajectory."""
    act = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    out, r = {}, 0
    while act:
        r += 1
        mn = {}
        for a, b in act:
            p = _epri(a, b)
            for n in (a, b):
                if n not in mn or p < mn[n]:
                    mn[n] = p
        win = {(a, b) for a, b in act
               if _epri(a, b) == mn[a] and _epri(a, b) == mn[b]}
        out.update(((a, b), r) for a, b in win)
        matched = {n for e in win for n in e}
        act = {e for e in act
               if e[0] not in matched and e[1] not in matched}
    return out


def test_matching_random_graph_matches_python_twin(spark):
    rng = random.Random(41)
    edges = list({(rng.randrange(60), rng.randrange(60))
                  for _ in range(150)})
    edges = [(a, b) for a, b in edges if a != b]
    want = _py_matching(edges)
    got = {(r.a, r.b): r.match_round
           for r in maximal_matching(
               spark.createDataFrame(edges, ["src", "dst"])).collect()}
    assert got == want  # round trajectory, not just the final set
    # matching property: no node appears twice
    nodes = [n for e in got for n in e]
    assert len(nodes) == len(set(nodes))
    # maximality: every input edge touches a matched node
    matched = set(nodes)
    assert all(a in matched or b in matched for a, b in edges)


def test_matching_raises_on_round_exhaustion(spark):
    edges = [(i, i + 1) for i in range(40)]  # path needs >1 round
    df = spark.createDataFrame(edges, ["src", "dst"])
    with pytest.raises(Exception, match="max_rounds"):
        maximal_matching(df, max_rounds=1).collect()


def test_matching_self_loops_only(spark):
    df = spark.createDataFrame([(1, 1)], ["src", "dst"])
    assert maximal_matching(df).collect() == []


def _py_betweenness(edges, roots, radius=3, scale=1_000_000):
    adj = {}
    for a, b in set(edges):
        if a != b:
            adj.setdefault(a, set()).add(b)
    out_nroots, out_bw = {}, {}
    for s in roots:
        # forward BFS with path counts
        levels = [{s: 1}]
        seen = {s}
        for _ in range(radius):
            nxt = {}
            for v, sig in levels[-1].items():
                for w in adj.get(v, ()):
                    nxt[w] = nxt.get(w, 0) + sig
            nxt = {w: c for w, c in nxt.items() if w not in seen}
            seen |= set(nxt)
            levels.append(nxt)
        delta = {v: 0 for v in levels[radius]}
        for d in range(radius - 1, 0, -1):
            nd = {}
            for v, sig in levels[d].items():
                tot = 0
                for w in adj.get(v, ()):
                    if w in levels[d + 1]:
                        tot += (sig * (scale + delta[w])) \
                            // levels[d + 1][w]
                nd[v] = tot
            for v in levels[radius]:
                nd.setdefault(v, delta.get(v, 0))
            # carry deeper-level deltas forward for lookup only
            delta = {**{w: 0 for w in levels[d + 1]}, **delta, **nd}
            delta.update(nd)
        for d in range(1, radius + 1):
            for v in levels[d]:
                out_nroots[v] = out_nroots.get(v, 0) + 1
                out_bw[v] = out_bw.get(v, 0) + delta.get(v, 0)
    return {v: (out_nroots[v], out_bw[v]) for v in out_nroots}


def test_betweenness_random_twin(spark):
    from python_mecab_ner_spark.operators.graph import betweenness_sampled
    rng = random.Random(29)
    und = list({(rng.randrange(30), rng.randrange(30))
                for _ in range(70)})
    und = [(a, b) for a, b in und if a != b]
    edges = und + [(b, a) for a, b in und]
    roots = sorted({a for a, _ in und})[:8]
    want = _py_betweenness(edges, roots)
    df = spark.createDataFrame(edges, ["src", "dst"])
    rdf = spark.createDataFrame([(r,) for r in roots], ["node"])
    got = {r.node: (r.n_roots, r.bw_scaled)
           for r in betweenness_sampled(df, rdf).collect()}
    assert got == want


def test_betweenness_star_center(spark):
    # star: all shortest paths between leaves pass the center
    from python_mecab_ner_spark.operators.graph import betweenness_sampled
    edges = [(0, i) for i in range(1, 6)] + [(i, 0) for i in range(1, 6)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    rdf = spark.createDataFrame([(i,) for i in range(1, 6)], ["node"])
    got = {r.node: (r.n_roots, r.bw_scaled)
           for r in betweenness_sampled(df, rdf, radius=2).collect()}
    # from each of the 5 leaf roots: center at d=1 (sigma 1) with 4
    # successors at d=2 (sigma 1, delta 0) -> delta = 4 * scale
    assert got[0] == (5, 5 * 4 * 1_000_000)
    # each non-root leaf is a d=2 endpoint for the other 4 roots
    for v in range(1, 6):
        assert got[v] == (4, 0)


def test_suffix_prefix_stitch(spark):
    from python_mecab_ner_spark.operators.crawl import \
        suffix_prefix_stitch
    rows = [
        (1, "alpha beta gamma delta cut1 cut2 cut3 cut4"),
        (2, "cut1 cut2 cut3 cut4 epsilon zeta eta theta"),
        (3, "unrelated words that stitch with nothing at all"),
        (4, "cut1 cut2 cut3 cut4"),  # 4 tokens < 2k: excluded
        (5, "  spaced   out\ttokens\nhere cut1 cut2 cut3 cut4 "),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r.doc_a, r.doc_b): r.boundary
           for r in suffix_prefix_stitch(df, "text", "doc_id").collect()}
    # doc1 tail == doc2 head; doc5 (mixed whitespace) tail == doc2 head
    assert got == {(1, 2): "cut1 cut2 cut3 cut4",
                   (5, 2): "cut1 cut2 cut3 cut4"}
