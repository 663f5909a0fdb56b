"""Session additions: integer HITS, Kneser-Ney continuation counts,
largest-remainder crawl-budget apportionment — hand goldens + exact
python-twin recomputes (the operators are all-integer, so the twins
must agree bit-for-bit)."""

import random

from pyspark.sql import functions as F

from python_mecab_ner_spark.operators.colloc import kn_continuation_counts
from python_mecab_ner_spark.operators.crawl import crawl_budget
from python_mecab_ner_spark.operators.graph import hits_int

SCALE = 1_000_000


def _hits_py(edges, iters=2, scale=SCALE):
    """Pure-python twin of graph.hits_int (same integer recurrence)."""
    nodes = sorted({x for e in edges for x in e})
    a = {n: scale for n in nodes}
    h = dict(a)
    for _ in range(iters):
        hr = {n: 0 for n in nodes}
        for s, d in edges:
            hr[s] += a[d]
        hmx = max(hr.values())
        h = {n: (hr[n] * scale) // hmx for n in nodes}
        ar = {n: 0 for n in nodes}
        for s, d in edges:
            ar[d] += h[s]
        amx = max(ar.values())
        a = {n: (ar[n] * scale) // amx for n in nodes}
    return a, h


def test_hits_star_separates_hubs_from_authorities(spark):
    # 1 and 2 point at 3: pure hubs vs a pure authority
    e = spark.createDataFrame([(1, 3), (2, 3)], "src bigint, dst bigint")
    got = {r.node: (r.authority, r.hub) for r in hits_int(e).collect()}
    assert got == {1: (0, SCALE), 2: (0, SCALE), 3: (SCALE, 0)}


def test_hits_randomized_vs_python(spark):
    rng = random.Random(79)
    edges = sorted({(rng.randrange(12), rng.randrange(12))
                    for _ in range(40)})
    edges = [(s, d) for s, d in edges if s != d]
    e = spark.createDataFrame(edges, "src bigint, dst bigint")
    a_py, h_py = _hits_py(edges, iters=3)
    got = {r.node: (r.authority, r.hub)
           for r in hits_int(e, iters=3).collect()}
    assert got == {n: (a_py[n], h_py[n]) for n in a_py}


def test_kn_continuation_golden(spark):
    ctx = spark.createDataFrame(
        [(1, i, w) for i, w in enumerate("a b a b c".split())]
        + [(2, i, w) for i, w in enumerate("c b".split())],
        "url int, idx int, word string")
    got = {r.word: (r.n_uni, r.cont_left, r.cont_right)
           for r in kn_continuation_counts(ctx).collect()}
    # types: (a,b) (b,a) (b,c) (c,b); the "francisco problem" shape
    assert got == {"a": (2, 1, 1), "b": (3, 2, 2), "c": (2, 1, 1)}


def test_crawl_budget_hamilton_golden(spark):
    s = spark.createDataFrame([("a", 5), ("b", 3), ("c", 3)],
                              "host string, score int")
    got = {r.host: (r.base, r.slots)
           for r in crawl_budget(s, budget=10).collect()}
    # total=11: bases 4/2/2, remainders 6/8/8 -> b,c take the leftovers
    assert got == {"a": (4, 4), "b": (2, 3), "c": (2, 3)}


def test_negative_samples_python_twin(spark):
    from python_mecab_ner_spark.functions.hashing import md5_int_py
    from python_mecab_ner_spark.operators.graph import negative_samples
    edges = [(1, 2), (1, 3), (2, 3), (4, 1), (3, 4)]
    nodes = sorted({x for e in edges for x in e})
    want = set()
    for s, d in edges:
        for i in range(3):
            neg = nodes[md5_int_py(f"{s}:{d}:{i}") % len(nodes)]
            if (s, neg) not in edges:
                want.add((s, d, i, neg))
    e = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {(r.src, r.dst, r.i, r.dst_neg)
           for r in negative_samples(e, k=3).collect()}
    assert got == want and len(got) > 0


def test_fuzzy_alias_pairs_golden_and_blocking_miss(spark):
    from python_mecab_ner_spark.operators.canonicalize import \
        fuzzy_alias_pairs
    names = spark.createDataFrame(
        [("kakao",), ("kakaoo",), ("kekao",), ("naver",), ("navor",),
         ("abc",)], "name string")
    got = {(r.n1, r.n2, r.dist)
           for r in fuzzy_alias_pairs(names, "name").collect()}
    # kekao is lev-1 from kakao but in block 'ke' — the documented miss
    assert got == {("kakao", "kakaoo", 1), ("naver", "navor", 1)}


def test_importance_weights_all_target_is_zero(spark):
    from python_mecab_ner_spark.operators.sample import importance_weights
    d = spark.createDataFrame(
        [(1, "a b c", True), (2, "c d", True)],
        "doc_id int, text string, t boolean")
    out = importance_weights(d, "text", "doc_id", "t").collect()
    # target == raw corpus -> every bucket weight is exactly 0
    assert {r.doc_id: r.score for r in out} == {1: 0, 2: 0}


def test_importance_weights_python_twin(spark):
    from python_mecab_ner_spark.functions.hashing import md5_int_py
    from python_mecab_ner_spark.operators.sample import importance_weights
    rng = random.Random(84)
    vocab = [f"w{i}" for i in range(30)]
    docs = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randrange(3, 12))),
             rng.random() < 0.4) for i in range(25)]
    B = 64
    cr, ct = {}, {}
    for _, text, t in docs:
        for w in text.split():
            b = md5_int_py(w, salt="dsir:") % B
            cr[b] = cr.get(b, 0) + 1
            if t:
                ct[b] = ct.get(b, 0) + 1
    nr, nt = sum(cr.values()), sum(ct.values())
    wt = {b: ((ct.get(b, 0) + 1) * (nr + B)).bit_length()
          - ((cr[b] + 1) * (nt + B)).bit_length() for b in cr}
    want = {i: sum(wt[md5_int_py(w, salt="dsir:") % B]
                   for w in text.split()) for i, text, _ in docs}
    d = spark.createDataFrame(docs, "doc_id int, text string, t boolean")
    got = {r.doc_id: r.score
           for r in importance_weights(d, "text", "doc_id", "t",
                                       n_buckets=B).collect()}
    assert got == want


def test_burst_days_silent_days_lower_the_baseline(spark):
    from datetime import datetime

    from python_mecab_ner_spark.operators.spans import burst_days
    # type A: 6 events on day1, 0 on day2/day3 (silent); type B: 2+2+2
    rows = ([(datetime(2024, 1, 1, 10, 0, i), "A") for i in range(6)]
            + [(datetime(2024, 1, d, 10, 0, s), "B")
               for d in (1, 2, 3) for s in (0, 1)])
    ev = spark.createDataFrame(rows, "ts timestamp, event_type string")
    got = {(r.event_type, r.day): (r.cnt, r.total, r.n_days)
           for r in burst_days(ev, "ts", "event_type",
                               factor_num=2, factor_den=1).collect()}
    # A's mean over the GLOBAL 3 days is 2/day -> day1 (6) bursts at 2x;
    # B is flat at its mean, no burst
    assert got == {("A", "2024-01-01"): (6, 6, 3)}


def test_histogram_deciles_golden_and_monotone(spark):
    from python_mecab_ner_spark.operators.profile import histogram_deciles
    # group g: values 0..99 -> bins 0..9 with width 10, 10 values each
    d = spark.createDataFrame([("g", v) for v in range(100)],
                              "source string, n int")
    out = histogram_deciles(d, "n", "source", bin_width=10).collect()
    got = {r.q: r.value_lo for r in out}
    # decile q lands exactly at the end of bin q-1: value_lo = (q-1)*10
    assert got == {q: (q - 1) * 10 for q in range(1, 10)}
    los = [got[q] for q in sorted(got)]
    assert los == sorted(los)


def test_tfidf_cosine_pairs_golden(spark):
    from python_mecab_ner_spark.operators.retrieval import \
        tfidf_cosine_pairs
    ctx = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (3, "c"),
         (4, "x"), (4, "y")], "url bigint, word string")
    got = {(r.d1, r.d2): (r.dot, r.cos2_ppm)
           for r in tfidf_cosine_pairs(ctx, max_df=64,
                                       min_cos2_ppm=0).collect()}
    # idf: a=bitlen(4//3)=1, b=bitlen(2)=2, c=x=y=bitlen(4)=3
    # doc1=doc2=(a:1,b:2) norm2=5; doc3=(a:1,c:3) norm2=10; doc4 disjoint
    assert got == {(1, 2): (5, 1_000_000),
                   (1, 3): (1, 20_000), (2, 3): (1, 20_000)}


def test_edge_diff_golden(spark):
    from python_mecab_ner_spark.operators.graph import edge_diff
    old = spark.createDataFrame([(1, 2), (1, 3)], "src int, dst int")
    new = spark.createDataFrame([(1, 3), (2, 4), (2, 4)],
                                "src int, dst int")
    got = {r.status: r.n_edges for r in edge_diff(old, new).collect()}
    assert got == {"added": 1, "removed": 1, "kept": 1}


def test_rrf_fuse_golden(spark):
    from python_mecab_ner_spark.operators.retrieval import rrf_fuse
    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)],
                              "doc_id bigint, rank int")
    b = spark.createDataFrame([(2, 1), (4, 2)],
                              "doc_id bigint, rank int")
    got = {r.doc_id: (r.n_systems, r.rrf_micro)
           for r in rrf_fuse([a, b]).collect()}
    assert got == {1: (1, 1_000_000 // 61),
                   2: (2, 1_000_000 // 62 + 1_000_000 // 61),
                   3: (1, 1_000_000 // 63),
                   4: (1, 1_000_000 // 62)}


def test_crawl_budget_sums_to_budget_randomized(spark):
    rng = random.Random(81)
    rows = [(f"h{i}", rng.randrange(1, 1000)) for i in range(50)]
    s = spark.createDataFrame(rows, "host string, score int")
    out = crawl_budget(s, budget=12_345).collect()
    assert sum(r.slots for r in out) == 12_345
    assert all(r.slots - r.base in (0, 1) for r in out)


# ---------------------------------------------------------------------------
# adamic-adar / recency decay (q91-q92 session)
# ---------------------------------------------------------------------------

def _aa_py(edges, min_common=1, cap=None, scale=1_000_000):
    """Pure-python twin of graph.adamic_adar."""
    adj = {}
    for s, d in edges:
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    deg = {n: len(v) for n, v in adj.items()}
    out = {}
    for z, leaves in adj.items():
        if cap is not None and deg[z] > cap:
            continue
        w = scale // deg[z].bit_length()
        ls = sorted(leaves)
        for i, x in enumerate(ls):
            for y in ls[i + 1:]:
                c, aa = out.get((x, y), (0, 0))
                out[(x, y)] = (c + 1, aa + w)
    return {p: v for p, v in out.items() if v[0] >= min_common}


def test_adamic_adar_rare_neighbor_outweighs_hub(spark):
    from python_mecab_ner_spark.operators.graph import adamic_adar
    # (1,2) share rare node 10 (deg 2); (3,4) share hub 20 (deg 6)
    e = [(1, 10), (2, 10), (3, 20), (4, 20),
         (5, 20), (6, 20), (7, 20), (8, 20)]
    df = spark.createDataFrame(e, "src bigint, dst bigint")
    got = {(r.n1, r.n2): r.aa_micro
           for r in adamic_adar(df, min_common=1).collect()}
    # bit_length(2)=2 -> 500000; bit_length(6)=3 -> 333333
    assert got[(1, 2)] == 500_000
    assert got[(3, 4)] == 333_333
    assert got[(1, 2)] > got[(3, 4)]


def test_adamic_adar_randomized_vs_python(spark):
    import random
    from python_mecab_ner_spark.operators.graph import adamic_adar
    rng = random.Random(91)
    edges = list({(rng.randrange(12), rng.randrange(12))
                  for _ in range(40)})
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {(r.n1, r.n2): (r.common, r.aa_micro)
           for r in adamic_adar(df, min_common=1).collect()}
    assert got == _aa_py(edges, min_common=1)


def test_adamic_adar_center_cap_mirrors_python(spark):
    import random
    from python_mecab_ner_spark.operators.graph import adamic_adar
    rng = random.Random(92)
    edges = list({(rng.randrange(10), rng.randrange(10))
                  for _ in range(35)})
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {(r.n1, r.n2): (r.common, r.aa_micro)
           for r in adamic_adar(df, min_common=1,
                                max_center_degree=3).collect()}
    assert got == _aa_py(edges, min_common=1, cap=3)


def test_decay_activity_golden_and_shift_cap(spark):
    from python_mecab_ner_spark.operators.crawl import decay_activity
    rows = [
        ("h1", "2024-03-10 12:00:00"),   # age 0d  -> 2^20
        ("h1", "2024-03-02 08:00:00"),   # age 8d  -> 2^20 >> 1
        ("h2", "2024-02-10 00:00:00"),   # age 29d -> 2^20 >> 4
        ("h3", "1100-01-01 00:00:00"),   # ancient -> shift capped, 0
    ]
    df = (spark.createDataFrame(rows, "host string, t string")
          .select("host", F.to_timestamp("t").alias("ts")))
    got = {r.key: (r.n_events, r.decayed)
           for r in decay_activity(df, "ts", "host",
                                   half_life_days=7).collect()}
    assert got == {"h1": (2, (1 << 20) + (1 << 19)),
                   "h2": (1, 1 << 16),
                   "h3": (1, 0)}


# ---------------------------------------------------------------------------
# random walks / k-core / histogram quality gate (q93-q95 session)
# ---------------------------------------------------------------------------

def _walks_py(edges, walk_len=3, walks_per_node=2, seed="walk"):
    """Pure-python twin of graph.random_walks."""
    from python_mecab_ner_spark.functions.hashing import md5_int_py
    adj = {}
    for s, d in edges:
        if s != d:
            adj.setdefault(s, set()).add(d)
    adj = {n: sorted(v) for n, v in adj.items()}
    nodes = sorted({x for e in edges for x in e})
    rows = set()
    for start in nodes:
        for wid in range(walks_per_node):
            cur = start
            rows.add((start, wid, 0, cur))
            for step in range(1, walk_len + 1):
                nbrs = adj.get(cur)
                if not nbrs:
                    break
                h = md5_int_py(f"walk:{start}:{wid}:{step}:{cur}")
                cur = nbrs[h % len(nbrs)]
                rows.add((start, wid, step, cur))
    return rows


def test_random_walks_python_twin_and_sink_stop(spark):
    import random
    from python_mecab_ner_spark.operators.graph import random_walks
    rng = random.Random(93)
    edges = list({(rng.randrange(10), rng.randrange(10))
                  for _ in range(25)})
    # add a guaranteed sink: node 99 has an inbound edge only
    edges.append((0, 99))
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {(r.start, r.wid, r.step, r.node)
           for r in random_walks(df, walk_len=3,
                                 walks_per_node=2).collect()}
    assert got == _walks_py(edges, walk_len=3, walks_per_node=2)
    # the sink starts its walks but never advances past step 0
    assert (99, 0, 0, 99) in got
    assert not any(s == 99 and st > 0 for s, _, st, _ in got)


def test_random_walks_follow_real_edges(spark):
    from python_mecab_ner_spark.operators.graph import random_walks
    edges = [(1, 2), (2, 3), (3, 1), (1, 3)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    walks = random_walks(df, walk_len=4, walks_per_node=1).collect()
    eset = set(edges)
    by_walk = {}
    for r in walks:
        by_walk.setdefault((r.start, r.wid), {})[r.step] = r.node
    for steps in by_walk.values():
        for t in range(1, max(steps) + 1):
            assert (steps[t - 1], steps[t]) in eset


def _kcore_py(edges, k=2):
    """Peel to the fixpoint."""
    adj = {}
    for s, d in edges:
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    changed = True
    while changed:
        drop = [n for n, v in adj.items() if len(v) < k]
        changed = bool(drop)
        for n in drop:
            for m in adj[n]:
                adj[m].discard(n)
            del adj[n]
        adj = {n: v for n, v in adj.items() if True}
    return {n: len(v) for n, v in adj.items() if v}


def test_kcore_path_peels_fully_clique_survives(spark):
    from python_mecab_ner_spark.operators.graph import kcore
    # path 1-2-3-4 dissolves under k=2; triangle 10-11-12 survives
    e = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)]
    df = spark.createDataFrame(e, "src bigint, dst bigint")
    got = {r.node: r.core_deg for r in kcore(df, k=2, iters=8).collect()}
    assert got == {10: 2, 11: 2, 12: 2}


def test_kcore_randomized_reaches_python_fixpoint(spark):
    import random
    from python_mecab_ner_spark.operators.graph import kcore
    rng = random.Random(94)
    edges = list({(rng.randrange(14), rng.randrange(14))
                  for _ in range(30)})
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r.node: r.core_deg
           for r in kcore(df, k=2, iters=14).collect()}
    assert got == _kcore_py(edges, k=2)


def test_quality_gate_histogram_equals_full_sort_gate(spark):
    import random
    from python_mecab_ner_spark.operators.sample import (
        quality_gate_histogram, quality_percentile_gate)
    rng = random.Random(95)
    rows = [(f"s{rng.randrange(3)}", i, rng.randrange(0, 900))
            for i in range(400)]
    df = spark.createDataFrame(rows, "source string, id bigint, sc bigint")
    for num, den, bw in [(1, 4, 64), (3, 10, 17), (1, 1, 64), (0, 4, 64)]:
        hist = {(r.source, r.id) for r in quality_gate_histogram(
            df, "sc", "source", "id", num, den, bin_width=bw).collect()}
        exact = {(r.source, r.id) for r in quality_percentile_gate(
            df, "sc", "source", "id", num, den).collect()}
        # percentile gate keeps rk*den < n*num == rk < ceil(n*num/den)
        assert hist == exact, (num, den, bw)


def test_cooccurrence_counts_golden_and_python_twin(spark):
    from python_mecab_ner_spark.operators.colloc import \
        cooccurrence_counts
    docs = [(1, "a b c a"), (2, "b a")]
    rows = []
    for url, text in docs:
        toks = text.split()
        for i, w in enumerate(toks):
            rows.append((url, i, w))
    ctx = spark.createDataFrame(rows, "url bigint, idx int, word string")
    got = {(r.w1, r.w2): (r.n_pairs, r.w_sum)
           for r in cooccurrence_counts(ctx, window=2, min_pairs=1,
                                        scale=60).collect()}
    # doc1 pairs (d<=2): ab1 bc1 ca2 bc... enumerate python-side
    exp = {}
    for url, text in docs:
        toks = text.split()
        for i, wa in enumerate(toks):
            for d in (1, 2):
                if i + d < len(toks):
                    k = tuple(sorted((wa, toks[i + d])))
                    c, s = exp.get(k, (0, 0))
                    exp[k] = (c + 1, s + 60 // d)
    assert got == exp


def test_butterfly_counts_k23_golden(spark):
    from python_mecab_ner_spark.operators.graph import butterfly_counts
    # K(2,3): 3 butterflies total; each left node is in all 3, each
    # right node in 2.  Left {1,2}, right {10,11,12}.
    e = [(u, w) for u in (1, 2) for w in (10, 11, 12)]
    df = spark.createDataFrame(e, "src bigint, dst bigint")
    got = {r.node: r.n_bfly for r in butterfly_counts(df).collect()}
    assert got == {1: 3, 2: 3, 10: 2, 11: 2, 12: 2}


def test_butterfly_counts_path_has_none(spark):
    from python_mecab_ner_spark.operators.graph import butterfly_counts
    df = spark.createDataFrame([(1, 2), (2, 3), (3, 4)],
                               "src bigint, dst bigint")
    assert butterfly_counts(df).count() == 0
