"""Round-5 post-closeout additions (q209-q228): TextRank, Z-order
layout audit, TrustRank spam mass, Rand/ARI, resharding audit, Neyman
allocation, c-TF-IDF class terms, freshness-decayed rank.

Discipline as in test_round5_ops.py: every test recomputes the
expected answer with plain Python on small hand-built or randomized
inputs, so the DuckDB oracles are not the only cross-check.
"""

import random
from collections import Counter

from python_mecab_ner_spark.operators.retrieval import textrank_keywords


# ------------------------------------------------------------ TextRank

def _py_textrank(docs, n_stop, window, iters,
                 scale=1_000_000, dn=85, dd=100):
    toks = {d: t.lower().strip().split() for d, t in docs}
    df = Counter()
    for d, ws in toks.items():
        for w in set(ws):
            df[w] += 1
    stops = set(w for w in sorted(df, key=lambda w: (-df[w], w))[:n_stop])
    cooc = Counter()
    for ws in toks.values():
        for i, a in enumerate(ws):
            for k in range(1, window + 1):
                if i + k < len(ws):
                    b = ws[i + k]
                    if a != b and a not in stops and b not in stops:
                        cooc[(min(a, b), max(a, b))] += 1
    edges = {}
    for (a, b), w in cooc.items():
        edges[(a, b)] = edges.get((a, b), 0) + w
        edges[(b, a)] = edges.get((b, a), 0) + w
    nodes = sorted({a for a, _ in edges})
    wt = Counter()
    for (a, _), w in edges.items():
        wt[a] += w
    base = (scale * (dd - dn)) // dd
    pr = {n: scale for n in nodes}
    for _ in range(iters):
        m = Counter()
        for (a, b), w in edges.items():
            m[b] += (pr[a] * w) // wt[a]
        pr = {n: base + (dn * m.get(n, 0)) // dd for n in nodes}
    return pr


def test_textrank_matches_python_twin(spark):
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    docs = [(i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(5, 30))))
            for i in range(40)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = textrank_keywords(df, "text", "doc_id", n_stop=3,
                            window=2, iters=3)
    got = {r["word"]: r["pr"] for r in out.collect()}
    out.unpersist_input()
    assert got == _py_textrank(docs, n_stop=3, window=2, iters=3)


def test_textrank_stopword_separates_neighbors(spark):
    # "x" saturates df -> stoplist; a/b co-occur only THROUGH x at
    # distance 2, never adjacent, so the window-2 graph still links
    # them (leads are computed on the unfiltered sequence)
    docs = [(i, "a x b") for i in range(3)] + [(3, "c x d e")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = textrank_keywords(df, "text", "doc_id", n_stop=1,
                            window=2, iters=1)
    got = {r["word"]: r["pr"] for r in out.collect()}
    out.unpersist_input()
    assert set(got) == {"a", "b", "c", "d", "e"}
    assert got == _py_textrank(docs, n_stop=1, window=2, iters=1)


# ------------------------------------------------------- Z-order audit

def _py_zkey(d1, d2, bits):
    z = 0
    for i in range(bits):
        z += ((d1 >> i) & 1) << (2 * i + 1)
        z += ((d2 >> i) & 1) << (2 * i)
    return z


def test_layout_audit_matches_python_twin(spark):
    from pyspark.sql import functions as F

    from python_mecab_ner_spark.operators.layout import layout_audit
    rng = random.Random(3)
    rows = [(rng.randrange(64), rng.randrange(64)) for _ in range(2000)]
    df = spark.createDataFrame(rows, ["a", "b"])
    got = {(r["layout"], r["file_id"]):
           (r["n_rows"], r["d1_min"], r["d1_max"], r["d2_min"], r["d2_max"])
           for r in layout_audit(df, F.col("a"), F.col("b"),
                                 bits=6, file_bits=6).collect()}
    exp = {}
    for d1, d2 in rows:
        for layout, key in (("zorder", _py_zkey(d1, d2, 6)),
                            ("linear", (d2 << 6) + d1)):
            k = (layout, key >> 6)
            n, lo1, hi1, lo2, hi2 = exp.get(
                k, (0, d1, d1, d2, d2))
            exp[k] = (n + 1, min(lo1, d1), max(hi1, d1),
                      min(lo2, d2), max(hi2, d2))
    assert got == exp


def test_zorder_bounds_both_spans_linear_does_not(spark):
    # dense grid: every (d1, d2) in 64x64 once.  Under linear each
    # file spans the FULL d1 domain; under zorder each 64-key file is
    # an 8x8 tile (span 7 on both dims) -> any single-dim slice skips
    # 7/8 of the files
    from pyspark.sql import functions as F

    from python_mecab_ner_spark.operators.layout import layout_audit
    rows = [(a, b) for a in range(64) for b in range(64)]
    df = spark.createDataFrame(rows, ["a", "b"])
    out = layout_audit(df, F.col("a"), F.col("b"),
                       bits=6, file_bits=6).collect()
    for r in out:
        if r["layout"] == "zorder":
            assert r["d1_max"] - r["d1_min"] == 7
            assert r["d2_max"] - r["d2_min"] == 7
        else:
            assert (r["d1_min"], r["d1_max"]) == (0, 63)
        assert r["n_rows"] == 64


# ------------------------------------------------------- spam mass

def _py_spam_mass(edges, seeds, iters, scale=1_000_000, dn=85, dd=100):
    base = (scale * (dd - dn)) // dd
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    od = Counter(a for a, _ in edges)

    def run(init, teleport):
        pr = dict(init)
        for _ in range(iters):
            m = Counter()
            for a, b in edges:
                m[b] += pr[a] // od[a]
            pr = {n: teleport(n) + (dn * m.get(n, 0)) // dd
                  for n in nodes}
        return pr
    pr = run({n: scale for n in nodes}, lambda n: base)
    tr = run({n: scale if n in seeds else 0 for n in nodes},
             lambda n: base if n in seeds else 0)
    s_pr, s_tr = sum(pr.values()), sum(tr.values())
    out = {}
    for n in nodes:
        tn = (tr[n] * s_pr) // s_tr
        out[n] = (pr[n], tn, max(0, ((pr[n] - tn) * 1_000_000) // pr[n]))
    return out


def test_trust_spam_mass_matches_python_twin(spark):
    from python_mecab_ner_spark.operators.graph import trust_spam_mass
    rng = random.Random(13)
    pairs = {(rng.randrange(30), 30 + rng.randrange(10))
             for _ in range(120)}
    edges = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    seeds = [30, 31, 32]
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = trust_spam_mass(df, seeds, iters=3)
    got = {r["node"]: (r["pr"], r["trust_norm"], r["spam_ppm"])
           for r in out.collect()}
    out.unpersist_input()
    assert got == _py_spam_mass(edges, set(seeds), iters=3)
    # seeds hold teleport mass -> their spam share sits well below
    # the graph's worst offenders
    worst = max(v[2] for v in got.values())
    for s in seeds:
        assert got[s][2] < worst


# ---------------------------------------------------- Rand index / ARI

def _py_pair_agreement(assign):
    """assign = [(item, cluster, gold)] -> the operator's row tuple."""
    def c2(x):
        return (x * (x - 1)) // 2
    n = len(assign)
    m = c2(n)
    cg = Counter((c, g) for _, c, g in assign)
    cs = Counter(c for _, c, _ in assign)
    gs = Counter(g for _, _, g in assign)
    r = sum(c2(x) for x in cg.values())
    pa = sum(c2(x) for x in cs.values())
    pb = sum(c2(x) for x in gs.values())
    e = (pa * pb) // m
    num, den = r - e, pa + pb - 2 * e
    sgn = 1 if num >= 0 else -1
    ari = sgn * ((abs(num) * 2_000_000) // den) if den else None
    return (n, len(cs), len(gs), m, r, pa, pb,
            ((m + 2 * r - pa - pb) * 1_000_000) // m, ari)


def test_pair_agreement_matches_python_twin(spark):
    from python_mecab_ner_spark.operators.metrics import (
        pair_agreement_ppm)
    rng = random.Random(21)
    # correlated clustering: mostly gold, 20% defectors
    assign = [(i, (g + 1) % 5 if rng.random() < 0.2 else g, g)
              for i, g in ((i, rng.randrange(5)) for i in range(800))]
    df = spark.createDataFrame(assign, ["item", "cluster", "gold"])
    got = tuple(pair_agreement_ppm(df).collect()[0])
    assert got == _py_pair_agreement(assign)
    assert got[8] > 300_000  # well above chance


def test_pair_agreement_perfect_and_chance(spark):
    from python_mecab_ner_spark.operators.metrics import (
        pair_agreement_ppm)
    perfect = [(i, i % 4, i % 4) for i in range(80)]
    df = spark.createDataFrame(perfect, ["item", "cluster", "gold"])
    row = pair_agreement_ppm(df).collect()[0]
    assert row["rand_ppm"] == 1_000_000
    # ARI of a perfect clustering is exactly 1.0 -> 1_000_000 ppm
    assert row["ari_ppm"] == 1_000_000
    # every item its own cluster vs one gold class: ARI 0 by convention
    singletons = [(i, i, 0) for i in range(50)]
    df2 = spark.createDataFrame(singletons, ["item", "cluster", "gold"])
    row2 = pair_agreement_ppm(df2).collect()[0]
    assert row2["pairs_same_pred"] == 0
    assert tuple(row2)[:3] == (50, 50, 1)


# ---------------------------------------------------- reshard audit

def test_reshard_audit_matches_python_twin(spark):
    from pyspark.sql import functions as F

    from python_mecab_ner_spark.functions.hashing import md5_int_py
    from python_mecab_ner_spark.operators.layout import reshard_audit
    keys = [f"k{i}" for i in range(600)]
    df = spark.createDataFrame([(k,) for k in keys], ["key"])
    got = {r["method"]: (r["n_keys"], r["moved"], r["moved_ppm"])
           for r in reshard_audit(df, F.col("key"), 8, 9).collect()}

    def hrw(k, n):
        return max(((md5_int_py(f"{k}#{s}", bits_hex=12,
                                salt="shard:") << 6) + s)
                   for s in range(n)) % 64
    mm = sum(1 for k in keys
             if md5_int_py(k, bits_hex=12, salt="shard:") % 8
             != md5_int_py(k, bits_hex=12, salt="shard:") % 9)
    hm = sum(1 for k in keys if hrw(k, 8) != hrw(k, 9))
    exp = {"mod": (600, mm, mm * 1_000_000 // 600),
           "rendezvous": (600, hm, hm * 1_000_000 // 600)}
    assert got == exp
    # the whole point: rendezvous moves ~1/9, mod moves ~8/9
    assert got["rendezvous"][1] < got["mod"][1] // 4


def test_hrw_only_new_shard_gains_keys():
    # minimal-disruption property: every moved key lands on the NEW
    # shard (id n_from), never reshuffles between old shards
    from python_mecab_ner_spark.functions.hashing import md5_int_py

    def hrw(k, n):
        return max(((md5_int_py(f"{k}#{s}", bits_hex=12,
                                salt="shard:") << 6) + s)
                   for s in range(n)) % 64
    for i in range(500):
        a, b = hrw(f"x{i}", 8), hrw(f"x{i}", 9)
        if a != b:
            assert b == 8


# -------------------------------------------------- Neyman allocation

def _py_neyman(rows, budget):
    import math
    groups = {}
    for s, v in rows:
        n, s1, s2 = groups.get(s, (0, 0, 0))
        groups[s] = (n + 1, s1 + v, s2 + v * v)
    w = {s: math.isqrt(n * s2 - s1 * s1)
         for s, (n, s1, s2) in groups.items()}
    tw = sum(w.values())
    base = {s: budget * x // tw for s, x in w.items()}
    rem = {s: budget * x % tw for s, x in w.items()}
    left = budget - sum(base.values())
    order = sorted(w, key=lambda s: (-rem[s], s))
    return {s: (groups[s][0], w[s],
                base[s] + (1 if order.index(s) < left else 0))
            for s in w}


def test_neyman_matches_python_twin_and_sums_to_budget(spark):
    from python_mecab_ner_spark.operators.sample import neyman_allocation
    rng = random.Random(67)
    # s0 large+uniform, s1 small+wild, s2 medium
    rows = ([("s0", 100 + rng.randrange(3)) for _ in range(300)]
            + [("s1", rng.randrange(1, 2000)) for _ in range(40)]
            + [("s2", rng.randrange(50, 150)) for _ in range(120)])
    df = spark.createDataFrame(rows, ["source", "v"])
    got = {r["stratum"]: (r["n_docs"], r["w_scaled"], r["alloc"])
           for r in neyman_allocation(df, "source", "v",
                                      budget=997).collect()}
    assert got == _py_neyman(rows, 997)
    assert sum(v[2] for v in got.values()) == 997
    # the wild small stratum must out-draw the uniform big one
    # per capita
    assert got["s1"][2] * got["s0"][0] > got["s0"][2] * got["s1"][0]


# ----------------------------------------------------- c-TF-IDF terms

def test_class_tfidf_matches_python_twin(spark):
    from python_mecab_ner_spark.operators.retrieval import (
        class_tfidf_from_tokens)
    rng = random.Random(71)
    common = [f"c{i}" for i in range(6)]
    docs = []
    for i in range(90):
        cls = f"k{i % 3}"
        words = [rng.choice(common) for _ in range(8)] + [f"own{i % 3}"]
        rng.shuffle(words)
        docs.append((i, " ".join(words), cls))
    tok = spark.createDataFrame(
        [(c, w) for _, t, c in docs for w in t.split()], ["cls", "term"])
    out = class_tfidf_from_tokens(tok, k=3)
    got = {(r["cls"], r["rank"]): (r["term"], r["ctf"], r["cf"],
                                   r["score"])
           for r in out.collect()}
    ctf = Counter()
    for _, t, c in docs:
        for w in t.split():
            ctf[(c, w)] += 1
    cf = Counter()
    for c, w in ctf:
        cf[w] += 1
    ncls = 3
    exp = {}
    for c in {"k0", "k1", "k2"}:
        scored = sorted(
            ((w, ctf[(c, w)], cf[w],
              ctf[(c, w)] * ((ncls // cf[w]).bit_length()))
             for (cc, w) in ctf if cc == c),
            key=lambda t: (-t[3], t[0]))
        for rk, (w, tf_, cf_, sc) in enumerate(scored[:3], 1):
            exp[(c, rk)] = (w, tf_, cf_, sc)
    assert got == exp
    # each class's own marker word must be its #1 distinctive term
    for c in {"k0", "k1", "k2"}:
        assert got[(c, 1)][0] == "own" + c[1]


# ---------------------------------------------------- fresh rank

def test_fresh_rank_decay_expression(spark):
    # the q228 edge weight: 1024 halves per year of age, floor 1 —
    # identical to python's >> on every age, including 32+ years,
    # where an unclamped shiftright count wraps mod 32 (1024 again)
    from pyspark.sql import functions as F
    ages = list(range(0, 4000, 137)) + [y * 365 for y in (30, 31, 32, 33, 64)]
    df = spark.createDataFrame([(a,) for a in ages], "age bigint").select(
        "age",
        F.expr("greatest(shiftright(1024, least("
               "CAST(age div 365 AS INT), 30)), 1)").alias("w"))
    got = {r["age"]: r["w"] for r in df.collect()}
    assert got == {a: max(1024 >> (a // 365), 1) for a in ages}
    # a stale-only node's inbound mass is ~1/1024 of a fresh one's:
    # the decay spans three orders of magnitude across TPC-H's
    # seven-year order window
    assert max(got.values()) == 1024 and min(got.values()) == 1
