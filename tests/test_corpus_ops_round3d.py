"""Round-3 final additions: ExactSubstr dup spans + removal, vocab
drift, phrase blocklist, postings table — hand-computed goldens and
interval-union edge cases."""

from pyspark.sql import functions as F

from python_mecab_ner_spark.functions.hashing import md5_int_py
from python_mecab_ner_spark.functions.text import blocklist_phrase_counts
from python_mecab_ner_spark.operators.dedup import (dup_substring_runs,
                                                    remove_dup_spans)
from python_mecab_ner_spark.operators.profile import vocab_drift
from python_mecab_ner_spark.operators.retrieval import postings_table

# docs 1 and 2 share the 5-word phrase "alpha beta gamma delta eps"
# (positions 1..5 in doc 1, 0..4 in doc 2); doc 3 is disjoint
SPAN_DOCS = [
    (1, "x alpha beta gamma delta eps y z"),
    (2, "alpha beta gamma delta eps q r s"),
    (3, "totally unrelated words only here now"),
]


def test_dup_runs_golden(spark):
    d = spark.createDataFrame(SPAN_DOCS, "doc_id int, text string")
    got = {(r.doc_id, r.run_start, r.run_len)
           for r in dup_substring_runs(d, "text", "doc_id", k=3).collect()}
    # shared 5-word phrase => 3-gram positions {1,2,3} in doc 1 and
    # {0,1,2} in doc 2 merge into one run of 3 + 3 - 1 + ... = 5 words
    assert got == {(1, 1, 5), (2, 0, 5)}


def test_dup_runs_short_doc_truncated_gram(spark):
    # two identical 2-word docs: single truncated "gram" at pos 0,
    # run covers max-min+k = 3 word slots (clipped at doc end by the
    # removal pass, invisible here) — the winnow-family edge
    d = spark.createDataFrame([(1, "aa bb"), (2, "aa bb")],
                              "doc_id int, text string")
    got = {(r.doc_id, r.run_start, r.run_len)
           for r in dup_substring_runs(d, "text", "doc_id", k=3).collect()}
    assert got == {(1, 0, 3), (2, 0, 3)}


def test_remove_dup_spans_union_and_fp(spark):
    d = spark.createDataFrame(SPAN_DOCS, "doc_id int, text string")
    rows = {r.doc_id: r for r in
            remove_dup_spans(d, "text", "doc_id", k=3).collect()}
    # doc 1 loses words 1..5, keeps "x y z"; doc 2 loses 0..4
    assert (rows[1].n_words, rows[1].kept_words) == (8, 3)
    assert rows[1].kept_fp == md5_int_py("x y z")
    assert (rows[2].n_words, rows[2].kept_words) == (8, 3)
    assert rows[2].kept_fp == md5_int_py("q r s")
    # doc 3 untouched
    assert (rows[3].n_words, rows[3].kept_words) == (6, 6)
    assert rows[3].kept_fp == md5_int_py(
        "totally unrelated words only here now")


def test_remove_dup_spans_overlapping_runs_no_double_cut(spark):
    # "p q r" duplicated at positions 0 and 2 of doc 1 (overlap at
    # word 2): islands are separate (gram positions 0 and 2 are not
    # adjacent) but the interval UNION covers words 0..4 exactly once
    d = spark.createDataFrame(
        [(1, "p q p q r tail1 tail2"),
         (2, "p q r xx yy"),       # shares gram "p q r" (pos 2 of doc1)
         (3, "p q p zz ww")],      # shares gram "p q p" (pos 0 of doc1)
        "doc_id int, text string")
    runs = {(r.doc_id, r.run_start, r.run_len)
            for r in dup_substring_runs(d, "text", "doc_id", k=3).collect()}
    assert (1, 0, 3) in runs and (1, 2, 3) in runs
    rows = {r.doc_id: r for r in
            remove_dup_spans(d, "text", "doc_id", k=3).collect()}
    # union [0,2] U [2,4] = words 0..4 -> keeps the 2 tail words
    assert (rows[1].n_words, rows[1].kept_words) == (7, 2)
    assert rows[1].kept_fp == md5_int_py("tail1 tail2")


def test_vocab_drift_golden(spark):
    # epoch 0: a=3 b=1 c=1 (n0=5); epoch 1: a=1 b=3 c=1 (n1=5)
    # drift(a)=|3*5-1*5|=10, drift(b)=10, balanced c: 0
    d = spark.createDataFrame(
        [(0, "a a a b c"), (1, "b b b a c")],
        "epoch int, text string")
    # note: c appears once per epoch -> drift 0 but still listed
    rows = vocab_drift(d, "text", "epoch", top_k=10).collect()
    got = {r.term: (r.o0, r.o1, r.drift) for r in rows}
    assert got == {"a": (3, 1, 10), "b": (1, 3, 10), "c": (1, 1, 0)}
    # ordering: drift desc, term asc
    assert [r.term for r in rows] == ["a", "b", "c"]


def test_blocklist_counts_word_boundaries(spark):
    d = spark.createDataFrame(
        [(1, "the table table is set"),          # 1 hit
         (2, "portable tables everywhere"),      # substring, no hit
         (3, "table table table"),               # overlap-blind: 1
         (4, "fast scan and query big now")],    # two phrases
        "doc_id int, text string")
    rows = {r.doc_id: r for r in
            d.select("doc_id",
                     *blocklist_phrase_counts(F.col("text"))).collect()}
    assert rows[1].bl_table_table == 1
    assert (rows[2].bl_table_table, rows[2].bl_fast_scan) == (0, 0)
    assert rows[3].bl_table_table == 1   # shared-space overlap skipped
    assert (rows[4].bl_fast_scan, rows[4].bl_query_big) == (1, 1)


def test_postings_table_golden(spark):
    d = spark.createDataFrame(
        [(1, "w w x"), (2, "w x x"), (3, "w y")],
        "doc_id int, text string")
    rows = {r.term: r for r in
            postings_table(d, "text", "doc_id", min_df=2,
                           sample_docs=2).collect()}
    assert set(rows) == {"w", "x"}          # y has df=1, cut
    w = rows["w"]
    # tf(w): doc1=2, doc2=1, doc3=1 -> top doc1; sample first 2 sorted
    assert (w.df, w.cf, w.top_doc, w.top_tf) == (3, 4, 1, 2)
    assert w.posting_sample == "1,2"
    x = rows["x"]
    assert (x.df, x.cf, x.top_doc, x.top_tf) == (2, 3, 2, 2)


def test_postings_tie_breaks_min_doc(spark):
    d = spark.createDataFrame(
        [(7, "z z"), (4, "z z"), (9, "z")], "doc_id int, text string")
    r = postings_table(d, "text", "doc_id", min_df=2).collect()[0]
    assert (r.term, r.top_doc, r.top_tf) == ("z", 4, 2)


def _hb_regs_py(ids, m=16):
    """Python twin of one HyperBall register set over a node-id set."""
    shift = m.bit_length() - 1
    regs = {}
    for i in ids:
        h = md5_int_py(str(i), salt="hb:")
        b = h & (m - 1)
        rho = (60 - shift + 1) - (h >> shift).bit_length()
        regs[b] = max(regs.get(b, 0), rho)
    return regs


def test_hyperball_star_golden(spark):
    from python_mecab_ner_spark.operators.graph import hyperball
    # directed star: 0 -> 1,2,3.  After 1 round the center's ball is
    # {0,1,2,3}; each leaf's ball stays {leaf} (no out-edges)
    e = spark.createDataFrame([(0, 1), (0, 2), (0, 3)],
                              "src int, dst int")
    got = {}
    for r in hyperball(e, iters=1, n_registers=16).collect():
        got.setdefault(r.node, {})[r.bucket] = r.max_rho
    assert got[0] == _hb_regs_py([0, 1, 2, 3])
    for leaf in (1, 2, 3):
        assert got[leaf] == _hb_regs_py([leaf])


def test_hyperball_two_rounds_is_two_hops(spark):
    from python_mecab_ner_spark.operators.graph import hyperball
    # chain 0 -> 1 -> 2 -> 3: after 2 rounds node 0's ball is {0,1,2}
    # (radius 2), NOT {0,1,2,3}
    e = spark.createDataFrame([(0, 1), (1, 2), (2, 3)],
                              "src int, dst int")
    got = {}
    for r in hyperball(e, iters=2, n_registers=16).collect():
        got.setdefault(r.node, {})[r.bucket] = r.max_rho
    assert got[0] == _hb_regs_py([0, 1, 2])
    assert got[1] == _hb_regs_py([1, 2, 3])


def test_hyperball_estimate_tracks_exact_ball(spark):
    from python_mecab_ner_spark.operators.graph import hyperball
    from python_mecab_ner_spark.operators.graph import hll_estimate
    # deterministic 3-regular-ish digraph on 200 nodes
    n = 200
    edges = [(i, (i * 7 + 3) % n) for i in range(n)] + \
            [(i, (i * 13 + 11) % n) for i in range(n)] + \
            [(i, (i * 29 + 17) % n) for i in range(n)]
    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    exact = {}
    for v in range(n):
        ball = {v} | adj.get(v, set())
        ball2 = set(ball)
        for u in ball:
            ball2 |= adj.get(u, set())
        exact[v] = len(ball2)
    e = spark.createDataFrame(edges, "src int, dst int")
    regs = {}
    for r in hyperball(e, iters=2, n_registers=64).collect():
        regs.setdefault(r.node, [0] * 64)[r.bucket] = max(
            regs.setdefault(r.node, [0] * 64)[r.bucket], r.max_rho)
    ratios = [hll_estimate(regs[v], 64) / exact[v] for v in range(n)]
    mean = sum(ratios) / n
    assert 0.8 < mean < 1.2, mean
    assert sum(1 for x in ratios if 0.5 < x < 1.5) >= int(0.9 * n)


def _pq_py(vecs, qvec, m, ks, k=10, scale=127):
    """Pure-python twin of pq_topk (same seeds, packing, tie rules)."""
    import math

    def quant(v):
        return [max(-128, min(127, math.floor(float(x) * scale)))
                for x in v]

    qz = {i: quant(v) for i, v in vecs.items()}
    dims = len(next(iter(vecs.values())))
    sub = dims // m
    seeds = sorted(qz, key=lambda i: (md5_int_py(str(i), salt="pq:"), i))
    cents = {(j, c): qz[seeds[c]][j * sub:(j + 1) * sub]
             for j in range(m) for c in range(ks)}

    def l2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    def encode(qv):
        return [min(range(ks),
                    key=lambda c: (l2(qv[j * sub:(j + 1) * sub],
                                      cents[(j, c)]), c))
                for j in range(m)]

    qq = quant(qvec)
    lut = {(j, c): l2(qq[j * sub:(j + 1) * sub], cents[(j, c)])
           for j in range(m) for c in range(ks)}
    scored = sorted(
        ((sum(lut[(j, code)] for j, code in enumerate(encode(qz[i]))), i)
         for i in qz))
    return [(i, d) for d, i in scored[:k]]


def test_pq_topk_matches_python_twin(spark):
    from python_mecab_ner_spark.operators.ann import pq_topk
    # deterministic 40 x 16 synthetic embeddings
    vecs = {i: [((i * 31 + d * 17 + 7) % 101 - 50) / 50.0
                for d in range(16)] for i in range(40)}
    q = vecs[5]
    d = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()],
        "vec_id int, embedding array<float>")
    # NOTE float32 storage: quantize floors the FLOAT->double widening,
    # python must see the same float32 values
    import struct
    vecs32 = {i: [struct.unpack('f', struct.pack('f', x))[0] for x in v]
              for i, v in vecs.items()}
    q32 = vecs32[5]
    got = [(r.vec_id, r.pq_dist)
           for r in pq_topk(d, q32, k=10, m=4, ks=8, dims=16).collect()]
    assert got == _pq_py(vecs32, q32, m=4, ks=8, k=10)


def test_pq_seed_query_retrieves_itself_at_zero(spark):
    from python_mecab_ner_spark.operators.ann import (pq_codebook,
                                                      pq_encode, pq_topk)
    vecs = {i: [((i * 13 + d * 23 + 3) % 97 - 48) / 48.0
                for d in range(16)] for i in range(30)}
    d = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()],
        "vec_id int, embedding array<float>")
    # find one actual seed id (smallest pq-hash)
    seed = min(range(30), key=lambda i: (md5_int_py(str(i), salt="pq:"), i))
    qvec = [float(x) for x in
            d.where(f"vec_id = {seed}").first()["embedding"]]
    top = pq_topk(d, qvec, k=3, m=4, ks=8, dims=16).collect()
    # a seed's subvectors ARE centroids: its own ADC distance is 0
    assert top[0].vec_id == seed and top[0].pq_dist == 0


