"""Round-3 final additions: vocab drift, phrase blocklist, postings
table, HyperBall — hand-computed goldens and edge cases."""

from pyspark.sql import functions as F

from python_mecab_ner_spark.functions.hashing import md5_int_py
from python_mecab_ner_spark.functions.text import blocklist_phrase_counts
from python_mecab_ner_spark.operators.profile import vocab_drift
from python_mecab_ner_spark.operators.retrieval import postings_table


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
