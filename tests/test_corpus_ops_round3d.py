"""Round-3 final additions: phrase blocklist, HyperBall — hand-computed
goldens and edge cases."""

from pyspark.sql import functions as F

from python_mecab_ner_spark.functions.hashing import md5_int_py
from python_mecab_ner_spark.functions.text import blocklist_phrase_counts


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
