"""Computed skew handling (operators.graph): head keys are detected
from measured frequencies, their rows spread over multiple salts, and
cold keys stay single-partition (salt 0)."""

from pyspark.sql import functions as F

from python_mecab_ner_spark.operators.graph import add_salt, detect_head_keys


def _skewed_edges(spark):
    # one head entity with 5000 edges, 50 cold entities with 10 each
    head = spark.range(0, 5000).select(
        F.lit(1).alias("src_id"),
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"))
    cold = spark.range(0, 500).select(
        (F.col("id") % 50 + 100).alias("src_id"),
        F.concat(F.lit("c"), F.col("id").cast("string")).alias("url"))
    return head.unionByName(cold)


def test_head_detection_is_computed(spark):
    edges = _skewed_edges(spark)
    heads = detect_head_keys(edges, "src_id", head_threshold=8.0)
    assert [r.src_id for r in heads.collect()] == [1]


def test_salting_spreads_only_head_keys(spark):
    edges = _skewed_edges(spark)
    heads = detect_head_keys(edges, "src_id", head_threshold=8.0)
    salted = add_salt(edges, heads, n_salt=16)
    totals = salted.groupBy("src_id").agg(
        F.countDistinct("salt").alias("n_salts"),
        F.count("*").alias("total"))
    per_salt_max = (salted.groupBy("src_id", "salt")
                    .agg(F.count("*").alias("per_salt"))
                    .groupBy("src_id")
                    .agg(F.max("per_salt").alias("mx")))
    dist = {r.src_id: (r.n_salts, r.mx / r.total)
            for r in totals.join(per_salt_max, "src_id").collect()}
    # head key spread across all 16 salts, no salt holding > 15%
    n_salts, max_share = dist[1]
    assert n_salts == 16 and max_share < 0.15
    # cold keys untouched (single salt 0)
    assert all(n == 1 for k, (n, _) in dist.items() if k != 1)
    assert salted.filter("src_id != 1 AND salt != 0").count() == 0


def test_pagerank_int_star_graph(spark):
    """Center of a star gets the highest rank; leaves tie exactly
    (integer arithmetic -> bit-exact equality, no float fuzz)."""
    from python_mecab_ner_spark.operators.graph import pagerank_int
    edges = [(0, i) for i in range(1, 6)] + [(i, 0) for i in range(1, 6)]
    e = spark.createDataFrame(edges, "src long, dst long")
    pr = {r.node: r.pr for r in pagerank_int(e, iters=3).collect()}
    assert len(pr) == 6
    leaves = {pr[i] for i in range(1, 6)}
    assert len(leaves) == 1          # exact tie
    assert pr[0] > leaves.pop()      # hub dominates


# ---- personalized PageRank (graph.ppr_int) --------------------------------

def test_ppr_line_graph_hand_golden(spark):
    """1 -> 2 -> 3, seeds=[1], 3 iterations, hand-unrolled:
    pr1 = {1: 150000, 2: 850000, 3: 0}
    pr2 = {1: 150000, 2: 127500, 3: 722500}
    pr3 = {1: 150000, 2: 127500, 3: 108375}"""
    from python_mecab_ner_spark.operators.graph import ppr_int
    e = spark.createDataFrame([(1, 2), (2, 3)], "src int, dst int")
    got = {r.node: r.pr for r in ppr_int(e, [1], iters=3).collect()}
    assert got == {1: 150000, 2: 127500, 3: 108375}


def test_ppr_numeric_string_node_ids_stay_strings(spark):
    """String node ids that look numeric are matched as strings: seed
    "007" seeds only "007", never "7"."""
    from python_mecab_ner_spark.operators.graph import ppr_int
    e = spark.createDataFrame([("007", "100"), ("7", "200")],
                              "src string, dst string")
    got = {r.node: r.pr for r in ppr_int(e, ["007"], iters=1).collect()}
    assert got == {"007": 150000, "100": 850000, "7": 0, "200": 0}


def test_ppr_localizes_vs_global_pagerank(spark):
    """Two disconnected 3-cycles; seeding one component leaves the
    other at exactly zero mass, while global PageRank ranks both
    identically."""
    from python_mecab_ner_spark.operators.graph import pagerank_int, ppr_int
    cyc = [(1, 2), (2, 3), (3, 1), (11, 12), (12, 13), (13, 11)]
    e = spark.createDataFrame(cyc, "src int, dst int")
    ppr = {r.node: r.pr for r in ppr_int(e, [1], iters=4).collect()}
    assert all(ppr[n] == 0 for n in (11, 12, 13))
    assert all(ppr[n] > 0 for n in (1, 2, 3))
    gpr = {r.node: r.pr for r in pagerank_int(e, iters=4).collect()}
    assert gpr[1] == gpr[11] and gpr[2] == gpr[12]
