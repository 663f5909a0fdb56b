"""Schema induction (operators.ontology) + temperature mixture
weights (operators.sample.temperature_mix_weights) — hand-computed
goldens and the edge cases the q140-q143 oracles can't reach
(tie-breaks, isqrt boundaries, symmetric predicates)."""

from pyspark.sql import functions as F

from python_mecab_ner_spark.operators.ontology import (
    domain_range, inverse_predicates, predicate_functionality)
from python_mecab_ner_spark.operators.sample import (
    isqrt_col, isqrt_sql, temperature_mix_weights)

TRI = "pred string, subj bigint, obj bigint"


def test_functionality_golden(spark):
    # p: 2 subjects over 3 pairs (one subj has 2 objs); duplicate
    # triple rows must collapse before counting
    rows = [("p", 1, 10), ("p", 1, 11), ("p", 2, 10), ("p", 2, 10)]
    d = spark.createDataFrame(rows, TRI)
    r = predicate_functionality(d).collect()[0]
    assert (r.n_pairs, r.n_subj, r.n_obj) == (3, 2, 2)
    assert r.func_ppm == 2 * 1_000_000 // 3
    assert r.inv_func_ppm == 2 * 1_000_000 // 3


def test_functionality_true_function(spark):
    d = spark.createDataFrame([("f", i, 99) for i in range(5)], TRI)
    r = predicate_functionality(d).collect()[0]
    assert r.func_ppm == 1_000_000 and r.inv_func_ppm == 200_000


def test_domain_range_tiebreak_min_type(spark):
    # subjects split 1/1 between types b and a -> tie -> min("a")
    tri = spark.createDataFrame([("p", 1, 10), ("p", 2, 10)], TRI)
    types = spark.createDataFrame(
        [(1, "b"), (2, "a"), (10, "n")], "node bigint, type string")
    df = domain_range(tri, types)
    r = df.collect()[0]
    df.unpersist_input()
    assert r.domain_type == "a" and r.domain_ppm == 500_000
    assert r.range_type == "n" and r.range_ppm == 1_000_000
    # both distinct pairs carry obj 10 -> two typed range endpoints
    assert r.n_domain_typed == 2 and r.n_range_typed == 2


def test_domain_range_untyped_endpoints_drop(spark):
    tri = spark.createDataFrame([("p", 1, 10), ("p", 7, 10)], TRI)
    types = spark.createDataFrame([(1, "a"), (10, "n")],
                                  "node bigint, type string")
    df = domain_range(tri, types)
    r = df.collect()[0]
    df.unpersist_input()
    assert r.n_domain_typed == 1  # node 7 untyped -> dropped


def test_inverse_predicates_golden(spark):
    # p/q exact inverses (2 pairs), r overlaps q on 1 of 2
    rows = [("p", 1, 2), ("p", 3, 4),
            ("q", 2, 1), ("q", 4, 3),
            ("r", 2, 1), ("r", 9, 9)]
    d = spark.createDataFrame(rows, TRI)
    df = inverse_predicates(d)
    got = {(r.pred_a, r.pred_b): (r.n_inter, r.jaccard_ppm)
           for r in df.collect()}
    df.unpersist_input()
    assert got[("p", "q")] == (2, 1_000_000)
    assert got[("p", "r")] == (1, 1_000_000 // 3)
    # r(9,9) is self-inverse -> symmetric row for r itself
    assert got[("r", "r")] == (1, 333_333)
    assert ("q", "r") not in got  # q(2,1) vs r(1,2)? no such r pair


def test_inverse_symmetric_predicate_full(spark):
    # fully symmetric predicate: both directions present
    rows = [("s", 1, 2), ("s", 2, 1), ("s", 5, 6), ("s", 6, 5)]
    d = spark.createDataFrame(rows, TRI)
    df = inverse_predicates(d)
    got = {(r.pred_a, r.pred_b): r.jaccard_ppm
           for r in df.collect()}
    df.unpersist_input()
    assert got[("s", "s")] == 1_000_000


def test_isqrt_exact_boundaries(spark):
    import duckdb
    ns = [0, 1, 2, 3, 4, 8, 9, 15, 16, 24, 25, 26, 10**12,
          10**12 + 1, (10**6 + 1) ** 2 - 1, (10**6 + 1) ** 2]
    d = spark.createDataFrame([(n,) for n in ns], "n bigint")
    got = {r.n: r.k for r in
           d.select("n", isqrt_col(F.col("n")).alias("k")).collect()}
    import math
    for n in ns:
        assert got[n] == math.isqrt(n), n
    # SQL twin agrees bit-for-bit
    duck = duckdb.connect().execute(
        f"SELECT n, {isqrt_sql('n')} AS k FROM (SELECT unnest("
        f"{list(ns)}) AS n)").fetchall()
    for n, k in duck:
        assert k == math.isqrt(n), n


def test_temperature_mix_boost_direction(spark):
    # head source 100 docs, tail source 1 doc: tau=1/2 boosts tail
    rows = [("head",)] * 100 + [("tail",)]
    d = spark.createDataFrame(rows, "source string")
    got = {r.source: r for r in temperature_mix_weights(d).collect()}
    # isqrt: head 10, tail 1 -> w 10/11 vs 1/11
    assert got["head"].w_ppm == 10 * 1_000_000 // 11
    assert got["tail"].w_ppm == 1_000_000 // 11
    assert got["tail"].boost_ppm > 1_000_000  # tail upsampled
    assert got["head"].boost_ppm < 1_000_000  # head downsampled
    assert got["head"].nat_ppm == 100 * 1_000_000 // 101


def test_functionality_matches_pure_python_randomized(spark):
    """House engine-vs-pyref property: functionality sheet on a
    seeded random triple table equals a dict-based recomputation."""
    import random
    rng = random.Random(20260818)
    rows = [(f"p{rng.randrange(4)}", rng.randrange(30),
             rng.randrange(30)) for _ in range(400)]
    d = spark.createDataFrame(rows, TRI)
    got = {r.pred: (r.n_pairs, r.n_subj, r.n_obj, r.func_ppm,
                    r.inv_func_ppm)
           for r in predicate_functionality(d).collect()}
    by_pred = {}
    for p, s, o in set(rows):
        by_pred.setdefault(p, []).append((s, o))
    for p, pairs in by_pred.items():
        np_, ns, no = (len(pairs), len({s for s, _ in pairs}),
                       len({o for _, o in pairs}))
        assert got[p] == (np_, ns, no, ns * 1_000_000 // np_,
                          no * 1_000_000 // np_), p


def test_inverse_predicates_matches_pure_python_randomized(spark):
    import random
    rng = random.Random(7)
    rows = [(f"p{rng.randrange(3)}", rng.randrange(12),
             rng.randrange(12)) for _ in range(300)]
    d = spark.createDataFrame(rows, TRI)
    df = inverse_predicates(d)
    got = {(r.pred_a, r.pred_b): (r.n_inter, r.jaccard_ppm)
           for r in df.collect()}
    df.unpersist_input()
    pairs = set(rows)
    preds = sorted({p for p, _, _ in pairs})
    by_pred = {p: {(s, o) for q, s, o in pairs if q == p}
               for p in preds}
    for i, pa in enumerate(preds):
        for pb in preds[i:]:
            inter = sum(1 for s, o in by_pred[pa]
                        if (o, s) in by_pred[pb])
            if inter:
                jac = inter * 1_000_000 // (
                    len(by_pred[pa]) + len(by_pred[pb]) - inter)
                assert got[(pa, pb)] == (inter, jac), (pa, pb)
            else:
                assert (pa, pb) not in got, (pa, pb)
