"""Round-3 additions: deterministic stratified sampling, exact/approx
quality gating, duplicated-window coverage, neighbor-Jaccard node
similarity — hand-computed goldens plus the python hash twin for the
sampler."""

from pyspark.sql import functions as F

from python_mecab_ner_spark.functions.hashing import md5_int_py
from python_mecab_ner_spark.operators.dedup import window_dup_stats
from python_mecab_ner_spark.operators.graph import neighbor_jaccard
from python_mecab_ner_spark.operators.sample import (
    hash_stratified_sample, quality_gate_approx, quality_percentile_gate)


def test_stratified_sample_matches_python_twin(spark):
    rows = [(i, "en" if i % 2 == 0 else "fr") for i in range(200)]
    d = spark.createDataFrame(rows, "doc_id int, lang string")
    rates = {"en": 4, "fr": 16}
    kept = hash_stratified_sample(d, "doc_id", "lang", rates, denom=16)
    got = sorted(r.doc_id for r in kept.collect())
    want = sorted(
        i for i, lang in rows
        if md5_int_py(str(i), salt="samp:") % 16 < rates[lang])
    assert got == want
    # all of fr (rate 16/16) survives; en is strictly thinned
    assert all(i in got for i, l in rows if l == "fr")
    assert 0 < sum(1 for i in got if i % 2 == 0) < 100


def test_stratified_sample_unknown_stratum_dropped(spark):
    d = spark.createDataFrame([(1, "en"), (2, "xx")],
                              "doc_id int, lang string")
    kept = hash_stratified_sample(d, "doc_id", "lang", {"en": 16})
    assert [r.doc_id for r in kept.collect()] == [1]


def test_quality_gate_exact_fraction(spark):
    # 10 rows, scores = id (desc order = id desc); keep 1/4 ->
    # 0-based ranks {0,1,2} (rk*4 < 10) -> the 3 highest scores
    d = spark.createDataFrame([(i, "en", i) for i in range(1, 11)],
                              "doc_id int, lang string, q int")
    kept = quality_percentile_gate(d, "q", "lang", "doc_id",
                                   keep_num=1, keep_den=4)
    assert sorted(r.doc_id for r in kept.collect()) == [8, 9, 10]


def test_quality_gate_tie_break_is_total(spark):
    # equal scores: id asc wins the rank, so doc 1 is kept, not doc 2
    d = spark.createDataFrame([(1, "en", 5), (2, "en", 5), (3, "en", 4),
                               (4, "en", 3)],
                              "doc_id int, lang string, q int")
    kept = quality_percentile_gate(d, "q", "lang", "doc_id", 1, 4)
    assert [r.doc_id for r in kept.collect()] == [1]


def test_quality_gate_approx_is_downward_closed(spark):
    rows = [(i, "en", (i * 37) % 101) for i in range(300)]
    d = spark.createDataFrame(rows, "doc_id int, lang string, q int")
    kept = quality_gate_approx(d, "q", "lang", keep_frac=0.25)
    got = {r.doc_id: r.q for r in kept.collect()}
    assert got, "approx gate kept nothing"
    # score-threshold gate: anything >= the min kept score is kept
    thr = min(got.values())
    assert all(i in got for i, _, q in rows if q >= thr)
    # sketch error is bounded: kept fraction within [15%, 35%]
    assert 0.15 <= len(got) / len(rows) <= 0.35


def test_window_dup_stats_golden(spark):
    d = spark.createDataFrame(
        [(1, "a b c d e f"),       # windows: "a b c d e", "b c d e f"
         (2, "a b c d e x"),       # windows: "a b c d e", "b c d e x"
         (3, "z z z z z")],        # single window, unique corpus-wide
        "doc_id int, text string")
    out = window_dup_stats(d, "text", "doc_id", w=5, min_df=2)
    got = {r.doc_id: (r.n_windows, r.n_dup, r.dup_ppm)
           for r in out.collect()}
    out.unpersist_input()
    assert got == {1: (2, 1, 500000), 2: (2, 1, 500000), 3: (1, 0, 0)}


def _jac_edges(spark):
    return spark.createDataFrame(
        [(1, 10), (2, 10), (1, 11), (2, 11), (3, 11)],
        "src int, dst int")


def test_neighbor_jaccard_golden(spark):
    out = neighbor_jaccard(_jac_edges(spark), min_common=1)
    got = {(r.n1, r.n2): (r.common, r.jac_ppm) for r in out.collect()}
    # deg: 1->2, 2->2, 3->1, 10->2, 11->3
    assert got == {
        (1, 2): (2, 1000000),        # {10,11} vs {10,11}
        (1, 3): (1, 500000),         # {10,11} vs {11}
        (2, 3): (1, 500000),
        (10, 11): (2, 666666),       # {1,2} vs {1,2,3}
    }


def test_neighbor_jaccard_center_cap(spark):
    # cap 2 drops center 11 (deg 3): pair (1,3) disappears, (1,2)
    # keeps only the center-10 wedge, (10,11) still closes via 1 and 2
    out = neighbor_jaccard(_jac_edges(spark), min_common=1,
                           max_center_degree=2)
    got = {(r.n1, r.n2): r.common for r in out.collect()}
    assert got == {(1, 2): 1, (10, 11): 2}
