"""Round-3 additions (batch f): Zipf head coverage, politeness fetch
rounds — hand-computed goldens and edge cases."""

from python_mecab_ner_spark.operators.crawl import fetch_rounds
from python_mecab_ner_spark.operators.profile import vocab_head_coverage


def test_vocab_head_coverage_golden(spark):
    # counts: the 4, bee 3, cat 2, dog 1  (total 10)
    text = "the the the the bee bee bee cat cat dog"
    d = spark.createDataFrame([(1, text)], "doc_id int, text string")
    got = {r.k: (r.kth_term, r.kth_cnt, r.cum_cnt, r.total_cnt,
                 r.coverage_ppm)
           for r in vocab_head_coverage(d, "text", ks=(1, 2, 4))
           .collect()}
    assert got[1] == ("the", 4, 4, 10, 400_000)
    assert got[2] == ("bee", 3, 7, 10, 700_000)
    assert got[4] == ("dog", 1, 10, 10, 1_000_000)


def test_vocab_head_coverage_tie_break_and_small_vocab(spark):
    # tie on count: term ascending decides rank deterministically
    d = spark.createDataFrame([(1, "b a b a")], "doc_id int, text string")
    rows = vocab_head_coverage(d, "text", ks=(1, 2, 10)).collect()
    got = {r.k: r.kth_term for r in rows}
    assert got == {1: "a", 2: "b"}  # k=10 absent: vocab smaller


def test_fetch_rounds_histogram(spark):
    # host x: 5 urls -> rounds 1..5 (buckets 1,2,2,3,3)
    # host y: 1 url  -> round 1 (bucket 1)
    urls = spark.createDataFrame(
        [(i, "x") for i in range(5)] + [(99, "y")],
        "doc_id int, host string")
    got = {r.bucket: (r.n_urls, r.n_hosts, r.min_round, r.max_round)
           for r in fetch_rounds(urls, host_col="host",
                                 id_col="doc_id").collect()}
    assert got[1] == (2, 2, 1, 1)
    assert got[2] == (2, 1, 2, 3)
    assert got[3] == (2, 1, 4, 5)


def test_fetch_rounds_deterministic_order(spark):
    # same input twice (different row order) -> identical histogram,
    # because within-host order is salted-md5(id), not arrival order
    rows = [(i, f"h{i % 3}") for i in range(30)]
    a = fetch_rounds(spark.createDataFrame(rows,
                                           "doc_id int, host string"))
    b = fetch_rounds(spark.createDataFrame(list(reversed(rows)),
                                           "doc_id int, host string"))
    assert sorted(map(tuple, a.collect())) == \
        sorted(map(tuple, b.collect()))
