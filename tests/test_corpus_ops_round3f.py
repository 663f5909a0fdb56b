"""Round-3 additions (batch f): politeness fetch rounds — hand-computed
goldens and edge cases."""

from python_mecab_ner_spark.operators.crawl import fetch_rounds


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
