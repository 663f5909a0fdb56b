"""Round-3 additions (batch e): exact-integer embedding dim outliers,
dedup blocking audit, robots prefix gating — hand-computed goldens and
edge cases."""

from python_mecab_ner_spark.operators.ann import embedding_dim_outliers
from python_mecab_ner_spark.operators.crawl import robots_gate
from python_mecab_ner_spark.operators.dedup import blocking_audit


def test_embedding_outliers_single_hot_dim(spark):
    # 11 vectors: one outlier at dim 1.  With 10 identical peers the
    # cross-multiplied z^2 is exactly 10 > 9 (z10=30) for the outlier
    # and 1/10 for the peers; constant dims have zero variance and
    # never flag (strict >).
    vecs = [(i, [0.1, 0.1, 0.1]) for i in range(11)]
    vecs[5] = (5, [0.1, 0.9, 0.1])
    d = spark.createDataFrame(vecs, "vec_id int, embedding array<float>")
    got = {r.vec_id: (r.n_extreme, r.first_dim)
           for r in embedding_dim_outliers(d, z10=30).collect()}
    assert got[5] == (1, 1)
    assert all(v == (0, -1) for k, v in got.items() if k != 5)


def test_blocking_audit_identical_pair_full_recall(spark):
    text = "alpha beta gamma delta epsilon zeta eta theta"
    d = spark.createDataFrame(
        [(1, text), (2, text),
         (3, "totally different words in this row here now")],
        "doc_id int, text string")
    r = blocking_audit(d, "text", "doc_id", k=3, min_shared=2,
                       n_hashes=8, bands=4, jaccard_ppm=500_000).collect()
    assert len(r) == 1
    row = r[0]
    # identical docs: jaccard 1.0 truth pair, identical minhash bands
    assert row.n_truth == 1 and row.n_hit == 1
    assert row.recall_ppm == 1_000_000
    assert row.n_cand >= 1 and row.precision_ppm <= 1_000_000


def test_blocking_audit_empty_truth_no_div_zero(spark):
    d = spark.createDataFrame(
        [(1, "completely distinct tokens one two three"),
         (2, "another unrelated document four five six")],
        "doc_id int, text string")
    row = blocking_audit(d, "text", "doc_id").collect()[0]
    assert row.n_truth == 0 and row.n_hit == 0
    assert row.recall_ppm == 0 and row.precision_ppm == 0


def test_robots_gate_prefix_semantics(spark):
    urls = spark.createDataFrame(
        [(1, "h0", "/s0/t1"),    # blocked by /s0
         (2, "h0", "/s1/t1"),    # allowed (no matching prefix)
         (3, "h0", "/s1/t30"),   # blocked: /s1/t3 is a PREFIX of /s1/t30
         (4, "h3", "/anything"), # blocked by the '/' block-all rule
         (5, "h4", "/x")],       # no rules for h4 -> allowed
        "doc_id int, host string, path string")
    rules = spark.createDataFrame(
        [("h0", "/s0"), ("h0", "/s1/t3"), ("h3", "/")],
        "host string, path string")
    got = {r.doc_id: r.blocked
           for r in robots_gate(urls, rules).collect()}
    assert got == {1: 1, 2: 0, 3: 1, 4: 1, 5: 0}
    # schema contract: frontier columns ride through + blocked flag
    out = robots_gate(urls, rules)
    assert out.columns == ["doc_id", "host", "path", "blocked"]
