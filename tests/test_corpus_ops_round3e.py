"""Round-3 additions (batch e): robots prefix gating — hand-computed
goldens and edge cases."""

from python_mecab_ner_spark.operators.crawl import robots_gate


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
