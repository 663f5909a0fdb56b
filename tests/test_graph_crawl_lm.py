"""Session additions: Kneser-Ney continuation counts,
largest-remainder crawl-budget apportionment — hand goldens + exact
python-twin recomputes (the operators are all-integer, so the twins
must agree bit-for-bit)."""

import random

from pyspark.sql import functions as F

from python_mecab_ner_spark.operators.colloc import kn_continuation_counts
from python_mecab_ner_spark.operators.crawl import crawl_budget


def test_kn_continuation_golden(spark):
    ctx = spark.createDataFrame(
        [(1, i, w) for i, w in enumerate("a b a b c".split())]
        + [(2, i, w) for i, w in enumerate("c b".split())],
        "url int, idx int, word string")
    got = {r.word: (r.n_uni, r.cont_left, r.cont_right)
           for r in kn_continuation_counts(ctx).collect()}
    # types: (a,b) (b,a) (b,c) (c,b); the "francisco problem" shape
    assert got == {"a": (2, 1, 1), "b": (3, 2, 2), "c": (2, 1, 1)}


def test_crawl_budget_hamilton_golden(spark):
    s = spark.createDataFrame([("a", 5), ("b", 3), ("c", 3)],
                              "host string, score int")
    got = {r.host: (r.base, r.slots)
           for r in crawl_budget(s, budget=10).collect()}
    # total=11: bases 4/2/2, remainders 6/8/8 -> b,c take the leftovers
    assert got == {"a": (4, 4), "b": (2, 3), "c": (2, 3)}


def test_fuzzy_alias_pairs_golden_and_blocking_miss(spark):
    from python_mecab_ner_spark.operators.canonicalize import \
        fuzzy_alias_pairs
    names = spark.createDataFrame(
        [("kakao",), ("kakaoo",), ("kekao",), ("naver",), ("navor",),
         ("abc",)], "name string")
    got = {(r.n1, r.n2, r.dist)
           for r in fuzzy_alias_pairs(names, "name").collect()}
    # kekao is lev-1 from kakao but in block 'ke' — the documented miss
    assert got == {("kakao", "kakaoo", 1), ("naver", "navor", 1)}


def test_importance_weights_all_target_is_zero(spark):
    from python_mecab_ner_spark.operators.sample import importance_weights
    d = spark.createDataFrame(
        [(1, "a b c", True), (2, "c d", True)],
        "doc_id int, text string, t boolean")
    out = importance_weights(d, "text", "doc_id", "t").collect()
    # target == raw corpus -> every bucket weight is exactly 0
    assert {r.doc_id: r.score for r in out} == {1: 0, 2: 0}


def test_importance_weights_python_twin(spark):
    from python_mecab_ner_spark.functions.hashing import md5_int_py
    from python_mecab_ner_spark.operators.sample import importance_weights
    rng = random.Random(84)
    vocab = [f"w{i}" for i in range(30)]
    docs = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randrange(3, 12))),
             rng.random() < 0.4) for i in range(25)]
    B = 64
    cr, ct = {}, {}
    for _, text, t in docs:
        for w in text.split():
            b = md5_int_py(w, salt="dsir:") % B
            cr[b] = cr.get(b, 0) + 1
            if t:
                ct[b] = ct.get(b, 0) + 1
    nr, nt = sum(cr.values()), sum(ct.values())
    wt = {b: ((ct.get(b, 0) + 1) * (nr + B)).bit_length()
          - ((cr[b] + 1) * (nt + B)).bit_length() for b in cr}
    want = {i: sum(wt[md5_int_py(w, salt="dsir:") % B]
                   for w in text.split()) for i, text, _ in docs}
    d = spark.createDataFrame(docs, "doc_id int, text string, t boolean")
    got = {r.doc_id: r.score
           for r in importance_weights(d, "text", "doc_id", "t",
                                       n_buckets=B).collect()}
    assert got == want


def test_crawl_budget_sums_to_budget_randomized(spark):
    rng = random.Random(81)
    rows = [(f"h{i}", rng.randrange(1, 1000)) for i in range(50)]
    s = spark.createDataFrame(rows, "host string, score int")
    out = crawl_budget(s, budget=12_345).collect()
    assert sum(r.slots for r in out) == 12_345
    assert all(r.slots - r.base in (0, 1) for r in out)


# ---------------------------------------------------------------------------
# recency decay (q92 session)
# ---------------------------------------------------------------------------


def test_decay_activity_golden_and_shift_cap(spark):
    from python_mecab_ner_spark.operators.crawl import decay_activity
    rows = [
        ("h1", "2024-03-10 12:00:00"),   # age 0d  -> 2^20
        ("h1", "2024-03-02 08:00:00"),   # age 8d  -> 2^20 >> 1
        ("h2", "2024-02-10 00:00:00"),   # age 29d -> 2^20 >> 4
        ("h3", "1100-01-01 00:00:00"),   # ancient -> shift capped, 0
    ]
    df = (spark.createDataFrame(rows, "host string, t string")
          .select("host", F.to_timestamp("t").alias("ts")))
    got = {r.key: (r.n_events, r.decayed)
           for r in decay_activity(df, "ts", "host",
                                   half_life_days=7).collect()}
    assert got == {"h1": (2, (1 << 20) + (1 << 19)),
                   "h2": (1, 1 << 16),
                   "h3": (1, 0)}


# ---------------------------------------------------------------------------
# histogram quality gate (q95 session)
# ---------------------------------------------------------------------------


def test_quality_gate_histogram_equals_full_sort_gate(spark):
    import random
    from python_mecab_ner_spark.operators.sample import (
        quality_gate_histogram, quality_percentile_gate)
    rng = random.Random(95)
    rows = [(f"s{rng.randrange(3)}", i, rng.randrange(0, 900))
            for i in range(400)]
    df = spark.createDataFrame(rows, "source string, id bigint, sc bigint")
    for num, den, bw in [(1, 4, 64), (3, 10, 17), (1, 1, 64), (0, 4, 64)]:
        hist = {(r.source, r.id) for r in quality_gate_histogram(
            df, "sc", "source", "id", num, den, bin_width=bw).collect()}
        exact = {(r.source, r.id) for r in quality_percentile_gate(
            df, "sc", "source", "id", num, den).collect()}
        # percentile gate keeps rk*den < n*num == rk < ceil(n*num/den)
        assert hist == exact, (num, den, bw)


def test_cooccurrence_counts_golden_and_python_twin(spark):
    from python_mecab_ner_spark.operators.colloc import \
        cooccurrence_counts
    docs = [(1, "a b c a"), (2, "b a")]
    rows = []
    for url, text in docs:
        toks = text.split()
        for i, w in enumerate(toks):
            rows.append((url, i, w))
    ctx = spark.createDataFrame(rows, "url bigint, idx int, word string")
    got = {(r.w1, r.w2): (r.n_pairs, r.w_sum)
           for r in cooccurrence_counts(ctx, window=2, min_pairs=1,
                                        scale=60).collect()}
    # doc1 pairs (d<=2): ab1 bc1 ca2 bc... enumerate python-side
    exp = {}
    for url, text in docs:
        toks = text.split()
        for i, wa in enumerate(toks):
            for d in (1, 2):
                if i + d < len(toks):
                    k = tuple(sorted((wa, toks[i + d])))
                    c, s = exp.get(k, (0, 0))
                    exp[k] = (c + 1, s + 60 // d)
    assert got == exp
